"""Round-11 evidence-closure tests: the SSSP frontier short-circuit is
OBSERVED, not argued — on the converged fixture, rounds past the fixpoint
run no Spark job, and the result equals the bounded-round Bellman-Ford
reference either way."""

from __future__ import annotations

from pyspark.sql import functions as F

from dbt_repo_spark.operators.graph import weighted_sssp
from dbt_repo_spark.operators.ids import SYNTH_ID_TAG, tagged_id
from dbt_repo_spark.queries import QUERIES, t
from dbt_repo_spark.queries_r11 import (
    _SSSP_CONV_ITERS,
    _SSSP_CONV_SEED_MOD,
    _SSSP_HOP_COST,
)
from tests.test_r9_ops import bellman_ford

SF = "/root/testdata/sf0.001"


def _conv_fixture(spark):
    li = t(spark, SF, "lineitem")
    part = tagged_id(F.col("l_partkey"), what="l_partkey")
    order_guard = tagged_id(F.col("l_orderkey"), what="l_orderkey") - F.lit(
        SYNTH_ID_TAG
    ).cast("long")
    w = F.lit(_SSSP_HOP_COST).cast("long") + F.col("l_quantity").cast("long")
    edges = li.select(
        order_guard.alias("src"), part.alias("dst"), w.alias("w")
    ).unionByName(
        li.select(part.alias("src"), order_guard.alias("dst"), w.alias("w"))
    )
    seeds = (
        li.filter(F.col("l_orderkey") % _SSSP_CONV_SEED_MOD == 0)
        .select(F.col("l_orderkey").alias("node"))
        .distinct()
    )
    return edges, seeds


def test_sssp_converged_frontier_short_circuits(spark):
    """The improved frontier must EMPTY before iters on the hop-cost-floored
    fixture: granting 4 more rounds runs no extra Spark job (a loop that
    kept going past the fixpoint would add jobs), and both runs equal the
    pure-Python bounded-round Bellman-Ford reference."""
    edges, seeds = _conv_fixture(spark)
    edge_list = [(r.src, r.dst, r.w) for r in edges.collect()]
    seed_list = [r.node for r in seeds.collect()]
    sc = spark.sparkContext
    jobs = {}
    for iters in (_SSSP_CONV_ITERS, _SSSP_CONV_ITERS + 4):
        group = f"sssp-converged-{iters}"
        sc.setJobGroup(group, group)
        try:
            got = {
                r.node: r.dist
                for r in weighted_sssp(edges, seeds, iters=iters).collect()
            }
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        jobs[iters] = len(sc.statusTracker().getJobIdsForGroup(group))
        assert got == bellman_ford(edge_list, seed_list, iters)
        assert len(got) > len(seed_list)  # ball actually expanded
    assert jobs[_SSSP_CONV_ITERS] == jobs[_SSSP_CONV_ITERS + 4], jobs


def test_sssp_converged_distances_are_hop_floored(spark):
    """Every non-seed distance must decompose as h*1000 + r with
    1 <= r <= 50h (h = hop count of the shortest weighted path): the
    hop-cost floor is the structural convergence guarantee the query's
    docstring claims, so pin it against fixture drift."""
    out = {
        r.node: r.dist
        for r in weighted_sssp(*_conv_fixture(spark), iters=_SSSP_CONV_ITERS)
        .collect()
    }
    hops_seen = set()
    for node, dist in out.items():
        if dist == 0:
            continue
        h = dist // _SSSP_HOP_COST
        r = dist - h * _SSSP_HOP_COST
        # quantities are 1..50, so the residue of an h-hop path sits in
        # [h, 50h]; r < h would mean the div pulled a unit from the hop
        # term, r > 50h is impossible — either way the floor broke
        assert 1 <= h, (node, dist)
        assert h <= r <= 50 * h, (node, dist, h, r)
        hops_seen.add(h)
    assert max(hops_seen) >= 3  # multi-hop structure actually exercised


def test_sssp_converged_registry_plan_reuses_operator(spark):
    """Registry entry returns the bucketed rollup with stable schema and
    covers every settled node exactly once."""
    q = QUERIES["graph_weighted_sssp_converged"]
    out = q(spark, SF)
    assert [f.name for f in out.schema.fields] == [
        "dist_bucket",
        "n_nodes",
        "min_dist",
        "max_dist",
        "sum_dist",
    ]
    edges, seeds = _conv_fixture(spark)
    n_nodes = weighted_sssp(edges, seeds, iters=_SSSP_CONV_ITERS).count()
    assert out.agg(F.sum("n_nodes")).first()[0] == n_nodes


def test_incremental_tick_target_read_prunes_to_key(spark, tmp_path):
    """The is_incremental anti-join's {{ this }} read must prune to the
    unique_key column (parquet ReadSchema carries ONLY the key) — the
    property that keeps a 100 TB target's tick cost at O(new batch +
    key column) rather than a full-width target scan. Pinned on the
    executed plan of the runner's last write, read from Spark's SQL
    status store (kept with the UI off)."""
    from dbt_repo_spark.plans.runner import ModelRunner, model
    from dbt_repo_spark.sources.catalog import Catalog

    rows = [(i, float(i) + 0.5, f"s{i % 3}") for i in range(100)]
    schema = "o_orderkey long, o_totalprice double, o_orderstatus string"
    b1 = spark.createDataFrame([r for r in rows if r[0] % 2 == 0], schema)
    b2 = spark.createDataFrame(rows, schema)
    cat = Catalog(spark, str(tmp_path))
    m = model(
        "fx",
        deps=("src",),
        materialized="incremental",
        unique_key="o_orderkey",
    )(lambda ctx: ctx["src"])

    def last_write_plan() -> str:
        # the re-read after a write runs no SQL execution, so the newest
        # one (executions list in id order) is the write's
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        store = spark._jsparkSession.sharedState().statusStore()
        return store.executionsList().last().physicalPlanDescription()

    runner = ModelRunner(spark, cat, {"src": b1}).add(m)
    runner.run(["fx"])
    plan = last_write_plan()
    # first run: full write of the in-memory batch, no {{ this }} read
    assert ", Overwrite, " in plan and "ReadSchema" not in plan, plan
    runner.sources["src"] = b2
    out = runner.run(["fx"])["fx"]
    plan = last_write_plan()
    assert out.count() == 100  # 50 kept + 50 novel, overlap deduped
    assert ", Append, " in plan, plan
    # the batches are in-memory relations, so every file scan in the
    # executed plan is the {{ this }} target read
    scan_lines = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert scan_lines, plan
    for ln in scan_lines:
        assert "o_orderkey" in ln, ln
        assert "o_totalprice" not in ln and "o_orderstatus" not in ln, ln


def _python_pava(bins):
    """Classic weighted PAVA with exact Fractions: bins is a sorted list
    of (score_bin, n, s); returns {score_bin: Fraction(iso)}. The twin
    for eval_isotonic_calibration's hull formulation."""
    from fractions import Fraction

    blocks = [[b, n, s] for b, n, s in bins]  # [first_bin, n, s]
    stack = []
    for blk in blocks:
        stack.append(blk)
        while len(stack) >= 2 and (
            Fraction(stack[-2][2], stack[-2][1])
            >= Fraction(stack[-1][2], stack[-1][1])
        ):
            b2 = stack.pop()
            stack[-1][1] += b2[1]
            stack[-1][2] += b2[2]
    out = {}
    it = iter(bins)
    for blk in stack:
        # blk covers the next `blk[1]` observations' bins
        target_n = blk[1]
        acc = 0
        while acc < target_n:
            b, n, s = next(it)
            out[b] = Fraction(blk[2], blk[1])
            acc += n
    return out


def test_isotonic_matches_python_pava(spark):
    """The hull formulation must equal classic PAVA exactly (rational
    equality, not float closeness) on the real fixture."""
    from fractions import Fraction

    from pyspark.sql import functions as F

    raw = (
        t(spark, SF, "orders")
        .selectExpr(
            "LEAST(CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100"
            " AS BIGINT) div 1000000, 40) AS b",
            "CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y",
        )
        .groupBy("b")
        .agg(F.count("*").alias("n"), F.sum("y").alias("s"))
        .orderBy("b")
        .collect()
    )
    bins = [(r.b, r.n, r.s) for r in raw]
    exp = _python_pava(bins)
    got = {
        r.score_bin: r
        for r in QUERIES["eval_isotonic_calibration"](spark, SF).collect()
    }
    assert set(got) == set(exp)
    for b, r in got.items():
        assert Fraction(r.iso_num, r.iso_den) == exp[b], (b, r)
        assert r.iso_rate_micros == (r.iso_num * 1_000_000) // r.iso_den
    # the fit is nondecreasing in the bin order
    seq = [
        Fraction(got[b].iso_num, got[b].iso_den) for b in sorted(got)
    ]
    assert seq == sorted(seq)


def test_isotonic_pools_planted_violation(spark):
    """Planted non-monotone rates: bins 0/1/2 with rates 0.2 / 0.8 / 0.4
    must pool bins 1-2 to 0.6 while bin 0 stays at 0.2."""
    import dbt_repo_spark.queries as qmod
    import dbt_repo_spark.queries_r11 as r11

    rows = []
    oid = 0
    # bin = cents div 1e6 capped 40 -> totalprice 5000.0 lands in bin 0,
    # 15000.0 in bin 1, 25000.0 in bin 2
    for price, k, n in ((5000.0, 2, 10), (15000.0, 8, 10), (25000.0, 4, 10)):
        for i in range(n):
            rows.append((oid, "F" if i < k else "O", price))
            oid += 1
    orders = spark.createDataFrame(
        rows, "o_orderkey long, o_orderstatus string, o_totalprice double"
    )
    orig = qmod.t
    try:
        qmod.t = lambda s, sf, name: {"orders": orders}[name]
        r11.t = qmod.t
        got = {
            r.score_bin: r
            for r in r11.eval_isotonic_calibration(spark, "_").collect()
        }
    finally:
        qmod.t = orig
        r11.t = orig
    assert (got[0].iso_num, got[0].iso_den) == (2, 10)
    assert (got[1].iso_num, got[1].iso_den) == (12, 20)
    assert (got[2].iso_num, got[2].iso_den) == (12, 20)
    assert got[1].iso_rate_micros == 600_000


def test_bootstrap_ci_matches_python_twin(spark):
    """Pure-Python twin of the deterministic Poisson bootstrap on a
    planted table: same per-key md5-uniform + xorshift replicate mix,
    same threshold ladder, same truncating means and nearest-rank CI —
    exact equality."""
    import hashlib

    import dbt_repo_spark.queries as qmod
    import dbt_repo_spark.queries_r11 as r11
    from dbt_repo_spark.queries_r11 import (
        _BOOT_B,
        _BOOT_POIS_T,
        _boot_mix_py,
    )

    rows = [(i, "HI" if i % 2 else "LO", 100.0 + (i % 7) * 13.5)
            for i in range(1, 81)]
    orders = spark.createDataFrame(
        rows, "o_orderkey long, o_orderpriority string, o_totalprice double"
    )

    def pois(key, b):
        h = int(hashlib.md5(str(key).encode()).hexdigest()[:8], 16)
        u = _boot_mix_py(h, b)
        for k, thr in enumerate(_BOOT_POIS_T):
            if u < thr:
                return k
        return 10

    import collections
    from decimal import Decimal

    groups = collections.defaultdict(list)
    for k, g, p in rows:
        cents = int(Decimal(str(p)).quantize(Decimal("0.01")) * 100)
        groups[g].append((k, cents))
    exp = {}
    for g, members in groups.items():
        n = len(members)
        mean_cents = sum(c for _, c in members) // n
        means = []
        for b in range(_BOOT_B):
            num = den = 0
            for k, c in members:
                w = pois(k, b)
                num += w * c
                den += w
            if den > 0:
                means.append((num // den, b))
        means.sort()
        exp[g] = (
            n, mean_cents, means[1][0], means[len(means) - 2][0],
            len(means),
        )
    orig = qmod.t
    try:
        qmod.t = lambda s, sf, name: {"orders": orders}[name]
        r11.t = qmod.t
        got = {
            r.grp: r
            for r in r11.eval_bootstrap_ci_mean(spark, "_").collect()
        }
    finally:
        qmod.t = orig
        r11.t = orig
    assert set(got) == set(exp)
    for g, (n, mc, lo, hi, nb) in exp.items():
        r = got[g]
        assert (r.n_orders, r.mean_cents) == (n, mc), g
        assert (r.boot_lo_cents, r.boot_hi_cents) == (lo, hi), g
        assert r.n_replicates == nb == _BOOT_B, g
        assert r.boot_lo_cents <= r.mean_cents <= r.boot_hi_cents, g


# ---- hypothesis property: adversarial bin patterns (ties, collinear
# runs, all-constant) are exactly where a hull formulation could
# diverge from PAVA ----

import os  # noqa: E402

from hypothesis import given, settings, strategies as st  # noqa: E402

_ISO_SETTINGS = dict(
    max_examples=int(os.environ.get("R11_FUZZ_EXAMPLES", "6")),
    deadline=None,
)


@given(
    bins=st.lists(
        st.tuples(st.integers(1, 5), st.integers(0, 5)).map(
            lambda t: (t[0], min(t[1], t[0]))
        ),
        min_size=1,
        max_size=8,
    )
)
@settings(**_ISO_SETTINGS)
def test_isotonic_property_matches_pava(spark, bins):
    """For arbitrary small (n, s<=n) bin patterns the hull fit must
    equal classic PAVA as exact rationals — including equal-rate runs
    (collinear diagram points) and degenerate single-bin inputs."""
    from fractions import Fraction

    import dbt_repo_spark.queries as qmod
    import dbt_repo_spark.queries_r11 as r11

    rows = []
    oid = 0
    for b, (n, s) in enumerate(bins):
        # bin = cents div 1e6 capped 40; price b*10000+5 lands in bin b
        price = b * 10000 + 5.0
        for i in range(n):
            rows.append((oid, "F" if i < s else "O", price))
            oid += 1
    orders = spark.createDataFrame(
        rows, "o_orderkey long, o_orderstatus string, o_totalprice double"
    )
    exp = _python_pava(
        [(b, n, s) for b, (n, s) in enumerate(bins)]
    )
    orig = qmod.t
    try:
        qmod.t = lambda sp, sf, name: {"orders": orders}[name]
        r11.t = qmod.t
        got = {
            r.score_bin: r
            for r in r11.eval_isotonic_calibration(spark, "_").collect()
        }
    finally:
        qmod.t = orig
        r11.t = orig
    assert set(got) == set(exp)
    for b, r in got.items():
        assert Fraction(r.iso_num, r.iso_den) == exp[b], (bins, b)


def test_delong_ci_matches_python_twin_and_auc(spark):
    """Exact twin of the DeLong pipeline (same micro truncation, same
    float tail) on the real fixture, plus the cross-check that the
    integer AUC core equals eval_auc_roc's (same fixture by design)."""
    import math
    from collections import Counter

    rows = [
        (r.o_totalprice, r.o_orderstatus == "F")
        for r in t(spark, SF, "orders")
        .select("o_totalprice", "o_orderstatus")
        .collect()
    ]
    pos = Counter(s for s, y in rows if y)
    neg = Counter(s for s, y in rows if not y)
    scores = sorted(set(pos) | set(neg))
    m = sum(pos.values())
    n = sum(neg.values())
    cb0 = cb1 = 0
    a_of = {}
    b_of = {}
    for s in scores:
        a_of[s] = 2 * cb0 + neg.get(s, 0)
        b_of[s] = 2 * (m - cb1 - pos.get(s, 0)) + pos.get(s, 0)
        cb0 += neg.get(s, 0)
        cb1 += pos.get(s, 0)
    A = sum(pos[s] * a_of[s] for s in pos)
    mn2 = 2 * m * n

    def sgn_div(d):
        return (d * 1_000_000) // mn2 if d >= 0 else -(((-d) * 1_000_000) // mn2)

    t10 = sum(pos[s] * sgn_div(m * a_of[s] - A) ** 2 for s in pos)
    t01 = sum(neg[s] * sgn_div(n * b_of[s] - A) ** 2 for s in neg)
    auc_d = float(A) / (2.0 * float(m) * float(n))
    se_d = math.sqrt(
        float(t10) / (1e12 * float(m) * float(m - 1))
        + float(t01) / (1e12 * float(n) * float(n - 1))
    )
    got = QUERIES["eval_auc_delong_ci"](spark, SF).collect()[0]
    assert (got.m_pos, got.n_neg, got.auc_num) == (m, n, A)
    assert got.auc_micros == round(auc_d * 1_000_000)
    assert abs(got.se_micros - round(se_d * 1_000_000)) <= 1
    assert abs(got.ci_lo_micros - round((auc_d - 1.96 * se_d) * 1e6)) <= 2
    assert abs(got.ci_hi_micros - round((auc_d + 1.96 * se_d) * 1e6)) <= 2
    assert got.ci_lo_micros <= got.auc_micros <= got.ci_hi_micros
    # cross-check the integer AUC core against the point-AUC query
    auc = QUERIES["eval_auc_roc"](spark, SF).collect()[0]
    assert (auc.n_pos, auc.n_neg, auc.auc_num) == (m, n, A)


def test_delong_ci_narrows_with_separation(spark):
    """Statistical sanity on planted data: strong separation yields a
    CI strictly above 0.5; a tiny degenerate sample yields NULL CI."""
    import dbt_repo_spark.queries as qmod
    import dbt_repo_spark.queries_r11 as r11

    rows = [(i, "F" if i >= 500 else "O", float(i)) for i in range(1000)]
    # 10% label noise keeps the variance positive
    rows = [
        (k, ("O" if k % 10 == 0 and st == "F" else st), p)
        for k, st, p in rows
    ]
    orders = spark.createDataFrame(
        rows, "o_orderkey long, o_orderstatus string, o_totalprice double"
    )
    tiny = spark.createDataFrame(
        [(1, "F", 10.0), (2, "O", 5.0)],
        "o_orderkey long, o_orderstatus string, o_totalprice double",
    )
    orig = qmod.t
    try:
        qmod.t = lambda s, sf, name: {"orders": orders}[name]
        r11.t = qmod.t
        got = r11.eval_auc_delong_ci(spark, "_").collect()[0]
        qmod.t = lambda s, sf, name: {"orders": tiny}[name]
        r11.t = qmod.t
        deg = r11.eval_auc_delong_ci(spark, "_").collect()[0]
    finally:
        qmod.t = orig
        r11.t = orig
    assert got.ci_lo_micros > 500_000  # separation detected at 95%
    assert got.ci_hi_micros <= 1_000_000 + 1
    # m = n = 1: variance undefined -> NULL CI on both engines
    assert deg.se_micros is None and deg.ci_lo_micros is None


def _python_delong(rows):
    """Exact twin of the DeLong pipeline: same grouping, same
    micro-truncation, same float tail. rows = [(score, is_pos)]."""
    import math
    from collections import Counter

    pos = Counter(s for s, y in rows if y)
    neg = Counter(s for s, y in rows if not y)
    m, n = sum(pos.values()), sum(neg.values())
    if m == 0 or n == 0:
        return None
    cb0 = cb1 = 0
    A = 0
    t10 = t01 = 0
    comps = []
    for s in sorted(set(pos) | set(neg)):
        a = 2 * cb0 + neg.get(s, 0)
        b = 2 * (m - cb1 - pos.get(s, 0)) + pos.get(s, 0)
        comps.append((s, a, b))
        A += pos.get(s, 0) * a
        cb0 += neg.get(s, 0)
        cb1 += pos.get(s, 0)
    mn2 = 2 * m * n

    def sgn_div(d):
        return (d * 10**6) // mn2 if d >= 0 else -(((-d) * 10**6) // mn2)

    for s, a, b in comps:
        t10 += pos.get(s, 0) * sgn_div(m * a - A) ** 2
        t01 += neg.get(s, 0) * sgn_div(n * b - A) ** 2
    auc_d = float(A) / (2.0 * float(m) * float(n))
    out = {"m": m, "n": n, "A": A, "auc": round(auc_d * 10**6)}
    if m >= 2 and n >= 2:
        se_d = math.sqrt(
            float(t10) / (1e12 * float(m) * float(m - 1))
            + float(t01) / (1e12 * float(n) * float(n - 1))
        )
        out["se"] = round(se_d * 10**6)
        out["lo"] = round((auc_d - 1.96 * se_d) * 10**6)
        out["hi"] = round((auc_d + 1.96 * se_d) * 10**6)
    else:
        out["se"] = out["lo"] = out["hi"] = None
    return out


@given(
    data=st.lists(
        st.tuples(st.integers(0, 4), st.booleans()),
        min_size=2,
        max_size=40,
    ).filter(
        lambda d: any(y for _, y in d) and any(not y for _, y in d)
    )
)
@settings(**_ISO_SETTINGS)
def test_delong_property_matches_twin(spark, data):
    """Adversarial DeLong fuzz: tiny score alphabets force heavy ties
    (every tie weight path) and tiny m/n exercise the NULL-variance
    guard; the engine must match the exact twin to the micro."""
    import dbt_repo_spark.queries as qmod
    import dbt_repo_spark.queries_r11 as r11

    rows = [
        (i, "F" if y else "O", float(s) * 7.25)
        for i, (s, y) in enumerate(data)
    ]
    orders = spark.createDataFrame(
        rows, "o_orderkey long, o_orderstatus string, o_totalprice double"
    )
    exp = _python_delong([(s, y) for s, y in data])
    orig = qmod.t
    try:
        qmod.t = lambda sp, sf, name: {"orders": orders}[name]
        r11.t = qmod.t
        got = r11.eval_auc_delong_ci(spark, "_").collect()[0]
    finally:
        qmod.t = orig
        r11.t = orig
    assert (got.m_pos, got.n_neg, got.auc_num) == (
        exp["m"], exp["n"], exp["A"],
    )
    assert abs(got.auc_micros - exp["auc"]) <= 1
    if exp["se"] is None:
        assert got.se_micros is None and got.ci_lo_micros is None
    else:
        assert abs(got.se_micros - exp["se"]) <= 1
        assert abs(got.ci_lo_micros - exp["lo"]) <= 2
        assert abs(got.ci_hi_micros - exp["hi"]) <= 2


@given(
    data=st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 300)),
        min_size=3,
        max_size=25,
    )
)
@settings(**_ISO_SETTINGS)
def test_bootstrap_property_matches_twin(spark, data):
    """Bootstrap fuzz: random tiny groups (including ones small enough
    that some replicates could zero out) must match the twin's exact
    hash-derived weights, truncating means, and nearest-rank CI."""
    import collections
    import hashlib

    import dbt_repo_spark.queries as qmod
    import dbt_repo_spark.queries_r11 as r11
    from dbt_repo_spark.queries_r11 import (
        _BOOT_B,
        _BOOT_POIS_T,
        _boot_mix_py,
    )

    rows = [
        (i + 1, f"G{g}", float(v) + 0.25) for i, (g, v) in enumerate(data)
    ]
    orders = spark.createDataFrame(
        rows, "o_orderkey long, o_orderpriority string, o_totalprice double"
    )

    def pois(key, b):
        h = int(hashlib.md5(str(key).encode()).hexdigest()[:8], 16)
        u = _boot_mix_py(h, b)
        for k, thr in enumerate(_BOOT_POIS_T):
            if u < thr:
                return k
        return 10

    from decimal import Decimal

    groups = collections.defaultdict(list)
    for k, g, p in rows:
        cents = int(Decimal(str(p)).quantize(Decimal("0.01")) * 100)
        groups[g].append((k, cents))
    exp = {}
    for g, members in groups.items():
        means = []
        for b in range(_BOOT_B):
            num = den = 0
            for k, c in members:
                w = pois(k, b)
                num += w * c
                den += w
            if den > 0:
                means.append((num // den, b))
        means.sort()
        nb = len(means)
        # nb < 4 -> NULL both bounds (r12: rank 2 / rank nb-1 invert
        # when nb <= 2; an inverted CI is worse than an honest NULL)
        lo = means[1][0] if nb >= 4 else None
        hi = means[nb - 2][0] if nb >= 4 else None
        exp[g] = (
            len(members),
            sum(c for _, c in members) // len(members),
            lo,
            hi,
            nb,
        )
    orig = qmod.t
    try:
        qmod.t = lambda sp, sf, name: {"orders": orders}[name]
        r11.t = qmod.t
        got = {
            r.grp: r
            for r in r11.eval_bootstrap_ci_mean(spark, "_").collect()
        }
    finally:
        qmod.t = orig
        r11.t = orig
    assert set(got) == set(exp)
    for g, (n, mc, lo, hi, nb) in exp.items():
        r = got[g]
        assert (r.n_orders, r.mean_cents, r.n_replicates) == (n, mc, nb), g
        assert (r.boot_lo_cents, r.boot_hi_cents) == (lo, hi), g
