"""connected_components / dedup_clusters (operators/graph.py).

Covers multi-hop label propagation (a chain needs > 1 round), disjoint
components, symmetry of the input pair order, and singleton append, and
the fixpoint loop's rules: cleanup when a round raises, the
non-convergence error, and one job per round.
"""

from __future__ import annotations

import pytest

from dbt_repo_spark.operators.graph import connected_components, dedup_clusters


def _cc_dict(spark, edges):
    df = spark.createDataFrame(edges, ["id_a", "id_b"])
    out = connected_components(df).collect()
    return {r["node"]: r["cluster_id"] for r in out}


def test_chain_converges_multihop(spark):
    # 5-node path: min label must travel 4 hops
    got = _cc_dict(spark, [(10, 11), (11, 12), (12, 13), (13, 14)])
    assert got == {10: 10, 11: 10, 12: 10, 13: 10, 14: 10}


def test_disjoint_components_and_edge_order(spark):
    # two components; edges given in arbitrary direction/order
    got = _cc_dict(spark, [(7, 3), (3, 5), (20, 21), (22, 21)])
    assert got == {3: 3, 5: 3, 7: 3, 20: 20, 21: 20, 22: 20}


def test_self_loops_ignored(spark):
    got = _cc_dict(spark, [(1, 1), (1, 2)])
    assert got == {1: 1, 2: 1}


def test_dedup_clusters_singletons_and_canonical(spark):
    pairs = spark.createDataFrame([(2, 5), (5, 9)], ["id_a", "id_b"])
    all_ids = spark.createDataFrame([(1,), (2,), (5,), (9,)], ["doc_id"])
    rows = {
        r["doc_id"]: (r["cluster_id"], r["is_canonical"])
        for r in dedup_clusters(pairs, all_ids=all_ids).collect()
    }
    assert rows == {1: (1, True), 2: (2, True), 5: (2, False), 9: (2, False)}


# --- property-based: random graphs vs a pure-Python union-find ---

from hypothesis import given, settings, strategies as st  # noqa: E402


def _uf_components(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    return {n: min(m for m in parent if find(m) == find(n)) for n in parent}


@given(
    st.lists(
        st.tuples(st.integers(0, 30), st.integers(0, 30)).filter(lambda e: e[0] != e[1]),
        min_size=1,
        max_size=60,
    )
)
@settings(max_examples=5, deadline=None)
def test_cc_matches_union_find(spark, edges):
    from dbt_repo_spark.operators.graph import connected_components

    df = spark.createDataFrame(edges, ["id_a", "id_b"])
    got = {r["node"]: r["cluster_id"] for r in connected_components(df).collect()}
    assert got == _uf_components(edges)


def test_fixpoint_loop_releases_everything_when_a_round_raises(spark):
    """A round that raises mid-loop leaves no persisted RDD behind: the
    static relation and every round checkpoint the loop made are
    released on the way out."""
    from pyspark.sql import functions as F

    from dbt_repo_spark.operators.graph import _iterate, _persisted

    jsc = spark.sparkContext._jsc

    def persisted_ids():
        return set(jsc.getPersistentRDDs().keySet())

    before = persisted_ids()
    calls = []
    chain = spark.createDataFrame([(i, i + 1) for i in range(20)], "src long, dst long")
    seed = spark.createDataFrame([(0,)], "node long")
    with pytest.raises(ValueError, match="round 3"):
        with _persisted(chain, "src") as e:

            def step(frontier):
                calls.append(persisted_ids() - before)
                if len(calls) == 3:
                    raise ValueError("round 3")
                return frontier.join(e, frontier["node"] == e["src"]).select(
                    F.col("dst").alias("node")
                )

            _iterate(seed, step, 5, probe=lambda f: f)
    assert calls[-1], "the rounds before the failure cached nothing"
    assert persisted_ids() - before == set()


def test_cc_raises_when_not_converged(spark):
    """A 40-node path needs ~log2(40) pointer-jumping rounds: a 2-round
    cap raises instead of returning partial labels, naming the operator."""
    df = spark.createDataFrame([(i, i + 1) for i in range(39)], "id_a long, id_b long")
    with pytest.raises(RuntimeError, match="connected_components"):
        connected_components(df, max_iter=2)


def test_bfs_spends_one_job_per_round(spark):
    """One action per round: on a 6-node chain each extra round of
    bfs_hops runs exactly one more Spark job until the frontier empties
    (round 6 finds it empty), and no job after that. Adaptive execution
    and broadcast joins are switched off for the count, so that an
    action is exactly one job (they add their own per-stage jobs)."""
    from dbt_repo_spark.operators.graph import bfs_hops

    sc = spark.sparkContext
    chain = spark.createDataFrame([(i, i + 1) for i in range(5)], "src long, dst long")
    seed = spark.createDataFrame([(0,)], "node long")
    confs = ("spark.sql.adaptive.enabled", "spark.sql.autoBroadcastJoinThreshold")
    saved = {k: spark.conf.get(k) for k in confs}
    jobs = []
    try:
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        for k in range(1, 9):
            group = f"bfs-one-job-per-round-{k}"
            sc.setJobGroup(group, group)
            assert len(bfs_hops(chain, seed, iters=k).collect()) == min(k, 5) + 1
            jobs.append(len(sc.statusTracker().getJobIdsForGroup(group)))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        for k, v in saved.items():
            spark.conf.set(k, v)
    assert [b - a for a, b in zip(jobs, jobs[1:])] == [1] * 5 + [0] * 2, jobs


def test_pagerank_matches_power_iteration(spark):
    """Integer micro-unit PageRank == dense NumPy float power iteration
    on the same graph (incl. a dangling node) to 1e-9 — quantization bias
    is ≤ a few hundred units of 1e15 — and conserves mass up to
    truncation: ranks sum to 1, units to within iters·n units of 1e15."""
    import numpy as np

    from dbt_repo_spark.operators.graph import pagerank_units

    #   0 -> 1, 0 -> 2, 1 -> 2, 2 -> 0, 3 -> 2 ; 4 is dangling (in-only)
    edge_list = [(0, 1), (0, 2), (1, 2), (2, 0), (3, 2), (2, 4)]
    edges = spark.createDataFrame(edge_list, ["src", "dst"])
    n = 5
    M = np.zeros((n, n))
    deg = {}
    for s, d in edge_list:
        deg[s] = deg.get(s, 0) + 1
    for s, d in edge_list:
        M[d, s] = 1.0 / deg[s]
    for iters in (10, 20):
        rows = pagerank_units(edges, iters=iters).collect()
        got = {r.node: r.rank for r in rows}
        r = np.full(n, 1.0 / n)
        for _ in range(iters):
            dangling = sum(r[i] for i in range(n) if i not in deg)
            r = (1 - 0.85) / n + 0.85 * (M @ r + dangling / n)
        assert set(got) == set(range(n))
        for i in range(n):
            assert abs(got[i] - r[i]) < 1e-9, (iters, i, got[i], r[i])
        assert abs(sum(got.values()) - 1.0) < 1e-9
        total_units = sum(r.rank_units for r in rows)
        # floor losses: ≤1 unit per edge/node per round, so the gap is tiny
        assert 10**15 - 20 * (n + len(edge_list)) * iters <= total_units <= 10**15


def test_pagerank_residual_certificate(spark):
    """with_residual attaches the exact integer L1 delta of the final two
    iterations: bounded by the power-iteration contraction
    (≤ 2·damping^k of the 1e15-unit mass), strictly smaller at more
    iterations, and identical on every output row."""
    from dbt_repo_spark.operators.graph import pagerank_units

    edge_list = [(0, 1), (0, 2), (1, 2), (2, 0), (3, 2), (2, 4)]
    edges = spark.createDataFrame(edge_list, ["src", "dst"])
    r5 = pagerank_units(edges, iters=5, with_residual=True).collect()
    res5 = {row.l1_residual_units for row in r5}
    assert len(res5) == 1  # one scalar, broadcast to every row
    (res5,) = res5
    assert 0 <= res5 <= 2 * 0.85**5 * 10**15
    r10 = pagerank_units(edges, iters=10, with_residual=True).collect()
    (res10,) = {row.l1_residual_units for row in r10}
    assert res10 < res5


def test_registry_sketch_and_pagerank_quality_floors(spark, sf_dir):
    """The self-validating metric columns of the rows-only registry
    queries stay within their estimator bounds: HLL++ rel_err ≤ 3×rsd,
    sketch-rollup rel_err ≤ 5% (lgK=12), pagerank residual ≤ 2·d^5."""
    from dbt_repo_spark.queries import QUERIES

    for row in QUERIES["approx_distinct_sketch"](spark, sf_dir).collect():
        assert row.rel_err <= 0.06, row
    (roll,) = QUERIES["distinct_sketch_rollup"](spark, sf_dir).collect()
    assert roll.rel_err <= 0.05, roll
    # the native HLL++ estimator stays the ad-hoc scale default (the
    # registry row moved to portable registers in r8) — pin its quality
    # directly: rel_err <= 3x the requested rsd per event_type
    from pyspark.sql import functions as F

    from dbt_repo_spark.queries import t as load

    native = (
        load(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.approx_count_distinct("user_id", rsd=0.02).alias("a"),
            F.countDistinct("user_id").alias("x"),
        )
        .collect()
    )
    assert native and all(abs(r.a - r.x) / r.x <= 0.06 for r in native)
    rows = QUERIES["graph_pagerank_parts"](spark, sf_dir).collect()
    # integer micro-units as of r07: 1.0 of rank mass == 1e15 units
    assert rows and all(
        0 <= r.l1_residual_units <= 2 * 0.85**5 * 10**15 for r in rows
    )
    assert all(abs(r.rank - r.rank_units / 1e15) < 1e-18 for r in rows)


def test_canonical_by_quality_keeps_best_per_cluster(spark):
    """Every cluster keeps exactly one doc, and it is the max-quality
    (tie: min id) member; singletons always keep themselves."""
    from dbt_repo_spark.queries import QUERIES

    rows = QUERIES["dedup_canonical_quality"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert len(rows) == 500  # every document gets a keep/drop decision
    by_cluster = {}
    for r in rows:
        by_cluster.setdefault(r.cluster_id, []).append(r)
    for cid, members in by_cluster.items():
        kept = [m for m in members if m.keep]
        assert len(kept) == 1, cid
        best = max(members, key=lambda m: (m.n_chars, -m.doc_id))
        assert kept[0].doc_id == best.doc_id, cid


def test_k_core_known_graphs(spark):
    """K5 is its own 4-core; a 5-path has an empty 2-core; K4 + pendant
    peels to exactly the K4 (cascading removal: the pendant's neighbor
    keeps its in-clique degree)."""
    from dbt_repo_spark.operators.graph import k_core

    def run(edges, k):
        df = spark.createDataFrame(edges, "id_a long, id_b long")
        return {r["node"]: r["deg"] for r in k_core(df, k=k).collect()}

    import itertools

    k5 = list(itertools.combinations(range(5), 2))
    assert run(k5, 4) == {n: 4 for n in range(5)}
    path = [(i, i + 1) for i in range(4)]
    assert run(path, 2) == {}
    k4_pendant = list(itertools.combinations(range(4), 2)) + [(3, 9)]
    assert run(k4_pendant, 3) == {n: 3 for n in range(4)}


def test_k_core_cascading_peel(spark):
    """A chain of triangles: each round's removal exposes the next
    violator — exercises multi-round convergence."""
    from dbt_repo_spark.operators.graph import k_core

    # triangle (0,1,2) with a tail 2-3-4-5: 2-core keeps the triangle
    edges = [(0, 1), (1, 2), (0, 2), (2, 3), (3, 4), (4, 5)]
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {r["node"]: r["deg"] for r in k_core(df, k=2).collect()}
    assert got == {0: 2, 1: 2, 2: 2}


def test_k_core_random_graphs_match_brute_force(spark):
    """Property: k_core equals sequential brute-force peeling on random
    graphs (the k-core is unique, so simultaneous and sequential peeling
    agree) — seeded, multiple shapes and k values."""
    import random

    from dbt_repo_spark.operators.graph import k_core

    rng = random.Random(7)
    for trial in range(4):
        n = rng.randint(6, 14)
        edges = set()
        for _ in range(rng.randint(n, 3 * n)):
            a, b = rng.randrange(n), rng.randrange(n)
            if a != b:
                edges.add((min(a, b), max(a, b)))
        edges = sorted(edges)
        k = rng.randint(2, 4)

        adj = {}
        for a, b in edges:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
        changed = True
        while changed:
            changed = False
            for node in list(adj):
                if len(adj[node]) < k:
                    for nb in adj.pop(node):
                        adj[nb].discard(node)
                    changed = True
        want = {node: len(nbs) for node, nbs in adj.items()}

        df = spark.createDataFrame(edges or [(0, 1)], "id_a long, id_b long")
        if not edges:
            continue
        got = {r["node"]: r["deg"] for r in k_core(df, k=k).collect()}
        assert got == want, (trial, k, edges)


def test_hll_portable_registers_match_reference(spark):
    """The portable-HLL register table equals a hashlib reference
    (reg = top 10 bits of the 60-bit md5 int, rho = 50-bit LZ run + 1),
    and the union-of-halves register maxes equal the whole-range sketch
    (the store-and-union mergeability contract, exact state equality)."""
    import hashlib
    from datetime import datetime

    from pyspark.sql import functions as F

    from dbt_repo_spark.operators.sketches import (
        hll_portable_sketch_table,
        hll_portable_union_estimate,
    )

    rows = [
        (i % 37, datetime(2024, 1, 1 + (i % 10))) for i in range(200)
    ]
    df = spark.createDataFrame(rows, ["user_id", "ts"])
    tab = hll_portable_sketch_table(df, "user_id", "ts", "day")

    # hashlib reference over the distinct keys
    expect: dict[int, int] = {}
    for k in {r[0] for r in rows}:
        h = int(hashlib.md5(str(k).encode()).hexdigest()[:15], 16)
        reg, w = h >> 50, h & ((1 << 50) - 1)
        rho = 51 if w == 0 else 51 - w.bit_length()
        expect[reg] = max(expect.get(reg, 0), rho)
    got: dict[int, int] = {}
    for r in tab.collect():
        got[r.reg] = max(got.get(r.reg, 0), r.max_rho)
    assert got == expect

    # mergeability: max-union of the two half-range sketches == the
    # whole sketch's register maxes (STATE equality, not just estimate)
    cut = datetime(2024, 1, 6)
    a = hll_portable_sketch_table(df.filter(F.col("ts") < F.lit(cut)),
                                  "user_id", "ts", "day")
    b = hll_portable_sketch_table(df.filter(F.col("ts") >= F.lit(cut)),
                                  "user_id", "ts", "day")
    merged: dict[int, int] = {}
    for r in a.unionByName(b).collect():
        merged[r.reg] = max(merged.get(r.reg, 0), r.max_rho)
    assert merged == expect

    (est,) = hll_portable_union_estimate(tab).collect()
    assert est.m == 1024 and est.n_used_regs == len(expect)
    # 37 distinct keys, m=1024 -> deep small-range regime; the
    # linear-counting correction is near-exact here
    assert abs(est.est - 37) <= 2, est


def test_quantile_portable_grid_and_merge(spark):
    """Exact-grid quantile sketch: a single-period sketch merges to the
    exact integer-rank order statistic; the registry query's in-plan
    rank_err stays within the 1/k merge bound at fixture scale."""
    from datetime import datetime

    from dbt_repo_spark.operators.sketches import (
        quantile_grid_exact,
        quantile_units_estimate,
    )
    from dbt_repo_spark.queries import QUERIES

    vals = [3.0, 1.0, 4.0, 1.5, 9.0, 2.6, 5.0, 3.5, 8.0, 7.0]
    rows = [("a", datetime(2024, 1, 1), v) for v in vals]
    df = spark.createDataFrame(rows, ["g", "ts", "value"])
    grid = quantile_grid_exact(df, ["g"], "value", "ts", "day", k=4)
    got = {r.i: r.x for r in grid.collect()}
    s = sorted(vals)  # ranks 1 + (i*9)//4 -> positions 1,3,5,7,10
    assert got == {0: s[0], 1: s[2], 2: s[4], 3: s[6], 4: s[9]}

    est = quantile_units_estimate(grid, ["g"], [(1, 2), (9, 10)], k=4)
    by_p = {(r.prob_num, r.prob_den): r.value_est for r in est.collect()}
    # single sketch: p=1/2 -> first knot with cum >= total/2 is knot 2
    assert by_p[(1, 2)] == s[4]
    assert by_p[(9, 10)] == s[9]

    # registry-query bound: 1/k per source sketch PLUS the per-sketch
    # raw rank quantum (grids of groups with n_rows < k quantize at 1/n,
    # not 1/k — sf0.001's per-(type, day) groups are that small)
    from pyspark.sql import functions as F

    from dbt_repo_spark.operators.sketches import quantile_grid_exact as qge
    from dbt_repo_spark.queries import t as load

    ev = load(spark, "/root/testdata/sf0.001", "events")
    min_n = (
        ev.filter(F.col("value").isNotNull())
        .groupBy("event_type", F.date_trunc("day", "ts"))
        .count()
        .agg(F.min("count"))
        .collect()[0][0]
    )
    bound = 1.0 / 32 + 1.0 / min_n
    for r in QUERIES["sketch_quantile_portable"](
        spark, "/root/testdata/sf0.001"
    ).collect():
        assert r.rank_err <= bound, (r, bound)


def test_hll_portable_grouped_union(spark):
    """Grouped register tables fold per group: each group's register
    maxes equal its own hashlib reference, and a group never leaks
    registers into another."""
    import hashlib
    from datetime import datetime

    from dbt_repo_spark.operators.sketches import (
        hll_portable_sketch_table,
        hll_portable_union_estimate,
    )

    rows = [("g" + str(i % 2), i % 23, datetime(2024, 1, 1 + i % 5))
            for i in range(120)]
    df = spark.createDataFrame(rows, ["grp", "user_id", "ts"])
    tab = hll_portable_sketch_table(
        df, "user_id", "ts", "day", group_cols=["grp"]
    )

    def ref(keys):
        out = {}
        for k in keys:
            h = int(hashlib.md5(str(k).encode()).hexdigest()[:15], 16)
            reg, w = h >> 50, h & ((1 << 50) - 1)
            rho = 51 if w == 0 else 51 - w.bit_length()
            out[reg] = max(out.get(reg, 0), rho)
        return out

    # group g0 sees even ids, g1 odd ids (i%2 vs i%23 parity aligns per i)
    per_group: dict[str, dict[int, int]] = {"g0": {}, "g1": {}}
    for grp, uid, _ in rows:
        h = int(hashlib.md5(str(uid).encode()).hexdigest()[:15], 16)
        reg, w = h >> 50, h & ((1 << 50) - 1)
        rho = 51 if w == 0 else 51 - w.bit_length()
        d = per_group[grp]
        d[reg] = max(d.get(reg, 0), rho)
    got: dict[str, dict[int, int]] = {"g0": {}, "g1": {}}
    for r in tab.collect():
        d = got[r.grp]
        d[r.reg] = max(d.get(r.reg, 0), r.max_rho)
    assert got == per_group

    ests = {
        r.grp: r
        for r in hll_portable_union_estimate(
            tab, group_cols=["grp"]
        ).collect()
    }
    for grp, regd in per_group.items():
        assert ests[grp].n_used_regs == len(regd)
        n_true = len({uid for g, uid, _ in rows if g == grp})
        assert abs(ests[grp].est - n_true) <= 2, (grp, ests[grp].est, n_true)
