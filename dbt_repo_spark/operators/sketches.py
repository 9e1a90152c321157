"""Mergeable sketch summaries: store-and-union distinct-count sketches.

The reference computes distincts directly (dim_stations dedup,
models/dimensions/dim_stations.sql:5-19); at 100 TB the dashboard-grade
pattern is a SKETCH TABLE: aggregate each day's keys into a fixed-size
HyperLogLog once at ingest (``hll_portable_sketch_table``), persist the
sketch next to the date, and answer "distinct users over any date range"
by unioning a handful of KB-sized sketches — no rescan of the fact, no
shuffle of the key set. Sketch union is associative/commutative, so
partial sketches merge map-side exactly like partial sums.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def heavy_hitters(df: DataFrame, key_col: str, theta: float = 0.001) -> DataFrame:
    """Exact frequent items above ``theta``·N via Misra-Gries candidates +
    exact verification — no full-key shuffle.

    Per partition, a Misra-Gries summary of capacity ceil(1/theta) runs
    over the Arrow batches (decrement-all when full). Any key with global
    count > theta·N must exceed theta·N_p in at least one partition
    (averaging), and MG capacity 1/theta keeps every locally-theta-heavy
    key, so the union of per-partition candidates is a SUPERSET of the
    true heavy hitters. The exact pass then counts ONLY candidate keys
    (broadcast semi-join prunes before the shuffle) and filters to
    count > theta·N — output is exact, so the operator oracle-checks
    against plain GROUP BY/HAVING while shuffling |candidates| ≤
    partitions/theta keys instead of the full key set.

    Output: (key, cnt) for every key with cnt > theta * N.
    """
    import math

    import pandas as pd

    cap = max(1, math.ceil(1.0 / theta))

    def mg_partition(batches):
        counters: dict = {}
        for pdf in batches:
            for k, c in pdf[key_col].value_counts().items():
                if k in counters:
                    counters[k] += int(c)
                elif len(counters) < cap:
                    counters[k] = int(c)
                else:
                    # decrement-all by the smallest surviving increment
                    dec = min(int(c), min(counters.values()))
                    counters = {
                        k2: v - dec for k2, v in counters.items() if v > dec
                    }
                    if int(c) > dec:
                        counters[k] = int(c) - dec
        if counters:
            yield pd.DataFrame({key_col: list(counters.keys())})

    candidates = (
        df.select(key_col).mapInPandas(mg_partition, schema=df.select(key_col).schema)
    ).distinct()
    n = df.count()
    return (
        df.join(F.broadcast(candidates), key_col, "left_semi")
        .groupBy(key_col)
        .agg(F.count("*").alias("cnt"))
        .filter(F.col("cnt") > theta * n)
    )


def _cm_bucket(key: Column, d: Column, width: int) -> Column:
    """Row d's count-min bucket for ``key``: first 8 md5 hex chars of
    ``key|d`` as an integer, mod width. md5 is identical everywhere, so
    sketches built by different engines (or the DuckDB oracle) agree
    counter-for-counter — unlike xxhash64, whose seed is engine-private.
    """
    h = F.md5(F.concat_ws("|", key.cast("string"), d.cast("string")))
    return F.pmod(
        F.conv(F.substring(h, 1, 8), 16, 10).cast("bigint"), F.lit(width)
    )


def countmin_table(
    df: DataFrame,
    key_col: str,
    time_col: str | None = None,
    grain: str = "day",
    depth: int = 4,
    width: int = 256,
) -> DataFrame:
    """Per-period count-min sketch of ``key_col`` frequencies:
    (period?, d, bucket, cnt) — the point-FREQUENCY companion to the HLL
    distinct table and the quantile grid: "how often did key k occur in
    any date range" from KB-sized state, without storing the key set.

    One pass: each row fans out to ``depth`` (d, bucket) cells (a
    ×depth explode of 16-byte tuples, not of payloads) and a hash-agg
    counts cells — at most |periods|·depth·width output rows regardless
    of key cardinality. Counters are mergeable by plain addition (they
    are sums), so restated partitions overwrite one period's rows and
    range queries sum cell-wise — same maintenance story as the other
    sketch tables. Estimate guarantees (Cormode-Muthukrishnan): est ≥
    true always; est ≤ true + εN with probability 1−δ for width = e/ε,
    depth = ln(1/δ).
    """
    d = F.explode(F.sequence(F.lit(0), F.lit(depth - 1))).alias("d")
    period_cols = (
        [F.date_trunc(grain, F.col(time_col)).alias("period")] if time_col else []
    )
    rows = df.select(F.col(key_col).cast("string").alias("__k"), *period_cols, d)
    group = (["period"] if time_col else []) + ["d", "bucket"]
    return (
        rows.withColumn("bucket", _cm_bucket(F.col("__k"), F.col("d"), width))
        .groupBy(*group)
        .agg(F.count("*").alias("cnt"))
    )


def countmin_estimate(
    sketch: DataFrame,
    probes: DataFrame,
    key_col: str,
    depth: int = 4,
    width: int = 256,
) -> DataFrame:
    """Point-frequency estimates for ``probes[key_col]`` from a count-min
    sketch table (any period subset): adds ``cm_est`` = min over the
    ``depth`` rows of the (merged) counter each probe key hashes to.

    The sketch merges period rows cell-wise first (≤ depth·width rows),
    then BROADCASTS to the probe side — estimating frequencies for a
    billion probe keys costs one map-side join against KBs of state; the
    fact table and its key set are never touched. An absent cell reads
    as 0 (nothing ever hashed there), keeping est ≥ true intact.
    """
    merged = sketch.groupBy("d", "bucket").agg(F.sum("cnt").alias("cnt"))
    fan = probes.select(
        "*", F.explode(F.sequence(F.lit(0), F.lit(depth - 1))).alias("d")
    ).withColumn("bucket", _cm_bucket(F.col(key_col), F.col("d"), width))
    probe_cols = [c for c in probes.columns]
    return (
        fan.join(F.broadcast(merged), ["d", "bucket"], "left")
        .groupBy(*probe_cols)
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0).cast("long"))).alias("cm_est"))
    )


def _kmv_hash(key: Column) -> Column:
    """60-bit uniform hash: first 15 md5 hex chars as an integer. md5 is
    byte-identical in every engine, so the sketch itself — not just its
    estimates — is reproducible cross-engine (the oracle recomputes the
    identical k-min set in SQL)."""
    return F.conv(F.substring(F.md5(key.cast("string")), 1, 15), 16, 10).cast(
        "long"
    )


KMV_SPACE = float(2**60)  # hash space size; exactly representable


def kmv_sketch(df: DataFrame, group_col: str, key_col: str, k: int = 256) -> DataFrame:
    """KMV (k-minimum-values / bottom-k) distinct sketch per group:
    the k smallest 60-bit hashes of the distinct keys.

    Unlike HLL, a KMV sketch supports SET OPERATIONS: the union of two
    sketches' k-min sets (re-truncated to k) is exactly the sketch of
    the union, and Jaccard is read off the shared fraction of the merged
    k-min set (Beyer et al. 2007, "On synopses for distinct-value
    estimation under multiset operations"). Mergeable state: bottom-k is
    associative/commutative, so partials combine map-side.

    Scale shape: one distinct on (group, hash) — the only corpus-sized
    shuffle — then a rank window per group. Spark rewrites the
    ``row_number() <= k`` filter into WindowGroupLimit: each task keeps
    a bounded k-row heap per group before any sort, so a group with a
    billion distinct keys still holds O(k) state per task.

    Output: (group_col, h, rn) with rn = 1..k ascending by hash.
    """
    from pyspark.sql.window import Window

    hashed = (
        df.select(F.col(group_col), _kmv_hash(F.col(key_col)).alias("h"))
        .distinct()
    )
    w = Window.partitionBy(group_col).orderBy("h")
    return (
        hashed.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
    )


# ---------------------------------------------------------------------------
# Portable HLL (r07): a register-fold HyperLogLog built from the same
# 60-bit md5 hash as KMV, so the sketch STATE — not just the estimate —
# is bit-reproducible in any engine (full DuckDB oracle), with the
# store-and-union contract of a sketch table (Flajolet et al. 2007).
# ---------------------------------------------------------------------------

HLL_B = 10                      # 2^10 = 1024 registers (rsd ~ 1.04/32 = 3.3%)
HLL_M = 1 << HLL_B
_HLL_P = 60 - HLL_B             # payload bits below the register index
_HLL_UNIT = 1 << (_HLL_P + 1)   # 2^51: denominator scale for exact sums
# alpha_m * m^2 for m=1024, spelled once so Spark and every oracle embed
# the IDENTICAL double literal (the only non-integer constant).
HLL_ALPHA_M2 = 0.7213 / (1 + 1.079 / HLL_M) * HLL_M * HLL_M


def hll_portable_sketch_table(
    df: DataFrame,
    key: str,
    time_col: str,
    grain: str = "day",
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Per-(groups, period) portable-HLL register table:
    (group_cols..., period, reg, max_rho).

    reg = top HLL_B bits of the 60-bit md5 hash; rho = leading-zero run
    of the remaining 50 payload bits + 1, computed EXACTLY via integer
    string length (``51 - length(bin(w))``; bin() drops leading zeros in
    both Spark and DuckDB — no float log anywhere). max per register is
    the HLL fold: associative, commutative, idempotent — partials
    combine map-side, a restated day overwrites one period's rows, and
    range union is max-per-register over the rows (see
    ``hll_portable_union_estimate``). Output is ≤ m rows per (group,
    period) of small integers — KBs regardless of key cardinality.
    """
    group_cols = group_cols or []
    period = F.date_trunc(grain, F.col(time_col)).alias("period")
    h = _kmv_hash(F.col(key))
    reg = F.shiftright(h, _HLL_P).alias("reg")
    w = h.bitwiseAND(F.lit((1 << _HLL_P) - 1))
    rho = (
        F.when(w == 0, F.lit(_HLL_P + 1))
        .otherwise(F.lit(_HLL_P + 1) - F.length(F.bin(w)))
        .cast("int")
    )
    return df.select(*group_cols, period, reg, rho.alias("rho")).groupBy(
        *group_cols, "period", "reg"
    ).agg(F.max("rho").alias("max_rho"))


def hll_portable_union_estimate(
    sketches: DataFrame,
    period_pred: Column | None = None,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Distinct estimate over any period range by register-max union,
    one row per group (or one global row with no ``group_cols``).

    Scans only the register table. The harmonic-mean denominator is an
    EXACT integer: register r contributes 2^(51 - rho_r) units (empty
    registers 2^51), so Σ ≤ m·2^51 ≈ 2.3e18 fits int64 and both engines
    fold it bit-identically in any order. The raw estimate is then two
    deterministic double ops on identical operands (2^51/denom, ×
    alpha·m²); the standard small-range correction m·ln(m/V) applies
    below 2.5m when V = empty registers > 0 (the 60-bit hash needs no
    large-range correction). Output: (group_cols..., m, n_used_regs,
    n_zero_regs, denom_units, raw_est, est).
    """
    group_cols = group_cols or []
    if period_pred is not None:
        sketches = sketches.filter(period_pred)
    regs = sketches.groupBy(*group_cols, "reg").agg(
        F.max("max_rho").alias("rho")
    )
    agg = regs.groupBy(*group_cols).agg(
        F.count("*").alias("n_used"),
        F.sum(F.expr(f"shiftleft(1L, {_HLL_P + 1} - rho)")).alias("used_units"),
    )
    m = HLL_M
    denom = (
        F.col("used_units")
        + (F.lit(m) - F.col("n_used")) * F.lit(_HLL_UNIT)
    ).alias("denom_units")
    zeros = (F.lit(m) - F.col("n_used")).cast("long")
    raw = F.lit(HLL_ALPHA_M2) * (
        F.lit(float(_HLL_UNIT)) / denom.cast("double")
    )
    est = F.when(
        (raw <= 2.5 * m) & (zeros > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / zeros.cast("double")),
    ).otherwise(raw)
    return agg.select(
        *group_cols,
        F.lit(m).cast("long").alias("m"),
        F.col("n_used").cast("long").alias("n_used_regs"),
        zeros.alias("n_zero_regs"),
        denom.cast("long").alias("denom_units"),
        F.round(raw, 6).alias("raw_est"),
        F.round(est, 6).alias("est"),
    )


# ---------------------------------------------------------------------------
# Portable quantile sketch (r07): exact per-period ORDER-STATISTIC grids
# with an all-integer weighted-CDF merge. Spark ships no storable
# quantile sketch (percentile_approx's summary state is plan-internal);
# this grid's state is k+1 raw data values picked by exact integer
# ranks, so any engine reproduces it bit-for-bit and the merge needs no
# float fold at all (the repo's
# quantile_normalize lesson: engine quantile INTERPOLATIONS differ by
# 1 ulp, order statistics don't).
# ---------------------------------------------------------------------------


def quantile_grid_exact(
    df: DataFrame,
    key_cols: list[str],
    value_col: str,
    time_col: str,
    grain: str = "day",
    k: int = 32,
) -> DataFrame:
    """Per-(keys, period) exact quantile grid: k+1 order statistics at
    ranks ``1 + (i*(n-1)) div k`` for i = 0..k (min, k-1 interior knots,
    max) — values are PICKED from the data, never interpolated.

    Output: (keys..., period, n_rows, i, x) — k+1 rows per group of
    small exact values; a store-and-merge quantile sketch with
    engine-portable state.

    Scale shape: one shuffle (the rank window, partitioned by group),
    then a broadcast-sized join of the k+1 target ranks per group. The
    parallelism unit is the (keys, period) group, and the window sorts
    ONE group per task — so the grain is the knob: at 100 TB you build
    hourly grids (still mergeable to any range) to bound the per-task
    sort, and if a single group still outgrows a task the grid build
    swaps to the ids.py::exact_quantiles range-shuffle selection run
    per group (same output contract, no change for consumers). At the
    fixture's per-day groups the window is the cheaper plan by far.
    """
    from pyspark.sql.window import Window

    period = F.date_trunc(grain, F.col(time_col)).alias("period")
    base = df.select(*key_cols, period, F.col(value_col).alias("x")).filter(
        F.col("x").isNotNull()
    )
    w = Window.partitionBy(*key_cols, "period").orderBy("x")
    ranked = base.withColumn("rn", F.row_number().over(w))
    groups = base.groupBy(*key_cols, "period").agg(
        F.count("*").alias("n_rows")
    )
    pos = groups.select(
        *key_cols,
        "period",
        "n_rows",
        F.explode(F.sequence(F.lit(0), F.lit(k))).alias("i"),
    ).withColumn("pos", 1 + F.expr(f"(i * (n_rows - 1)) div {k}"))
    return pos.join(
        ranked, [*key_cols, "period"]
    ).filter(F.col("rn") == F.col("pos")).select(
        *key_cols, "period", "n_rows", "i", "x"
    )


def quantile_units_estimate(
    sketches: DataFrame,
    key_cols: list[str],
    probs: list[tuple[int, int]],
    k: int = 32,
) -> DataFrame:
    """Quantiles over any union of exact-grid sketch rows — all-integer.

    Each knot i>0 of a sketch carries its group's ``n_rows`` weight
    UNITS (the cell (x_{i-1}, x_i] holds n_rows/k of that sketch's mass;
    scaling every weight by k keeps it integral); knot 0 carries none.
    Pooling is a per-x integer mass fold + one integer running sum over
    ascending x, and quantile p = num/den reads the smallest x whose
    cumulative units satisfy ``cum * den >= num * total`` — exact
    integer comparison, no float anywhere. Rank error ≤ 1/k per source
    sketch, as for the float merge.

    ``probs`` are exact rationals [(1,4), (1,2), (9,10), ...]. Output:
    (keys..., prob_num, prob_den, value_est).
    """
    from pyspark.sql.window import Window

    pts = sketches.select(
        *key_cols,
        "x",
        F.when(F.col("i") == 0, F.lit(0))
        .otherwise(F.col("n_rows"))
        .cast("long")
        .alias("wu"),
    )
    mass = pts.groupBy(*key_cols, "x").agg(F.sum("wu").alias("mass"))
    wcum = (
        Window.partitionBy(*key_cols)
        .orderBy("x")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wtot = Window.partitionBy(*key_cols)
    cum = mass.withColumn("cum", F.sum("mass").over(wcum)).withColumn(
        "total", F.sum("mass").over(wtot)
    )
    pr = cum.sparkSession.createDataFrame(
        [(n, d) for n, d in probs], "prob_num long, prob_den long"
    )
    hits = cum.crossJoin(F.broadcast(pr)).filter(
        F.col("cum") * F.col("prob_den") >= F.col("prob_num") * F.col("total")
    )
    return hits.groupBy(*key_cols, "prob_num", "prob_den").agg(
        F.min("x").alias("value_est")
    )


# ---------------------------------------------------------------------------
# Portable Bloom filter (runtime-filter shape)
# ---------------------------------------------------------------------------

BLOOM_LANES = 64  # BIGINT words in the bit array
BLOOM_LANE_BITS = 62  # bits used per word (0..61 keeps 1<<bit positive)
BLOOM_HASHES = 3


def _bloom_pos(key: Column, i: Column, m: int) -> Column:
    """Portable hash position j ∈ [0, m): md5(key ':' i) first 12 hex
    chars (48 bits) mod m — the same engine-neutral md5-nibble idiom the
    KMV / pack_sequences / countmin family uses, so a DuckDB oracle can
    reproduce the filter bit-for-bit."""
    h = F.md5(F.concat(key.cast("string"), F.lit(":"), i.cast("string")))
    return F.conv(F.substring(h, 1, 12), 16, 10).cast("long") % m


def bloom_build(
    df: DataFrame,
    key_col: str,
    lanes: int = BLOOM_LANES,
    lane_bits: int = BLOOM_LANE_BITS,
    k: int = BLOOM_HASHES,
) -> DataFrame:
    """Build a portable Bloom filter over ``df[key_col]`` as a tiny
    (lane BIGINT, mask BIGINT) relation — the explicit, engine-portable
    form of Spark's runtime bloom-filter join pruning
    (spark.sql.optimizer.runtime.bloomFilter.*): build on the small
    filtered dim side, broadcast, and drop fact rows BEFORE the join
    shuffle. Keeping the filter as data (instead of an opaque plan
    artifact) makes it persistable next to an incremental index and
    checkable by a DuckDB oracle.

    Map-side shape: keys × k hash probes → (lane, bit) → BIT_OR per
    lane. BIT_OR is order-independent (full-oracle-safe) and partially
    aggregates map-side, so the shuffle carries ≤ lanes rows per task
    regardless of |df|. m = lanes*lane_bits bits; with the 64×62
    default and k=3, ~430 keys hits the classic ~10% FPR and smaller
    sets do better; callers size lanes to their dim cardinality.
    """
    m = lanes * lane_bits
    probes = df.select(F.col(key_col).cast("long").alias("key")).distinct()
    hp = probes.select(
        "key", F.explode(F.sequence(F.lit(1), F.lit(k))).alias("i")
    ).select(_bloom_pos(F.col("key"), F.col("i"), m).alias("h"))
    return (
        hp.select(
            F.expr(f"h div {lane_bits}").alias("lane"),
            F.expr(f"shiftleft(CAST(1 AS BIGINT), CAST(h % {lane_bits} AS INT))").alias(
                "bit"
            ),
        )
        .groupBy("lane")
        .agg(F.expr("bit_or(bit)").alias("mask"))
    )


def bloom_probe(
    df: DataFrame,
    bloom: DataFrame,
    key_col: str,
    lanes: int = BLOOM_LANES,
    lane_bits: int = BLOOM_LANE_BITS,
    k: int = BLOOM_HASHES,
) -> DataFrame:
    """Membership-test ``df[key_col]`` against a :func:`bloom_build`
    filter: returns (key, bloom_pass BOOLEAN) per distinct key.

    The filter is ≤ ``lanes`` rows → broadcast; the probe side never
    shuffles on data size (groupBy key collapses the k probes of one
    key on the map side when keys arrive clustered, and the k-row
    blow-up is bounded by k). No false negatives by construction —
    identical hash family on both sides.
    """
    m = lanes * lane_bits
    keys = df.select(F.col(key_col).cast("long").alias("key")).distinct()
    ph = keys.select(
        "key", F.explode(F.sequence(F.lit(1), F.lit(k))).alias("i")
    ).select("key", _bloom_pos(F.col("key"), F.col("i"), m).alias("h"))
    ph = ph.select(
        "key",
        F.expr(f"h div {lane_bits}").alias("lane"),
        F.expr(f"CAST(h % {lane_bits} AS INT)").alias("bit"),
    )
    hit = ph.join(F.broadcast(bloom), "lane", "left").select(
        "key",
        F.when(
            F.col("mask").isNotNull()
            & (F.expr("shiftright(mask, bit) & CAST(1 AS BIGINT)") == 1),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .alias("hit"),
    )
    return hit.groupBy("key").agg(
        (F.sum("hit") == F.lit(k)).alias("bloom_pass")
    )


def countmin_inner_product(
    sketch_a: DataFrame, sketch_b: DataFrame, depth: int = 4
) -> DataFrame:
    """Equi-join SIZE estimate from two count-min sketches of the join
    keys (Cormode-Muthukrishnan inner-product estimate): merge each
    sketch cell-wise, join the two depth×width counter tables on
    (d, bucket), and take min over d of Σ_bucket cnt_a·cnt_b.

    |A ⋈ B| = Σ_k cnt_a(k)·cnt_b(k) exactly; each sketch row d
    overestimates it (colliding keys add cross terms, all counts are
    non-negative), so est ≥ true ALWAYS and est ≤ true + ε·N_a·N_b with
    probability 1−δ for width e/ε, depth ln(1/δ). This is the planner's
    pre-shuffle cardinality probe: both sketches build map-side in one
    pass each (depth×width cells regardless of key cardinality), and
    the estimate itself costs a broadcast join of two KB-sized tables —
    no shuffle of either fact relation. Counters are integers → the
    estimate is engine-exact (full-oracle-safe).

    ``depth`` bounds the hash rows the estimate may use: a sketch built
    with MORE rows is valid to merge at any common prefix, so both
    sides are filtered to ``d < depth``, and the min is taken over
    exactly those rows on both sides — a caller merging sketches of
    mismatched depths gets the well-defined common-prefix estimate
    instead of whatever rows happened to equi-join.

    Returns one row: (cm_join_size_est BIGINT).
    """
    ma = (
        sketch_a.filter(F.col("d") < depth)
        .groupBy("d", "bucket")
        .agg(F.sum("cnt").alias("ca"))
    )
    mb = (
        sketch_b.filter(F.col("d") < depth)
        .groupBy("d", "bucket")
        .agg(F.sum("cnt").alias("cb"))
    )
    per_d = (
        ma.join(mb, ["d", "bucket"])
        .groupBy("d")
        .agg(F.sum(F.col("ca") * F.col("cb")).alias("ip"))
    )
    return per_d.agg(F.min("ip").cast("long").alias("cm_join_size_est"))
