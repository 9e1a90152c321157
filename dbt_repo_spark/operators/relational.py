"""Relational operator helpers used across models and queries.

These wrap the correctness-critical patterns from SURVEY.md §2 so every
model spells them identically. All are pure Catalyst expressions.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def latest_per_key(
    df: DataFrame,
    keys: list[str],
    order_by: list[Column],
    rn_col: str = "rn",
) -> DataFrame:
    """W1: keep the latest row per key (fact_station_status_latest.sql:11-32).

    ``row_number() OVER (PARTITION BY keys ORDER BY order_by)`` then rn=1.
    At scale this is a single shuffle on ``keys``; when the downstream join
    also keys on ``keys`` the exchange is reused by Catalyst.
    """
    w = Window.partitionBy(*keys).orderBy(*order_by)
    return (
        df.withColumn(rn_col, F.row_number().over(w))
        .filter(F.col(rn_col) == 1)
        .drop(rn_col)
    )


def top_k_per_group(
    df: DataFrame, keys: list[str], order_by: list[Column], k: int
) -> DataFrame:
    """O2 generalized: per-group top-k via rank window + filter."""
    w = Window.partitionBy(*keys).orderBy(*order_by)
    return df.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") <= k).drop("__rn")


def asof_join(
    probe: DataFrame,
    reference: DataFrame,
    key: str,
    probe_ts: str,
    ref_ts: str,
    ref_value_cols: list[str],
    tolerance_seconds: float | None = None,
) -> DataFrame:
    """AS-OF join: for each probe row, the latest reference row with
    ``ref_ts <= probe_ts`` on the same key.

    Implemented as the union-window trick: tag both sides, union into one
    key-partitioned time-ordered stream, carry reference values forward
    with last(IGNORE NULLS), keep probe rows. ONE shuffle on the key —
    never the range self-join whose candidate count is |probe|x|ref| per
    key. Reference rows sort before probe rows at equal timestamps, so a
    same-instant reference row IS visible to the probe row (<=, matching
    DuckDB ASOF JOIN semantics, which this operator is oracle-tested
    against).

    ``tolerance_seconds`` expires stale matches: a reference older than
    the tolerance yields NULLs, the semantics quote/trade joins need
    (pandas ``merge_asof(tolerance=...)``). Implemented by carrying the
    matched reference timestamp through the same window — no extra
    shuffle.
    """
    p = probe.withColumn("__is_probe", F.lit(1)).withColumn("__ts", F.col(probe_ts))
    r_cols = [F.col(c).alias(f"__ref_{c}") for c in ref_value_cols]
    r = (
        reference.select(F.col(key), F.col(ref_ts).alias("__ts"), *r_cols)
        .withColumn("__is_probe", F.lit(0))
        .withColumn("__ref_ts", F.col("__ts"))
    )
    # unionByName fills columns present on only one side with NULL, which is
    # exactly the carry-forward seed the window needs.
    unioned = p.unionByName(r, allowMissingColumns=True)
    w = (
        Window.partitionBy(key)
        .orderBy(F.col("__ts"), F.col("__is_probe"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = unioned.select(
        "*",
        F.last("__ref_ts", ignorenulls=True).over(w).alias("__matched_ts"),
        *[
            F.last(f"__ref_{c}", ignorenulls=True).over(w).alias(f"__filled_{c}")
            for c in ref_value_cols
        ],
    )
    if tolerance_seconds is not None:
        fresh = (
            F.col("__ts").cast("double") - F.col("__matched_ts").cast("double")
        ) <= F.lit(float(tolerance_seconds))
        filled = filled.select(
            "*",
            *[
                F.when(fresh, F.col(f"__filled_{c}"))
                .alias(f"__tol_{c}")
                for c in ref_value_cols
            ],
        )
        picked = "__tol_"
    else:
        picked = "__filled_"
    out_cols = [c for c in probe.columns] + [
        F.col(f"{picked}{c}").alias(f"ref_{c}") for c in ref_value_cols
    ]
    return filled.filter(F.col("__is_probe") == 1).select(*out_cols)


def salted_join(
    big: DataFrame,
    small: DataFrame,
    key: str,
    salt: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Skew-resistant equi-join: salt the big side, replicate the small side.

    When one join key dominates (a hot user, a null-ish default key), the
    task holding that key becomes the straggler. Salting splits each hot
    key into ``salt`` sub-keys: the big side gets a deterministic salt from
    its row content hash, the small side is replicated ``salt`` times, and
    the join runs on (key, salt) — the hot key's rows now spread across
    ``salt`` tasks. Result set is EXACTLY the plain join (each big row
    meets each matching small row exactly once).

    AQE's skew-join split handles moderate skew automatically; explicit
    salting is for the pathological key that exceeds what AQE can split
    (it re-plans partitions, not keys). Cost: small side inflated ×salt —
    use only when ``small`` is genuinely small.
    """
    salt_col = F.pmod(F.xxhash64(*[F.col(c) for c in big.columns]), F.lit(salt))
    big_s = big.withColumn("__salt", salt_col.cast("int"))
    small_s = small.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(salt - 1)))
    )
    out = big_s.join(small_s, [key, "__salt"], how)
    return out.drop("__salt")


def range_join(
    points: DataFrame,
    intervals: DataFrame,
    point_col: str,
    start_col: str,
    end_col: str,
    bucket_width: int,
) -> DataFrame:
    """Point-in-interval join without the cross product.

    Matches each ``points`` row to every ``intervals`` row with
    ``start <= point < end`` (all three columns numeric — callers map
    timestamps through epoch seconds/days first). A naive inequality join
    plans as BroadcastNestedLoopJoin — O(|points| x |intervals|) compares,
    which is exactly what dies at 100 TB. Instead both sides are mapped to
    fixed-width buckets: an interval is replicated to every bucket it
    overlaps (``ceil(width / bucket_width) + 1`` copies), a point belongs
    to one bucket, and the join becomes an EQUI-join on bucket followed by
    the residual range filter. Shuffle volume is
    O(|points| + |intervals| x avg_width / bucket_width); pick
    ``bucket_width`` near the median interval width so the replication
    factor stays ~2. Each (point, interval) match lands in exactly one
    bucket (the point's), so no post-join dedup is needed.
    """
    iv = intervals.filter(F.col(end_col) > F.col(start_col))
    iv_b = iv.withColumn(
        "__bucket",
        F.explode(
            F.sequence(
                F.floor(F.col(start_col) / bucket_width),
                # end is exclusive: bucket of the last contained value
                F.floor((F.col(end_col) - 1) / bucket_width),
            )
        ),
    )
    pt_b = points.withColumn("__bucket", F.floor(F.col(point_col) / bucket_width))
    return (
        pt_b.join(iv_b, "__bucket")
        .filter(
            (F.col(point_col) >= F.col(start_col)) & (F.col(point_col) < F.col(end_col))
        )
        .drop("__bucket")
    )


def pareto_frontier(
    df: DataFrame,
    x_col: str,
    y_col: str,
    partition_cols: list[str],
) -> DataFrame:
    """Skyline / Pareto frontier per partition: rows not dominated by any
    other row in the same partition, where p dominates q iff
    ``x_p >= x_q AND y_p >= y_q`` with at least one strict. The
    multi-objective data-selection primitive (e.g. keep documents no
    other document beats on BOTH length and quality).

    The textbook form is a NOT-EXISTS self-join — O(n²) compares, the
    shape that dies first at scale (that form IS this operator's DuckDB
    oracle). Here dominance is decided by two window maxima instead:

    - ``max(y) OVER (ORDER BY x RANGE BETWEEN 1 FOLLOWING AND UNBOUNDED
      FOLLOWING)`` — the best y among rows with strictly larger x
      (``x_col`` must be integral for the +1 range bound to mean
      "strictly greater");
    - ``max(y) OVER (PARTITION BY x)`` — the best y among x-ties.

    q is dominated iff the first max >= y_q (larger x, no-worse y) or
    the second max > y_q (equal x, strictly better y). One range
    shuffle + sort per partition, O(n log n); windows partition on
    ``partition_cols`` so no global single-task sort appears (a global
    frontier would need one ordering anyway — partition by a grouping
    key, or range-repartition on x and take per-range frontiers first:
    the frontier is a monotone subset, so per-range frontiers union to
    a superset that one tiny second pass reduces).
    """
    w_gt = (
        Window.partitionBy(*partition_cols)
        .orderBy(F.col(x_col))
        .rangeBetween(1, Window.unboundedFollowing)
    )
    w_eq = Window.partitionBy(*partition_cols, x_col)
    return (
        df.withColumn("__max_y_gt", F.max(y_col).over(w_gt))
        .withColumn("__max_y_eq", F.max(y_col).over(w_eq))
        .filter(
            (F.col("__max_y_gt").isNull() | (F.col(y_col) > F.col("__max_y_gt")))
            & (F.col(y_col) >= F.col("__max_y_eq"))
        )
        .drop("__max_y_gt", "__max_y_eq")
    )


def impute_group_mean(
    df: DataFrame,
    value_col: str,
    group_cols: list[str],
    prec: int = 18,
    scale: int = 6,
) -> DataFrame:
    """Mean-impute NULLs in ``value_col`` from the group's non-NULL mean —
    the standard missing-feature fill ahead of training.

    Group means come from a GROUP BY aggregate (map-side partial,
    |groups| rows) broadcast back to the fact — same scale shape as
    ``winsorize``: the scan stays fully parallel under group skew and no
    mean-over-window recomputes per row. The mean is an exact-decimal
    sum divided by a BIGINT count (module rule in queries.py), so the
    imputed value is bit-identical across engines/parallelism. Adds
    ``{value_col}_imputed`` and ``was_imputed``; a group with zero
    non-NULL values keeps NULL (nothing to learn from).
    """
    d = F.col(value_col).cast(f"decimal({prec},{scale})")
    means = df.groupBy(*group_cols).agg(
        (F.sum(d).cast("double") / F.count(value_col)).alias("__mean")
    )
    return (
        df.join(F.broadcast(means), group_cols)
        .withColumn(
            f"{value_col}_imputed", F.coalesce(F.col(value_col), F.col("__mean"))
        )
        .withColumn("was_imputed", F.col(value_col).isNull() & F.col("__mean").isNotNull())
        .drop("__mean")
    )


def collapse_runs(
    df: DataFrame,
    keys: list[str],
    order_by: list[str],
    state_col: str,
) -> DataFrame:
    """Gaps-and-islands run-length compression: collapse consecutive rows
    with the same ``state_col`` per key into one row per run. The
    change-log compaction for snapshot-shaped streams (a sensor
    reporting the same state 10k times becomes one row per state
    change).

    Two windows over ONE shuffle on ``keys`` (same partitioning, sort
    reused): a lag marks change points, a running sum of change flags
    numbers the runs, then a groupBy on (keys, run_id) — also
    co-partitioned, so Catalyst reuses the exchange — emits run start /
    end / length. State compare is null-safe (eqNullSafe), so NULL-state
    runs collapse too.
    """
    ord_cols = [F.col(c) for c in order_by]
    w = Window.partitionBy(*keys).orderBy(*ord_cols)
    changed = F.when(
        F.lag(state_col).over(w).eqNullSafe(F.col(state_col)), F.lit(0)
    ).otherwise(F.lit(1))
    runs = df.withColumn(
        "run_id",
        F.sum(changed).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    )
    return runs.groupBy(*keys, "run_id").agg(
        # every row in a run carries the same state, so min == the state
        # (and is deterministic where first() is flagged as not)
        F.min(state_col).alias(state_col),
        F.min(order_by[0]).alias("run_start"),
        F.max(order_by[0]).alias("run_end"),
        F.count("*").alias("n_rows"),
    )


def winsorize(
    df: DataFrame,
    value_col: str,
    group_cols: list[str],
    p_lo: float = 0.05,
    p_hi: float = 0.95,
) -> DataFrame:
    """Group-wise winsorization: clamp ``value_col`` to its group's
    [p_lo, p_hi] exact percentiles — the robust-statistics guard for
    metric pipelines (a fat-fingered 1e9 stops dominating every mean
    downstream) and for feature normalization ahead of training.

    Plan shape chosen for scale: percentile bounds come from a GROUP BY
    aggregate (map-side partial, |groups| rows) broadcast-joined back,
    NOT a percentile-over-window — the window form funnels each group
    through one task, the aggregate+join form keeps the fact scan fully
    parallel regardless of group skew. Adds ``value_winsorized`` and
    ``clipped``; exact interpolated percentiles parity-check bit-for-bit
    (see percentile_battery).
    """
    bounds = df.groupBy(*group_cols).agg(
        F.percentile(value_col, F.lit(p_lo)).alias("__lo"),
        F.percentile(value_col, F.lit(p_hi)).alias("__hi"),
    )
    return (
        df.join(F.broadcast(bounds), group_cols)
        .withColumn(
            "value_winsorized",
            F.least(F.greatest(F.col(value_col), F.col("__lo")), F.col("__hi")),
        )
        .withColumn(
            "clipped",
            (F.col(value_col) < F.col("__lo"))
            | (F.col(value_col) > F.col("__hi")),
        )
        .drop("__lo", "__hi")
    )


def table_diff(
    a: DataFrame,
    b: DataFrame,
    key_cols: list[str],
    compare_cols: list[str],
) -> DataFrame:
    """Keyed diff of two table versions — the audit-helper / data-diff
    shape that gates a publish: what would this deploy add, remove, or
    change? (The reference's workflow diffs BigQuery tables by hand
    before promoting models; this is that check as one plan.)

    ONE full-outer join on the key (each side shuffles once, co-
    partitioned), then pure conditional aggregation: rows only in ``a``
    (removed), only in ``b`` (added), present in both with any null-safe
    compare-column difference (changed) or none (unchanged), plus a
    per-column ``changed_<col>`` count so the report names WHICH fields
    drifted. All counts are exact BIGINTs. At 100 TB, pre-bucket both
    sides on the key and the join is shuffle-free.
    """
    pa = a.select(
        *[F.col(k).alias(f"__ka_{k}") for k in key_cols],
        *[F.col(c).alias(f"__a_{c}") for c in compare_cols],
        F.lit(1).alias("__in_a"),
    )
    pb = b.select(
        *[F.col(k).alias(f"__kb_{k}") for k in key_cols],
        *[F.col(c).alias(f"__b_{c}") for c in compare_cols],
        F.lit(1).alias("__in_b"),
    )
    cond = reduce(
        lambda x, y: x & y,
        [F.col(f"__ka_{k}").eqNullSafe(F.col(f"__kb_{k}")) for k in key_cols],
    )
    j = pa.join(pb, cond, "full_outer")
    in_a = F.col("__in_a").isNotNull()
    in_b = F.col("__in_b").isNotNull()
    col_changed = {
        c: in_a & in_b & ~F.col(f"__a_{c}").eqNullSafe(F.col(f"__b_{c}"))
        for c in compare_cols
    }
    any_changed = reduce(lambda x, y: x | y, col_changed.values())
    cnt = lambda pred: F.sum(F.when(pred, 1).otherwise(0)).cast("long")  # noqa: E731
    return j.agg(
        cnt(in_a).alias("n_a"),
        cnt(in_b).alias("n_b"),
        cnt(in_b & ~in_a).alias("added"),
        cnt(in_a & ~in_b).alias("removed"),
        cnt(any_changed).alias("changed"),
        cnt(in_a & in_b & ~any_changed).alias("unchanged"),
        *[cnt(col_changed[c]).alias(f"changed_{c}") for c in compare_cols],
    )
