"""SCD-type-2 snapshots — the dbt `snapshots/` capability, Spark-native.

The reference ships the surface but no instances (`snapshots/.gitkeep` is
the only file — /root/reference/snapshots/). dbt snapshots track how a
mutable source row changes over time: each key carries a history of
versions with ``dbt_valid_from`` / ``dbt_valid_to`` and the open version
has ``dbt_valid_to IS NULL``. Two entry points:

- ``scd2_from_history``: BATCH — compress an append-only event log into
  version intervals (change-data-capture after the fact). One window
  shuffle on the key; consecutive equal states collapse into one version.
- ``snapshot_apply``: INCREMENTAL — dbt's "check" strategy: diff the
  current source state against the open versions, close changed/absent-
  handling per dbt defaults (deleted keys stay open), insert new
  versions. One key-partitioned join per apply.

At 100 TB both stay key-partitioned end to end: the history builder is a
single window pass, and the incremental path touches |current| + |open|
rows, never closed history (callers should keep the snapshot table
partitioned by ``dbt_valid_to IS NULL`` so the open slice prunes).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def scd2_from_history(
    df: DataFrame,
    key: str,
    ts_col: str,
    state_col: str,
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Compress a per-key event log into SCD2 version intervals.

    A new version starts wherever ``state_col`` differs from the previous
    event's state (or at the first event); ``valid_to`` is the next
    version's start, NULL for the open version. Ordering within a key is
    ``(ts, tiebreak)`` so same-timestamp events resolve deterministically.

    Output: (key, state, valid_from, valid_to, is_current).
    """
    order = [F.col(ts_col).asc()]
    if tiebreak_col is not None:
        order.append(F.col(tiebreak_col).asc())
    w = Window.partitionBy(key).orderBy(*order)
    changes = (
        df.withColumn("__prev_state", F.lag(state_col).over(w))
        .filter(
            F.col("__prev_state").isNull()
            | (F.col(state_col) != F.col("__prev_state"))
        )
        .select(key, F.col(state_col).alias("state"), F.col(ts_col).alias("valid_from"))
    )
    # state in the ordering makes same-instant version starts deterministic
    w2 = Window.partitionBy(key).orderBy(F.col("valid_from").asc(), F.col("state").asc())
    return changes.select(
        key,
        "state",
        "valid_from",
        F.lead("valid_from").over(w2).alias("valid_to"),
    ).withColumn("is_current", F.col("valid_to").isNull())


def _any_differs(cols: list[str]) -> Column:
    """NULL-safe 'any check column changed' predicate (a <=> b negated)."""
    diffs = [~F.col(f"__cur_{c}").eqNullSafe(F.col(c)) for c in cols]
    return reduce(lambda a, b: a | b, diffs)


def snapshot_apply(
    existing: DataFrame | None,
    current: DataFrame,
    key: str,
    check_cols: list[str],
    loaded_at: str,
) -> DataFrame:
    """One dbt-snapshot "check"-strategy tick: fold today's source state
    into the snapshot table and return the new snapshot.

    - first run: every current row opens a version at ``loaded_at``.
    - changed rows (any ``check_cols`` differs, NULL-safe): close the open
      version at ``loaded_at``, insert a new open version.
    - new keys: insert an open version.
    - keys absent from ``current``: left open (dbt's default — deletion
      tracking is a separate invalidate_hard_deletes policy).

    Snapshot schema: key, *check_cols, dbt_valid_from, dbt_valid_to.
    ``loaded_at`` is a timestamp literal string supplied by the caller —
    deterministic reruns beat wall-clock stamping for idempotence.
    """
    ts = F.lit(loaded_at).cast("timestamp")
    cur = current.select(key, *check_cols)
    fresh = cur.select(
        key,
        *check_cols,
        ts.alias("dbt_valid_from"),
        F.lit(None).cast("timestamp").alias("dbt_valid_to"),
    )
    if existing is None:
        return fresh
    closed = existing.filter(F.col("dbt_valid_to").isNotNull())
    open_ = existing.filter(F.col("dbt_valid_to").isNull())
    cur_tagged = cur.select(
        key,
        F.lit(True).alias("__cur_present"),
        *[F.col(c).alias(f"__cur_{c}") for c in check_cols],
    )
    joined = open_.join(cur_tagged, key, "left")
    has_cur = F.coalesce(F.col("__cur_present"), F.lit(False))
    # rows whose key is absent from current OR unchanged: keep open as-is
    keep_open = joined.filter(
        ~has_cur | ~_any_differs(check_cols)
    ).select(open_.columns)
    # changed: close at loaded_at
    newly_closed = joined.filter(has_cur & _any_differs(check_cols)).select(
        key,
        *check_cols,
        F.col("dbt_valid_from"),
        ts.alias("dbt_valid_to"),
    )
    # insert = current rows that are new keys or changed vs open
    unchanged_keys = joined.filter(has_cur & ~_any_differs(check_cols)).select(key)
    inserts = fresh.join(unchanged_keys, key, "left_anti")
    return closed.unionByName(newly_closed).unionByName(keep_open).unionByName(inserts)
