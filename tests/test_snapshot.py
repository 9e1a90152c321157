"""SCD2 snapshots (plans/snapshot.py): batch history builder + the
incremental dbt-check-strategy apply across multiple ticks."""

from __future__ import annotations

from pyspark.sql import functions as F

from dbt_repo_spark.plans.snapshot import scd2_from_history, snapshot_apply


def test_scd2_from_history_collapses_runs(spark):
    rows = [
        (1, 10, 1, "a"), (1, 20, 2, "a"), (1, 30, 3, "b"), (1, 40, 4, "a"),
        (2, 10, 5, "x"),
    ]
    df = spark.createDataFrame(rows, ["k", "ts", "eid", "st"])
    got = {
        (r["k"], r["state"], r["valid_from"]): (r["valid_to"], r["is_current"])
        for r in scd2_from_history(df, "k", "ts", "st", "eid").collect()
    }
    assert got == {
        (1, "a", 10): (30, False),   # run a@10,a@20 collapsed
        (1, "b", 30): (40, False),
        (1, "a", 40): (None, True),
        (2, "x", 10): (None, True),
    }


def _snap_dict(df):
    return {
        (r["k"], str(r["dbt_valid_from"])): (r["v"], r["dbt_valid_to"] and str(r["dbt_valid_to"]))
        for r in df.collect()
    }


def test_snapshot_apply_three_ticks(spark):
    d1 = spark.createDataFrame([(1, "a"), (2, "b")], ["k", "v"])
    snap = snapshot_apply(None, d1, "k", ["v"], "2024-01-01 00:00:00")
    # tick 2: k=1 changes, k=2 unchanged, k=3 appears
    d2 = spark.createDataFrame([(1, "A"), (2, "b"), (3, "c")], ["k", "v"])
    snap = snapshot_apply(snap, d2, "k", ["v"], "2024-01-02 00:00:00")
    # tick 3: k=2 disappears (stays open per dbt default), k=3 changes
    d3 = spark.createDataFrame([(1, "A"), (3, "C")], ["k", "v"])
    snap = snapshot_apply(snap, d3, "k", ["v"], "2024-01-03 00:00:00")

    got = _snap_dict(snap)
    assert got == {
        (1, "2024-01-01 00:00:00"): ("a", "2024-01-02 00:00:00"),
        (1, "2024-01-02 00:00:00"): ("A", None),
        (2, "2024-01-01 00:00:00"): ("b", None),          # absent -> stays open
        (3, "2024-01-02 00:00:00"): ("c", "2024-01-03 00:00:00"),
        (3, "2024-01-03 00:00:00"): ("C", None),
    }
    # exactly one open version per live key
    opens = snap.filter(F.col("dbt_valid_to").isNull()).groupBy("k").count()
    assert all(r["count"] == 1 for r in opens.collect())


def test_snapshot_apply_null_safe_check(spark):
    d1 = spark.createDataFrame([(1, None), (2, "b")], ["k", "v"])
    snap = snapshot_apply(None, d1, "k", ["v"], "2024-01-01 00:00:00")
    # NULL -> NULL is NOT a change; NULL -> value is
    d2 = spark.createDataFrame([(1, None), (2, None)], "k long, v string")
    snap = snapshot_apply(snap, d2, "k", ["v"], "2024-01-02 00:00:00")
    got = _snap_dict(snap)
    assert got == {
        (1, "2024-01-01 00:00:00"): (None, None),
        (2, "2024-01-01 00:00:00"): ("b", "2024-01-02 00:00:00"),
        (2, "2024-01-02 00:00:00"): (None, None),
    }


def test_snapshot_apply_idempotent_tick(spark):
    d1 = spark.createDataFrame([(1, "a")], ["k", "v"])
    snap = snapshot_apply(None, d1, "k", ["v"], "2024-01-01 00:00:00")
    again = snapshot_apply(snap, d1, "k", ["v"], "2024-01-02 00:00:00")
    assert _snap_dict(again) == {(1, "2024-01-01 00:00:00"): ("a", None)}
