"""Unit tests for the asof_join operator (union-window form).

Edge semantics pinned here; end-to-end parity vs DuckDB's native
ASOF LEFT JOIN lives in test_oracle_parity (asof_purchase_last_signup_value).
"""

from __future__ import annotations

import datetime as dt

from dbt_repo_spark.operators.relational import asof_join


def _ts(s: str) -> dt.datetime:
    return dt.datetime.fromisoformat(s)


def test_asof_join_semantics(spark):
    probe = spark.createDataFrame(
        [
            (1, "a", _ts("2025-01-01T10:00:00")),  # before any ref -> NULL
            (2, "a", _ts("2025-01-01T12:00:00")),  # equal ts -> visible
            (3, "a", _ts("2025-01-01T15:00:00")),  # latest of two priors
            (4, "b", _ts("2025-01-01T09:00:00")),  # key with no refs -> NULL
        ],
        "event_id long, k string, ts timestamp",
    )
    ref = spark.createDataFrame(
        [
            ("a", _ts("2025-01-01T12:00:00"), 1.0, "x"),
            ("a", _ts("2025-01-01T14:00:00"), 2.0, "y"),
            ("a", _ts("2025-01-01T16:00:00"), 9.0, "z"),  # future: never seen
        ],
        "k string, ts timestamp, v double, tag string",
    )
    out = asof_join(probe, ref, "k", "ts", "ts", ["v", "tag"])
    rows = {r.event_id: (r.ref_v, r.ref_tag) for r in out.collect()}
    assert rows == {
        1: (None, None),
        2: (1.0, "x"),
        3: (2.0, "y"),
        4: (None, None),
    }
    assert out.columns == ["event_id", "k", "ts", "ref_v", "ref_tag"]
    assert out.count() == probe.count()  # left semantics: every probe row kept


def test_asof_join_single_shuffle(spark):
    probe = spark.range(10).selectExpr(
        "id as event_id", "cast(id % 3 as string) as k",
        "timestamp_micros(cast(id * 1000000 as long)) as ts",
    )
    ref = spark.range(5).selectExpr(
        "cast(id % 3 as string) as k",
        "timestamp_micros(cast(id * 2000000 as long)) as ts",
        "cast(id as double) as v",
    )
    out = asof_join(probe, ref, "k", "ts", "ts", ["v"])
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the whole operator is ONE hash-partitioned exchange on the key
    assert plan.count("Exchange hashpartitioning") == 1


def test_asof_tolerance_expires_stale_matches(spark):
    """tolerance_seconds: a reference older than the tolerance yields
    NULL (pandas merge_asof semantics); fresh matches are unchanged."""
    import datetime as dt

    from dbt_repo_spark.operators.relational import asof_join

    t0 = dt.datetime(2025, 1, 1, 0, 0, 0)

    def ts(m):
        return t0 + dt.timedelta(minutes=m)

    ref = spark.createDataFrame(
        [(1, ts(0), 100.0), (1, ts(60), 200.0)], ["k", "rts", "px"]
    )
    probe = spark.createDataFrame(
        [(1, ts(5)), (1, ts(59)), (1, ts(61)), (1, ts(200))], ["k", "pts"]
    )
    out = {
        r.pts: r.ref_px
        for r in asof_join(
            probe, ref, "k", "pts", "rts", ["px"], tolerance_seconds=600
        ).collect()
    }
    assert out[ts(5)] == 100.0      # 5 min old: fresh
    assert out[ts(59)] is None      # 59 min old: expired
    assert out[ts(61)] == 200.0     # 1 min old: fresh
    assert out[ts(200)] is None     # 140 min old: expired

    # without tolerance the stale rows still match (backward semantics)
    no_tol = {
        r.pts: r.ref_px
        for r in asof_join(probe, ref, "k", "pts", "rts", ["px"]).collect()
    }
    assert no_tol[ts(59)] == 100.0 and no_tol[ts(200)] == 200.0
