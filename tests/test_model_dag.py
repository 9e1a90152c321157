"""End-to-end model-DAG tests: the reference's 15 GBFS models + 4 demo
models run on synthetic GBFS-shaped fixtures through the ModelRunner.

Covers SURVEY.md §2.11 D1-D12: materializations (view/table/incremental),
incremental idempotence (running twice adds zero rows — the NOT-IN
template of models/facts/fact_station_status.sql:30-32), and the four
dbt generic tests on the demo models (models_demo/schema.yml:8-41).
"""

from __future__ import annotations

import datetime as dt
import json
import os

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dbt_repo_spark.models import DEMO_MODELS, GBFS_MODELS
from dbt_repo_spark.plans.runner import ModelRunner
from dbt_repo_spark.sources.catalog import Catalog

UTC = dt.timezone.utc

STATION_STRUCT = T.StructType(
    [
        T.StructField("station_id", T.StringType()),
        T.StructField("last_reported", T.LongType()),
        T.StructField("num_bikes_available", T.LongType()),
        T.StructField("num_docks_available", T.LongType()),
        T.StructField("is_installed", T.BooleanType()),
        T.StructField("is_renting", T.BooleanType()),
        T.StructField("is_returning", T.BooleanType()),
    ]
)

RAW_STATUS_SCHEMA = T.StructType(
    [
        T.StructField("ingest_datetime", T.TimestampType()),
        T.StructField("last_updated", T.LongType()),
        T.StructField("ttl", T.LongType()),
        T.StructField("version", T.StringType()),
        T.StructField(
            "data",
            T.StructType([T.StructField("stations", T.ArrayType(STATION_STRUCT))]),
        ),
    ]
)

BASE_EPOCH = 1735700000  # 2025-01-01T02:13:20Z


def _status_snapshot(feed_epoch: int, n_stations: int = 5):
    stations = [
        Row(
            station_id=f"st{i:03d}",
            last_reported=feed_epoch - 30,
            num_bikes_available=(i * 3 + feed_epoch) % 20,
            num_docks_available=20 - (i * 3 + feed_epoch) % 20,
            is_installed=True,
            is_renting=i % 4 != 0,
            is_returning=i % 5 != 0,
        )
        for i in range(n_stations)
    ]
    return Row(
        ingest_datetime=dt.datetime.fromtimestamp(feed_epoch + 5, tz=UTC),
        last_updated=feed_epoch,
        ttl=60,
        version="2.3",
        data=Row(stations=stations),
    )


def _info_payload(n_stations: int = 5) -> str:
    return json.dumps(
        {
            "stations": [
                {
                    "station_id": f"st{i:03d}",
                    "name": f"Station {i}",
                    "lat": 59.9 + i * 0.01,
                    "lon": 10.7 + i * 0.01,
                    "address": f"Street {i}",
                    "cross_street": None,
                    "capacity": 20 + i,
                    "is_virtual_station": "true" if i % 3 == 0 else "false",
                    "rental_uris": {
                        "android": f"app://android/{i}",
                        "ios": f"app://ios/{i}",
                        "web": f"https://example.org/{i}",
                    },
                }
                for i in range(n_stations)
            ],
            "tariffs": [
                {
                    "tariff_id": "day",
                    "name": "Day pass",
                    "cost_per_hour": "15.0",
                    "currency": "NOK",
                    "duration_minutes": "60",
                },
                {
                    "tariff_id": "season",
                    "name": "Season pass",
                    "cost_per_hour": "oops-not-a-number",  # exercises safe_cast → NULL
                    "currency": "NOK",
                    "duration_minutes": "45",
                },
            ],
        }
    )


@pytest.fixture(scope="module")
def gbfs_sources(spark):
    raw_status = spark.createDataFrame(
        [_status_snapshot(BASE_EPOCH + 60 * k) for k in range(4)], RAW_STATUS_SCHEMA
    )
    raw_info = spark.createDataFrame(
        [
            Row(
                ingest_datetime=dt.datetime.fromtimestamp(BASE_EPOCH, tz=UTC),
                last_updated=BASE_EPOCH,
                ttl=60,
                version="2.3",
                data_json=_info_payload(),
            )
        ]
    )
    trips = [
        Row(
            started_at=dt.datetime.fromtimestamp(BASE_EPOCH + i * 700, tz=UTC),
            ended_at=dt.datetime.fromtimestamp(BASE_EPOCH + i * 700 + 540 + i, tz=UTC),
            duration=540 + i - (i % 7 == 0),  # some mismatched reported durations
            start_station_id=f"st{i % 5:03d}",
            start_station_name=f"Station {i % 5}",
            start_station_description="",
            start_station_latitude=59.9,
            start_station_longitude=10.7,
            end_station_id=f"st{(i + 2) % 5:03d}",
            end_station_name=f"Station {(i + 2) % 5}",
            end_station_description="",
            end_station_latitude=59.95,
            end_station_longitude=10.75,
        )
        for i in range(40)
    ]
    raw_trips = spark.createDataFrame(trips)
    return {
        "raw_station_status": raw_status,
        "raw_station_information": raw_info,
        "raw_historic_trips": raw_trips,
    }


@pytest.fixture()
def runner(spark, gbfs_sources, tmp_path):
    catalog = Catalog(spark, str(tmp_path / "warehouse"))
    r = ModelRunner(spark, catalog, gbfs_sources)
    r.add(*GBFS_MODELS)
    return r


def test_full_dag_runs(runner):
    built = runner.run()
    assert set(built) == {m.name for m in GBFS_MODELS}
    # staging explode: 4 snapshots × 5 stations
    assert built["stg_station_status"].count() == 20
    # dim dedup: 5 stations, 2 tariffs
    assert built["dim_stations"].count() == 5
    assert built["dim_tariff"].count() == 2
    # latest-per-key keeps exactly one row per station (W1)
    latest = built["fact_station_status_latest"]
    assert latest.count() == 5
    max_epoch = BASE_EPOCH + 60 * 3
    ts = {r.status_timestamp.timestamp() for r in latest.collect()}
    assert ts == {float(max_epoch)}


def test_safe_cast_null_on_bad_input(runner):
    built = runner.run(["dim_tariff"])
    bad = built["dim_tariff"].filter(F.col("tariff_id") == "season").first()
    assert bad.cost_per_hour is None
    assert bad.duration_minutes == 45


def test_json_nested_paths(runner):
    built = runner.run(["stg_station_information"])
    row = built["stg_station_information"].filter(F.col("station_id") == "st001").first()
    assert row.uri_android == "app://android/1"
    assert row.capacity == 21
    assert row.is_virtual_station is False
    assert abs(row.lat - 59.91) < 1e-9


def test_incremental_idempotent(runner, gbfs_sources, spark):
    built1 = runner.run(["fact_station_status", "fact_station_status_history"])
    n1 = built1["fact_station_status"].count()
    h1 = built1["fact_station_status_history"].count()
    assert n1 == 20 and h1 == 20
    # second run with identical input: anti-join drops everything → no growth
    built2 = runner.run(["fact_station_status", "fact_station_status_history"])
    assert built2["fact_station_status"].count() == n1
    assert built2["fact_station_status_history"].count() == h1
    # new snapshot arrives → exactly 5 new rows appended
    extra = spark.createDataFrame(
        [_status_snapshot(BASE_EPOCH + 600)], RAW_STATUS_SCHEMA
    )
    runner.sources["raw_station_status"] = gbfs_sources["raw_station_status"].union(extra)
    built3 = runner.run(["fact_station_status_history"])
    assert built3["fact_station_status_history"].count() == h1 + 5
    # keys stay unique after the append
    hist = built3["fact_station_status_history"]
    assert hist.select("snapshot_id").distinct().count() == h1 + 5


def test_incremental_full_refresh(runner):
    runner.run(["fact_station_status_history"])
    built = runner.run(["fact_station_status_history"], full_refresh=True)
    assert built["fact_station_status_history"].count() == 20


def test_partitioned_layout(runner, tmp_path):
    runner.run(["fact_trips"])
    import os

    table_dir = os.path.join(str(tmp_path / "warehouse"), "analytics", "fact_trips")
    parts = [d for d in os.listdir(table_dir) if d.startswith("trip_date=")]
    assert parts, "fact_trips must be hive-partitioned by trip_date"


def test_uptime_and_marts(runner):
    built = runner.run()
    up = built["fact_station_uptime"]
    r = up.filter(F.col("station_id") == "st000").first()
    # st000: i%4==0 → is_renting False → never fully up
    assert r.uptime_pct == 0.0 and r.total_count == 4
    r3 = up.filter(F.col("station_id") == "st003").first()
    assert r3.uptime_pct == 1.0
    avail = built["mart_station_availability"]
    assert avail.count() == 20
    row = avail.first()
    assert row.total_capacity == row.bikes_available + row.docks_available
    metrics = built["mart_trip_metrics"]
    mm = metrics.agg(F.sum("count_mismatched_durations").alias("n")).first()
    assert mm.n == 6  # i in {0,7,14,21,28,35} had duration off by one


def test_mart_uptime_ratios(runner):
    built = runner.run(["mart_station_uptime"])
    mu = built["mart_station_uptime"]
    assert mu.count() == 5
    r = mu.filter(F.col("station_id") == "st000").first()
    assert r.total_snapshots == 4
    assert r.installed_snapshots == 4
    assert r.renting_snapshots == 0
    assert r.pct_time_renting == 0.0


def test_dim_date_spine(runner):
    built = runner.run(["dim_date"])
    dd = built["dim_date"].orderBy("date_key")
    first = dd.first()
    assert first.date_key == dt.date(2025, 1, 1)
    assert first.date_int == "20250101"
    assert first.weekday == 4  # 2025-01-01 is a Wednesday; BQ/Spark 1=Sunday
    # spine is contiguous through today
    n = dd.count()
    span = (dt.date.today() - dt.date(2025, 1, 1)).days + 1
    assert n == span


# ---------------------------------------------------------------------------
# demo models + dbt generic tests (D9-D12)
# ---------------------------------------------------------------------------


@pytest.fixture()
def demo_runner(spark, tmp_path):
    raw_customers = spark.createDataFrame(
        [Row(id=i, first_name=f"F{i}", last_name=f"L{i}") for i in range(1, 6)]
    )
    raw_orders = spark.createDataFrame(
        [
            Row(
                id=i,
                user_id=(i % 5) + 1,
                order_date=dt.date(2025, 1, 1) + dt.timedelta(days=i),
                status=["placed", "shipped", "completed", "return_pending", "returned"][
                    i % 5
                ],
            )
            for i in range(1, 21)
        ]
    )
    catalog = Catalog(spark, str(tmp_path / "wh"))
    r = ModelRunner(
        spark, catalog, {"raw_customers": raw_customers, "raw_orders": raw_orders}
    )
    r.add(*DEMO_MODELS)
    return r


def test_gbfs_staging_schema_tests(runner):
    """The reference's staging schema.yml not_null battery passes on the
    GBFS fixtures (models/staging/schema.yml:9-110)."""
    built = runner.run()
    results = runner.test(built)
    staging = {k: v for k, v in results.items() if k.startswith("stg_")}
    assert len(staging) == 3
    flat = [t for rs in staging.values() for t in rs]
    assert len(flat) >= 18
    failures = [t for t in flat if not t.passed]
    assert not failures, f"staging schema tests failed: {failures}"


def test_demo_dag_and_generic_tests(demo_runner):
    built = demo_runner.run()
    cust = built["customers"]
    assert cust.count() == 5
    assert cust.agg(F.sum("number_of_orders").alias("n")).first().n == 20
    results = demo_runner.test(built)
    flat = [t for rs in results.values() for t in rs]
    assert flat, "demo models must declare generic tests"
    failures = [t for t in flat if not t.passed]
    assert not failures, f"generic tests failed: {failures}"


def test_generic_tests_catch_violations(spark, tmp_path):
    """Negative control: a duplicate PK and an orphan FK must be reported."""
    from dbt_repo_spark.plans.testing import relationships, unique

    dup = spark.createDataFrame([Row(id=1), Row(id=1), Row(id=2)])
    res = unique(dup, "id")
    assert not res.passed and res.violations == 1
    parent = spark.createDataFrame([Row(pk=1)])
    child = spark.createDataFrame([Row(fk=1), Row(fk=99)])
    res = relationships(child, "fk", parent, "pk")
    assert not res.passed and res.violations == 1


def _plan_nodes(plan):
    """Every node of a physical plan (a py4j ``SparkPlan``), walking into
    AQE's current plan, query stages and reused exchanges."""
    stack = [plan]
    while stack:
        node = stack.pop()
        yield node
        name = node.nodeName()
        if name == "AdaptiveSparkPlan":
            stack.append(node.executedPlan())
        elif name.endswith("QueryStage"):
            stack.append(node.plan())
        elif name == "ReusedExchange":
            stack.append(node.child())
        children = node.children()
        stack.extend(children.apply(i) for i in range(children.size()))


def test_incremental_append_anti_joins_the_target_keys_as_they_are(spark, tmp_path):
    """The append strategy anti-joins the batch against {{ this }}'s key
    column without deduplicating it: the key side of the LeftAnti join
    holds no aggregate and no shuffle exchange. A target holding
    duplicate keys appends the rows an anti-join against its distinct
    keys would."""
    from dbt_repo_spark.plans.runner import model

    appended = []

    class Recording(Catalog):
        def write(self, df, layer, name, mode="overwrite", **kwargs):
            if mode == "append":
                # run the frame itself, so AQE finalizes its plan
                appended.append((df, df.collect()))
            super().write(df, layer, name, mode=mode, **kwargs)

    schema = "k long, v string"
    catalog = Recording(spark, str(tmp_path / "wh"))
    r = ModelRunner(
        spark, catalog,
        {"src": spark.createDataFrame([(1, "a"), (1, "b"), (2, "c")], schema)},
    ).add(model("fx", deps=("src",), materialized="incremental",
                unique_key="k")(lambda ctx: ctx["src"]))
    r.run()
    batch = spark.createDataFrame(
        [(1, "x"), (2, "y"), (3, "z"), (3, "w"), (4, "q")], schema
    )
    want = sorted(
        batch.join(catalog.read("analytics", "fx").select("k").distinct(),
                   "k", "left_anti").collect()
    )
    r.sources["src"] = batch
    r.run()
    (df, rows), = appended
    assert sorted(rows) == want == [(3, "w"), (3, "z"), (4, "q")]

    joins = [
        n for n in _plan_nodes(df._jdf.queryExecution().executedPlan())
        if n.nodeName().endswith("Join") and n.joinType().toString() == "LeftAnti"
    ]
    assert len(joins) == 1, [n.nodeName() for n in joins]
    key_side = [n.nodeName() for n in _plan_nodes(joins[0].right())]
    assert any(name.startswith("Scan parquet") for name in key_side), key_side
    assert not [
        name for name in key_side if "Aggregate" in name or name == "Exchange"
    ], key_side


def test_full_dag_runs_parallel_matches_sequential(runner):
    """parallelism>1 materializes independent models concurrently via
    driver threads; results are identical to the one-thread run (which
    builds in topological order) and dependency order holds (a model
    sees its deps materialized)."""
    seq_run = runner.run(parallelism=1)
    # materialize the sequential results BEFORE the parallel re-run
    # overwrites the same table files
    seq = {n: df.orderBy(*df.columns).collect() for n, df in seq_run.items()}
    par_run = runner.run(parallelism=4, full_refresh=True)
    assert set(par_run) == set(seq)
    for name, rows in seq.items():
        df = par_run[name]
        assert df.orderBy(*df.columns).collect() == rows, name


def test_workers_inherit_the_callers_job_group(runner, spark):
    """run() and test() do all their Spark work on pool threads; those
    threads carry the caller's job group, so every model write and every
    data test is attributed to it. The session is passed along, so its
    tags are inherited too (no "Tags will not be inherited" warning)."""
    import warnings

    sc = spark.sparkContext
    persisted = [m for m in GBFS_MODELS if m.materialized != "ephemeral"]
    tested = [m for m in GBFS_MODELS if m.tests]
    try:
        with warnings.catch_warnings(record=True) as caught:
            warnings.simplefilter("always")
            sc.setJobGroup("dag-run", "model writes")
            built = runner.run(parallelism=4)
            sc.setJobGroup("dag-test", "data tests")
            results = runner.test(built)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert not [w for w in caught if "Tags will not be inherited" in str(w.message)]
    assert set(results) == {m.name for m in tested}
    # every persisted model writes in at least one job, every tested
    # model aggregates in at least one
    assert len(sc.statusTracker().getJobIdsForGroup("dag-run")) >= len(persisted)
    assert len(sc.statusTracker().getJobIdsForGroup("dag-test")) >= len(tested)


def test_failed_model_skips_its_dependents(spark, tmp_path):
    """A builder that raises on a worker thread fails run() with that
    exception; its transitive dependents are never written, while an
    independent sibling still builds."""
    from dbt_repo_spark.plans.runner import model

    catalog = Catalog(spark, str(tmp_path / "wh"))
    src = spark.createDataFrame([Row(k=1), Row(k=2)])

    @model("bad", deps=("src",), materialized="table")
    def bad(ctx):
        raise RuntimeError("builder failed")

    @model("child", deps=("bad",), materialized="table")
    def child(ctx):
        return ctx["bad"]

    @model("grandchild", deps=("child",), materialized="table")
    def grandchild(ctx):
        return ctx["child"]

    @model("sibling", deps=("src",), materialized="table")
    def sibling(ctx):
        return ctx["src"]

    r = ModelRunner(spark, catalog, {"src": src}).add(bad, child, grandchild, sibling)
    with pytest.raises(RuntimeError, match="builder failed"):
        r.run(parallelism=4)
    assert not catalog.exists("analytics", "child")
    assert not catalog.exists("analytics", "grandchild")
    assert catalog.read("analytics", "sibling").count() == 2


PERSISTED = [m.name for m in GBFS_MODELS if m.materialized in ("table", "incremental")]


def _file_ids(catalog, name, layer="analytics"):
    stats = (
        os.stat(os.path.join(d, f))
        for d, _dirs, files in os.walk(catalog.path(layer, name)) for f in files
    )
    return {(st.st_ino, st.st_mtime_ns) for st in stats}


@pytest.fixture()
def file_runner(spark, gbfs_sources, tmp_path):
    """The GBFS DAG over its raw frames written through the catalog and
    read back: file scans, which run()'s skip rule can sign."""
    catalog = Catalog(spark, str(tmp_path / "warehouse"))
    for name, df in gbfs_sources.items():
        catalog.write(df, "raw", name)
    r = ModelRunner(spark, catalog, {n: catalog.read("raw", n) for n in gbfs_sources})
    return r.add(*GBFS_MODELS)


def test_unchanged_models_are_not_rewritten(file_runner, spark, tmp_path):
    """A second run with no new files writes none of the persisted
    models; one new raw_station_status file rebuilds exactly the models
    downstream of it, and every output then equals a full refresh's."""
    cat = file_runner.catalog
    assert len(PERSISTED) == 10
    today = spark.range(1).select(F.current_date())
    day = today.first()[0]
    file_runner.run()
    first = {n: _file_ids(cat, n) for n in PERSISTED}
    file_runner.run()
    rewritten = {n for n in PERSISTED if _file_ids(cat, n) != first[n]}
    # dim_date's plan holds current_date() as a literal
    assert rewritten == ({"dim_date"} if today.first()[0] != day else set())

    before = {n: _file_ids(cat, n) for n in PERSISTED}
    extra = spark.createDataFrame([_status_snapshot(BASE_EPOCH + 600)], RAW_STATUS_SCHEMA)
    cat.write(extra, "raw", "raw_station_status", mode="append")
    file_runner.sources["raw_station_status"] = cat.read("raw", "raw_station_status")
    built = file_runner.run()
    rewritten = {n for n in PERSISTED if _file_ids(cat, n) != before[n]}
    assert rewritten == {
        "dim_date", "fact_station_status", "fact_station_status_history",
        "fact_station_uptime", "mart_station_availability", "mart_station_uptime",
    }
    assert built["fact_station_status_history"].count() == 25

    fresh = ModelRunner(spark, Catalog(spark, str(tmp_path / "fresh")),
                        file_runner.sources).add(*GBFS_MODELS)
    full = fresh.run(full_refresh=True)
    for name in PERSISTED:
        cols = built[name].columns
        assert (built[name].orderBy(*cols).collect()
                == full[name].orderBy(*cols).collect()), name


def test_models_the_skip_rule_cannot_sign_are_always_rebuilt(spark, tmp_path):
    """Reading the clock, rand() (seeded, so only its nondeterminism can
    force the rebuild), a Python UDF and an in-memory source rebuild on
    every run, as does a model whose target changed behind
    the runner's back or whose config changed; an unchanged file-backed
    model is skipped."""
    from dbt_repo_spark.plans.runner import model

    cat = Catalog(spark, str(tmp_path / "wh"))
    cat.write(spark.range(10).withColumn("p", F.col("id") % 2), "raw", "src")
    add_one = F.udf(lambda x: x + 1, "long")

    def plain_fn(ctx):
        return ctx["src"]

    models = [
        model("clock", deps=("src",), materialized="table")(
            lambda ctx: ctx["src"].withColumn("t", F.current_timestamp())),
        model("rnd", deps=("src",), materialized="table")(
            lambda ctx: ctx["src"].withColumn("r", F.rand(7))),
        model("pyudf", deps=("src",), materialized="table")(
            lambda ctx: ctx["src"].withColumn("y", add_one("id"))),
        model("mem", deps=("mem_src",), materialized="table")(
            lambda ctx: ctx["mem_src"]),
        model("plain", deps=("src",), materialized="table")(plain_fn),
    ]
    r = ModelRunner(spark, cat, {
        "src": cat.read("raw", "src"), "mem_src": spark.range(5),
    }).add(*models)

    def rewritten(**kw) -> set[str]:
        before = {m: _file_ids(cat, m) for m in r.models}
        r.run(**kw)
        return {m for m in r.models if _file_ids(cat, m) != before[m]}

    r.run()
    assert rewritten() == {"clock", "rnd", "pyudf", "mem"}
    cat.write(spark.range(3).withColumn("p", F.col("id") % 2), "analytics", "plain")
    assert "plain" in rewritten()
    assert cat.read("analytics", "plain").count() == 10
    r.add(model("plain", deps=("src",), materialized="table",
                partition_by=["p"])(plain_fn))
    assert "plain" in rewritten()
    assert "plain" not in rewritten()
    assert "plain" in rewritten(full_refresh=True)


def test_fused_row_local_tests_match_per_test_functions(spark):
    """run_tests counts every not_null and accepted_values test of a
    relation in one aggregate; names, order and counts equal one count
    per test on a frame with nulls and values outside the accepted set,
    and unique keeps its own count. A spec entry with a key besides its
    test name raises."""
    from dbt_repo_spark.plans.testing import run_tests, unique

    df = spark.createDataFrame(
        [
            Row(id=1, st="ok", code=None),
            Row(id=1, st="bad", code="a"),
            Row(id=None, st=None, code="z"),
            Row(id=3, st="worse", code="b"),
        ],
        "id int, st string, code string",
    )

    def not_null(c):
        n = df.filter(F.col(c).isNull()).count()
        return (f"not_null:{c}", n, n == 0)

    def accepted_values(c, values):
        n = df.filter(~F.col(c).isin(values) | F.col(c).isNull()).count()
        return (f"accepted_values:{c}", n, n == 0)

    spec = {
        "id": ["not_null", "unique"],
        "st": ["not_null", {"accepted_values": ["ok"]}],
        "code": [{"accepted_values": ["a", "b"]}, "not_null"],
    }
    uq = unique(df, "id")
    expected = [
        not_null("id"),
        (uq.name, uq.violations, uq.passed),
        not_null("st"),
        accepted_values("st", ["ok"]),
        accepted_values("code", ["a", "b"]),
        not_null("code"),
    ]
    got = run_tests(df, spec)
    assert [(r.name, r.violations, r.passed) for r in got] == expected
    assert [r.violations for r in got] == [1, 1, 1, 3, 2, 1]
    with pytest.raises(ValueError, match="unknown test spec"):
        run_tests(df, {"id": [{"not_null": True, "config": {"severity": "warn"}}]})
