"""The benchmark's workloads. Each is closed-loop with one client: the next
operation starts only after the previous one and its checks finished.

``gbfs_ticks`` drives the bike-share platform the package copies (batch
ingest, streaming ingest, model DAG and data tests). ``query_mix`` is an
analyst session over a frozen list of registry queries. Both return a
``Result``: the warm-up and measured operations, each with its latency,
whether its checks failed, and the per-layer detail the traced run reports.
"""

from __future__ import annotations

import os
import random
import time
from dataclasses import dataclass, field

from datagen import GbfsFeed, write_corpus
from tracing import TracedCatalog, Tracer

# Frozen query pools; the registry may be regrouped, these names may not.
# Short, non-iterative queries, each returning at most a few thousand rows.
SHORT_QUERIES = (
    # relational
    "pricing_summary",
    # window
    "window_running", "anomaly_trailing_zscore",
    # text
    "text_top_terms", "regex_battery",
    # sketch
    "heavy_hitters_events",
    # stats
    "welch_ttest",
    # GBFS-shaped
    "trip_metrics", "variant_json_extract",
)
# The iterative (fixpoint) family: each runs an eager driver loop of 8-23
# jobs. Three of the cheaper members at this scale, so three passes (one
# warm-up, two measured) fit a run of about a minute.
FIXPOINT_QUERIES = ("graph_bfs_hops", "graph_kcore_parts", "attribution_markov")
MIN_PASSES = 2  # measured passes, however short ``seconds`` is
CORPUS_SF = 0.01
# The corpus is the same in every run: the fixpoint loops' job counts depend
# on the data (graph_kcore_parts peels in 14 or 19 rounds on two corpora),
# so a corpus drawn from the run seed would add its own spread to the
# latencies. The run seed sets the order of the queries.
CORPUS_SEED = 20250101

TICK_MINUTES = 10
BACKLOG_MINUTES = 60
N_TRIPS = 45_000
WARMUP_TICKS = 1
MIN_TICKS = 1  # measured ticks, however short ``seconds`` is
PERSISTED_MODELS = (
    "dim_stations", "dim_date", "dim_tariff", "fact_station_status",
    "fact_station_status_history", "fact_trips", "fact_station_uptime",
    "mart_station_availability", "mart_station_uptime", "mart_trip_metrics",
)


@dataclass
class Op:
    """One operation: its latency, whether a check failed, and detail."""

    name: str
    index: int | None  # the tracer's op id; None for warm-up operations
    latency: float
    failed: bool = False
    detail: dict = field(default_factory=dict)
    output: object = None


@dataclass
class Result:
    warmup: list[Op]
    ops: list[Op]  # the measured operations, in order
    setup: dict = field(default_factory=dict)
    detail: dict = field(default_factory=dict)

    def best_latencies(self) -> list[float]:
        """Each distinct measured operation's best latency over its repeats.

        The host's noise only ever adds time (CPU steal from other tenants
        comes in bursts of seconds to tens of seconds), so the fastest of
        an operation's executions, spread over the run, is its steadiest
        estimate. A ``gbfs_ticks`` tick never repeats and stands as it is.
        """
        best: dict[str, float] = {}
        for op in self.ops:
            best[op.name] = min(best.get(op.name, op.latency), op.latency)
        return list(best.values())


def teardown(spark) -> int:
    """Release what an operation left in the session, as ``bench.py`` does:
    recall-audit pins, retired broadcasts, cached relations and
    localCheckpoint RDDs. Returns how many persistent RDDs stay pinned.

    Unlike ``bench.py`` it forces no JVM garbage collection: on a 4-core
    host a full collection before each execution made the next one ~30%
    slower, which would time the benchmark's collection, not the package.
    """
    from dbt_repo_spark.operators.similarity import release_recall_audit_pins
    from dbt_repo_spark.queries_scale import release_viterbi_broadcasts

    release_recall_audit_pins()
    release_viterbi_broadcasts()
    spark.catalog.clearCache()
    sc = spark.sparkContext
    for rdd in sc._jsc.getPersistentRDDs().values():
        rdd.unpersist(True)
    return sc._jsc.getPersistentRDDs().size()


def gbfs_ticks(spark, tracer: Tracer, work: str, seed: int, seconds: float,
               setup_start: float) -> Result:
    """Steady-state feed ticks after a one-hour backlog.

    Set-up lands the backlog, info feed and trip CSV, loads them through
    the batch loaders, runs the full-refresh DAG build and one warm-up
    tick: the first tick after the rebuild pays first-use costs (stream
    start, the incremental DAG path) that grow with the host's load. Each
    tick lands ten minutes of snapshots (half
    the ticks first re-fetch the previous tick's last snapshot; all carry a
    drifted ``station_area`` field) and then runs, in order: one
    ``availableNow`` stream tick joined to a freshly read ``dim_stations``,
    the raw load with source retirement, the incremental DAG run and the
    data tests. A tick's latency runs from its files landing to its tests
    passing. Measured ticks repeat until ``seconds`` have passed, at least
    ``MIN_TICKS`` of them.
    """
    from dbt_repo_spark.models import GBFS_MODELS
    from dbt_repo_spark.plans.runner import ModelRunner
    from dbt_repo_spark.sources.ingest_batch import gbfs_raw_load, historic_trips_load
    from dbt_repo_spark.streaming import start_status_ingest

    feed = GbfsFeed(seed)
    land, sland = os.path.join(work, "landing"), os.path.join(work, "stream_landing")
    info, trips = os.path.join(work, "info"), os.path.join(work, "trips")
    sink, ckpt = os.path.join(work, "stream_sink"), os.path.join(work, "stream_ckpt")
    catalog = TracedCatalog(spark, os.path.join(work, "warehouse"), tracer)
    result = Result([], [])

    for minute in range(BACKLOG_MINUTES):
        feed.write_status(land, minute, drift=False)
    feed.write_info(info)
    feed.write_trips(trips, N_TRIPS)
    t = time.perf_counter()
    with tracer.span("sources.gbfs_raw_load", "sources"):
        gbfs_raw_load(spark, land, catalog, "station_status", retire_sources=True)
        gbfs_raw_load(spark, info, catalog, "station_information", serialize_data=True)
    result.setup["sources.backlog_load_s"] = time.perf_counter() - t
    t = time.perf_counter()
    with tracer.span("sources.historic_trips_load", "sources"):
        historic_trips_load(spark, os.path.join(trips, "*.csv"), catalog)
    result.setup["sources.trips_load_s"] = time.perf_counter() - t

    def sources() -> dict:
        return {
            "raw_station_status": catalog.read("raw", "station_status"),
            "raw_station_information": catalog.read("raw", "station_information"),
            "raw_historic_trips": catalog.read("raw", "historic_trips"),
        }

    runner = ModelRunner(spark, catalog, sources())
    runner.add(*GBFS_MODELS)
    t = time.perf_counter()
    with tracer.span("runner.run", "runner"):
        runner.run(full_refresh=True)
    full_refresh_s = time.perf_counter() - t
    result.setup["runner.full_refresh_s"] = full_refresh_s

    batch_minutes = set(range(BACKLOG_MINUTES))
    stream_minutes: set[int] = set()
    files_loaded = BACKLOG_MINUTES
    sink_rows = 0

    def check(results) -> list[str]:
        """The DAG's outputs and tests against the generator's expectations."""
        bad = [f"{m}.{r.name}" for m, rs in results.items() for r in rs if not r.passed]
        want = feed.n * len(batch_minutes)
        hist = catalog.read("analytics", "fact_station_status_history").count()
        if hist != want:
            bad.append(f"history rows {hist} != {want}")
        uptime = catalog.read("analytics", "mart_station_uptime").groupBy().sum(
            "total_snapshots").first()[0]
        if uptime != want:
            bad.append(f"uptime snapshots {uptime} != {want}")
        dim = catalog.read("analytics", "dim_stations").count()
        if dim != feed.n:
            bad.append(f"dim_stations rows {dim} != {feed.n}")
        pinned = teardown(spark)
        if pinned:
            bad.append(f"{pinned} persistent RDDs left pinned")
        return bad

    problems = check({})  # the first tick runs the data tests
    result.warmup.append(Op("full_refresh", None, full_refresh_s, bool(problems),
                            {"problems": problems}))

    next_minute = BACKLOG_MINUTES
    measure_start = 0.0
    k = 0
    while (k < WARMUP_TICKS + MIN_TICKS
           or time.perf_counter() - measure_start < seconds):
        if k == WARMUP_TICKS:
            measure_start = time.perf_counter()
            result.setup["setup_s"] = measure_start - setup_start
        minutes = list(range(next_minute, next_minute + TICK_MINUTES))
        if random.Random(f"{seed}-{k}").random() < 0.5:
            minutes.insert(0, next_minute - 1)  # the feed re-serves a snapshot
        for m in minutes:
            tag = "-refetch" if m < next_minute else ""
            feed.write_status(land, m, drift=True, tag=tag)
            feed.write_status(sland, m, drift=True, tag=tag)
        next_minute += TICK_MINUTES
        index = k if k >= WARMUP_TICKS else None
        tracer.op = index
        writes0, bytes0 = catalog.writes, catalog.bytes_written
        t0 = time.perf_counter()
        with tracer.span("streaming.start_status_ingest", "streaming"):
            query = start_status_ingest(
                spark, sland, sink, ckpt,
                station_dim=catalog.read("analytics", "dim_stations"),
                trigger={"availableNow": True},
            )
            tracer.bind_stream(str(query.runId))
            query.awaitTermination()
        t1 = time.perf_counter()
        with tracer.span("sources.gbfs_raw_load", "sources"):
            gbfs_raw_load(spark, land, catalog, "station_status", retire_sources=True)
        t2 = time.perf_counter()
        runner.sources.update(sources())
        with tracer.span("runner.run", "runner"):
            built = runner.run()
        t3 = time.perf_counter()
        with tracer.span("runner.test", "runner"):
            results = runner.test(built)
        t4 = time.perf_counter()
        tracer.op = None

        history_before = feed.n * len(batch_minutes)
        batch_minutes.update(minutes)
        stream_minutes.update(minutes)
        files_loaded += len(minutes)
        problems = check(results)
        if query.exception() is not None:
            problems.append(f"stream failed: {query.exception()}")
        rows = spark.read.parquet(sink).count()
        if rows != feed.n * len(stream_minutes):
            problems.append(f"stream rows {rows} != {feed.n * len(stream_minutes)}")
        progress = query.recentProgress
        op = Op(f"tick{k}", index, t4 - t0, bool(problems), {
            "streaming.tick_s": t1 - t0,
            "sources.raw_load_s": t2 - t1,
            "runner.run_s": t3 - t2,
            "runner.test_s": t4 - t3,
            "sources.writes": catalog.writes - writes0,
            "sources.bytes_written": catalog.bytes_written - bytes0,
            "streaming.rows_in": sum(p["numInputRows"] for p in progress),
            "streaming.rows_out": rows - sink_rows,
            "streaming.state_rows": max(
                (s["numRowsTotal"] for p in progress for s in p["stateOperators"]),
                default=0),
            # rows the incremental anti-join appended per staged row it read
            "runner.new_row_ratio":
                (feed.n * len(batch_minutes) - history_before) / (feed.n * files_loaded),
            "problems": problems,
        })
        sink_rows = rows
        (result.ops if index is not None else result.warmup).append(op)
        k += 1
    return result


def query_mix(spark, tracer: Tracer, work: str, seed: int, seconds: float,
              setup_start: float) -> Result:
    """An analyst session over the frozen short and fixpoint pools.

    Set-up writes the fixed corpus and warms up with one pass that runs
    every query with the timed action. Then whole passes run, each in a
    fresh seeded order, until ``seconds`` have elapsed and at least
    ``MIN_PASSES`` of them, so every query has repeats to take the best
    of (``Result.best_latencies``). An execution is the
    registry call plus ``toPandas()``: every output column is computed and
    fetched, so Catalyst cannot prune the plan as it would for ``count()``.
    Between executions, outside the timing, the session is torn down.
    """
    from dbt_repo_spark.queries import QUERIES

    data = os.path.join(work, "corpus")
    write_corpus(data, CORPUS_SEED, CORPUS_SF)
    pool = list(SHORT_QUERIES + FIXPOINT_QUERIES)
    rng = random.Random(seed)
    result = Result([], [], detail={"corpus": data, "passes_s": []})

    def execute(name: str, index: int | None) -> Op:
        tracer.op = index
        t0 = time.perf_counter()
        with tracer.span("queries.build", "queries"):
            df = QUERIES[name](spark, data)
        t1 = time.perf_counter()
        with tracer.span("queries.exec", "queries"):
            pdf = df.toPandas()
        t2 = time.perf_counter()
        tracer.op = None
        pinned = teardown(spark)
        return Op(name, index, t2 - t0, pinned > 0,
                  {"queries.build_s": t1 - t0, "queries.exec_s": t2 - t1}, pdf)

    rng.shuffle(pool)
    result.warmup = [execute(name, None) for name in pool]
    start = time.perf_counter()
    result.setup["setup_s"] = start - setup_start
    while (len(result.detail["passes_s"]) < MIN_PASSES
           or time.perf_counter() - start < seconds):
        rng.shuffle(pool)
        done = len(result.ops)
        result.ops += [execute(name, done + i) for i, name in enumerate(pool)]
        result.detail["passes_s"].append(sum(o.latency for o in result.ops[done:]))
    return result


def check_query_outputs(result: Result) -> None:
    """Compare every execution's rows with its query's DuckDB oracle,
    normalised as ``tests/oracle_harness.py`` does; mark mismatches failed."""
    from tests import oracle_harness as oh

    expected: dict[str, tuple] = {}
    for op in result.warmup + result.ops:
        if op.name not in expected:
            duck = oh.run_oracle(op.name, result.detail["corpus"])
            expected[op.name] = (
                {c: oh._dtype_class(duck[c].dtype) for c in duck.columns},
                oh._normalize(duck),
            )
        dtypes, rows = expected[op.name]
        pdf, op.output = op.output, None
        if ({c: oh._dtype_class(pdf[c].dtype) for c in pdf.columns} != dtypes
                or oh._normalize(pdf) != rows):
            op.failed = True


WORKLOADS = {"gbfs_ticks": gbfs_ticks, "query_mix": query_mix}
