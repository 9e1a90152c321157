"""CLI: the reference's orchestration surface without the cloud glue.

The reference triggers work via HTTP → Cloud Function → Dataproc submit
(src/trigger_spark_job.py:23-88) and fetch-to-bucket archival
(src/api_to_bucket.py:137-177). Engine-native replacement (SURVEY.md §3.4):

    python -m dbt_repo_spark ingest-gbfs   --landing DIR --warehouse DIR \\
        --table station_status [--serialize-data]
    python -m dbt_repo_spark ingest-trips  --csv GLOB    --warehouse DIR
    python -m dbt_repo_spark run  --warehouse DIR [--select m1 m2+ tag:x] \\
        [--full-refresh] [--defer-to PROD_DIR] [--state manifest.json]
    python -m dbt_repo_spark build --warehouse DIR   # run + test, skip downstream of failures
    python -m dbt_repo_spark test --warehouse DIR
    python -m dbt_repo_spark optimize --warehouse DIR --table t [--zorder c1 c2]
    python -m dbt_repo_spark stream --landing DIR --out DIR --checkpoint DIR \\
        [--trigger-seconds N | --available-now]

`run` resolves model sources from the warehouse's raw layer; models whose
raw inputs are absent are skipped (a partial DAG is normal while only some
feeds are ingested). `run` and `build` then write the model fingerprints
to `<warehouse>/manifest.json`, as dbt writes `target/manifest.json` on
every invocation; a later `--state` takes that file as its baseline.
"""

from __future__ import annotations

import argparse
import os
import sys

from pyspark.sql import SparkSession

# Model source name → raw-layer table it binds to.
SOURCE_BINDINGS = {
    "raw_station_status": "station_status",
    "raw_station_information": "station_information",
    "raw_historic_trips": "historic_trips",
    "raw_customers": "customers",
    "raw_orders": "orders",
}


def _spark(app: str) -> SparkSession:
    from dbt_repo_spark.session import get_spark

    return get_spark(app_name=app)


def _runner(spark: SparkSession, warehouse: str):
    from dbt_repo_spark.models import ALL_MODELS
    from dbt_repo_spark.plans.runner import ModelRunner
    from dbt_repo_spark.sources.catalog import Catalog

    catalog = Catalog(spark, warehouse)
    sources = {
        src: catalog.read("raw", tbl)
        for src, tbl in SOURCE_BINDINGS.items()
        if catalog.exists("raw", tbl)
    }
    runner = ModelRunner(spark, catalog, sources)
    available = set(sources)
    # fixed-point: a model is runnable if every dep is a source or a runnable model
    names: set[str] = set()
    changed = True
    while changed:
        changed = False
        for m in ALL_MODELS:
            if m.name not in names and all(
                d in available or d in names for d in m.deps
            ):
                names.add(m.name)
                changed = True
    skipped = [m.name for m in ALL_MODELS if m.name not in names]
    if skipped:
        print(f"skipping (missing raw sources): {', '.join(skipped)}", file=sys.stderr)
    runner.add(*[m for m in ALL_MODELS if m.name in names])
    return runner


def _defer_catalog(spark: SparkSession, args):
    """The ``--defer-to`` production catalog, or None."""
    if not getattr(args, "defer_to", None):
        return None
    from dbt_repo_spark.sources.catalog import Catalog

    return Catalog(spark, args.defer_to)


def _write_manifest(runner, warehouse: str) -> None:
    os.makedirs(warehouse, exist_ok=True)
    runner.write_manifest(os.path.join(warehouse, "manifest.json"))


def cmd_run(args) -> int:
    spark = _spark("dbt-repo-spark-run")
    runner = _runner(spark, args.warehouse)
    built = runner.run(
        selected=args.select or None,
        full_refresh=args.full_refresh,
        parallelism=args.threads,
        state=getattr(args, "state", None),
        defer_to=_defer_catalog(spark, args),
    )
    _write_manifest(runner, args.warehouse)
    for name in built:
        m = runner.models[name]
        print(f"OK {m.materialized:<12} {name}")
    return 0


def cmd_build(args) -> int:
    """dbt build: materialize + test on run's pool; a failing model's
    consumers are skipped, siblings continue. Exit 1 on any failure."""
    spark = _spark("dbt-repo-spark-build")
    runner = _runner(spark, args.warehouse)
    _, status = runner.build(
        selected=args.select or None,
        full_refresh=args.full_refresh,
        state=getattr(args, "state", None),
        defer_to=_defer_catalog(spark, args),
    )
    _write_manifest(runner, args.warehouse)
    rc = 0
    for name, st in status.items():
        print(f"{st.upper():<8} {name}")
        if st != "ok":
            rc = 1
    return rc


def cmd_test(args) -> int:
    spark = _spark("dbt-repo-spark-test")
    runner = _runner(spark, args.warehouse)
    built = runner.run()
    results = runner.test(built)
    failed = 0
    for model_name, tests in results.items():
        for tr in tests:
            status = "PASS" if tr.passed else "FAIL"
            failed += 0 if tr.passed else 1
            print(f"{status} {model_name}.{tr.name} ({tr.violations} violations)")
    return 1 if failed else 0


def cmd_ingest_gbfs(args) -> int:
    from dbt_repo_spark.sources.catalog import Catalog
    from dbt_repo_spark.sources.ingest_batch import gbfs_raw_load

    spark = _spark("dbt-repo-spark-ingest-gbfs")
    out = gbfs_raw_load(
        spark,
        args.landing,
        Catalog(spark, args.warehouse),
        args.table,
        serialize_data=args.serialize_data,
    )
    print(f"raw.{args.table}: {out.count()} rows")
    return 0


def cmd_ingest_trips(args) -> int:
    from dbt_repo_spark.sources.catalog import Catalog
    from dbt_repo_spark.sources.ingest_batch import historic_trips_load

    spark = _spark("dbt-repo-spark-ingest-trips")
    out = historic_trips_load(spark, args.csv, Catalog(spark, args.warehouse))
    print(f"raw.historic_trips: {out.count()} rows")
    return 0


def cmd_stream(args) -> int:
    from dbt_repo_spark.streaming import start_status_ingest

    spark = _spark("dbt-repo-spark-stream")
    trigger = (
        {"availableNow": True}
        if args.available_now
        else {"processingTime": f"{args.trigger_seconds} seconds"}
    )
    q = start_status_ingest(
        spark, args.landing, args.out, args.checkpoint, trigger=trigger
    )
    q.awaitTermination()
    return 0


def cmd_crawl(args) -> int:
    from pyspark.sql import functions as F

    from dbt_repo_spark.streaming.crawl_stream import start_crawl_stream

    spark = _spark("dbt-repo-spark-crawl")

    def synthesize(df):
        # wire payloads carry (doc_id, source, text); text is the
        # newline-structured document body, and when the bus carries no
        # URL the key defaults to the source-derived location (real
        # crawls put the fetched URL in the payload and map it here)
        return df.select(
            "doc_id",
            F.concat(
                F.lit("https://"),
                F.col("source"),
                F.lit("/docs/"),
                F.col("doc_id").cast("string"),
            ).alias("url"),
            F.col("text").alias("text_nl"),
        )

    q = start_crawl_stream(
        spark,
        args.broker,
        args.url_index,
        args.block_index,
        args.out,
        args.checkpoint,
        synthesize,
        topic=args.topic,
        block_tokens=args.block_tokens,
        available_now=args.available_now,
    )
    q.awaitTermination()
    return 0


def cmd_snapshot(args) -> int:
    """dbt `snapshot` verb: one SCD2 tick of a warehouse table.

    Reads ``--layer.--table``, diffs against ``analytics.<table>_snapshot``
    (check strategy on ``--check`` columns), writes the updated snapshot.
    ``--loaded-at`` defaults to the session's current timestamp; pass it
    explicitly for deterministic replays.
    """
    from pyspark.sql import functions as F

    from dbt_repo_spark.plans.snapshot import snapshot_apply
    from dbt_repo_spark.sources.catalog import Catalog

    spark = _spark("dbt-repo-spark-snapshot")
    catalog = Catalog(spark, args.warehouse)
    current = catalog.read(args.layer, args.table)
    snap_name = f"{args.table}_snapshot"
    existing = (
        catalog.read("analytics", snap_name)
        if catalog.exists("analytics", snap_name)
        else None
    )
    loaded_at = args.loaded_at or str(
        spark.range(1).select(F.date_format(F.current_timestamp(),
                                            "yyyy-MM-dd HH:mm:ss")).first()[0]
    )
    snap = snapshot_apply(existing, current, args.key, args.check, loaded_at)
    # materialize before overwrite: the plan reads the table it replaces
    snap = snap.localCheckpoint(eager=True)
    catalog.write(snap, "analytics", snap_name, mode="overwrite")
    opens = snap.filter(F.col("dbt_valid_to").isNull()).count()
    print(f"analytics.{snap_name}: {snap.count()} versions, {opens} open")
    return 0


def cmd_seed(args) -> int:
    """dbt `seed` verb: load a CSV (header + inferred schema) into a
    warehouse layer as a table — the generic form of ingest-trips."""
    from dbt_repo_spark.sources.catalog import Catalog
    from dbt_repo_spark.sources.readers import read_csv_glob

    spark = _spark("dbt-repo-spark-seed")
    catalog = Catalog(spark, args.warehouse)
    df = read_csv_glob(spark, args.csv)
    catalog.write(df, args.layer, args.table)
    print(f"{args.layer}.{args.table}: {df.count()} rows")
    return 0


def cmd_optimize(args) -> int:
    """Table maintenance verb (Delta/Iceberg OPTIMIZE analog on plain
    parquet): compact micro-batch small files and/or rewrite with
    Z-order clustering for multi-column skip pruning. Z-order implies a
    full clustered rewrite (range exchange on the z-key); plain
    compaction preserves the existing order.
    """
    from dbt_repo_spark.sources.catalog import Catalog

    spark = _spark("dbt-repo-spark-optimize")
    catalog = Catalog(spark, args.warehouse)
    if args.zorder:
        from dbt_repo_spark.operators.layout import zorder_layout

        df = catalog.read(args.layer, args.table)
        # the plan reads the table it replaces: staged write, then swap
        catalog.overwrite_staged(
            zorder_layout(df, args.zorder, num_files=args.target_files),
            args.layer, args.table,
        )
        print(f"{args.layer}.{args.table}: z-ordered on {args.zorder} "
              f"into {args.target_files} files")
        return 0
    n = catalog.compact(
        args.layer, args.table,
        partition_by=args.partition_by,
        sort_within_partitions=args.cluster_by,
        target_files_per_partition=args.target_files,
    )
    print(f"{args.layer}.{args.table}: compacted to {n} files")
    return 0


def cmd_export(args) -> int:
    """Export a warehouse table as a training dataset: content-addressed
    train/val/test splits, fixed shard counts, reproducibility manifest
    (sources/export.py) — then optionally verify by re-reading."""
    from dbt_repo_spark.sources.catalog import Catalog
    from dbt_repo_spark.sources.export import export_dataset, verify_export

    spark = _spark("dbt-repo-spark-export")
    catalog = Catalog(spark, args.warehouse)
    df = catalog.read(args.layer, args.table)
    man = export_dataset(df, args.out, args.id_col,
                         shards_per_split=args.shards)
    print(f"exported {sum(e['rows'] for e in man['entries'].values())} rows "
          f"to {args.out} ({len(man['entries'])} shards)")
    if args.verify:
        res = verify_export(spark, args.out)
        print(f"verify: {'OK' if res['ok'] else 'MISMATCH ' + str(res['mismatches'])}")
        return 0 if res["ok"] else 1
    return 0


def cmd_docs(args) -> int:
    """dbt `docs`-style DAG listing: model, materialization, deps, tests."""
    from dbt_repo_spark.models import ALL_MODELS

    for m in ALL_MODELS:
        deps = ", ".join(m.deps) if m.deps else "-"
        n_tests = len(getattr(m, "tests", []) or [])
        print(f"{m.materialized:<12} {m.name:<32} deps: {deps} tests: {n_tests}")
    return 0


def cmd_explain(args) -> int:
    """Print the optimized/physical plan of a registry query — the scale
    review loop (`.explain("formatted")`) as a first-class verb."""
    from dbt_repo_spark.queries import QUERIES
    from dbt_repo_spark.session import get_spark

    if args.query not in QUERIES:
        print(f"unknown query {args.query!r}; one of: {', '.join(sorted(QUERIES))}")
        return 2
    spark = get_spark(app_name="dbt-repo-spark-explain")
    df = QUERIES[args.query](spark, args.sf_dir)
    df.explain(args.mode)
    return 0


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="dbt_repo_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    r = sub.add_parser("run", help="materialize the model DAG")
    r.add_argument("--warehouse", required=True)
    r.add_argument("--select", nargs="*", default=None)
    r.add_argument(
        "--defer-to",
        dest="defer_to",
        default=None,
        help="production warehouse dir: unselected upstream refs read "
        "from there instead of rebuilding (dbt --defer)",
    )
    r.add_argument(
        "--state",
        default=None,
        help="baseline manifest JSON for state:modified selection",
    )
    r.add_argument("--full-refresh", action="store_true")
    r.add_argument("--threads", type=int, default=None,
                   help="threads that materialize independent models "
                   "concurrently (default: one per core)")
    r.set_defaults(fn=cmd_run)

    b = sub.add_parser("build", help="materialize + test in DAG order (dbt build)")
    b.add_argument("--warehouse", required=True)
    b.add_argument("--select", nargs="*", default=None)
    b.add_argument("--full-refresh", action="store_true")
    b.add_argument("--defer-to", dest="defer_to", default=None)
    b.add_argument("--state", default=None)
    b.set_defaults(fn=cmd_build)

    tst = sub.add_parser("test", help="run declared data tests")
    tst.add_argument("--warehouse", required=True)
    tst.set_defaults(fn=cmd_test)

    ig = sub.add_parser("ingest-gbfs", help="load GBFS JSON landing dir")
    ig.add_argument("--landing", required=True)
    ig.add_argument("--warehouse", required=True)
    ig.add_argument("--table", required=True)
    ig.add_argument("--serialize-data", action="store_true")
    ig.set_defaults(fn=cmd_ingest_gbfs)

    it = sub.add_parser("ingest-trips", help="load historic trip CSVs")
    it.add_argument("--csv", required=True)
    it.add_argument("--warehouse", required=True)
    it.set_defaults(fn=cmd_ingest_trips)

    st = sub.add_parser("stream", help="start streaming status ingest")
    st.add_argument("--landing", required=True)
    st.add_argument("--out", required=True)
    st.add_argument("--checkpoint", required=True)
    st.add_argument("--trigger-seconds", type=int, default=60)
    st.add_argument("--available-now", action="store_true")
    st.set_defaults(fn=cmd_stream)

    cw = sub.add_parser(
        "crawl", help="start the streaming crawl-preprocessing tick"
    )
    cw.add_argument("--broker", required=True)
    cw.add_argument("--url-index", required=True)
    cw.add_argument("--block-index", required=True)
    cw.add_argument("--out", required=True)
    cw.add_argument("--checkpoint", required=True)
    cw.add_argument("--topic", default="documents")
    cw.add_argument("--block-tokens", type=int, default=10)
    cw.add_argument("--available-now", action="store_true")
    cw.set_defaults(fn=cmd_crawl)

    sn = sub.add_parser("snapshot", help="SCD2 snapshot tick of a table")
    sn.add_argument("--warehouse", required=True)
    sn.add_argument("--layer", default="raw")
    sn.add_argument("--table", required=True)
    sn.add_argument("--key", required=True)
    sn.add_argument("--check", nargs="+", required=True)
    sn.add_argument("--loaded-at", default=None)
    sn.set_defaults(fn=cmd_snapshot)

    sd = sub.add_parser("seed", help="load a CSV into a warehouse table")
    sd.add_argument("--csv", required=True)
    sd.add_argument("--warehouse", required=True)
    sd.add_argument("--table", required=True)
    sd.add_argument("--layer", default="raw")
    sd.set_defaults(fn=cmd_seed)

    op = sub.add_parser("optimize", help="compact / z-order a warehouse table")
    op.add_argument("--warehouse", required=True)
    op.add_argument("--layer", default="analytics")
    op.add_argument("--table", required=True)
    op.add_argument("--target-files", type=int, default=1)
    op.add_argument("--partition-by", nargs="*", default=None)
    op.add_argument("--cluster-by", nargs="*", default=None)
    op.add_argument("--zorder", nargs="*", default=None)
    op.set_defaults(fn=cmd_optimize)

    xp = sub.add_parser("export", help="export a table as a sharded dataset")
    xp.add_argument("--warehouse", required=True)
    xp.add_argument("--layer", default="analytics")
    xp.add_argument("--table", required=True)
    xp.add_argument("--out", required=True)
    xp.add_argument("--id-col", required=True)
    xp.add_argument("--shards", type=int, default=4)
    xp.add_argument("--verify", action="store_true")
    xp.set_defaults(fn=cmd_export)

    dc = sub.add_parser("docs", help="print the model DAG")
    dc.set_defaults(fn=cmd_docs)

    ex = sub.add_parser("explain", help="print a registry query's plan")
    ex.add_argument("query")
    ex.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    ex.add_argument("--mode", default="formatted",
                    choices=["simple", "extended", "formatted", "cost", "codegen"])
    ex.set_defaults(fn=cmd_explain)

    args = p.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    raise SystemExit(main())
