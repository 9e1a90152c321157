"""Per-tick throughput floors for the bench-excluded streaming twins
(r11 verdict ask #5).

The eight live streaming twins are excluded from bench.py's wall-clock
floors because an availableNow run's wall is dominated by stream
machinery startup (checkpoint dirs, state-store spin-up, source
listing), not plan cost. That exclusion is legitimate — but it left
them with ZERO perf evidence. This harness measures what the exclusion
note says to measure: the STEADY-STATE tick, i.e. tick 2+ of a stream
whose tick 1 (startup + initial state build) already ran.

Protocol per twin:
  1. build the twin's fixture exactly as the registry query does
     (seed indexes from the corpus 80%, broker segments for the wire
     twins) — a PRIVATE copy, never the shared fixture store;
  2. run tick 1 (availableNow) — startup + backlog, NOT measured;
  3. run an EMPTY tick (no new records) — measures the per-tick fixed
     cost (query start + source listing + state reload), recorded as
     ``startup_sec``;
  4. publish a fresh batch of N records and run tick 2 — recorded as
     ``tick_sec``; the floor is ``rows_per_sec = N / tick_sec`` with
     the startup-corrected ``work_rows_per_sec = N / max(tick_sec -
     startup_sec, eps)`` alongside (the honest pair: one gates the
     whole tick, one isolates the marginal per-row cost).

kafka_roundtrip_dedup has no streaming query at all (it is a batch scan
of the broker mirror) — its floor is the warm batch wall over the
records served.

Writes STREAM_FLOORS.json at the repo root; bench.py embeds it into
BENCH_FULL.json under "streaming_floors" so the driver's record carries
it. Run:  python tools/streaming_floors.py [twin,twin,...]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _copy_broker(src_root: str, work: str) -> str:
    """Private broker copy — ticks append segments, and the shared
    fixture store must stay byte-stable for every other consumer."""
    dst = os.path.join(work, "broker")
    shutil.copytree(src_root, dst)
    return dst


def _publish_documents(broker: str, rows, n_partitions: int = 4) -> int:
    """Append one new segment per partition carrying ``rows`` of
    (doc_id, source, text) — the documents wire shape of
    sources/kafka_mirror.py::build_documents_fixture."""
    by_part: dict[int, list[str]] = {p: [] for p in range(n_partitions)}
    for doc_id, source, text in rows:
        by_part[doc_id % n_partitions].append(
            json.dumps(
                {
                    "key": str(doc_id),
                    "value": json.dumps(
                        {"doc_id": doc_id, "source": source, "text": text},
                        sort_keys=True,
                    ),
                    "timestamp_ms": 1700000000000 + int(doc_id),
                    "headers": {"origin": "floors"},
                },
                sort_keys=True,
            )
        )
    n = 0
    for part, lines in by_part.items():
        pdir = os.path.join(broker, "documents", f"p{part}")
        os.makedirs(pdir, exist_ok=True)
        seq = len([f for f in os.listdir(pdir) if f.startswith("segment-")])
        with open(os.path.join(pdir, f"segment-{seq:03d}.jsonl"), "w") as fh:
            fh.write("\n".join(lines) + ("\n" if lines else ""))
        n += len(lines)
    return n


def _await(q_thunk) -> float:
    """Wall of one full tick: query construction + start + drain.
    ``q_thunk`` builds AND starts the query — .start() does real work
    (checkpoint resolve, source listing) that belongs in the tick."""
    t0 = time.monotonic()
    q = q_thunk()
    q.awaitTermination()
    return time.monotonic() - t0


def _result(name, rows, tick_sec, startup_sec):
    eps = 1e-3
    return {
        "twin": name,
        "rows": int(rows),
        "tick_sec": round(tick_sec, 4),
        "startup_sec": round(startup_sec, 4),
        "rows_per_sec": round(rows / max(tick_sec, eps), 1),
        "work_rows_per_sec": round(
            rows / max(tick_sec - startup_sec, eps), 1
        ),
    }


def _fresh_docs(spark, k_new: int):
    """k_new fresh (doc_id, source, text) rows: the corpus 80% re-keyed
    past the existing id ceiling — realistic text, unseen ids."""
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    mx = docs.agg(F.max("doc_id")).collect()[0][0]
    fresh = (
        docs.orderBy("doc_id")
        .limit(k_new)
        .select(
            (F.col("doc_id") + mx + 1).alias("doc_id"), "source", "text"
        )
    )
    return [(r.doc_id, r.source, r.text) for r in fresh.collect()]


# ---------------------------------------------------------------- twins


def floor_streaming_sessionize(spark):
    import datetime as dt

    from pyspark.sql import functions as F

    from dbt_repo_spark.queries import t as read_t
    from dbt_repo_spark.streaming.stateful import sessionize

    work = tempfile.mkdtemp(prefix="floor_sess_")
    try:
        src, out, ckpt = f"{work}/src", f"{work}/out", f"{work}/ckpt"
        schema = "user_id long, ts timestamp, value double"
        ev = (
            read_t(spark, SF_DIR, "events")
            .filter(F.col("value").isNotNull())
            .select(
                F.col("user_id").cast("long").alias("user_id"),
                F.date_trunc("second", "ts").alias("ts"),
                F.round(F.col("value") * 100, 0).alias("value"),
            )
        )
        med = ev.agg(
            F.expr("percentile_approx(unix_seconds(ts), 0.5)").alias("m")
        ).collect()[0].m
        t1 = ev.filter(F.unix_seconds("ts") <= med)
        t2 = ev.filter(F.unix_seconds("ts") > med)
        n2 = t2.count()
        t1.write.parquet(src)

        def tick() -> float:
            return _await(
                lambda: sessionize(
                    spark.readStream.schema(schema).parquet(src),
                    gap_minutes=30,
                    delay="2 minutes",
                )
                .writeStream.format("parquet")
                .option("path", out)
                .option("checkpointLocation", ckpt)
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )

        tick()  # tick 1: backlog + state build
        startup = tick()  # empty tick: fixed cost
        t2.write.mode("append").parquet(src)
        sec = tick()
        return _result("streaming_sessionize", n2, sec, startup)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def floor_streaming_paragraph_dedup(spark):
    from pyspark.sql import functions as F

    from dbt_repo_spark.operators import dedup
    from dbt_repo_spark.sources import kafka_mirror
    from dbt_repo_spark.sources.tick_log import publish
    from dbt_repo_spark.streaming.dedup_stream import (
        start_paragraph_dedup_stream,
    )

    work = tempfile.mkdtemp(prefix="floor_pdedup_")
    try:
        broker = _copy_broker(
            kafka_mirror.build_documents_fixture(SF_DIR), work
        )
        index_dir, out_dir, ckpt = (
            f"{work}/index", f"{work}/out", f"{work}/ckpt",
        )
        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
        thr = docs.agg(
            F.floor(F.count("*") * 0.8).cast("long").alias("thr")
        )
        corpus = docs.join(F.broadcast(thr)).filter(
            F.col("doc_id") < F.col("thr")
        )
        publish(
            dedup.paragraph_block_index(corpus, "doc_id", "text", 10),
            index_dir,
            -1,
        )

        def tick() -> float:
            return _await(
                lambda: start_paragraph_dedup_stream(
                    spark, broker, index_dir, out_dir, ckpt, block_tokens=10
                )
            )

        tick()
        startup = tick()
        n = _publish_documents(broker, _fresh_docs(spark, 4000))
        sec = tick()
        return _result("streaming_paragraph_dedup", n, sec, startup)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def floor_streaming_crawl_tick(spark):
    from pyspark.sql import functions as F

    from dbt_repo_spark.operators import dedup as dedup_ops
    from dbt_repo_spark.operators import text as text_ops
    from dbt_repo_spark.operators import web
    from dbt_repo_spark.queries_web import _synth_lines, _synth_urls
    from dbt_repo_spark.sources import kafka_mirror
    from dbt_repo_spark.sources.tick_log import publish
    from dbt_repo_spark.streaming.crawl_stream import start_crawl_stream

    work = tempfile.mkdtemp(prefix="floor_crawl_")
    try:
        broker = _copy_broker(
            kafka_mirror.build_documents_fixture(SF_DIR), work
        )
        url_index_dir = f"{work}/url_index"
        block_index_dir = f"{work}/block_index"
        out_dir, ckpt = f"{work}/out", f"{work}/ckpt"

        def synthesize(df):
            return _synth_urls(df).join(_synth_lines(df), "doc_id")

        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
        thr = docs.agg(
            F.floor(F.count("*") * 0.8).cast("long").alias("thr")
        )
        corpus = docs.join(F.broadcast(thr)).filter(
            F.col("doc_id") < F.col("thr")
        )
        ccanon = web.canonicalize_urls(_synth_urls(corpus), "doc_id", "url")
        publish(ccanon.select("url_canon").distinct(), url_index_dir, -1)
        cadmit = ccanon.groupBy("url_canon").agg(
            F.min("doc_id").alias("doc_id")
        )
        csurv = (
            text_ops.c4_line_cleanup(
                _synth_lines(
                    corpus.join(
                        cadmit.select("doc_id"), "doc_id", "left_semi"
                    )
                ),
                "doc_id",
                "text_nl",
            )
            .filter(F.col("doc_kept"))
            .select(
                "doc_id",
                F.regexp_replace("clean_text", "\n", " ").alias("ct"),
            )
        )
        publish(
            dedup_ops.paragraph_block_index(csurv, "doc_id", "ct", 10),
            block_index_dir,
            -1,
        )

        def tick() -> float:
            return _await(
                lambda: start_crawl_stream(
                    spark, broker, url_index_dir, block_index_dir,
                    out_dir, ckpt, synthesize, block_tokens=10,
                )
            )

        tick()
        startup = tick()
        n = _publish_documents(broker, _fresh_docs(spark, 4000))
        sec = tick()
        return _result("streaming_crawl_tick", n, sec, startup)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def floor_streaming_ann_index(spark):
    from pyspark.sql import functions as F

    from dbt_repo_spark.operators import similarity
    from dbt_repo_spark.sources import kafka_mirror
    from dbt_repo_spark.sources.tick_log import publish
    from dbt_repo_spark.streaming.ann_stream import start_ann_index_stream

    work = tempfile.mkdtemp(prefix="floor_ann_")
    try:
        broker = _copy_broker(
            kafka_mirror.build_documents_fixture(SF_DIR), work
        )
        index_dir, ckpt = f"{work}/index", f"{work}/ckpt"
        emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        thr = emb.agg(
            F.floor(F.count("*") * 0.8).cast("long").alias("thr")
        )
        corpus = emb.join(F.broadcast(thr)).filter(
            F.col("vec_id") < F.col("thr")
        )
        codebook = [
            r.v
            for r in similarity._normalized(
                corpus, "id", "v", "vec_id", "embedding"
            )
            .orderBy("id")
            .limit(16)
            .collect()
        ]
        publish(similarity.ivf_assign(corpus, codebook), index_dir, -1)

        def tick() -> float:
            return _await(
                lambda: start_ann_index_stream(
                    spark, broker, f"{SF_DIR}/embeddings.parquet",
                    index_dir, ckpt, codebook,
                )
            )

        tick()
        startup = tick()
        # fresh arrivals: corpus-80% ids (4x the tick-1 slice, all with
        # embeddings to look up, none in the stream index yet)
        ids = [
            (int(r.vec_id), "floors", "")
            for r in corpus.select("vec_id").orderBy("vec_id").collect()
        ]
        n = _publish_documents(broker, ids)
        sec = tick()
        return _result("streaming_ann_index", n, sec, startup)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def floor_streaming_bloom_index(spark):
    from pyspark.sql import functions as F

    from dbt_repo_spark.streaming.bloom_stream import (
        start_bloom_index_stream,
    )

    work = tempfile.mkdtemp(prefix="floor_bloom_")
    try:
        src, idx, ckpt = f"{work}/src", f"{work}/index", f"{work}/ckpt"
        # realistic key stream: distinct customer keys (vs the twin's
        # tiny filtered supplier dim) so the tick carries real volume
        keys = (
            spark.read.parquet(f"{SF_DIR}/customer.parquet")
            .select(F.col("c_custkey").cast("long").alias("key"))
        )
        w1 = keys.filter(F.col("key") % 2 == 0)
        w2 = keys.filter(F.col("key") % 2 == 1)
        n2 = w2.count()
        w1.coalesce(1).write.mode("append").parquet(src)

        def tick() -> float:
            return _await(
                lambda: start_bloom_index_stream(
                    spark, src, idx, ckpt, key_col="key"
                )
            )

        tick()
        startup = tick()
        w2.coalesce(1).write.mode("append").parquet(src)
        sec = tick()
        return _result("streaming_bloom_index", n2, sec, startup)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _interval_join_floor(spark, how: str, name: str):
    from pyspark.sql import functions as F

    from dbt_repo_spark.queries import t as read_t

    work = tempfile.mkdtemp(prefix="floor_ivj_")
    try:
        pdir, sdir = f"{work}/purchases", f"{work}/signups"
        out, ckpt = f"{work}/out", f"{work}/ckpt"
        ev = read_t(spark, SF_DIR, "events").select(
            "event_id", "user_id", "ts", "event_type"
        )
        med = ev.agg(
            F.expr("percentile_approx(unix_seconds(ts), 0.5)").alias("m")
        ).collect()[0].m
        early = ev.filter(F.unix_seconds("ts") <= med)
        late = ev.filter(F.unix_seconds("ts") > med)
        n2 = late.count()
        early.filter(F.col("event_type") == "purchase").drop(
            "event_type"
        ).write.parquet(pdir)
        early.filter(F.col("event_type") == "signup").drop(
            "event_type"
        ).write.parquet(sdir)
        sch = "event_id long, user_id long, ts timestamp"

        def build():
            p = (
                spark.readStream.schema(sch).parquet(pdir)
                .withWatermark("ts", "1 hour").alias("p")
            )
            s = (
                spark.readStream.schema(sch).parquet(sdir)
                .withWatermark("ts", "1 hour").alias("s")
            )
            joined = p.join(
                s,
                (F.col("p.user_id") == F.col("s.user_id"))
                & (F.col("s.ts") <= F.col("p.ts"))
                & (
                    F.col("p.ts")
                    <= F.col("s.ts") + F.expr("INTERVAL 30 DAYS")
                ),
                how,
            ).select(
                F.col("p.user_id").alias("user_id"),
                F.col("p.event_id").alias("purchase_id"),
                F.col("s.event_id").alias("signup_id"),
            )
            return (
                joined.writeStream.format("parquet")
                .option("path", out)
                .option("checkpointLocation", ckpt)
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )

        def tick() -> float:
            return _await(build)

        tick()
        startup = tick()
        late.filter(F.col("event_type") == "purchase").drop(
            "event_type"
        ).write.mode("append").parquet(pdir)
        late.filter(F.col("event_type") == "signup").drop(
            "event_type"
        ).write.mode("append").parquet(sdir)
        sec = tick()
        # n2 counts BOTH sides' arrivals (each enters state once)
        return _result(name, n2, sec, startup)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def floor_streaming_interval_join(spark):
    return _interval_join_floor(spark, "inner", "streaming_interval_join")


def floor_streaming_interval_join_outer(spark):
    return _interval_join_floor(
        spark, "leftOuter", "streaming_interval_join_outer"
    )


def floor_kafka_roundtrip_dedup(spark):
    """Batch broker scan — no streaming query; floor = warm batch wall
    over the records served (2x the slice: at-least-once redelivery)."""
    from dbt_repo_spark.queries import QUERIES

    fn = QUERIES["kafka_roundtrip_dedup"]
    fn(spark, SF_DIR).count()  # warm: fixture built, listings primed
    t0 = time.monotonic()
    fn(spark, SF_DIR).count()
    sec = time.monotonic() - t0
    from dbt_repo_spark.sources import kafka_mirror

    root = kafka_mirror.build_events_fixture(SF_DIR)
    served = 0
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            if f.startswith("segment-"):
                with open(os.path.join(dirpath, f)) as fh:
                    served += sum(1 for _ in fh)
    return _result("kafka_roundtrip_dedup", served, sec, 0.0)


FLOORS = {
    "streaming_sessionize": floor_streaming_sessionize,
    "streaming_paragraph_dedup": floor_streaming_paragraph_dedup,
    "streaming_crawl_tick": floor_streaming_crawl_tick,
    "streaming_ann_index": floor_streaming_ann_index,
    "streaming_bloom_index": floor_streaming_bloom_index,
    "streaming_interval_join": floor_streaming_interval_join,
    "streaming_interval_join_outer": floor_streaming_interval_join_outer,
    "kafka_roundtrip_dedup": floor_kafka_roundtrip_dedup,
}


def main() -> None:
    from dbt_repo_spark.session import get_spark

    names = sys.argv[1].split(",") if len(sys.argv) > 1 else list(FLOORS)
    spark = get_spark(app_name="streaming-floors")
    results = {}
    for name in names:
        spark.catalog.clearCache()
        res = FLOORS[name](spark)
        results[name] = {k: v for k, v in res.items() if k != "twin"}
        print(json.dumps(res), flush=True)
    path = os.path.join(REPO, "STREAM_FLOORS.json")
    try:
        with open(path) as fh:
            merged = json.load(fh)
    except (OSError, ValueError):
        merged = {}
    merged.update(results)
    merged["_protocol"] = (
        "tick1 (startup+backlog, unmeasured) -> empty tick "
        "(startup_sec) -> publish N fresh rows -> tick2 (tick_sec); "
        "rows_per_sec gates the whole tick, work_rows_per_sec "
        "subtracts the fixed cost; sf_dir=" + SF_DIR
    )
    with open(path, "w") as fh:
        json.dump(merged, fh, indent=1, sort_keys=True)
    print(json.dumps({"written": path, "n": len(results)}))


if __name__ == "__main__":
    main()
