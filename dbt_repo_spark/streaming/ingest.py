"""Streaming ingestion: the reference's Pub/Sub → Spark → BigQuery job
re-expressed as a source-pluggable Structured Streaming pipeline.

Reference trace (src/realtime_pubsub_to_spark.py, file:line relative to
/root/reference/):
  readStream Pub/Sub (:99-115) → CAST(data AS STRING) (:124) → from_json
  with explicit schema (:60-79,128) → explode stations (:131-132) →
  flatten + epoch→timestamp (:137-150) → watermark 2 min (:56-57,152) →
  dropDuplicates station_id+report_time (:153) → broadcast stream-static
  enrich (:180-184) → foreachBatch partitioned sink with fail-fast
  stopAll (:195-220) → 1-min processingTime trigger (:219).

Spark-first design decisions:
- The SOURCE is pluggable: any streaming DataFrame with a single string
  ``payload`` column (file/JSON dir source in tests, Kafka/Kinesis/Pub-Sub
  connector in production). The parse→dedup→enrich pipeline is pure and
  source-agnostic, so the semantics are testable without a message bus.
- Explicit schema on the hot path (never infer per micro-batch).
- Dedup state is bounded by the watermark (2 min by default) — at 100 TB
  stream scale the state store holds only (station_id, report_time) pairs
  inside the watermark horizon; RocksDB state store recommended on a real
  cluster.
- Enrichment joins a broadcast static dim, so each micro-batch does a
  map-side hash join — no shuffle in the per-trigger plan.
- The sink writes DAY-partitioned, station-clustered parquet (mirrors the
  reference's BigQuery partitionField=report_time/DAY + clustering
  :204-205) so downstream scans prune partitions and skip row groups.
"""

from __future__ import annotations

import os
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

WATERMARK_DELAY = "2 minutes"  # src/realtime_pubsub_to_spark.py:56-57

# Explicit GBFS station_status schema — src/realtime_pubsub_to_spark.py:60-79.
GBFS_STATUS_SCHEMA = T.StructType(
    [
        T.StructField("last_updated", T.LongType()),
        T.StructField("ttl", T.LongType()),
        T.StructField("version", T.StringType()),
        T.StructField(
            "data",
            T.StructType(
                [
                    T.StructField(
                        "stations",
                        T.ArrayType(
                            T.StructType(
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
                        ),
                    )
                ]
            ),
        ),
    ]
)


def file_payload_source(
    spark: SparkSession, landing_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-drop landing source: each text file is one feed payload.

    Substitutes the Pub/Sub subscription (S4, src/realtime_pubsub_to_spark
    .py:99-115) with the engine-native unbounded byte-payload stream; the
    payload column matches ``CAST(data AS STRING)`` at :124.

    ``max_files_per_trigger`` is the backpressure knob: after an outage a
    landing dir holds hours of backlog, and without a cap the first
    micro-batch tries to process all of it in one transaction (state
    growth, checkpoint stall, executor OOM at scale). Capped, the stream
    drains the backlog across bounded batches at the sink's sustainable
    rate.
    """
    reader = spark.readStream.format("text").option("wholetext", "true")
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.load(landing_dir).select(F.col("value").alias("payload"))


def parse_status_stream(payloads: DataFrame) -> DataFrame:
    """payload string → deduplicated per-station status rows.

    from_json (:128) → explode (:131-132) → flatten + epoch→timestamp
    (:137-150) → watermark (ST1) → dropDuplicates (ST2). Works on both
    streaming and batch DataFrames (watermark is a no-op in batch), which
    is how the unit tests assert parse semantics without a running query.
    """
    parsed = payloads.select(
        F.from_json("payload", GBFS_STATUS_SCHEMA).alias("j")
    ).select(
        F.timestamp_seconds(F.col("j.last_updated")).alias("feed_updated_at"),
        F.col("j.ttl").alias("ttl"),
        F.col("j.version").alias("version"),
        F.explode("j.data.stations").alias("s"),
    )
    flat = parsed.select(
        F.col("s.station_id").alias("station_id"),
        F.timestamp_seconds(F.col("s.last_reported")).alias("report_time"),
        F.col("s.num_bikes_available").alias("bikes_available"),
        F.col("s.num_docks_available").alias("docks_available"),
        "s.is_installed",
        "s.is_renting",
        "s.is_returning",
        "feed_updated_at",
        "ttl",
        "version",
    )
    return flat.withWatermark("report_time", WATERMARK_DELAY).dropDuplicates(
        ["station_id", "report_time"]
    )


def enrich_with_stations(status: DataFrame, station_dim: DataFrame) -> DataFrame:
    """Stream-static broadcast LEFT join (ST3, :180-184)."""
    return status.join(F.broadcast(station_dim), on="station_id", how="left")


def partitioned_sink(
    output_dir: str,
    on_error: Callable[[Exception], None] | None = None,
) -> Callable[[DataFrame, int], None]:
    """foreachBatch sink: DAY-partitioned, station-clustered parquet append.

    Mirrors :195-220 — per-batch append with partitionField=report_time/DAY
    + clustering station_id (:204-205), and the fail-fast error path that
    stops every active stream before re-raising (:210-214).
    """

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        try:
            (
                batch_df.withColumn("report_date", F.to_date("report_time"))
                .sortWithinPartitions("station_id")
                .write.mode("append")
                .partitionBy("report_date")
                .parquet(output_dir)
            )
        except Exception as exc:  # pragma: no cover - exercised via on_error
            if on_error is not None:
                on_error(exc)
            for q in batch_df.sparkSession.streams.active:
                q.stop()
            raise

    return write_batch


def start_status_ingest(
    spark: SparkSession,
    landing_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    station_dim: DataFrame | None = None,
    trigger: dict | None = None,
) -> StreamingQuery:
    """Wire source → parse → (enrich) → sink and start the query.

    ``trigger`` defaults to the reference's 1-minute processingTime
    (:219); tests pass ``{"availableNow": True}`` to drain the landing dir
    and stop. Checkpointing (ST5, :218) makes restarts exactly-once into
    the parquet sink directory.

    The query runs no no-data micro-batch: ``start()`` clones the session
    with ``spark.sql.streaming.noDataMicroBatches.enabled=false`` and
    leaves the caller's session conf as it was. A no-data batch only
    advances the watermark to evict state and to flush what a stateful
    operator holds back; the query's one stateful operator, the
    watermarked ``dropDuplicates``, emits each row the first time it
    sees it, and the watermark drops late rows either way. So the sink's
    rows are the same, eviction moves to the next data batch, and an
    ``availableNow`` run stops after its last data batch instead of
    running one more batch for the watermark alone.
    """
    from dbt_repo_spark.session import ship_package

    ship_package(spark)  # foreachBatch/stateful closures need the pkg on workers
    os.makedirs(landing_dir, exist_ok=True)
    stream = parse_status_stream(file_payload_source(spark, landing_dir))
    if station_dim is not None:
        stream = enrich_with_stations(stream, station_dim)
    writer = (
        stream.writeStream.foreachBatch(partitioned_sink(output_dir))
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    writer = writer.trigger(**(trigger or {"processingTime": "1 minute"}))
    key = "spark.sql.streaming.noDataMicroBatches.enabled"
    old = spark.conf.get(key, None)
    spark.conf.set(key, "false")
    try:
        return writer.start()
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)
