"""Streaming Bloom-index maintenance: the live twin of
``operators/sketches.py::bloom_build``.

A runtime filter is only useful if it stays current as the dim-side
table grows; at 100 TB the dim arrives on the bus, not in one batch.
BIT_OR merge is associative, commutative, AND idempotent — the three
properties that make the incremental tick trivial to get exactly right:

- each micro-batch builds its OWN lane table (64 rows) from just the
  keys it carried and publishes it as a ``sources/tick_log.py`` batch —
  crash-replay overwrites its own partition, as in the dedup/ANN/crawl
  ticks;
- the read path folds every committed partition with one more BIT_OR —
  no tick ever reads the index before writing (no read-modify-write
  race), and a redelivered key (at-least-once bus) re-sets bits that
  are already set: the merged filter is byte-identical to the filter a
  single batch build would produce, which is exactly what the DuckDB
  oracle checks.
- the per-tick partitions are the compaction surface: fold them into a
  ``batch=-1`` base with the same BIT_OR whenever small files
  accumulate (the dedup_index_compaction recipe applies verbatim).

The reference's realtime path keeps only a watermarked dropDuplicates
as state (/root/reference/src/realtime_pubsub_to_spark.py:99-153);
this module is the same seat upgraded to a persistable, mergeable,
oracle-checkable membership index.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dbt_repo_spark.operators.sketches import bloom_build
from dbt_repo_spark.sources.tick_log import publish


def start_bloom_index_stream(
    spark: SparkSession,
    src_dir: str,
    index_dir: str,
    checkpoint_dir: str,
    key_col: str = "key",
) -> "object":
    """availableNow file-stream of key rows → per-tick Bloom lane
    publish. Returns the started StreamingQuery."""

    def tick(batch_df: DataFrame, batch_id: int) -> None:
        publish(bloom_build(batch_df, key_col), index_dir, batch_id)

    stream = (
        spark.readStream.schema(f"{key_col} long")
        .option("maxFilesPerTrigger", 1)  # one tick per delivered file
        .parquet(src_dir)
    )
    return (
        stream.writeStream.foreachBatch(tick)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def read_bloom_index(spark: SparkSession, index_dir: str) -> DataFrame:
    """Fold all committed tick partitions into the current filter —
    one BIT_OR hash-agg over ≤ 64·n_ticks rows."""
    return (
        spark.read.parquet(index_dir)
        .groupBy("lane")
        .agg(F.expr("bit_or(mask)").alias("mask"))
    )
