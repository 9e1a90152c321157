"""Tick log: the ``batch=<id>`` table layout the streaming ticks publish
into (paragraph dedup, crawl, ANN and Bloom index ticks).

Replay contract. A foreachBatch tick writes every relation it owns
under its own ``batch=<id>`` partition with DYNAMIC partition overwrite,
so a replay after a crash overwrites its own half-write instead of
appending a second copy. Every read of "what earlier ticks published"
hides the current batch, so a replay neither treats its own half-write
as corpus nor anti-joins its own rows away. Together they give
exactly-once output over an at-least-once bus without a transactional
sink (the same page-pinning idea as the paged sink's two-phase commit,
sources/rest_source.py). History published before any tick (a corpus
seed, a compacted base) lives at ``batch=-1``.

A missing directory, or one whose ticks all published zero rows,
reads as "nothing published yet". A present but unreadable file
raises: deduplicating against nothing would silently republish the
whole corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def publish(df: DataFrame, path: str, batch: int) -> None:
    """Write ``df`` as partition ``batch=<batch>`` of the table at
    ``path``, replacing that partition only."""
    (
        df.withColumn("batch", F.lit(batch).cast("long"))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch")
        .parquet(path)
    )


def read_published(
    spark: SparkSession, path: str, schema: str, exclude_batch: int
) -> DataFrame:
    """Rows published at ``path`` by every batch but ``exclude_batch``,
    read as ``schema`` plus ``batch long``: ``schema`` names the
    published columns the caller reads, with the types they were
    written with. The read runs no schema-inference job, a directory
    that holds no data file yet (every tick so far published zero rows)
    reads as empty, and a missing directory gives an empty relation."""
    # Hadoop FS existence check: works for any scheme the table lives
    # on (local here, object storage on a real cluster)
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    schema = f"{schema}, batch long"
    if not fs.exists(jpath):
        return spark.createDataFrame([], schema)
    return spark.read.schema(schema).parquet(path).filter(
        F.col("batch") != F.lit(exclude_batch)
    )
