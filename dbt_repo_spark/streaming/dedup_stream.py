"""Streaming paragraph dedup: the live twin of the incremental batch
pass (operators/dedup.py::incremental_paragraph_rewrite).

The reference's realtime path is broker → parse → dedupe → sink
(/root/reference/src/realtime_pubsub_to_spark.py:99-153, where the
dedupe is a watermarked dropDuplicates). A training-data pipeline needs
the heavier corpus-level dedup in the same seat: each micro-batch of
documents must cut every paragraph already owned by the corpus-so-far,
then extend the owner index with the paragraphs it introduced. That is
a foreachBatch job, not a watermark — the state (the block index) is
unbounded and queryable, so it lives in a TABLE the tick reads and
upserts, not in stream-operator state.

Exactly-once replay: both the output docs and the index rows are
``sources/tick_log.py`` tables (see its replay contract).

At-least-once collapse happens at BOTH granularities: within a tick via
``dropDuplicates(doc_id)``, and ACROSS ticks via an anti-join against
the doc_ids earlier ticks published to the output table. Without the
cross-tick leg, a producer retry that redelivers a document at new
offsets in a later tick would cut it to empty against its own earlier
index rows and publish a second, conflicting row under the new
``batch=`` partition.

Scale notes: the index join is an equi-join on the 8-byte block hash
(batch-bounded shuffle — the corpus text is never re-read); the index
table grows by new-hash rows only. At 100 TB the index is itself a big
table — partitioned parquet here, a key-value/Delta table in
production, same plan shape.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dbt_repo_spark.operators import dedup
from dbt_repo_spark.sources.tick_log import publish, read_published

DOC_PAYLOAD_SCHEMA = "struct<doc_id: long, source: string, text: string>"
BLOCK_INDEX_SCHEMA = "h long, doc_id long, blk long"


def paragraph_dedup_tick(
    spark: SparkSession,
    docs: DataFrame,
    batch_id: int,
    index_dir: str,
    out_dir: str,
    block_tokens: int = 10,
) -> None:
    """One micro-batch: dedup ``docs`` against the published index,
    publish rewritten docs and the new owner rows, both under the
    ``batch=<id>`` partition (idempotent under replay)."""
    # at-least-once collapse: within the tick (dropDuplicates) and
    # across ticks (anti-join vs already-published doc_ids — a producer
    # retry redelivering at new offsets in a LATER tick must not publish
    # a second, empty-rewritten copy under the new batch partition)
    docs = docs.dropDuplicates(["doc_id"]).join(
        read_published(spark, out_dir, "doc_id long", batch_id).select("doc_id"),
        "doc_id",
        "left_anti",
    )
    idx = read_published(spark, index_dir, BLOCK_INDEX_SCHEMA, batch_id)
    rewritten = dedup.incremental_paragraph_rewrite(
        docs, idx, "doc_id", "text", block_tokens
    )
    publish(rewritten, out_dir, batch_id)
    publish(
        dedup.paragraph_index_additions(idx, docs, "doc_id", "text", block_tokens),
        index_dir,
        batch_id,
    )


def start_paragraph_dedup_stream(
    spark: SparkSession,
    broker_root: str,
    index_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    topic: str = "documents",
    block_tokens: int = 10,
    available_now: bool = True,
):
    """Broker → parse → foreachBatch incremental paragraph dedup.

    Wire shape is the canonical Kafka schema (sources/kafka_mirror.py);
    swapping the mirror for ``format("kafka")`` is a one-line change.
    Returns the started StreamingQuery (caller awaits termination).
    """
    from dbt_repo_spark.sources import kafka_mirror

    docs = kafka_mirror.read_payload_stream(
        spark, broker_root, topic, DOC_PAYLOAD_SCHEMA
    )

    def tick(batch_df: DataFrame, batch_id: int) -> None:
        paragraph_dedup_tick(
            batch_df.sparkSession,
            batch_df,
            batch_id,
            index_dir,
            out_dir,
            block_tokens,
        )

    writer = docs.writeStream.foreachBatch(tick).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def compact_index_batches(
    spark: SparkSession, index_dir: str, upto_batch: int
) -> int:
    """Fold index batch partitions ``batch <= upto_batch`` (including the
    batch=-1 seed/base) into ONE base partition — the small-files answer
    for the streaming ticks, which add a ``batch=<id>`` partition per
    micro-batch forever.

    Contract: ``upto_batch`` must be at most the newest batch id whose
    tick can NEVER replay (committed in the stream's checkpoint and past
    any retention window). A replay of a folded batch would re-publish
    its rows under ``batch=<id>`` NEXT TO the folded copy in base —
    which is why the fold is also a full-row ``distinct()``: re-running
    compaction (the crash recovery protocol, see below) always converges
    back to one copy of every row.

    Crash safety, two-phase: the merged base is materialized
    (localCheckpoint) BEFORE any file is touched, the base partition is
    overwritten (dynamic mode — only batch=-1 is replaced), and the
    folded partitions are deleted last. A crash between overwrite and
    delete leaves duplicate rows split across base and folded
    partitions; compaction re-run folds them away (distinct) — so the
    recovery protocol after ANY compaction crash is simply "run it
    again". Readers (``tick_log.read_published``) only filter
    ``batch != current``, so a half-compacted index stays correct for
    existence checks and over-counts nothing after the re-run.

    Returns the number of batch partitions removed.
    """
    idx = spark.read.parquet(index_dir)
    folded_ids = [
        r.batch
        for r in idx.select("batch").distinct().collect()
        if r.batch <= upto_batch
    ]
    if not folded_ids:
        return 0
    merged = (
        idx.filter(F.col("batch") <= upto_batch)
        .drop("batch")
        .distinct()
        .localCheckpoint(eager=True)  # pin rows BEFORE touching files
    )
    publish(merged, index_dir, -1)
    jpath = spark._jvm.org.apache.hadoop.fs.Path
    fs = jpath(index_dir).getFileSystem(spark._jsc.hadoopConfiguration())
    removed = 0
    for b in folded_ids:
        if b == -1:
            continue  # the base partition was just rewritten in place
        p = jpath(f"{index_dir}/batch={b}")
        if fs.exists(p):
            fs.delete(p, True)
            removed += 1
    return removed
