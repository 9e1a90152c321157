"""Streaming ANN index maintenance: the live twin of the incremental
IVF upsert (operators/similarity.py::ivf_index_upsert), mirroring the
paragraph-dedup stream (streaming/dedup_stream.py) one-to-one.

A training-data corpus gains embeddings continuously; the ANN index
must follow without a rebuild. Each micro-batch of document arrivals
looks up its embedding from the (static) embeddings table — the
stream-static join every enrichment pipeline runs; in production this
seat is an embedding-service call or a vector column on the wire —
and a foreachBatch tick assigns the new vectors to the EXISTING
centroids and publishes their postings to a ``sources/tick_log.py``
table, as the dedup stream does; redelivered vec_ids anti-join away
inside ``ivf_index_upsert``.

Because the codebook is FIXED between retrains, assignment is
order-independent: after any sequence of ticks the published postings
EQUAL a one-shot assignment of every arrived vector — which is exactly
what the registry oracle checks (stream output hash-equals the batch
SQL over the whole corpus).

Reference analog: realtime ingest seat
/root/reference/src/realtime_pubsub_to_spark.py:99-153 with the index
upsert in place of the watermarked dropDuplicates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dbt_repo_spark.operators import similarity

ARRIVAL_PAYLOAD_SCHEMA = "struct<doc_id: long, source: string, text: string>"


def start_ann_index_stream(
    spark: SparkSession,
    broker_root: str,
    embeddings_path: str,
    index_dir: str,
    checkpoint_dir: str,
    codebook: list[list[float]],
    topic: str = "documents",
    exact: bool = True,
    available_now: bool = True,
):
    """Broker → parse arrivals → embedding lookup → foreachBatch IVF
    index upsert. Returns the started StreamingQuery."""
    from dbt_repo_spark.sources import kafka_mirror

    arrivals = kafka_mirror.read_payload_stream(
        spark, broker_root, topic, ARRIVAL_PAYLOAD_SCHEMA
    ).select("doc_id")

    def tick(batch_df: DataFrame, batch_id: int) -> None:
        sp = batch_df.sparkSession
        # stream-static enrichment: broadcast the (small) arrival id set
        # into the embeddings scan, never the other way around
        emb = sp.read.parquet(embeddings_path)
        vecs = emb.join(
            F.broadcast(batch_df.select(F.col("doc_id").alias("vec_id"))),
            "vec_id",
        )
        similarity.ivf_index_upsert(
            sp, vecs, batch_id, index_dir, codebook, exact=exact
        )

    writer = arrivals.writeStream.foreachBatch(tick).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
