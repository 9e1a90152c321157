"""Streaming crawl-preprocessing tick: the LIVE twin of the composed
batch crawl pass (queries_web.py::training_data_pipeline_v6).

Broker → parse → foreachBatch tick with THREE persisted relations:

1. URL-key index (``url_canon`` keys already admitted): a new document
   survives URL-level dedup iff its canonical key is not in the index
   and it is the within-batch keep-first (min doc_id) for its key — the
   incremental anti-join shape of the block index, applied to the
   canonicalization key (web.py::canonicalize_urls).
2. C4 line cleanup + document gates (text.py::c4_line_cleanup) — pure
   per-row expressions, no state.
3. Paragraph block index over the CLEANED text: survivors are rewritten
   against the corpus-so-far owners and extend the index with the
   blocks they introduce (the dedup_stream.py tick, here fed by the
   crawl stages instead of raw text).

Every published relation (output docs, URL keys, block owners) is a
``sources/tick_log.py`` table (see its replay contract). At-least-once
collapse runs at both granularities (within-tick dropDuplicates,
cross-tick anti-join vs published doc_ids).

Reference parallel: the realtime path broker → parse → dedupe → sink at
/root/reference/src/realtime_pubsub_to_spark.py:99-153, with the
training-data crawl stages in the dedupe seat.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dbt_repo_spark.operators import dedup, web
from dbt_repo_spark.operators.text import c4_line_cleanup
from dbt_repo_spark.sources.tick_log import publish, read_published
from dbt_repo_spark.streaming.dedup_stream import (
    BLOCK_INDEX_SCHEMA,
    DOC_PAYLOAD_SCHEMA,
)


def crawl_tick(
    spark: SparkSession,
    docs_with_urls: DataFrame,
    batch_id: int,
    url_index_dir: str,
    block_index_dir: str,
    out_dir: str,
    block_tokens: int = 10,
) -> None:
    """One micro-batch of (doc_id, url, text_nl): URL dedup vs the key
    index → C4 cleanup → paragraph rewrite vs the block index → publish
    output + both index extensions under ``batch=<id>``."""
    docs = docs_with_urls.dropDuplicates(["doc_id"]).join(
        read_published(spark, out_dir, "doc_id long", batch_id).select("doc_id"),
        "doc_id",
        "left_anti",
    )

    canon = web.canonicalize_urls(docs, "doc_id", "url").join(
        docs.select("doc_id", "text_nl"), "doc_id"
    )
    url_idx = read_published(spark, url_index_dir, "url_canon string", batch_id)
    fresh = canon.join(url_idx.select("url_canon"), "url_canon", "left_anti")
    # within-batch keep-first per canonical key (min doc_id — a total
    # order, so replay-deterministic)
    owner = fresh.groupBy("url_canon").agg(F.min("doc_id").alias("doc_id"))
    url_kept = fresh.join(owner, ["url_canon", "doc_id"], "left_semi")

    cleaned = (
        c4_line_cleanup(url_kept, "doc_id", "text_nl")
        .filter(F.col("doc_kept"))
        .select(
            "doc_id", F.regexp_replace("clean_text", "\n", " ").alias("ct")
        )
    )

    blk_idx = read_published(spark, block_index_dir, BLOCK_INDEX_SCHEMA, batch_id)
    rewritten = dedup.incremental_paragraph_rewrite(
        cleaned, blk_idx, "doc_id", "ct", block_tokens
    )
    new_owners = dedup.paragraph_index_additions(
        blk_idx, cleaned, "doc_id", "ct", block_tokens
    )
    for df, path in (
        (rewritten, out_dir),
        (owner.select("url_canon"), url_index_dir),
        (new_owners, block_index_dir),
    ):
        publish(df, path, batch_id)


def _require_single_nonempty_tick(
    nonempty_ticks: list[int], batch_id: int
) -> None:
    """Runtime half of the single-batch availableNow contract:
    crash-replay of the SAME batch id is fine (crawl_tick is idempotent
    per batch); a SECOND distinct non-empty batch inside one
    availableNow run breaks the global keep-first contract — fail
    loudly instead of publishing an admission order that can diverge
    from the batch oracle."""
    if any(b != batch_id for b in nonempty_ticks):
        raise RuntimeError(
            "crawl stream: availableNow delivered more than one "
            f"non-empty micro-batch (saw {nonempty_ticks}, now "
            f"{batch_id}); within-run URL keep-first would no "
            "longer equal the batch oracle's global min"
        )
    nonempty_ticks.append(batch_id)


def start_crawl_stream(
    spark: SparkSession,
    broker_root: str,
    url_index_dir: str,
    block_index_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    synthesize,
    topic: str = "documents",
    block_tokens: int = 10,
    available_now: bool = True,
    source_options: dict | None = None,
):
    """Broker → parse → foreachBatch crawl tick.

    ``synthesize`` maps the parsed (doc_id, source, text) batch to
    (doc_id, url, text_nl) — on a real crawl the wire payload already
    carries the url and newline text and this is the identity; the
    registry query passes the content-addressed fixture synthesizers.
    Wire shape is the canonical Kafka schema (sources/kafka_mirror.py).

    SINGLE-BATCH availableNow CONTRACT: the within-batch URL keep-first
    in ``crawl_tick`` (min doc_id per url_canon) matches the batch
    oracle's GLOBAL min only when the whole backlog arrives as one
    micro-batch. That is the broker's default —
    ``_KafkaMirrorStreamReader.read`` (sources/kafka_mirror.py) drains
    [committed, tail) in one shot unless ``maxOffsetsPerTrigger`` caps
    it — and is additionally ENFORCED here: if a second non-empty tick
    fires within one availableNow run (a chunk-configured broker, or a
    future broker swap that chunks delivery), the tick raises instead of
    silently publishing an admission order that can diverge from the
    batch oracle. TWO layers, because Spark's Python micro-batch
    sources FALL BACK to single-batch execution under availableNow
    (chunked delivery then silently UNDER-DRAINS the backlog instead of
    producing extra batches): (a) an up-front ValueError when
    ``source_options`` carries a chunking knob (maxOffsetsPerTrigger)
    in an availableNow run, and (b) the in-tick runtime guard
    (``_require_single_nonempty_tick``) for a future broker swap whose
    chunking is implicit. Both pinned by tests/test_web.py::
    test_chunked_delivery_raises_documented_error and
    test_runtime_single_tick_guard. Successive *runs* (incremental
    crawl) are unaffected: cross-run admission is first-run-wins by
    design, matching the persisted-index semantics.
    """
    from dbt_repo_spark.sources import kafka_mirror

    if available_now:
        lowered = {k.lower(): v for k, v in (source_options or {}).items()}
        if int(lowered.get("maxoffsetspertrigger", 0) or 0) > 0:
            raise ValueError(
                "crawl stream: availableNow run configured with a "
                "chunked-delivery broker (maxOffsetsPerTrigger set) — "
                "Python sources fall back to single-batch execution, so "
                "the run would silently drain only the first chunk and "
                "the within-run URL keep-first would no longer equal the "
                "batch oracle's global min; remove the cap or run "
                "continuous ticks (available_now=False)"
            )

    docs = kafka_mirror.read_payload_stream(
        spark, broker_root, topic, DOC_PAYLOAD_SCHEMA, source_options
    )

    nonempty_ticks: list[int] = []

    def tick(batch_df: DataFrame, batch_id: int) -> None:
        if available_now and not batch_df.isEmpty():
            _require_single_nonempty_tick(nonempty_ticks, batch_id)
        crawl_tick(
            batch_df.sparkSession,
            synthesize(batch_df),
            batch_id,
            url_index_dir,
            block_index_dir,
            out_dir,
            block_tokens,
        )

    writer = docs.writeStream.foreachBatch(tick).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
