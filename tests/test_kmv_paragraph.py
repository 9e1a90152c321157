"""KMV sketch estimates + paragraph-rewrite semantics (round-5 batch 2).

The registry queries carry full DuckDB oracles (bit-exact estimates —
the md5-based sketch is engine-reproducible); these tests pin the
accuracy of the estimates against the exact columns and the rewrite
semantics on hand-built fixtures.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from dbt_repo_spark.operators import dedup, sketches
from dbt_repo_spark.queries import QUERIES

SF = "/root/testdata/sf0.001"


def test_kmv_small_group_exact(spark):
    """A group with fewer than k distinct keys keeps every key's hash,
    so its sketch size is the exact distinct count."""
    df = spark.range(10).union(spark.range(10)).select(
        F.lit("g").alias("src"), F.col("id").cast("string").alias("key")
    )
    kmv = sketches.kmv_sketch(df, "src", "key", k=64)
    assert sorted(r.rn for r in kmv.collect()) == list(range(1, 11))


def test_kmv_window_group_limit_plan(spark):
    """The rank<=k filter must compile to WindowGroupLimit (bounded
    per-task heap), not a full per-group sort."""
    df = spark.range(1000).select(
        (F.col("id") % 4).alias("src"), F.col("id").cast("string").alias("key")
    )
    plan = (
        sketches.kmv_sketch(df, "src", "key", k=16)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "WindowGroupLimit" in plan


def test_kmv_overlap_registry_certificate(spark):
    """Every pair's est_union stays within 35% of the exact union (k=64
    → se ≈ 12.6%; 35% is ~3 sigma), and the Jaccard estimate is a
    proper fraction."""
    rows = QUERIES["sketch_kmv_source_overlap"](spark, SF).collect()
    assert rows, "no source pairs"
    assert max(r.err_union for r in rows) < 0.35
    for r in rows:
        assert 0.0 <= r.est_jaccard <= 1.0
        assert r.exact_union >= max(r.exact_distinct_a, r.exact_distinct_b)


def test_paragraph_rewrite_first_occurrence_wins(spark):
    """Doc 1 owns the shared block (lowest doc_id); doc 2 loses it but
    keeps its unique block; block order inside a doc is preserved."""
    shared = "a b c d e f g h i j"          # exactly one 10-token block
    uniq = "k l m n o p q r s t"
    df = spark.createDataFrame(
        [(1, shared), (2, f"{shared} {uniq}")],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: r
        for r in dedup.paragraph_dedup_rewrite(df, "doc_id", "text").collect()
    }
    assert (out[1].n_blocks, out[1].n_kept) == (1, 1)
    assert out[1].text_rewritten == shared
    assert (out[2].n_blocks, out[2].n_kept) == (2, 1)
    assert out[2].text_rewritten == uniq


def test_paragraph_rewrite_within_doc_and_empty(spark):
    """A block repeated INSIDE one doc keeps only its first position;
    a doc made entirely of blocks owned elsewhere rewrites to ''."""
    blk = "a b c d e f g h i j"
    df = spark.createDataFrame(
        [(1, f"{blk} {blk}"), (2, blk)], "doc_id long, text string"
    )
    out = {
        r.doc_id: r
        for r in dedup.paragraph_dedup_rewrite(df, "doc_id", "text").collect()
    }
    assert (out[1].n_blocks, out[1].n_kept, out[1].text_rewritten) == (2, 1, blk)
    assert (out[2].n_blocks, out[2].n_kept, out[2].text_rewritten) == (1, 0, "")


def test_paragraph_rewrite_short_tail_block(spark):
    """The trailing short block (len % 10 != 0) is a block of its own."""
    df = spark.createDataFrame(
        [(1, "a b c d e f g h i j k l")], "doc_id long, text string"
    )
    r = dedup.paragraph_dedup_rewrite(df, "doc_id", "text").collect()[0]
    assert (r.n_blocks, r.n_kept) == (2, 2)
    assert r.text_rewritten == "a b c d e f g h i j k l"


def test_substring_rewrite_keeps_first_cuts_rest(spark):
    """Doc 1 owns the shared 6-token run; doc 2's copy is cut entirely
    (positions 1-2 are non-owner occurrences covering tokens 1..6) while
    its unique tail survives."""
    shared = "q w e r t y"
    df = spark.createDataFrame(
        [
            (1, f"{shared} aa bb cc dd"),
            (2, f"{shared} ee ff gg hh"),
        ],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: r
        for r in dedup.exact_substring_rewrite(df, "doc_id", "text").collect()
    }
    assert (out[1].n_tokens, out[1].n_removed) == (10, 0)
    assert out[1].text_rewritten == f"{shared} aa bb cc dd"
    assert (out[2].n_tokens, out[2].n_removed) == (10, 6)
    assert out[2].text_rewritten == "ee ff gg hh"


def test_substring_rewrite_short_doc_untouched(spark):
    """Docs under n tokens generate no grams and pass through whole."""
    df = spark.createDataFrame(
        [(1, "a b c"), (2, "a b c")], "doc_id long, text string"
    )
    out = {
        r.doc_id: r
        for r in dedup.exact_substring_rewrite(df, "doc_id", "text").collect()
    }
    assert out[1].text_rewritten == "a b c" and out[1].n_removed == 0
    assert out[2].text_rewritten == "a b c" and out[2].n_removed == 0


def test_substring_rewrite_matches_span_report(spark):
    """On the real corpus the cut token count per doc equals the span
    tokens reported by exact_substring_spans for non-owner content:
    every doc's n_removed is bounded by its total span tokens, and docs
    with no spans remove nothing."""
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    spans = (
        dedup.exact_substring_spans(docs, "doc_id", "text")
        .groupBy("doc_id")
        .agg(F.sum("span_tokens").alias("span_toks"))
    )
    rw = dedup.exact_substring_rewrite(docs, "doc_id", "text")
    joined = rw.join(spans, "doc_id", "left").select(
        "doc_id", "n_removed", F.coalesce("span_toks", F.lit(0)).alias("st")
    )
    bad = joined.filter(
        (F.col("n_removed") > F.col("st"))
        | ((F.col("st") == 0) & (F.col("n_removed") > 0))
    ).count()
    assert bad == 0
    # and the pass actually cuts something on this corpus
    assert rw.agg(F.sum("n_removed")).collect()[0][0] > 0


def test_incremental_paragraph_equals_full_rerun(spark):
    """The production contract: corpus-index + batch tick == full-corpus
    rerun restricted to batch docs, whenever batch ids sort after corpus
    ids (append-only ingestion). Runs on the real sf0.001 documents with
    an 80/20 split — the same shape as the registry query."""
    docs = spark.read.parquet(SF + "/documents.parquet")
    thr = 400
    corpus = docs.filter(F.col("doc_id") < thr)
    batch = docs.filter(F.col("doc_id") >= thr)

    full = {
        r.doc_id: (r.n_blocks, r.n_kept, r.text_rewritten)
        for r in dedup.paragraph_dedup_rewrite(docs, "doc_id", "text", 10)
        .filter(F.col("doc_id") >= thr)
        .collect()
    }
    idx = dedup.paragraph_block_index(corpus, "doc_id", "text", 10)
    inc = {
        r.doc_id: (r.n_blocks, r.n_kept, r.text_rewritten)
        for r in dedup.incremental_paragraph_rewrite(
            batch, idx, "doc_id", "text", 10
        ).collect()
    }
    assert inc == full


def test_merge_paragraph_index_matches_full_rebuild(spark):
    """Index upsert: corpus index + the batch's additions == index built
    from the concatenated corpus (owners stable under append-only ids),
    and re-adding the batch is idempotent."""
    docs = spark.read.parquet(SF + "/documents.parquet").filter(
        F.col("doc_id") < 120
    )
    corpus = docs.filter(F.col("doc_id") < 80)
    batch = docs.filter(F.col("doc_id") >= 80)

    def as_set(df):
        return {(r.h, r.doc_id, r.blk) for r in df.collect()}

    full = as_set(dedup.paragraph_block_index(docs, "doc_id", "text", 10))
    idx0 = dedup.paragraph_block_index(corpus, "doc_id", "text", 10)
    merged = idx0.unionByName(
        dedup.paragraph_index_additions(idx0, batch, "doc_id", "text", 10)
    )
    assert as_set(merged) == full
    again = merged.unionByName(
        dedup.paragraph_index_additions(merged, batch, "doc_id", "text", 10)
    )
    assert as_set(again) == full


def test_incremental_paragraph_cuts_corpus_and_batch_dups(spark):
    """Hand fixture: a batch block duplicated from the corpus is cut,
    an intra-batch duplicate keeps its batch-first copy, fresh text
    survives."""
    p1 = "a b c d e f g h i j"        # in corpus
    fresh = "q r s t u v w x y z"     # batch-only
    corpus = spark.createDataFrame([(1, p1)], "doc_id long, text string")
    batch = spark.createDataFrame(
        [(10, p1 + " " + fresh), (11, fresh)],
        "doc_id long, text string",
    )
    idx = dedup.paragraph_block_index(corpus, "doc_id", "text", 10)
    out = {
        r.doc_id: r
        for r in dedup.incremental_paragraph_rewrite(
            batch, idx, "doc_id", "text", 10
        ).collect()
    }
    # doc 10: block p1 cut (corpus dup), fresh kept (batch-first)
    assert (out[10].n_blocks, out[10].n_kept) == (2, 1)
    assert out[10].text_rewritten == fresh
    # doc 11: its only block is owned by doc 10 within the batch
    assert (out[11].n_blocks, out[11].n_kept) == (1, 0)
    assert out[11].text_rewritten == ""


def test_incremental_substring_equals_full_rerun(spark):
    """Keep-first makes corpus rewrites stable under appends, so the
    incremental batch pass must equal the full-corpus rerun restricted
    to batch docs (80/20 split on the real sf0.001 documents)."""
    docs = spark.read.parquet(SF + "/documents.parquet")
    thr = 400
    corpus = docs.filter(F.col("doc_id") < thr)
    batch = docs.filter(F.col("doc_id") >= thr)

    full = {
        r.doc_id: (r.n_tokens, r.n_removed, r.text_rewritten)
        for r in dedup.exact_substring_rewrite(docs, "doc_id", "text", n=5)
        .filter(F.col("doc_id") >= thr)
        .collect()
    }
    idx = dedup.substring_gram_index(corpus, "doc_id", "text", n=5)
    inc = {
        r.doc_id: (r.n_tokens, r.n_removed, r.text_rewritten)
        for r in dedup.incremental_substring_rewrite(
            batch, idx, "doc_id", "text", n=5
        ).collect()
    }
    assert inc == full


def test_decontaminate_flags_overlap_and_spares_clean(spark):
    """Hand fixture: a train doc sharing a 5-gram with the eval set is
    flagged with the right count; a clean doc reports zero; a too-short
    doc reports zero grams."""
    leak = "the quick brown fox jumps"
    eval_df = spark.createDataFrame(
        [(1, f"intro {leak} outro words here")], "doc_id long, text string"
    )
    train = spark.createDataFrame(
        [
            (10, f"prefix {leak} suffix tail tokens"),   # leaks (1 gram? several)
            (11, "totally different content with no overlap at all"),
            (12, "too short"),
        ],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: r
        for r in dedup.decontaminate_against_eval(
            train, eval_df, "doc_id", "text", n=5
        ).collect()
    }
    assert out[10].is_contaminated and out[10].n_contaminated >= 1
    assert out[10].n_contaminated <= out[10].n_grams
    assert not out[11].is_contaminated and out[11].n_contaminated == 0
    assert out[12].n_grams == 0 and not out[12].is_contaminated


def test_repetition_scores_fixture(spark):
    """Hand fixture: a doc that is one 10-token phrase repeated 3x
    trips every Gopher repetition gate; a distinct-token doc is clean."""
    from dbt_repo_spark.operators import text as tx

    phrase = "a b c d e f g h i j"
    clean = " ".join(f"w{i}" for i in range(30))
    df = spark.createDataFrame(
        [(1, " ".join([phrase] * 3)), (2, clean)], "doc_id long, text string"
    )
    out = {
        r.doc_id: r
        for r in tx.gopher_repetition_scores(df, "doc_id", "text", 10, 5).collect()
    }
    r1 = out[1]
    assert r1.n_tokens == 30
    assert abs(r1.dup_block_frac - 2 / 3) < 1e-12      # 2 of 3 blocks repeat
    assert abs(r1.dup_block_token_frac - 20 / 30) < 1e-12
    assert abs(r1.top_bigram_frac - 6 / 30) < 1e-12    # "a b" x3 -> 6 tokens
    assert r1.dup_ngram_token_frac == 1.0              # every 5-gram repeats
    assert not r1.passes_repetition
    r2 = out[2]
    assert (r2.dup_block_frac, r2.dup_block_token_frac,
            r2.top_bigram_frac, r2.dup_ngram_token_frac) == (0.0, 0.0, 2/30, 0.0)
    assert r2.passes_repetition


def test_paragraph_rewrite_is_idempotent(spark):
    """Fixpoint property: a second paragraph-dedup pass over the
    rewritten corpus changes nothing (no duplicated block survives the
    first pass, so the second pass keeps every remaining block)."""
    docs = spark.read.parquet(SF + "/documents.parquet").filter(
        F.col("doc_id") < 200
    )
    once = dedup.paragraph_dedup_rewrite(docs, "doc_id", "text", 10).select(
        "doc_id", F.col("text_rewritten").alias("text")
    )
    twice = dedup.paragraph_dedup_rewrite(
        once.filter("text <> ''"), "doc_id", "text", 10
    )
    changed = twice.filter(F.col("n_kept") != F.col("n_blocks")).count()
    assert changed == 0


def test_incremental_paragraph_empty_batch_is_noop(spark):
    """An empty tick returns an empty result and merge leaves the index
    unchanged — the degenerate case every scheduler eventually hits."""
    docs = spark.read.parquet(SF + "/documents.parquet").filter(
        F.col("doc_id") < 100
    )
    idx = dedup.paragraph_block_index(docs, "doc_id", "text", 10)
    empty = docs.filter("doc_id < 0")
    out = dedup.incremental_paragraph_rewrite(empty, idx, "doc_id", "text", 10)
    assert out.count() == 0
    merged = idx.unionByName(
        dedup.paragraph_index_additions(idx, empty, "doc_id", "text", 10)
    )
    assert merged.count() == idx.count()


def test_repetition_fraction_ranges_on_corpus(spark):
    """Invariants over the real corpus: block and n-gram coverage
    fractions live in [0, 1]; top_bigram_frac may exceed 1 only via
    the documented overlap artifact (never on this corpus's docs, all
    >= 30 tokens); the degenerate 'a a a' doc pins the artifact."""
    from dbt_repo_spark.operators import text as tx

    docs = spark.read.parquet(SF + "/documents.parquet")
    rows = tx.gopher_repetition_scores(docs, "doc_id", "text", 10, 5).collect()
    assert rows
    for r in rows:
        assert 0.0 <= r.dup_block_frac <= 1.0
        assert 0.0 <= r.dup_block_token_frac <= 1.0
        assert 0.0 <= r.dup_ngram_token_frac <= 1.0
        assert 0.0 <= r.top_bigram_frac <= 1.0  # holds for this corpus

    degenerate = spark.createDataFrame([(1, "a a a")], "doc_id long, text string")
    [d] = tx.gopher_repetition_scores(degenerate, "doc_id", "text", 10, 5).collect()
    assert d.top_bigram_frac > 1.0  # overlap artifact, documented


def test_repetition_scores_zero_token_docs_pass_vacuously(spark):
    """Zero-token documents are NOT dropped: they report 0.0 fractions
    and pass the gate (length filtering is quality_scores' job, not the
    repetition gate's) — regression for the r06 advice item where
    empty docs silently vanished from the output."""
    from dbt_repo_spark.operators import text as tx

    clean = " ".join(f"w{i}" for i in range(30))
    df = spark.createDataFrame(
        [(1, ""), (2, "   "), (3, clean)], "doc_id long, text string"
    )
    out = {
        r.doc_id: r
        for r in tx.gopher_repetition_scores(df, "doc_id", "text", 10, 5).collect()
    }
    assert set(out) == {1, 2, 3}
    for did in (1, 2):
        r = out[did]
        assert r.n_tokens == 0
        assert (r.dup_block_frac, r.dup_block_token_frac,
                r.top_bigram_frac, r.dup_ngram_token_frac) == (0.0, 0.0, 0.0, 0.0)
        assert r.passes_repetition
    assert out[3].n_tokens == 30 and out[3].passes_repetition


def test_paragraph_index_delete_reelects_and_tombstones(spark):
    """Delete-propagation tick (dedup.paragraph_index_delete): a block
    whose deleted owner has a surviving holder is re-elected to the
    MINIMUM surviving (doc, blk); a block only the deleted doc held is
    tombstoned; blocks whose owner survives are not emitted."""
    from pyspark.sql import functions as F

    from dbt_repo_spark.operators import dedup

    shared = " ".join(f"s{i}" for i in range(10))   # one full block
    unique = " ".join(f"u{i}" for i in range(10))
    keeper = " ".join(f"k{i}" for i in range(10))
    rows = [
        # doc 0 (deleted): owns `shared` (first by id) and `unique`
        (0, shared + " " + unique),
        # docs 31 and 7 also hold `shared` -> re-election picks min id 7
        (31, shared),
        (7, keeper + " " + shared),
        # doc 5 owns `keeper` and survives -> not emitted
        (5, keeper),
    ]
    # deletes: doc_id % 31 == 0 -> docs 0 and 31
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r.block_key: r
        for r in dedup.paragraph_index_delete(
            df, F.col("doc_id") % 31 == 0, "doc_id", "text", 10
        ).collect()
    }
    import hashlib

    k_shared = hashlib.md5(shared.encode()).hexdigest()
    k_unique = hashlib.md5(unique.encode()).hexdigest()
    k_keeper = hashlib.md5(keeper.encode()).hexdigest()
    assert set(out) == {k_shared, k_unique}
    assert k_keeper not in out  # owner 5 survives
    r = out[k_shared]
    assert (r.old_doc, r.status) == (0, "reelected")
    # doc 7 holds `shared` at block 2; min-surviving (doc, blk) = (7, 2)
    assert (r.new_doc, r.new_blk) == (7, 2)
    r = out[k_unique]
    assert (r.old_doc, r.status, r.new_doc) == (0, "tombstoned", None)


def test_ann_delete_tick_counts_reconcile(spark, sf_dir):
    """ann_index_delete_tick: n_after = n_before - n_removed per cell,
    totals reconcile with the corpus and the delete predicate, and
    mean_removed_score is NULL exactly on cells with no removals."""
    from dbt_repo_spark.queries import QUERIES, t

    rows = QUERIES["ann_index_delete_tick"](spark, sf_dir).collect()
    emb_n = t(spark, sf_dir, "embeddings").count()
    del_n = (
        t(spark, sf_dir, "embeddings").filter("vec_id % 31 = 0").count()
    )
    assert len(rows) == 16
    assert sum(r.n_before for r in rows) == emb_n
    assert sum(r.n_removed for r in rows) == del_n
    for r in rows:
        assert r.n_after == r.n_before - r.n_removed
        assert (r.mean_removed_score is None) == (r.n_removed == 0)
