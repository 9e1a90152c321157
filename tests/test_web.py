"""Unit tests for the web-crawl preprocessing operators (r07):
C4 line cleanup semantics on handcrafted newline documents, URL
canonicalization edge cases, and the domain rollup arithmetic —
independent of the registry queries' synthesized fixtures."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dbt_repo_spark.operators.text import c4_line_cleanup
from dbt_repo_spark.operators.web import canonicalize_urls, domain_stats


def _c4(spark, text, **kw):
    df = spark.createDataFrame([(1, text)], ["id", "txt"])
    return c4_line_cleanup(df, "id", "txt", **kw).collect()[0]


def test_c4_keeps_only_clean_lines(spark):
    r = _c4(
        spark,
        "this is a good first sentence.\n"      # kept
        "short one.\n"                           # < 5 words
        "no terminal punctuation here at all\n"  # no [.!?"]
        "a javascript menu widget appeared here.\n"  # javascript
        "function f() { return 1; }.\n"          # code brace
        'he said "this is a quote!"\n'           # kept (quote terminal)
        "is this a real question though?"        # kept (?)
    )
    assert r.n_lines == 7
    assert r.n_kept == 3
    assert not r.has_lorem
    assert r.doc_kept  # 3 kept lines == min_lines floor
    assert r.clean_text.split("\n") == [
        "this is a good first sentence.",
        'he said "this is a quote!"',
        "is this a real question though?",
    ]


def test_c4_doc_gates(spark):
    # lorem ipsum anywhere kills the doc even if every line is clean
    r = _c4(
        spark,
        "lorem ipsum dolor sit amet friend.\n"
        "another perfectly fine clean sentence here.\n"
        "and one more to clear the floor.",
    )
    assert r.has_lorem and not r.doc_kept and r.n_kept == 3
    # fewer than min_lines surviving lines kills the doc
    r = _c4(spark, "one good clean long sentence here.\nshort.\n")
    assert r.n_kept == 1 and not r.doc_kept
    # thresholds are parameters
    r = _c4(spark, "one good clean long sentence here.", min_lines=1)
    assert r.doc_kept


def test_c4_javascript_case_insensitive(spark):
    r = _c4(spark, "The JavaScript framework loaded very slowly today.")
    assert r.n_kept == 0


@pytest.mark.parametrize(
    "url,canon,domain",
    [
        # scheme folds, www strips, host lowercases, params sort,
        # tracking strips, fragment drops, trailing slash strips
        (
            "HTTP://WWW.News.Example.COM/a/b/?b=2&utm_source=x&a=1#frag",
            "https://news.example.com/a/b?a=1&b=2",
            "example.com",
        ),
        # no params, no fragment, no path
        ("https://example.org", "https://example.org", "example.org"),
        # tracking-only query collapses to no query at all
        (
            "https://a.io/p?utm_campaign=c&gclid=123&fbclid=9&ref=hn",
            "https://a.io/p",
            "a.io",
        ),
        # only ONE leading www. strips (www.www.x keeps the inner one)
        (
            "https://www.www.example.net/x",
            "https://www.example.net/x",
            "example.net",
        ),
        # root slash is a trailing slash
        ("https://b.example.com/", "https://b.example.com", "example.com"),
        # non-tracking params keep their values, sorted as strings
        (
            "https://c.dev/q?z=26&m=13&a=1",
            "https://c.dev/q?a=1&m=13&z=26",
            "c.dev",
        ),
        # two-level public suffixes keep three labels (PSL subset)
        (
            "https://www.news.BBC.co.uk/story",
            "https://news.bbc.co.uk/story",
            "bbc.co.uk",
        ),
        ("https://shop.example.com.au/", "https://shop.example.com.au",
         "example.com.au"),
        # a host that merely CONTAINS 'co' labels stays two-label
        ("https://co.uk.example.org/x", "https://co.uk.example.org/x",
         "example.org"),
        # a SECOND literal '?' belongs to the query string, not a new
        # one — params are everything after the FIRST '?' (r8 parity
        # fix: Spark used to split on the LAST '?')
        (
            "https://q.example.com/p?b=x?y&a=1",
            "https://q.example.com/p?a=1&b=x?y",
            "example.com",
        ),
    ],
)
def test_canonicalize_urls_cases(spark, url, canon, domain):
    df = spark.createDataFrame([(1, url)], ["id", "u"])
    r = canonicalize_urls(df, "id", "u").collect()[0]
    assert r.url_canon == canon, url
    assert r.domain == domain, url


def test_domain_stats_counts_dup_mass(spark):
    rows = [
        (1, "https://www.a.com/x?utm_source=1"),
        (2, "HTTP://A.com/x/"),        # same canon as 1
        (3, "https://a.com/y"),        # same domain, new key
        (4, "https://b.org/x"),        # other domain
    ]
    df = spark.createDataFrame(rows, ["id", "u"])
    stats = {
        r.domain: r
        for r in domain_stats(canonicalize_urls(df, "id", "u")).collect()
    }
    assert stats["a.com"].n_urls == 3
    assert stats["a.com"].n_canon == 2
    assert stats["a.com"].n_dup == 1
    assert stats["b.org"].n_dup == 0


def test_c4_query_plan_is_shuffle_free(spark):
    """The registry C4 query (synthesis + cleanup) must stay a pure
    per-row projection: no Exchange in the optimized plan."""
    from dbt_repo_spark.queries import QUERIES

    df = QUERIES["text_c4_cleanup"](spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan


def test_v6_crawl_tick_conservation(spark):
    """Every document lands in exactly one v6 bucket per source:
    n_url_dup + n_c4_dropped + n_final == n_docs, and block/char mass
    only exists where survivors do."""
    from dbt_repo_spark.queries import QUERIES

    rows = QUERIES["training_data_pipeline_v6"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert rows
    for r in rows:
        assert r.n_url_dup + r.n_c4_dropped + r.n_final == r.n_docs, r
        assert r.n_blocks_kept <= r.n_blocks
        assert (r.n_final == 0) == (r.n_blocks == 0), r


def test_crawl_tick_multi_tick_and_replay(spark, tmp_path):
    """crawl_stream.py tick semantics across batches:

    - tick 1: a doc whose canonical key is corpus-owned is dropped; the
      within-batch keep-first collapses two docs sharing a key; a doc
      failing the C4 min-lines gate is dropped; the survivor's
      corpus-owned paragraph is cut and its fresh blocks are kept;
    - tick 2: the URL-key and block indexes carry tick-1 state (a tick-1
      key blocks, a tick-1 paragraph cuts) and a redelivered doc_id is
      not republished;
    - a hand replay of tick 2 (same batch id) is idempotent.
    """
    from pyspark.sql import functions as F

    from dbt_repo_spark.operators.dedup import paragraph_block_index
    from dbt_repo_spark.streaming.crawl_stream import crawl_tick

    l_corpus = "a b c d e f g h i j."
    l_t1 = "k l m n o p q r s t."
    l_t1b = "u v w x y z aa bb cc dd."
    l_f1 = "ee ff gg hh ii jj kk ll mm nn."
    l_f2 = "oo pp qq rr ss tt uu vv ww xx."

    url_index_dir = str(tmp_path / "url_index")
    block_index_dir = str(tmp_path / "block_index")
    out_dir = str(tmp_path / "out")

    # corpus seed: key https://a.com/x admitted; corpus ct owns l_corpus
    spark.createDataFrame([("https://a.com/x",)], "url_canon string").withColumn(
        "batch", F.lit(-1).cast("long")
    ).write.partitionBy("batch").parquet(url_index_dir)
    corpus_ct = spark.createDataFrame([(1, l_corpus)], "doc_id long, ct string")
    paragraph_block_index(corpus_ct, "doc_id", "ct", 10).withColumn(
        "batch", F.lit(-1).cast("long")
    ).write.partitionBy("batch").parquet(block_index_dir)

    def batch_df(rows):
        return spark.createDataFrame(
            rows, "doc_id long, url string, text_nl string"
        )

    three_clean = "\n".join([l_corpus, l_t1, l_t1b])
    tick1 = batch_df(
        [
            (10, "HTTP://WWW.A.com/x?utm_source=z", three_clean),  # corpus key
            (11, "https://b.com/y", three_clean),                  # survivor
            (12, "https://b.com/y?ref=x", three_clean),            # batch dup key
            (13, "https://c.com/z", "\n".join([l_t1, l_f1])),      # <3 lines
        ]
    )
    crawl_tick(spark, tick1, 0, url_index_dir, block_index_dir, out_dir, 10)
    out1 = {
        r.doc_id: (r.n_blocks, r.n_kept, r.text_rewritten)
        for r in spark.read.parquet(out_dir).collect()
    }
    assert out1 == {11: (3, 2, f"{l_t1} {l_t1b}")}

    # tick 2: doc 20 repeats l_t1 (tick-1 owned) + fresh; doc 11
    # redelivered (cross-tick collapse); doc 22 hits tick-1's key
    tick2 = batch_df(
        [
            (20, "https://d.com/w", "\n".join([l_t1, l_f1, l_f2])),
            (11, "https://e.com/v", three_clean),
            (22, "https://b.com/y#frag", "\n".join([l_f1, l_f2, l_t1b])),
        ]
    )
    crawl_tick(spark, tick2, 1, url_index_dir, block_index_dir, out_dir, 10)
    out2 = {
        r.doc_id: (r.n_blocks, r.n_kept, r.text_rewritten)
        for r in spark.read.parquet(out_dir).collect()
    }
    assert out2 == {
        11: (3, 2, f"{l_t1} {l_t1b}"),
        20: (3, 2, f"{l_f1} {l_f2}"),
    }

    # crash-replay of tick 2: same batch id, same rows — idempotent
    crawl_tick(spark, tick2, 1, url_index_dir, block_index_dir, out_dir, 10)
    out3 = {
        r.doc_id: (r.n_blocks, r.n_kept, r.text_rewritten)
        for r in spark.read.parquet(out_dir).collect()
    }
    assert out3 == out2
    keys = spark.read.parquet(url_index_dir)
    assert keys.count() == keys.select("url_canon").distinct().count()
    idx = spark.read.parquet(block_index_dir)
    assert idx.count() == idx.select("h").distinct().count()


# --- property-based: idempotence of the two crawl normalizers ---

from hypothesis import given, settings, strategies as st  # noqa: E402

_SEG = st.text(
    alphabet="abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789",
    min_size=1,
    max_size=8,
)


@given(
    host_parts=st.lists(_SEG, min_size=2, max_size=4),
    path_parts=st.lists(_SEG, min_size=0, max_size=3),
    params=st.lists(
        st.tuples(
            st.sampled_from(
                ["a", "zz", "q1", "utm_source", "utm_campaign", "gclid",
                 "fbclid", "ref", "msclkid"]
            ),
            _SEG,
        ),
        min_size=0,
        max_size=5,
    ),
    www=st.booleans(),
    upper=st.booleans(),
    slash=st.booleans(),
    frag=st.booleans(),
)
@settings(max_examples=12, deadline=None)
def test_canonicalize_is_idempotent(
    spark, host_parts, path_parts, params, www, upper, slash, frag
):
    """canonicalize(canonicalize(u)) == canonicalize(u): a canonical key
    must be a FIXPOINT, otherwise re-ingesting published keys would
    shift them and break the incremental URL-index contract."""
    host = ".".join(host_parts)
    url = (
        ("HTTPS" if upper else "https")
        + "://"
        + ("www." if www else "")
        + (host.upper() if upper else host)
        + ("/" + "/".join(path_parts) if path_parts else "")
        + ("/" if slash else "")
        + ("?" + "&".join(f"{k}={v}" for k, v in params) if params else "")
        + ("#x" if frag else "")
    )
    df = spark.createDataFrame([(1, url)], ["id", "u"])
    once = canonicalize_urls(df, "id", "u").collect()[0]
    df2 = spark.createDataFrame([(1, once.url_canon)], ["id", "u"])
    twice = canonicalize_urls(df2, "id", "u").collect()[0]
    assert twice.url_canon == once.url_canon, url
    assert twice.domain == once.domain, url


def test_c4_cleanup_is_idempotent_on_fixture(spark):
    """Cleaning already-clean text is a no-op: every surviving line
    still passes every line rule, and surviving docs still pass the doc
    gates — re-running the pass on its own output must change nothing
    (checked on the full synthesized fixture, kept docs only)."""
    from pyspark.sql import functions as F

    from dbt_repo_spark.queries import QUERIES

    first = (
        QUERIES["text_c4_cleanup"](spark, "/root/testdata/sf0.001")
        .filter(F.col("doc_kept"))
        .select("doc_id", F.col("clean_text").alias("text1"))
    )
    second = c4_line_cleanup(first, "doc_id", "text1")
    drift = (
        second.join(first, "doc_id")
        .filter(
            (F.col("n_lines") != F.col("n_kept"))
            | ~F.col("doc_kept")
            | (F.col("clean_text") != F.col("text1"))
        )
        .count()
    )
    assert drift == 0


def test_normalize_text_unicode_semantics(spark):
    """normalize_text collapses every decoration class: decomposed
    accents compose (NFC), control bytes strip, NBSP/ideographic-space/
    tab runs collapse to one space, case lowers (eszett preserved —
    lower, not casefold), and already-normal text reports
    changed=false. All non-ASCII characters are spelled as escapes so
    the fixture is editor-proof."""
    from dbt_repo_spark.operators.text import normalize_text

    rows = [
        (1, "Cafe\u0301 du Monde"),           # decomposed accent + case
        (2, "a\x07b\x00c"),                   # control bytes
        (3, "x\u00a0\t y z\u3000w"),          # exotic whitespace
        (4, "STRASSE \u00df"),                 # lower keeps eszett
        (5, "  padded  "),                     # trim + collapse
        (6, "already clean"),                  # fixpoint
    ]
    df = spark.createDataFrame(rows, ["id", "txt"])
    out = {r.doc_id: r for r in normalize_text(df, "id", "txt").collect()}
    assert out[1].text_norm == "caf\u00e9 du monde"
    assert out[1].n_chars_raw == 14 and out[1].n_chars_norm == 13
    assert out[2].text_norm == "abc"
    assert out[3].text_norm == "x y z w"
    assert out[4].text_norm == "strasse \u00df"
    assert out[5].text_norm == "padded"
    assert not out[6].changed and all(out[i].changed for i in range(1, 6))
    # casefold option folds eszett
    folded = {
        r.doc_id: r.text_norm
        for r in normalize_text(df, "id", "txt", casefold=True).collect()
    }
    assert folded[4] == "strasse ss"


def test_normalize_text_null_documents(spark):
    """NULL text degrades gracefully (r8 fix: used to raise TypeError
    inside the mapInPandas batch): text_norm and both char counts come
    back NULL, changed comes back NULL, and non-null neighbors in the
    same Arrow batch are unaffected."""
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from dbt_repo_spark.operators.text import normalize_text

    schema = StructType(
        [StructField("id", LongType()), StructField("txt", StringType())]
    )
    df = spark.createDataFrame(
        [(1, "  Some TEXT  "), (2, None), (3, "ok.")], schema
    )
    out = {r.doc_id: r for r in normalize_text(df, "id", "txt").collect()}
    assert out[1].text_norm == "some text"
    assert out[2].text_norm is None
    assert out[2].n_chars_raw is None and out[2].n_chars_norm is None
    assert out[2].changed is None
    assert out[3].text_norm == "ok." and out[3].changed is False


def test_compact_index_batches_semantics(spark, tmp_path):
    """compact_index_batches folds base + committed tick partitions into
    one base partition with the exact same row set, leaves newer ticks
    alone, is idempotent under crash re-run, and the stream's index
    reader sees identical state before and after."""
    from pyspark.sql import functions as F

    from dbt_repo_spark.sources.tick_log import read_published
    from dbt_repo_spark.streaming.dedup_stream import (
        BLOCK_INDEX_SCHEMA,
        compact_index_batches,
    )

    index_dir = str(tmp_path / "idx")
    rows = [
        (-1, 100, 1, 0), (-1, 101, 1, 1),   # seed/base
        (0, 200, 2, 0),                      # tick 0
        (1, 300, 3, 0), (1, 301, 3, 1),      # tick 1
        (2, 400, 4, 0),                      # tick 2 (NOT folded)
    ]
    df = spark.createDataFrame(rows, "batch long, h long, doc_id long, blk long")
    df.write.partitionBy("batch").parquet(index_dir)

    before = {
        (r.h, r.doc_id, r.blk)
        for r in read_published(
            spark, index_dir, BLOCK_INDEX_SCHEMA, exclude_batch=10**9
        ).collect()
    }
    removed = compact_index_batches(spark, index_dir, upto_batch=1)
    assert removed == 2  # tick partitions 0 and 1 deleted, base rewritten
    after_parts = sorted(
        r.batch
        for r in spark.read.parquet(index_dir).select("batch").distinct().collect()
    )
    assert after_parts == [-1, 2]
    after = {
        (r.h, r.doc_id, r.blk)
        for r in read_published(
            spark, index_dir, BLOCK_INDEX_SCHEMA, exclude_batch=10**9
        ).collect()
    }
    assert after == before

    # crash protocol: re-running compaction (even at a higher watermark)
    # converges — no duplicate rows, base still carries everything
    compact_index_batches(spark, index_dir, upto_batch=2)
    idx = spark.read.parquet(index_dir)
    assert idx.count() == idx.dropDuplicates(["h", "doc_id", "blk"]).count()
    assert {
        (r.h, r.doc_id, r.blk) for r in idx.collect()
    } == before
    # and a NEW tick keeps working against the compacted base
    spark.createDataFrame(
        [(3, 500, 5, 0)], "batch long, h long, doc_id long, blk long"
    ).write.mode("append").partitionBy("batch").parquet(index_dir)
    visible = read_published(
        spark, index_dir, BLOCK_INDEX_SCHEMA, exclude_batch=3
    )
    assert visible.count() == len(before)  # own batch excluded


def test_multi_question_mark_url_in_crawl_fixture(spark):
    """The shared crawl-URL synthesizer seeds a literal '?' INSIDE a
    param value (b=x?y) on one branch, so every consumer of the fixture
    (web_url_canonical, web_domain_stats, streaming_crawl_tick,
    training_data_pipeline_v6) exercises the first-'?' rule — the r7
    canonicalization defect can no longer regress silently."""
    from dbt_repo_spark.queries import t
    from dbt_repo_spark.queries_web import _synth_urls

    urls = _synth_urls(t(spark, "/root/testdata/sf0.001", "documents"))
    multi = canonicalize_urls(
        urls.filter(F.col("url").contains("b=x?y")), "doc_id", "url"
    ).collect()
    assert multi, "fixture must contain multi-'?' URLs"
    for r in multi:
        assert r.url.count("?") == 2, r.url
        # the embedded '?' survives inside the sorted param list
        assert "b=x?y" in r.url_canon, r.url_canon
        assert r.url_canon.count("?") == 2, r.url_canon


def test_chunked_delivery_raises_documented_error(spark, tmp_path):
    """The availableNow single-batch contract is ENFORCED, not assumed.
    Spark's Python micro-batch sources FALL BACK to single-batch
    execution under availableNow, so a broker configured to chunk
    delivery (maxOffsetsPerTrigger — the real Kafka knob, mirrored by
    kafka_mirror) would silently drain only the FIRST chunk of the
    backlog: the crawl stream must reject the configuration up front
    with its documented error rather than publish a partial crawl that
    diverges from the batch oracle."""
    from dbt_repo_spark.queries_web import _synth_lines, _synth_urls
    from dbt_repo_spark.sources import kafka_mirror
    from dbt_repo_spark.streaming.crawl_stream import start_crawl_stream

    broker = kafka_mirror.build_documents_fixture("/root/testdata/sf0.001")

    def synthesize(df):
        return _synth_urls(df).join(_synth_lines(df), "doc_id")

    with pytest.raises(ValueError, match="chunked-delivery broker"):
        start_crawl_stream(
            spark,
            broker,
            str(tmp_path / "url_index"),
            str(tmp_path / "block_index"),
            str(tmp_path / "out"),
            str(tmp_path / "ckpt"),
            synthesize,
            block_tokens=10,
            source_options={"maxOffsetsPerTrigger": 4},
        )


def test_runtime_single_tick_guard():
    """The in-tick half of the contract (for a broker swap whose
    chunking is implicit): replaying the SAME batch id is idempotent
    and allowed; a SECOND distinct non-empty batch raises the
    documented error."""
    from dbt_repo_spark.streaming.crawl_stream import (
        _require_single_nonempty_tick,
    )

    seen: list[int] = []
    _require_single_nonempty_tick(seen, 0)
    _require_single_nonempty_tick(seen, 0)  # crash-replay: fine
    with pytest.raises(RuntimeError, match="more than one non-empty"):
        _require_single_nonempty_tick(seen, 1)
