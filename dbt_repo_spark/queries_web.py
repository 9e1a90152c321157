"""Web-crawl preprocessing query family (round-7 additions).

Two production shapes every crawl-derived training corpus runs BEFORE the
dedup/quality passes the repo already covers:

- C4-style line-level cleanup (Raffel et al. 2020 §2.2): terminal-
  punctuation / min-words / javascript / code-brace line filters plus the
  lorem-ipsum and min-lines document gates (`text.c4_line_cleanup`).
- URL canonicalization + domain rollup (the CCNet/RefinedWeb/FineWeb
  URL-dedup key): fragment/tracking-param stripping, case folding,
  stable param order, registered-domain extraction (`web.canonicalize_urls`,
  `web.domain_stats`).

The synthetic corpus is newline-free and URL-free, so each query first
DERIVES the structure it filters — line breaks, decorations (terminal
punctuation on ~half the lines, 1/16 javascript / code-brace / lorem
injections), and URLs (scheme/www/case/tld/trailing-slash/param-order/
fragment variants) — content-addressed from md5(doc_id, position), the
same seeded-fixture pattern as the PII and contrastive-sampling
oracles: the DuckDB SQL reproduces the synthesis bit-exactly, so the
CHECK covers the real operator logic end-to-end. On real crawl text the
synthesis stage disappears and the operators run unchanged.

Cross-engine exactness: everything here is strings, integers, and
booleans — no float columns at all.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dbt_repo_spark.operators import text as text_ops
from dbt_repo_spark.operators import web
from dbt_repo_spark.operators.dedup import tokens
from dbt_repo_spark.queries import q, scratch_dir, t
from dbt_repo_spark.sources.tick_log import publish, read_published

_LINE_TOKENS = 8

# DuckDB nibble idiom (0-15 from hex digit k of an md5): shared textual
# form so every oracle spells it identically.
_NIB = "instr('0123456789abcdef', substr(md5({key}), {pos}, 1)) - 1"


def _synth_lines(df: DataFrame) -> DataFrame:
    """Derive a newline-structured, C4-decorated corpus from `documents`.

    Lines are fixed 8-token blocks (the paragraph-dedup convention).
    Content-addressed decorations from md5(doc_id:':':line_no):
      nibble1 < 8  -> line ends with terminal '.'
      nibble2 == 0 -> line gains the token 'javascript'  (~1/16)
      nibble3 == 0 -> line gains a code brace '{'        (~1/16)
    and docs where md5(doc_id:':lorem') nibble1 == 0 are prefixed with a
    'lorem ipsum dolor sit amet.' line (~1/16 of docs).
    """
    w = tokens(F.col("text"))
    nb = F.ceil(F.size(w) / F.lit(float(_LINE_TOKENS))).cast("int")
    did = F.col("doc_id").cast("string")

    def build(i):  # i: 1-based line number (Column)
        base = F.array_join(
            F.slice(w, (i - 1) * _LINE_TOKENS + 1, _LINE_TOKENS), " "
        )
        key = F.md5(F.concat(did, F.lit(":"), i.cast("string")))

        def nib(pos):
            return F.conv(F.substring(key, pos, 1), 16, 10).cast("int")

        return F.concat(
            base,
            F.when(nib(2) == 0, F.lit(" javascript")).otherwise(F.lit("")),
            F.when(nib(3) == 0, F.lit(" {")).otherwise(F.lit("")),
            F.when(nib(1) < 8, F.lit(".")).otherwise(F.lit("")),
        )

    idx = F.when(nb >= 1, F.sequence(F.lit(1), nb)).otherwise(
        F.array().cast("array<int>")
    )
    body = F.array_join(F.transform(idx, build), "\n")
    lorem_key = F.md5(F.concat(did, F.lit(":lorem")))
    is_lorem = F.conv(F.substring(lorem_key, 1, 1), 16, 10).cast("int") == 0
    text_nl = F.when(
        is_lorem, F.concat(F.lit("lorem ipsum dolor sit amet.\n"), body)
    ).otherwise(body)
    return df.select("doc_id", text_nl.alias("text_nl"))


_C4_SYNTH_CTES = f"""
    toks AS (SELECT doc_id, list_filter(string_split(text, ' '),
                                        x -> x <> '') AS w
             FROM documents),
    sized AS (SELECT doc_id, w,
                     CAST(ceil(len(w) / {_LINE_TOKENS}.0) AS INT) AS nb
              FROM toks),
    lines AS (SELECT doc_id, i AS ln,
                     array_to_string(list_slice(w, (i-1)*{_LINE_TOKENS} + 1,
                                                i*{_LINE_TOKENS}), ' ')
                     || CASE WHEN {_NIB.format(key="doc_id || ':' || i", pos=2)} = 0
                             THEN ' javascript' ELSE '' END
                     || CASE WHEN {_NIB.format(key="doc_id || ':' || i", pos=3)} = 0
                             THEN ' {{' ELSE '' END
                     || CASE WHEN {_NIB.format(key="doc_id || ':' || i", pos=1)} < 8
                             THEN '.' ELSE '' END AS line
              FROM sized, UNNEST(range(1, nb + 1)) AS u(i)
              WHERE nb >= 1),
    body AS (SELECT doc_id, string_agg(line, chr(10) ORDER BY ln) AS b
             FROM lines GROUP BY 1),
    synth AS (SELECT s.doc_id,
                     CASE WHEN {_NIB.format(key="s.doc_id || ':lorem'", pos=1)} = 0
                          THEN 'lorem ipsum dolor sit amet.' || chr(10)
                               || COALESCE(b.b, '')
                          ELSE COALESCE(b.b, '') END AS text_nl
              FROM sized s LEFT JOIN body b USING (doc_id))
"""


@q(
    "text_c4_cleanup",
    f"""
    WITH {_C4_SYNTH_CTES},
    split AS (SELECT doc_id, text_nl,
                     string_split(text_nl, chr(10)) AS ls,
                     list_filter(string_split(text_nl, chr(10)), x ->
                         regexp_matches(x, '[.!?"]$')
                         AND len(list_filter(string_split(x, ' '), t -> t <> '')) >= 5
                         AND NOT contains(lower(x), 'javascript')
                         AND NOT contains(x, '{{')
                         AND NOT contains(x, '}}')) AS kept
              FROM synth)
    SELECT doc_id,
           CAST(len(ls) AS BIGINT) AS n_lines,
           CAST(len(kept) AS BIGINT) AS n_kept,
           contains(lower(text_nl), 'lorem ipsum') AS has_lorem,
           (len(kept) >= 3 AND NOT contains(lower(text_nl), 'lorem ipsum'))
             AS doc_kept,
           -- DuckDB's array_to_string is NULL on an empty list; Spark's
           -- array_join is '' — align on ''
           COALESCE(array_to_string(kept, chr(10)), '') AS clean_text
    FROM split
    """,
)
def text_c4_cleanup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 heuristic cleanup (text.py::c4_line_cleanup) over the
    line-decorated corpus: ~half the derived lines lack terminal
    punctuation, 1/16 carry a javascript token or a code brace, remainder
    blocks fall under the 5-word floor, and 1/16 of docs gain a
    lorem-ipsum line — so every C4 rule fires non-vacuously (the seeded
    PII pattern). Pure per-row expressions end-to-end: zero shuffles.
    """
    docs = _synth_lines(t(spark, sf_dir, "documents"))
    return text_ops.c4_line_cleanup(docs, "doc_id", "text_nl")


_URL_SYNTH_CTES = f"""
    uk AS (SELECT doc_id, source, md5(doc_id || ':url') AS k FROM documents),
    nib AS (SELECT doc_id, source,
                   {_NIB.format(key="doc_id || ':url'", pos=1)} AS m1,
                   {_NIB.format(key="doc_id || ':url'", pos=2)} AS m2,
                   {_NIB.format(key="doc_id || ':url'", pos=3)} AS m3,
                   {_NIB.format(key="doc_id || ':url'", pos=4)} AS m4,
                   {_NIB.format(key="doc_id || ':url'", pos=5)} AS m5,
                   {_NIB.format(key="doc_id || ':url'", pos=6)} AS m6,
                   {_NIB.format(key="doc_id || ':url'", pos=7)} AS m7
            FROM uk),
    urls AS (SELECT doc_id,
                    (CASE WHEN m1 < 8 THEN 'https' ELSE 'HTTP' END)
                    || '://'
                    || (CASE WHEN m2 < 8 THEN 'WWW.' ELSE '' END)
                    || (CASE WHEN m3 < 8 THEN upper(source) ELSE source END)
                    || '-site.'
                    || (['com', 'org', 'net', 'io'])[(m4 % 4) + 1]
                    || '/docs/' || (doc_id % 25)
                    || (CASE WHEN m5 < 8 THEN '/' ELSE '' END)
                    || '?'
                    || (CASE WHEN m6 < 8 THEN 'utm_source=feed&b=2&a=1'
                             ELSE 'a=1&b=x?y&utm_campaign=x' END)
                    || (CASE WHEN m7 < 8 THEN '#top' ELSE '' END) AS url
             FROM nib),
    canon AS (SELECT doc_id, url,
                     'https://' || host || path
                     || (CASE WHEN len(kept) > 0
                              THEN '?' || array_to_string(kept, '&')
                              ELSE '' END) AS url_canon,
                     CASE WHEN regexp_matches(host,
                            '\\.(co|com|org|net|ac|gov|edu)\\.(uk|au|jp|nz|br|in|za|kr|mx|id)$')
                          THEN regexp_extract(host,
                                 '([^.]+\\.[^.]+\\.[^.]+)$', 1)
                          ELSE regexp_extract(host, '([^.]+\\.[^.]+)$', 1)
                     END AS domain
              FROM (SELECT doc_id, url,
                           regexp_replace(lower(regexp_extract(base,
                               '^[a-zA-Z]+://([^/]+)', 1)), '^www\\.', '')
                             AS host,
                           regexp_replace(regexp_extract(base,
                               '^[a-zA-Z]+://[^/]*(/.*)?$', 1), '/$', '')
                             AS path,
                           list_sort(list_filter(string_split(
                               CASE WHEN contains(nofrag, '?')
                                    THEN regexp_extract(nofrag,
                                        '^[^?]*\\?(.*)$', 1)
                                    ELSE '' END, '&'),
                               p -> p <> '' AND NOT regexp_matches(p,
                                   '^(utm_[a-z]+|fbclid|gclid|msclkid|ref)=')))
                             AS kept
                    FROM (SELECT doc_id, url,
                                 split_part(url, '#', 1) AS nofrag,
                                 split_part(split_part(url, '#', 1), '?', 1)
                                   AS base
                          FROM urls)))
"""


def _synth_urls(df: DataFrame) -> DataFrame:
    """Derive one crawl-shaped URL per document, content-addressed from
    md5(doc_id:':url'): scheme case, a www. prefix, host case, one of 4
    TLDs, a doc_id%25 path (seeding genuine canonical collisions),
    a trailing slash, scrambled param order with tracking params, and a
    fragment — every variant the canonicalizer must collapse."""
    k = F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":url")))

    def nib(pos):
        return F.conv(F.substring(k, pos, 1), 16, 10).cast("int")

    url = F.concat(
        F.when(nib(1) < 8, F.lit("https")).otherwise(F.lit("HTTP")),
        F.lit("://"),
        F.when(nib(2) < 8, F.lit("WWW.")).otherwise(F.lit("")),
        F.when(nib(3) < 8, F.upper("source")).otherwise(F.col("source")),
        F.lit("-site."),
        F.element_at(
            F.array(F.lit("com"), F.lit("org"), F.lit("net"), F.lit("io")),
            (nib(4) % 4) + 1,
        ),
        F.lit("/docs/"),
        (F.col("doc_id") % 25).cast("string"),
        F.when(nib(5) < 8, F.lit("/")).otherwise(F.lit("")),
        F.lit("?"),
        # the second branch carries a literal '?' INSIDE a param value:
        # the multi-'?' regression fixture (r8 verdict ask #6) — params
        # are everything after the FIRST '?', so 'b=x?y' must survive
        # canonicalization intact on both engines
        F.when(nib(6) < 8, F.lit("utm_source=feed&b=2&a=1")).otherwise(
            F.lit("a=1&b=x?y&utm_campaign=x")
        ),
        F.when(nib(7) < 8, F.lit("#top")).otherwise(F.lit("")),
    )
    return df.select("doc_id", url.alias("url"))


@q(
    "web_url_canonical",
    f"""
    WITH {_URL_SYNTH_CTES}
    SELECT doc_id, url, url_canon, domain FROM canon
    """,
)
def web_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization (web.py::canonicalize_urls) over the
    synthesized crawl URLs: collapses scheme/www/case/trailing-slash/
    param-order/tracking/fragment variants to one stable dedup key and
    extracts the registered domain. Per-row expressions only — no
    shuffle, runs at scan speed at 100 TB.
    """
    urls = _synth_urls(t(spark, sf_dir, "documents"))
    return web.canonicalize_urls(urls, "doc_id", "url")


@q(
    "web_domain_stats",
    f"""
    WITH {_URL_SYNTH_CTES},
    per_key AS (SELECT domain, url_canon, COUNT(*) AS c
                FROM canon GROUP BY 1, 2)
    SELECT domain,
           CAST(SUM(c) AS BIGINT) AS n_urls,
           CAST(COUNT(*) AS BIGINT) AS n_canon,
           CAST(SUM(c) - COUNT(*) AS BIGINT) AS n_dup
    FROM per_key GROUP BY 1
    """,
)
def web_domain_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain rollup (web.py::domain_stats): URL mass, distinct
    canonical keys, and the dup mass canonicalization recovered — the
    relation source-mixing decisions read. Two partial-aggregable
    hash-aggs; doc_id%25 path collisions make n_dup non-vacuous.
    """
    urls = _synth_urls(t(spark, sf_dir, "documents"))
    return web.domain_stats(web.canonicalize_urls(urls, "doc_id", "url"))


_V6_ORACLE = f"""
    WITH {_URL_SYNTH_CTES},
    owner AS (SELECT url_canon, MIN(doc_id) AS doc_id FROM canon GROUP BY 1),
    urlkept AS (SELECT doc_id FROM owner),
    {_C4_SYNTH_CTES.lstrip()},
    c4 AS (SELECT doc_id,
                  contains(lower(text_nl), 'lorem ipsum') AS has_lorem,
                  list_filter(string_split(text_nl, chr(10)), x ->
                      regexp_matches(x, '[.!?"]$')
                      AND len(list_filter(string_split(x, ' '), t -> t <> '')) >= 5
                      AND NOT contains(lower(x), 'javascript')
                      AND NOT contains(x, '{{')
                      AND NOT contains(x, '}}')) AS kept
           FROM synth s
           WHERE doc_id IN (SELECT doc_id FROM urlkept)),
    surv AS (SELECT doc_id,
                    replace(COALESCE(array_to_string(kept, chr(10)), ''),
                            chr(10), ' ') AS ct
             FROM c4
             WHERE len(kept) >= 3 AND NOT has_lorem),
    ptoks AS (SELECT doc_id, list_filter(string_split(ct, ' '),
                                         x -> x <> '') AS w
              FROM surv),
    psized AS (SELECT doc_id, w,
                      CAST(ceil(len(w) / 10.0) AS INT) AS nb FROM ptoks),
    pblocks AS (SELECT doc_id, i AS blk,
                       array_to_string(list_slice(w, (i-1)*10 + 1, i*10), ' ')
                         AS p
                FROM psized, UNNEST(range(1, nb + 1)) AS u(i)
                WHERE nb >= 1),
    powner AS (SELECT p, min(struct_pack(d := doc_id, b := blk)) AS o
               FROM pblocks GROUP BY 1),
    pkept AS (SELECT b.doc_id, b.blk, b.p
              FROM pblocks b JOIN powner ow USING (p)
              WHERE b.doc_id = ow.o.d AND b.blk = ow.o.b),
    rebuilt AS (SELECT doc_id, COUNT(*) AS n_kept,
                       string_agg(p, ' ' ORDER BY blk) AS tr
                FROM pkept GROUP BY 1),
    final AS (SELECT s.doc_id, s.nb,
                     COALESCE(r.n_kept, 0) AS n_kept,
                     COALESCE(r.tr, '') AS tr
              FROM psized s LEFT JOIN rebuilt r USING (doc_id)),
    perdoc AS (
      SELECT d.doc_id, d.source,
             (u.doc_id IS NULL) AS url_dropped,
             (u.doc_id IS NOT NULL AND f.doc_id IS NULL) AS c4_dropped,
             f.nb, f.n_kept, length(f.tr) AS n_chars
      FROM documents d
      LEFT JOIN urlkept u USING (doc_id)
      LEFT JOIN final f USING (doc_id))
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN url_dropped THEN 1 ELSE 0 END) AS BIGINT)
             AS n_url_dup,
           CAST(SUM(CASE WHEN c4_dropped THEN 1 ELSE 0 END) AS BIGINT)
             AS n_c4_dropped,
           CAST(SUM(CASE WHEN nb IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_final,
           CAST(COALESCE(SUM(nb), 0) AS BIGINT) AS n_blocks,
           CAST(COALESCE(SUM(n_kept), 0) AS BIGINT) AS n_blocks_kept,
           CAST(COALESCE(SUM(n_chars), 0) AS BIGINT) AS n_chars_final
    FROM perdoc GROUP BY source
"""


@q("training_data_pipeline_v6", _V6_ORACLE)
def training_data_pipeline_v6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed CRAWL preprocessing tick (v6): the nightly pass a
    web-crawl corpus runs BEFORE the v1-v5 pipelines see it —
    URL-level exact dedup on the canonical key (keep-first by doc_id),
    C4 line cleanup + doc gates on the survivors, cross-document exact
    paragraph dedup with rewrite on the cleaned text, folded to one
    certified per-source audit row (url-dup mass, C4 drop mass,
    surviving block/char mass).

    Scale shape: the URL and C4 stages are per-row expressions (zero
    shuffles); the paragraph stage shuffles once on the block key with
    the partial-aggregable min(struct) owner fold; the audit is one
    hash-agg. Working sets that feed two consumers (survivors feed both
    the paragraph stage and the audit join) are persisted, the v2/v3
    lesson. All output columns are integers — no float caveats.
    """
    from pyspark import StorageLevel

    docs = t(spark, sf_dir, "documents")
    urls = web.canonicalize_urls(_synth_urls(docs), "doc_id", "url")
    url_owner = urls.groupBy("url_canon").agg(F.min("doc_id").alias("doc_id"))
    url_kept = url_owner.select("doc_id").persist(StorageLevel.MEMORY_AND_DISK)

    from dbt_repo_spark.operators.dedup import paragraph_dedup_rewrite

    c4 = text_ops.c4_line_cleanup(
        _synth_lines(docs.join(url_kept, "doc_id", "left_semi")),
        "doc_id",
        "text_nl",
    )
    surv = (
        c4.filter(F.col("doc_kept"))
        .select(
            "doc_id",
            F.regexp_replace("clean_text", "\n", " ").alias("ct"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    rewritten = paragraph_dedup_rewrite(surv, "doc_id", "ct", block_tokens=10)

    perdoc = (
        docs.select("doc_id", "source")
        .join(url_kept.withColumn("__u", F.lit(1)), "doc_id", "left")
        .join(
            rewritten.select(
                "doc_id",
                F.col("n_blocks").alias("nb"),
                F.col("n_kept"),
                F.length("text_rewritten").alias("n_chars"),
            ),
            "doc_id",
            "left",
        )
    )
    return perdoc.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(F.when(F.col("__u").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_url_dup"),
        F.sum(
            F.when(F.col("__u").isNotNull() & F.col("nb").isNull(), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_c4_dropped"),
        F.sum(F.when(F.col("nb").isNotNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_final"),
        F.coalesce(F.sum("nb"), F.lit(0)).cast("long").alias("n_blocks"),
        F.coalesce(F.sum("n_kept"), F.lit(0)).cast("long").alias("n_blocks_kept"),
        F.coalesce(F.sum("n_chars"), F.lit(0)).cast("long").alias("n_chars_final"),
    )


_CRAWL_STREAM_ORACLE = f"""
    WITH thr AS (SELECT CAST(floor(COUNT(*) * 0.8) AS BIGINT) AS t
                 FROM documents),
    {_URL_SYNTH_CTES.lstrip()},
    corpus_keys AS (SELECT DISTINCT url_canon FROM canon, thr
                    WHERE doc_id < thr.t),
    batch_fresh AS (SELECT c.url_canon, c.doc_id FROM canon c, thr
                    WHERE c.doc_id >= thr.t
                      AND c.url_canon NOT IN (SELECT url_canon
                                              FROM corpus_keys)),
    batch_admit AS (SELECT url_canon, MIN(doc_id) AS doc_id
                    FROM batch_fresh GROUP BY 1),
    corpus_admit AS (SELECT url_canon, MIN(doc_id) AS doc_id
                     FROM (SELECT c.url_canon, c.doc_id FROM canon c, thr
                           WHERE c.doc_id < thr.t) GROUP BY 1),
    {_C4_SYNTH_CTES.lstrip()},
    c4 AS (SELECT doc_id,
                  contains(lower(text_nl), 'lorem ipsum') AS has_lorem,
                  list_filter(string_split(text_nl, chr(10)), x ->
                      regexp_matches(x, '[.!?"]$')
                      AND len(list_filter(string_split(x, ' '), t -> t <> '')) >= 5
                      AND NOT contains(lower(x), 'javascript')
                      AND NOT contains(x, '{{')
                      AND NOT contains(x, '}}')) AS kept
           FROM synth),
    surv AS (SELECT doc_id,
                    replace(COALESCE(array_to_string(kept, chr(10)), ''),
                            chr(10), ' ') AS ct
             FROM c4
             WHERE len(kept) >= 3 AND NOT has_lorem),
    surv_corpus AS (SELECT s.doc_id, s.ct FROM surv s
                    WHERE s.doc_id IN (SELECT doc_id FROM corpus_admit)),
    surv_batch AS (SELECT s.doc_id, s.ct FROM surv s
                   WHERE s.doc_id IN (SELECT doc_id FROM batch_admit)),
    ctoks AS (SELECT doc_id, list_filter(string_split(ct, ' '),
                                         x -> x <> '') AS w
              FROM surv_corpus),
    cblocks AS (SELECT DISTINCT array_to_string(
                         list_slice(w, (i-1)*10 + 1, i*10), ' ') AS p
                FROM (SELECT doc_id, w,
                             CAST(ceil(len(w) / 10.0) AS INT) AS nb
                      FROM ctoks),
                     UNNEST(range(1, nb + 1)) AS u(i)
                WHERE nb >= 1),
    btoks AS (SELECT doc_id, list_filter(string_split(ct, ' '),
                                         x -> x <> '') AS w
              FROM surv_batch),
    bsized AS (SELECT doc_id, w,
                      CAST(ceil(len(w) / 10.0) AS INT) AS nb FROM btoks),
    bblocks AS (SELECT doc_id, i AS blk,
                       array_to_string(list_slice(w, (i-1)*10 + 1, i*10),
                                       ' ') AS p
                FROM bsized, UNNEST(range(1, nb + 1)) AS u(i)
                WHERE nb >= 1),
    bowner AS (SELECT p, min(struct_pack(d := doc_id, b := blk)) AS o
               FROM bblocks GROUP BY 1),
    bkept AS (SELECT b.doc_id, b.blk, b.p
              FROM bblocks b JOIN bowner ow USING (p)
              WHERE b.doc_id = ow.o.d AND b.blk = ow.o.b
                AND b.p NOT IN (SELECT p FROM cblocks)),
    rebuilt AS (SELECT doc_id, COUNT(*) AS n_kept,
                       string_agg(p, ' ' ORDER BY blk) AS text_rewritten
                FROM bkept GROUP BY 1)
    SELECT s.doc_id, CAST(s.nb AS BIGINT) AS n_blocks,
           CAST(COALESCE(r.n_kept, 0) AS BIGINT) AS n_kept,
           COALESCE(r.text_rewritten, '') AS text_rewritten
    FROM bsized s LEFT JOIN rebuilt r USING (doc_id)
"""


@q("streaming_crawl_tick", _CRAWL_STREAM_ORACLE)
def streaming_crawl_tick(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LIVE streaming twin of the composed crawl tick
    (streaming/crawl_stream.py): the last 20% of documents arrive over
    the Kafka wire shape (every record delivered TWICE — at-least-once
    bus), and each foreachBatch tick runs URL-canonical dedup against a
    persisted key index, C4 cleanup, and incremental paragraph rewrite
    against a persisted block index — all three relations seeded from
    the corpus 80% at batch=-1 and extended under idempotent batch
    partitions. The published output must EQUAL the batch computation —
    the oracle composes the URL/C4 synthesis with the corpus/batch
    threshold split, so a full rows+schema+hash match proves the wire
    parse, all three index reads, the at-least-once collapse, and the
    idempotent publish end to end.
    """
    from dbt_repo_spark.operators.dedup import paragraph_block_index
    from dbt_repo_spark.sources import kafka_mirror
    from dbt_repo_spark.streaming.crawl_stream import start_crawl_stream

    broker = kafka_mirror.build_documents_fixture(sf_dir)

    def synthesize(df: DataFrame) -> DataFrame:
        return _synth_urls(df).join(_synth_lines(df), "doc_id")

    with scratch_dir("stream_crawl_") as work:
        url_index_dir = f"{work}/url_index"
        block_index_dir = f"{work}/block_index"
        out_dir = f"{work}/out"
        # corpus seed (batch=-1): the 80% that went through the same
        # pipeline historically — its canonical KEYS and the block owners
        # of its URL-deduped, C4-cleaned survivors
        docs = t(spark, sf_dir, "documents")
        thr = docs.agg(F.floor(F.count("*") * 0.8).cast("long").alias("thr"))
        corpus = docs.join(F.broadcast(thr)).filter(F.col("doc_id") < F.col("thr"))
        ccanon = web.canonicalize_urls(_synth_urls(corpus), "doc_id", "url")
        publish(ccanon.select("url_canon").distinct(), url_index_dir, -1)
        cadmit = ccanon.groupBy("url_canon").agg(F.min("doc_id").alias("doc_id"))
        csurv = (
            text_ops.c4_line_cleanup(
                _synth_lines(
                    corpus.join(cadmit.select("doc_id"), "doc_id", "left_semi")
                ),
                "doc_id",
                "text_nl",
            )
            .filter(F.col("doc_kept"))
            .select(
                "doc_id", F.regexp_replace("clean_text", "\n", " ").alias("ct")
            )
        )
        publish(
            paragraph_block_index(csurv, "doc_id", "ct", 10), block_index_dir, -1
        )

        q_ = start_crawl_stream(
            spark,
            broker,
            url_index_dir,
            block_index_dir,
            out_dir,
            f"{work}/ckpt",
            synthesize,
            block_tokens=10,
        )
        q_.awaitTermination()
        # Explicit schema: a tick whose batch is ENTIRELY url-duplicate
        # (possible at high corpus density — sf0.1's synthetic key space
        # saturates at ~|sources|x100 canonical keys, so the 20% tail adds
        # no fresh key) publishes zero rows, and a schema-less empty
        # partition dir must read as an empty relation, matching the batch
        # oracle's zero-row result instead of UNABLE_TO_INFER_SCHEMA.
        out = (
            spark.read.schema(
                "doc_id long, n_blocks long, n_kept long, text_rewritten string"
            )
            .parquet(out_dir)
            .select("doc_id", "n_blocks", "n_kept", "text_rewritten")
        )
        return out.localCheckpoint(eager=True)


# Unicode decorations for text_unicode_normalize, content-addressed from
# md5(doc_id:':uni') — each class of crawl noise the normalizer must
# collapse appears on a deterministic fixture slice (DuckDB spells the
# same characters as chr(codepoint)):
#   nibble1 == 0 -> prepend decomposed 'Cafe'+U+0301 (NFC composes it)
#   nibble2 <  4 -> append tab + double-space + uppercase tail
#   nibble3 == 0 -> append U+3000 ideographic space + 'STRASSE ß'
#   nibble4 == 0 -> prepend the control byte \x07
#   nibble5 <  8 -> append ' MiXeD' (case folding)
def _synth_unicode(df: DataFrame) -> DataFrame:
    k = F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":uni")))

    def nib(pos):
        return F.conv(F.substring(k, pos, 1), 16, 10).cast("int")

    text2 = F.concat(
        F.when(nib(4) == 0, F.lit("\x07")).otherwise(F.lit("")),
        F.when(nib(1) == 0, F.lit("Cafe\u0301 ")).otherwise(F.lit("")),
        F.col("text"),
        F.when(nib(2) < 4, F.lit(" \t Trailing  DOUBLE")).otherwise(F.lit("")),
        F.when(nib(3) == 0, F.lit("\u3000STRASSE ß")).otherwise(F.lit("")),
        F.when(nib(5) < 8, F.lit(" MiXeD")).otherwise(F.lit("")),
    )
    return df.select("doc_id", text2.alias("text_uni"))


_UNI_NIB = "instr('0123456789abcdef', substr(md5(doc_id || ':uni'), {pos}, 1)) - 1"

_UNI_SQL = f"""
    WITH synth AS (SELECT doc_id,
             (CASE WHEN {_UNI_NIB.format(pos=4)} = 0 THEN chr(7) ELSE '' END)
             || (CASE WHEN {_UNI_NIB.format(pos=1)} = 0
                      THEN 'Cafe' || chr(769) || ' ' ELSE '' END)
             || text
             || (CASE WHEN {_UNI_NIB.format(pos=2)} < 4
                      THEN ' ' || chr(9) || ' Trailing  DOUBLE' ELSE '' END)
             || (CASE WHEN {_UNI_NIB.format(pos=3)} = 0
                      THEN chr(12288) || 'STRASSE ß' ELSE '' END)
             || (CASE WHEN {_UNI_NIB.format(pos=5)} < 8
                      THEN ' MiXeD' ELSE '' END) AS t
           FROM documents),
    normed AS (SELECT doc_id, t,
             trim(regexp_replace(
               lower(nfc_normalize(
                 regexp_replace(t, '[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f\\x7f]',
                                '', 'g'))),
               '[ \\t\\n\\r\\x{{000b}}\\x{{000c}}\\x{{00a0}}\\x{{3000}}]+',
               ' ', 'g'), ' ') AS text_norm
           FROM synth)
    SELECT doc_id, text_norm,
           CAST(length(t) AS BIGINT) AS n_chars_raw,
           CAST(length(text_norm) AS BIGINT) AS n_chars_norm,
           (t <> text_norm) AS changed
    FROM normed
"""


@q("text_unicode_normalize", _UNI_SQL)
def text_unicode_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode NFC normalization (text.py::normalize_text) over the
    unicode-decorated corpus: decomposed accents compose, control bytes
    strip, NBSP/ideographic-space/tab runs collapse, case folds to
    lower — every decoration class fires on a deterministic fixture
    slice, so ``changed`` is non-vacuous in both directions. The
    normalizer is a sanctioned Arrow mapInPandas seam (unicodedata lives
    in the Python stdlib, not in Spark's expression library); the oracle
    reproduces the decoration AND the normalization chain with DuckDB's
    nfc_normalize + RE2 classes (explicit whitespace class — RE2's \\s
    is ASCII-only, which is why NORM_WS_CLASS is spelled out once and
    shared)."""
    docs = _synth_unicode(t(spark, sf_dir, "documents"))
    return text_ops.normalize_text(docs, "doc_id", "text_uni")


@q(
    "dedup_index_compaction",
    """
    WITH thr AS (SELECT CAST(floor(COUNT(*) * 0.75) AS BIGINT) AS t
                 FROM documents),
    toks AS (SELECT doc_id, list_filter(string_split(text, ' '),
                                        x -> x <> '') AS w
             FROM documents),
    sized AS (SELECT doc_id, w,
                     CAST(ceil(len(w) / 10.0) AS INT) AS nb FROM toks),
    blocks AS (SELECT doc_id, i AS blk,
                      array_to_string(list_slice(w, (i-1)*10 + 1, i*10), ' ')
                        AS p
               FROM sized, UNNEST(range(1, nb + 1)) AS u(i)
               WHERE nb >= 1),
    corpus_p AS (SELECT DISTINCT p FROM blocks, thr WHERE doc_id < thr.t),
    bblocks AS (SELECT b.doc_id, b.blk, b.p FROM blocks b, thr
                WHERE b.doc_id >= thr.t),
    owner AS (SELECT p, min(struct_pack(d := doc_id, b := blk)) AS o
              FROM bblocks GROUP BY 1),
    kept AS (SELECT b.doc_id, b.blk, b.p
             FROM bblocks b JOIN owner ow USING (p)
             WHERE b.doc_id = ow.o.d AND b.blk = ow.o.b
               AND b.p NOT IN (SELECT p FROM corpus_p)),
    rebuilt AS (SELECT doc_id, COUNT(*) AS n_kept,
                       string_agg(p, ' ' ORDER BY blk) AS text_rewritten
                FROM kept GROUP BY 1)
    SELECT s.doc_id, CAST(s.nb AS BIGINT) AS n_blocks,
           CAST(COALESCE(r.n_kept, 0) AS BIGINT) AS n_kept,
           COALESCE(r.text_rewritten, '') AS text_rewritten
    FROM (SELECT sized.doc_id, sized.nb FROM sized, thr
          WHERE sized.doc_id >= thr.t) s
    LEFT JOIN rebuilt r USING (doc_id)
    """,
)
def dedup_index_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index-compaction tick (streaming/dedup_stream.py::
    compact_index_batches): the paragraph block index is built the way
    the stream builds it — three tick batches (doc_id quartiles 1-3,
    each upserting only the hashes it introduces, one ``batch=<id>``
    partition each) — then COMPACTED into one base partition, and the
    last quartile rewrites against the compacted index. The result must
    equal a plain incremental rewrite against the first 75% (the
    oracle), which proves the fold preserved exactly the hash set while
    collapsing 4 partitions to 1 — the small-files maintenance pass a
    per-tick-partitioned index needs at 100 TB.
    """
    from dbt_repo_spark.operators.dedup import (
        incremental_paragraph_rewrite,
        paragraph_index_additions,
    )
    from dbt_repo_spark.streaming.dedup_stream import (
        BLOCK_INDEX_SCHEMA,
        compact_index_batches,
    )

    docs = t(spark, sf_dir, "documents")
    n = docs.count()
    bounds = [0, int(n * 0.25), int(n * 0.5), int(n * 0.75)]
    with scratch_dir("index_compact_") as work:
        index_dir = f"{work}/index"
        for i in range(3):
            lo, hi = bounds[i], bounds[i + 1]
            tick_docs = docs.filter(
                (F.col("doc_id") >= lo) & (F.col("doc_id") < hi)
            )
            seen = read_published(spark, index_dir, BLOCK_INDEX_SCHEMA, i)
            publish(
                paragraph_index_additions(seen, tick_docs, "doc_id", "text", 10),
                index_dir,
                i,
            )
        removed = compact_index_batches(spark, index_dir, upto_batch=2)
        if removed != 3:
            raise RuntimeError(
                f"expected 3 folded tick partitions, got {removed}"
            )

        batch = docs.filter(F.col("doc_id") >= bounds[3])
        idx = read_published(spark, index_dir, BLOCK_INDEX_SCHEMA, 10**9)
        out = incremental_paragraph_rewrite(batch, idx, "doc_id", "text", 10)
        return out.localCheckpoint(eager=True)
