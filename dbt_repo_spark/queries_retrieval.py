"""Hybrid-retrieval & substring-dedup query family (round-5 additions).

Completes the retrieval story the corpus already tells half of: TF-IDF
weighs terms per doc (``text_tfidf_topk``), dense ANN ranks by embedding
(``embed_*_topk``) — this family adds the lexical *query* ranker (Okapi
BM25), the lexical+dense hybrid fusion every RAG stack runs (reciprocal-
rank fusion), the character-entropy gibberish gate, and exact-duplicated
substring SPANS (the offsets Lee et al. 2022's suffix-array dedup cuts,
where ``text_dup_passages`` only reports per-doc fractions).

All four carry full DuckDB oracles. Cross-engine float determinism
follows the queries.py module-doc recipes: transcendental per-term
contributions round to 9 dp and accumulate as DECIMAL(20,9) (order-
independent exact sums); RRF scores are sums of exact reciprocals of
integers in fixed textual order (bit-identical, no rounding); span
arithmetic is all-integer. SQL float literals are CAST(... AS DOUBLE)
so DuckDB's decimal-literal default can't change the arithmetic type.

Registered into the shared QUERIES/ORACLES maps (imported from
``dbt_repo_spark.queries`` at the bottom of that module, after the
other extension families so new names sort last in registry order).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from dbt_repo_spark.operators import dedup, retrieval, similarity, text
from dbt_repo_spark.queries import q, scratch_dir, t
from dbt_repo_spark.sources.tick_log import publish

# Query workload: every 50th doc (offset 7 keeps the sf0.001 query doc
# non-trivial) — 1 query doc at sf0.001, 10 at sf0.01, ~100 at sf0.1.
_QUERY_MOD, _QUERY_OFF = 50, 7

_BM25_CTES = """
    tok AS (SELECT doc_id, (doc_id % 50 = 7) AS is_q,
                   unnest(list_filter(string_split(text, ' '),
                                      x -> x <> '')) AS term
            FROM documents),
    qterms AS (SELECT DISTINCT doc_id AS query_id, term FROM tok WHERE is_q),
    ctf AS (SELECT doc_id, term, COUNT(*) AS tf
            FROM tok WHERE NOT is_q GROUP BY 1, 2),
    dl AS (SELECT doc_id, SUM(tf) AS dl FROM ctf GROUP BY 1),
    stats AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS total_dl FROM dl),
    dfreq AS (SELECT term, COUNT(*) AS dfreq FROM ctf GROUP BY 1),
    scored AS (
      SELECT qt.query_id, c.doc_id,
             ln(1 + (s.n_docs - d.dfreq + CAST(0.5 AS DOUBLE))
                    / (d.dfreq + CAST(0.5 AS DOUBLE)))
             * (c.tf * CAST(2.2 AS DOUBLE))
             / (c.tf + CAST(1.2 AS DOUBLE)
                * (CAST(0.25 AS DOUBLE)
                   + CAST(0.75 AS DOUBLE) * (l.dl / (s.total_dl / s.n_docs))))
               AS contrib
      FROM ctf c JOIN qterms qt USING (term) JOIN dfreq d USING (term)
           JOIN dl l ON c.doc_id = l.doc_id CROSS JOIN stats s),
    bm_agg AS (SELECT query_id, doc_id,
                      SUM(CAST(round(contrib, 9) AS DECIMAL(20,9))) AS sd
               FROM scored GROUP BY 1, 2),
    bm_rank AS (SELECT query_id, doc_id, sd,
                       row_number() OVER (PARTITION BY query_id
                                          ORDER BY sd DESC, doc_id) AS bm_rn
                FROM bm_agg)
"""


@q(
    "text_bm25_topk",
    f"""
    WITH {_BM25_CTES}
    SELECT query_id, doc_id, CAST(sd AS DOUBLE) AS score,
           CAST(bm_rn AS BIGINT) AS rank
    FROM bm_rank WHERE bm_rn <= 5
    """,
)
def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 lexical retrieval (retrieval.py::bm25_topk): every 50th
    doc plays a query against the rest of the corpus; top-5 by the
    DECIMAL-exact BM25 sum. Query terms broadcast against corpus
    (doc, term) frequencies — inverted-index-probe asymptotics, no
    corpus product.
    """
    docs = t(spark, sf_dir, "documents")
    return retrieval.bm25_topk(
        docs, F.col("doc_id") % _QUERY_MOD == _QUERY_OFF, k=5
    )


@q(
    "retrieval_rank_fusion",
    f"""
    WITH {_BM25_CTES},
    bm20 AS (SELECT query_id, doc_id, bm_rn FROM bm_rank WHERE bm_rn <= 20),
    e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v0 FROM embeddings),
    nr AS (SELECT vec_id, sqrt(list_dot_product(v0, v0)) AS nrm, v0 FROM e0),
    e AS (SELECT vec_id, list_transform(v0, x -> x / nrm) AS v FROM nr),
    cq AS (SELECT vec_id, v FROM e WHERE vec_id % 50 = 7),
    cc AS (SELECT vec_id, v FROM e WHERE vec_id % 50 <> 7),
    cs AS (SELECT cq.vec_id AS query_id, cc.vec_id AS doc_id,
                  list_dot_product(cq.v, cc.v) AS raw
           FROM cq CROSS JOIN cc),
    cr AS (SELECT query_id, doc_id,
                  row_number() OVER (PARTITION BY query_id
                                     ORDER BY raw DESC, doc_id) AS cos_rn
           FROM cs),
    cr20 AS (SELECT query_id, doc_id, cos_rn FROM cr WHERE cos_rn <= 20),
    fused AS (
      SELECT COALESCE(b.query_id, c.query_id) AS query_id,
             COALESCE(b.doc_id, c.doc_id) AS doc_id,
             CAST(b.bm_rn AS BIGINT) AS rank_bm25,
             CAST(c.cos_rn AS BIGINT) AS rank_cos,
             COALESCE(CAST(1.0 AS DOUBLE) / (60 + b.bm_rn),
                      CAST(0 AS DOUBLE))
             + COALESCE(CAST(1.0 AS DOUBLE) / (60 + c.cos_rn),
                        CAST(0 AS DOUBLE)) AS rrf_score
      FROM bm20 b FULL OUTER JOIN cr20 c
        ON b.query_id = c.query_id AND b.doc_id = c.doc_id)
    SELECT query_id, doc_id, rank_bm25, rank_cos, rrf_score,
           CAST(fr AS BIGINT) AS fused_rank
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY rrf_score DESC, doc_id) AS fr
          FROM fused)
    WHERE fr <= 10
    """,
)
def retrieval_rank_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid search: BM25 (documents) + exact cosine (embeddings, ids
    aligned doc_id=vec_id) fused by reciprocal-rank fusion
    (retrieval.py::rrf_fuse, k0=60 — the Cormack et al. constant).
    RRF needs only the two rank columns, so the fusion is a (query, doc)
    keyed outer join of two 20-row-per-query relations — tiny no matter
    the corpus size; each leg keeps its own scale shape (broadcast
    probe / brute-force scoring here, swappable for the ANN path).
    """
    docs = t(spark, sf_dir, "documents")
    emb = t(spark, sf_dir, "embeddings")
    pred = F.col("doc_id") % _QUERY_MOD == _QUERY_OFF
    bm = retrieval.bm25_topk(docs, pred, k=20)
    corpus = similarity._normalized(
        emb.filter(F.col("vec_id") % _QUERY_MOD != _QUERY_OFF),
        "doc_id", "cv", "vec_id", "embedding",
    )
    qs = similarity._normalized(
        emb.filter(F.col("vec_id") % _QUERY_MOD == _QUERY_OFF),
        "query_id", "qv", "vec_id", "embedding",
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("raw").desc(), F.col("doc_id").asc()
    )
    cos = (
        corpus.crossJoin(F.broadcast(qs))
        .withColumn("raw", similarity.dot(F.col("qv"), F.col("cv")))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 20)
        .select("query_id", "doc_id", "rank")
    )
    return (
        retrieval.rrf_fuse(bm, cos, k=10, k0=60)
        .withColumnRenamed("rank_a", "rank_bm25")
        .withColumnRenamed("rank_b", "rank_cos")
    )


@q(
    "text_char_entropy",
    """
    WITH base AS (SELECT doc_id, text AS tx FROM documents),
    chars AS (SELECT doc_id, substr(tx, i, 1) AS ch
              FROM base, UNNEST(range(1, length(tx) + 1)) AS u(i)
              WHERE length(tx) >= 1),
    cnt AS (SELECT doc_id, ch, COUNT(*) AS c FROM chars GROUP BY 1, 2),
    per_doc AS (SELECT doc_id, SUM(c) AS n_chars,
                       COUNT(*) AS n_distinct_chars,
                       CAST(SUM(CAST(round(c * ln(c), 9) AS DECIMAL(20,9)))
                            AS DOUBLE) AS s
                FROM cnt GROUP BY 1)
    SELECT b.doc_id,
           CAST(COALESCE(p.n_chars, 0) AS BIGINT) AS n_chars,
           CAST(COALESCE(p.n_distinct_chars, 0) AS BIGINT)
             AS n_distinct_chars,
           round(ln(p.n_chars) - p.s / p.n_chars, 9) AS entropy,
           round(ln(p.n_chars) - p.s / p.n_chars, 9) < CAST(2.5 AS DOUBLE)
             AS is_low_entropy
    FROM base b LEFT JOIN per_doc p USING (doc_id)
    """,
)
def text_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon character entropy per doc (text.py::char_entropy) — the
    below-token gibberish/spam gate (mono-char runs and template spam
    score low where token-level quality rules can't see them). H =
    ln(n) - (1/n)*sum(c*ln c) with the float sum DECIMAL-exact.
    """
    docs = t(spark, sf_dir, "documents")
    return text.char_entropy(docs, "doc_id", "text", low_threshold=2.5)


@q(
    "dedup_substring_spans",
    """
    WITH toks AS (SELECT doc_id, list_filter(string_split(text, ' '),
                                             x -> x <> '') AS w
                  FROM documents),
    pos AS (SELECT doc_id, s.pos AS pos, s.g AS g
            FROM (SELECT doc_id,
                         unnest(list_transform(range(1, len(w) - 3),
                           i -> struct_pack(pos := i,
                                  g := array_to_string(
                                         list_slice(w, i, i + 4), ' ')))) AS s
                  FROM toks WHERE len(w) >= 5)),
    occ AS (SELECT g, COUNT(*) AS occ FROM pos GROUP BY 1),
    dup AS (SELECT doc_id, pos FROM pos JOIN occ USING (g) WHERE occ >= 2),
    isl AS (SELECT doc_id, pos,
                   CASE WHEN lag(pos) OVER w IS NULL
                          OR pos - lag(pos) OVER w > 5
                        THEN 1 ELSE 0 END AS new_island
            FROM dup WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
    grpd AS (SELECT doc_id, pos,
                    SUM(new_island) OVER (
                      PARTITION BY doc_id ORDER BY pos
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                      AS grp
             FROM isl)
    SELECT doc_id,
           CAST(MIN(pos) AS BIGINT) AS span_start,
           CAST(MAX(pos) + 4 AS BIGINT) AS span_end,
           CAST(MAX(pos) + 4 - MIN(pos) + 1 AS BIGINT) AS span_tokens,
           COUNT(*) AS n_dup_grams
    FROM grpd GROUP BY doc_id, grp
    """,
)
def dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal exact-duplicated 5-gram spans with token offsets
    (dedup.py::exact_substring_spans) — the Lee-et-al exact-substring
    dedup cut list. Spark counts gram occurrences on xxhash64 keys
    (8-byte shuffle); the oracle counts the gram strings — identical
    counts, and every downstream number is integer-exact.
    """
    docs = t(spark, sf_dir, "documents")
    return dedup.exact_substring_spans(docs, "doc_id", "text", n=5)


@q(
    "dedup_paragraph_rewrite",
    """
    WITH toks AS (SELECT doc_id, list_filter(string_split(text, ' '),
                                             x -> x <> '') AS w
                  FROM documents),
    sized AS (SELECT doc_id, w,
                     CAST(ceil(len(w) / 10.0) AS INT) AS nb FROM toks),
    blocks AS (SELECT doc_id, i AS blk,
                      array_to_string(list_slice(w, (i-1)*10 + 1, i*10), ' ')
                        AS p
               FROM sized, UNNEST(range(1, nb + 1)) AS u(i)
               WHERE nb >= 1),
    owner AS (SELECT p, min(struct_pack(d := doc_id, b := blk)) AS o
              FROM blocks GROUP BY 1),
    kept AS (SELECT b.doc_id, b.blk, b.p
             FROM blocks b JOIN owner ow USING (p)
             WHERE b.doc_id = ow.o.d AND b.blk = ow.o.b),
    rebuilt AS (SELECT doc_id, COUNT(*) AS n_kept,
                       string_agg(p, ' ' ORDER BY blk) AS text_rewritten
                FROM kept GROUP BY 1)
    SELECT s.doc_id, CAST(s.nb AS BIGINT) AS n_blocks,
           CAST(COALESCE(r.n_kept, 0) AS BIGINT) AS n_kept,
           COALESCE(r.text_rewritten, '') AS text_rewritten
    FROM sized s LEFT JOIN rebuilt r USING (doc_id)
    """,
)
def dedup_paragraph_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MassiveText/RefinedWeb exact paragraph dedup with document
    rewrite (dedup.py::paragraph_dedup_rewrite): every repeated 10-token
    block keeps its lexicographically-first (doc_id, position)
    occurrence; documents are rebuilt from their surviving blocks. Spark
    owns blocks by xxhash64 key with a partial-aggregable min(struct)
    fold (duplicate groups never serialize through one task); the oracle
    owns the block strings directly.
    """
    docs = t(spark, sf_dir, "documents")
    return dedup.paragraph_dedup_rewrite(docs, "doc_id", "text", block_tokens=10)


_KMV_K = 64

_KMV_CTES = """
    toks AS (SELECT source, list_filter(string_split(text, ' '),
                                        x -> x <> '') AS w
             FROM documents),
    gs AS (SELECT DISTINCT source,
                  array_to_string(list_slice(w, i, i + 4), ' ') AS g5
           FROM toks, UNNEST(range(1, len(w) - 3)) AS u(i)
           WHERE len(w) >= 5),
    hs AS (SELECT DISTINCT source,
                  CAST(('0x' || substr(md5(g5), 1, 15)) AS BIGINT) AS h
           FROM gs),
    kmv AS (SELECT source, h,
                   row_number() OVER (PARTITION BY source ORDER BY h) AS rn
            FROM hs QUALIFY rn <= 64),
    exact_nd AS (SELECT source, COUNT(*) AS nd FROM gs GROUP BY 1),
    est_src AS (SELECT source,
                       CASE WHEN COUNT(*) < 64
                            THEN CAST(COUNT(*) AS DOUBLE)
                            ELSE CAST(63 AS DOUBLE)
                                 * 1.152921504606846976e18 / MAX(h)
                       END AS est
                FROM kmv GROUP BY 1),
    prs AS (SELECT a.source AS src_a, b.source AS src_b
            FROM exact_nd a JOIN exact_nd b ON a.source < b.source),
    merged AS (
      SELECT src_a, src_b, h,
             MAX(CASE WHEN side = 'a' THEN 1 ELSE 0 END) AS in_a,
             MAX(CASE WHEN side = 'b' THEN 1 ELSE 0 END) AS in_b
      FROM (SELECT p.src_a, p.src_b, k.h, 'a' AS side
            FROM prs p JOIN kmv k ON k.source = p.src_a
            UNION ALL
            SELECT p.src_a, p.src_b, k.h, 'b' AS side
            FROM prs p JOIN kmv k ON k.source = p.src_b)
      GROUP BY 1, 2, 3),
    u AS (SELECT src_a, src_b, h, in_a, in_b,
                 row_number() OVER (PARTITION BY src_a, src_b
                                    ORDER BY h) AS rn
          FROM merged QUALIFY rn <= 64),
    pair_est AS (
      SELECT src_a, src_b, COUNT(*) AS ku, MAX(h) AS theta_h,
             SUM(in_a * in_b) AS n_both
      FROM u GROUP BY 1, 2),
    exact_int AS (SELECT a.source AS src_a, b.source AS src_b,
                         COUNT(*) AS exact_inter
                  FROM gs a JOIN gs b
                    ON a.g5 = b.g5 AND a.source < b.source
                  GROUP BY 1, 2),
    calc AS (
      SELECT p.src_a, p.src_b,
             ea.est AS est_a, eb.est AS est_b,
             CASE WHEN pe.ku < 64 THEN CAST(pe.ku AS DOUBLE)
                  ELSE CAST(63 AS DOUBLE)
                       * 1.152921504606846976e18 / pe.theta_h
             END AS est_union_raw,
             CAST(pe.n_both AS DOUBLE) / pe.ku AS jacc,
             na.nd AS exact_a, nb.nd AS exact_b,
             COALESCE(xi.exact_inter, 0) AS exact_inter
      FROM prs p
      JOIN est_src ea ON ea.source = p.src_a
      JOIN est_src eb ON eb.source = p.src_b
      JOIN pair_est pe USING (src_a, src_b)
      JOIN exact_nd na ON na.source = p.src_a
      JOIN exact_nd nb ON nb.source = p.src_b
      LEFT JOIN exact_int xi USING (src_a, src_b))
"""


@q(
    "sketch_kmv_source_overlap",
    f"""
    WITH {_KMV_CTES}
    SELECT src_a, src_b,
           round(est_a, 9) AS est_distinct_a,
           round(est_b, 9) AS est_distinct_b,
           round(est_union_raw, 9) AS est_union,
           round(jacc, 9) AS est_jaccard,
           round(jacc * est_union_raw, 9) AS est_intersection,
           CAST(exact_a AS BIGINT) AS exact_distinct_a,
           CAST(exact_b AS BIGINT) AS exact_distinct_b,
           CAST(exact_a + exact_b - exact_inter AS BIGINT) AS exact_union,
           CAST(exact_inter AS BIGINT) AS exact_intersection,
           round(abs(est_union_raw - (exact_a + exact_b - exact_inter))
                 / (exact_a + exact_b - exact_inter), 9) AS err_union
    FROM calc
    """,
)
def sketch_kmv_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (bottom-k) distinct sketches of each source's 5-gram shingle
    set, with SET-OPERATION estimates per source pair — union and
    intersection cardinalities read off merged k-min sets (Beyer et al.
    2007), the sketch algebra HLL can't do. The 60-bit md5 hash makes
    the sketch itself engine-reproducible, so est_* columns are
    oracle-checked bit-exactly, and the exact_* columns (linear passes:
    per-gram source fan-out is bounded by the source count) ride along
    as the in-plan accuracy certificate; err_union is pinned in tests.
    """
    from dbt_repo_spark.operators import sketches

    docs = t(spark, sf_dir, "documents")
    toks = docs.select("source", dedup.tokens(F.col("text")).alias("w")).filter(
        F.size("w") >= 5
    )
    # The distinct (source, gram) relation feeds four consumers (sketch,
    # per-source exact counts, both sides of the exact-intersection
    # self-join). Recomputing it per consumer measures FASTER than
    # persisting (3.6 vs 6.9s at sf0.1): the InMemoryRelation blocks
    # bloom/broadcast pushdown into the scan, and the explode+distinct
    # subtree is cheap relative to the lost pruning.
    gs = toks.select(
        "source",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("w") - F.lit(4)),
                lambda i: F.concat_ws(" ", F.slice("w", i, 5)),
            )
        ).alias("g5"),
    ).distinct()
    k = _KMV_K
    kmv = sketches.kmv_sketch(gs, "source", "g5", k=k)
    exact_nd = gs.groupBy("source").agg(F.count("*").alias("nd"))
    est_src = kmv.groupBy("source").agg(
        F.count("*").alias("n_min"), F.max("h").alias("h_k")
    ).select(
        "source",
        F.when(F.col("n_min") < k, F.col("n_min").cast("double"))
        .otherwise(F.lit(float(k - 1)) * F.lit(sketches.KMV_SPACE) / F.col("h_k"))
        .alias("est"),
    )
    srcs = exact_nd.select("source")
    prs = (
        F.broadcast(srcs.select(F.col("source").alias("src_a")))
        .crossJoin(F.broadcast(srcs.select(F.col("source").alias("src_b"))))
        .filter(F.col("src_a") < F.col("src_b"))
    )
    sides = (
        prs.join(
            kmv.select(F.col("source").alias("src_a"), "h"), "src_a"
        ).select("src_a", "src_b", "h", F.lit(1).alias("ia"), F.lit(0).alias("ib"))
    ).unionByName(
        prs.join(
            kmv.select(F.col("source").alias("src_b"), "h"), "src_b"
        ).select("src_a", "src_b", "h", F.lit(0).alias("ia"), F.lit(1).alias("ib"))
    )
    merged = sides.groupBy("src_a", "src_b", "h").agg(
        F.max("ia").alias("in_a"), F.max("ib").alias("in_b")
    )
    wu = Window.partitionBy("src_a", "src_b").orderBy("h")
    u = merged.withColumn("rn", F.row_number().over(wu)).filter(F.col("rn") <= k)
    pair_est = u.groupBy("src_a", "src_b").agg(
        F.count("*").alias("ku"),
        F.max("h").alias("theta_h"),
        F.sum(F.col("in_a") * F.col("in_b")).alias("n_both"),
    )
    exact_int = (
        gs.select(F.col("source").alias("src_a"), "g5")
        .join(gs.select(F.col("source").alias("src_b"), "g5"), "g5")
        .filter(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count("*").alias("exact_inter"))
    )
    est_union_raw = F.when(
        F.col("ku") < k, F.col("ku").cast("double")
    ).otherwise(
        F.lit(float(k - 1)) * F.lit(sketches.KMV_SPACE) / F.col("theta_h")
    )
    jacc = F.col("n_both").cast("double") / F.col("ku")
    ex_union = F.col("exact_a") + F.col("exact_b") - F.col("exact_inter")
    return (
        prs.join(
            F.broadcast(est_src.select(F.col("source").alias("src_a"),
                                       F.col("est").alias("est_a"))), "src_a")
        .join(
            F.broadcast(est_src.select(F.col("source").alias("src_b"),
                                       F.col("est").alias("est_b"))), "src_b")
        .join(F.broadcast(pair_est), ["src_a", "src_b"])
        .join(F.broadcast(exact_nd.select(F.col("source").alias("src_a"),
                                          F.col("nd").alias("exact_a"))), "src_a")
        .join(F.broadcast(exact_nd.select(F.col("source").alias("src_b"),
                                          F.col("nd").alias("exact_b"))), "src_b")
        .join(F.broadcast(exact_int), ["src_a", "src_b"], "left")
        .withColumn("exact_inter", F.coalesce("exact_inter", F.lit(0)))
        .select(
            "src_a", "src_b",
            F.round("est_a", 9).alias("est_distinct_a"),
            F.round("est_b", 9).alias("est_distinct_b"),
            F.round(est_union_raw, 9).alias("est_union"),
            F.round(jacc, 9).alias("est_jaccard"),
            F.round(jacc * est_union_raw, 9).alias("est_intersection"),
            F.col("exact_a").cast("long").alias("exact_distinct_a"),
            F.col("exact_b").cast("long").alias("exact_distinct_b"),
            ex_union.cast("long").alias("exact_union"),
            F.col("exact_inter").cast("long").alias("exact_intersection"),
            F.round(
                F.abs(est_union_raw - ex_union.cast("double"))
                / ex_union.cast("double"),
                9,
            ).alias("err_union"),
        )
    )


@q(
    "dedup_substring_rewrite",
    """
    WITH base AS (SELECT doc_id, list_filter(string_split(text, ' '),
                                             x -> x <> '') AS w
                  FROM documents),
    pos AS (SELECT doc_id, i AS pos,
                   array_to_string(list_slice(w, i, i + 4), ' ') AS g
            FROM base, UNNEST(range(1, len(w) - 3)) AS u(i)
            WHERE len(w) >= 5),
    owner AS (SELECT g, COUNT(*) AS occ,
                     min(struct_pack(d := doc_id, p := pos)) AS o
              FROM pos GROUP BY 1),
    cut AS (SELECT p.doc_id, p.pos
            FROM pos p JOIN owner ow USING (g)
            WHERE ow.occ >= 2
              AND NOT (p.doc_id = ow.o.d AND p.pos = ow.o.p)),
    covered AS (SELECT DISTINCT doc_id, tp
                FROM cut, UNNEST(range(pos, pos + 5)) AS u(tp)),
    toks AS (SELECT doc_id, i AS tp, w[i] AS tok
             FROM base, UNNEST(range(1, len(w) + 1)) AS u(i)),
    kept AS (SELECT t.doc_id, t.tp, t.tok FROM toks t
             ANTI JOIN covered c
               ON t.doc_id = c.doc_id AND t.tp = c.tp),
    rebuilt AS (SELECT doc_id, COUNT(*) AS n_kept,
                       string_agg(tok, ' ' ORDER BY tp) AS text_rewritten
                FROM kept GROUP BY 1)
    SELECT b.doc_id, CAST(len(b.w) AS BIGINT) AS n_tokens,
           CAST(len(b.w) - COALESCE(r.n_kept, 0) AS BIGINT) AS n_removed,
           COALESCE(r.text_rewritten, '') AS text_rewritten
    FROM base b LEFT JOIN rebuilt r USING (doc_id)
    """,
)
def dedup_substring_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Lee et al. 2022 exact-substring CUT applied
    (dedup.py::exact_substring_rewrite): duplicated 5-gram occurrences
    other than the corpus-first copy are removed token-wise and every
    document is rebuilt. Spark owns grams by xxhash64 with a
    partial-aggregable min(struct) fold; the oracle owns gram strings —
    identical owners, bit-identical rebuilt text.
    """
    docs = t(spark, sf_dir, "documents")
    return dedup.exact_substring_rewrite(docs, "doc_id", "text", n=5)


@q(
    "dedup_paragraph_incremental",
    """
    WITH thr AS (SELECT CAST(floor(COUNT(*) * 0.8) AS BIGINT) AS t
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
def dedup_paragraph_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL paragraph dedup (dedup.py::incremental_paragraph_rewrite):
    the last 20% of documents arrive as a new batch and dedup against a
    block index built from the first 80% (dedup.py::paragraph_block_index)
    — the production tick shape, where the corpus text is never re-read.
    Batch ids sort after corpus ids here, so the result equals the
    full-corpus ``dedup_paragraph_rewrite`` restricted to batch docs
    (equivalence pinned by test_dedup). Spark keys blocks by xxhash64;
    the oracle replays both halves on the block strings.
    """
    docs = t(spark, sf_dir, "documents")
    thr = docs.agg(F.floor(F.count("*") * 0.8).cast("long").alias("thr"))
    corpus = docs.join(F.broadcast(thr)).filter(F.col("doc_id") < F.col("thr"))
    batch = docs.join(F.broadcast(thr)).filter(F.col("doc_id") >= F.col("thr"))
    idx = dedup.paragraph_block_index(corpus, "doc_id", "text", block_tokens=10)
    return dedup.incremental_paragraph_rewrite(
        batch, idx, "doc_id", "text", block_tokens=10
    )


@q(
    "streaming_paragraph_dedup",
    """
    WITH thr AS (SELECT CAST(floor(COUNT(*) * 0.8) AS BIGINT) AS t
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
def streaming_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LIVE streaming twin of ``dedup_paragraph_incremental``
    (streaming/dedup_stream.py): the last 20% of documents arrive over
    the Kafka wire shape (every record delivered TWICE — at-least-once
    bus), a foreachBatch tick dedups them against a block index built
    from the first 80% and upserts the owners it introduced, and the
    published output table must EQUAL the batch incremental result —
    the oracle is the same SQL, so a full rows+schema+hash match proves
    the wire parse, the tick's index read, the at-least-once collapse,
    and the idempotent partition publish end to end.
    """
    from dbt_repo_spark.sources import kafka_mirror
    from dbt_repo_spark.streaming.dedup_stream import (
        start_paragraph_dedup_stream,
    )

    broker = kafka_mirror.build_documents_fixture(sf_dir)
    with scratch_dir("stream_pdedup_") as work:
        index_dir = f"{work}/index"
        out_dir = f"{work}/out"
        # seed the index from the corpus half (batch=-1: published before
        # any streaming tick)
        docs = t(spark, sf_dir, "documents")
        thr = docs.agg(F.floor(F.count("*") * 0.8).cast("long").alias("thr"))
        corpus = docs.join(F.broadcast(thr)).filter(F.col("doc_id") < F.col("thr"))
        publish(
            dedup.paragraph_block_index(corpus, "doc_id", "text", 10),
            index_dir,
            -1,
        )
        q_ = start_paragraph_dedup_stream(
            spark, broker, index_dir, out_dir, f"{work}/ckpt", block_tokens=10
        )
        q_.awaitTermination()
        out = spark.read.parquet(out_dir).select(
            "doc_id", "n_blocks", "n_kept", "text_rewritten"
        )
        # localCheckpoint pins the rows so the returned plan has no disk
        # dependency on the work dir (the caller may collect at any time)
        return out.localCheckpoint(eager=True)


@q(
    "dedup_substring_incremental",
    """
    WITH thr AS (SELECT CAST(floor(COUNT(*) * 0.8) AS BIGINT) AS t
                 FROM documents),
    base AS (SELECT doc_id, list_filter(string_split(text, ' '),
                                        x -> x <> '') AS w
             FROM documents),
    pos AS (SELECT doc_id, s.pos AS pos, s.g AS g
            FROM (SELECT doc_id,
                         unnest(list_transform(range(1, len(w) - 3),
                           i -> struct_pack(pos := i,
                                  g := array_to_string(
                                         list_slice(w, i, i + 4), ' ')))) AS s
                  FROM base WHERE len(w) >= 5)),
    corpus_g AS (SELECT DISTINCT g FROM pos, thr WHERE doc_id < thr.t),
    bpos AS (SELECT p.doc_id, p.pos, p.g FROM pos p, thr
             WHERE p.doc_id >= thr.t),
    owner AS (SELECT g, COUNT(*) AS occ,
                     min(struct_pack(d := doc_id, p := pos)) AS o
              FROM bpos GROUP BY 1),
    cut AS (SELECT b.doc_id, b.pos
            FROM bpos b JOIN owner ow USING (g)
            LEFT JOIN corpus_g cg USING (g)
            WHERE cg.g IS NOT NULL
               OR (ow.occ >= 2
                   AND NOT (b.doc_id = ow.o.d AND b.pos = ow.o.p))),
    covered AS (SELECT DISTINCT doc_id, tp
                FROM cut, UNNEST(range(pos, pos + 5)) AS u(tp)),
    btoks AS (SELECT b.doc_id, i AS tp, b.w[i] AS tok
              FROM base b, thr, UNNEST(range(1, len(b.w) + 1)) AS u(i)
              WHERE b.doc_id >= thr.t),
    kept AS (SELECT t.doc_id, t.tp, t.tok FROM btoks t
             ANTI JOIN covered c
               ON t.doc_id = c.doc_id AND t.tp = c.tp),
    rebuilt AS (SELECT doc_id, COUNT(*) AS n_kept,
                       string_agg(tok, ' ' ORDER BY tp) AS text_rewritten
                FROM kept GROUP BY 1)
    SELECT b.doc_id, CAST(len(b.w) AS BIGINT) AS n_tokens,
           CAST(len(b.w) - COALESCE(r.n_kept, 0) AS BIGINT) AS n_removed,
           COALESCE(r.text_rewritten, '') AS text_rewritten
    FROM (SELECT base.doc_id, base.w FROM base, thr
          WHERE base.doc_id >= thr.t) b
    LEFT JOIN rebuilt r USING (doc_id)
    """,
)
def dedup_substring_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL exact-substring cut (dedup.py::incremental_substring_rewrite):
    the last 20% of documents dedup against a distinct-gram index built
    from the first 80% (dedup.py::substring_gram_index). Keep-first
    makes published corpus rewrites stable under appends, so this
    equals the full-corpus ``dedup_substring_rewrite`` restricted to
    batch docs (equivalence pinned by test). Spark probes 8-byte
    xxhash64 gram keys; the oracle replays on gram strings.
    """
    docs = t(spark, sf_dir, "documents")
    thr = docs.agg(F.floor(F.count("*") * 0.8).cast("long").alias("thr"))
    corpus = docs.join(F.broadcast(thr)).filter(F.col("doc_id") < F.col("thr"))
    batch = docs.join(F.broadcast(thr)).filter(F.col("doc_id") >= F.col("thr"))
    idx = dedup.substring_gram_index(corpus, "doc_id", "text", n=5)
    return dedup.incremental_substring_rewrite(batch, idx, "doc_id", "text", n=5)


@q(
    "decontaminate_train_eval",
    """
    WITH base AS (SELECT doc_id, list_filter(string_split(text, ' '),
                                             x -> x <> '') AS w
                  FROM documents),
    g AS (SELECT DISTINCT doc_id,
                 array_to_string(list_slice(w, i, i + 4), ' ') AS g5
          FROM base, UNNEST(range(1, len(w) - 3)) AS u(i)
          WHERE len(w) >= 5),
    eg AS (SELECT DISTINCT g5 FROM g WHERE doc_id % 100 = 3),
    tg AS (SELECT doc_id, g5 FROM g WHERE doc_id % 100 <> 3),
    hits AS (SELECT doc_id, COUNT(*) AS n_contaminated
             FROM tg JOIN eg USING (g5) GROUP BY 1),
    tot AS (SELECT doc_id, COUNT(*) AS n_grams FROM tg GROUP BY 1)
    SELECT d.doc_id,
           CAST(COALESCE(t.n_grams, 0) AS BIGINT) AS n_grams,
           CAST(COALESCE(h.n_contaminated, 0) AS BIGINT) AS n_contaminated,
           COALESCE(h.n_contaminated, 0) > 0 AS is_contaminated
    FROM (SELECT doc_id FROM documents WHERE doc_id % 100 <> 3) d
    LEFT JOIN tot t USING (doc_id)
    LEFT JOIN hits h USING (doc_id)
    """,
)
def decontaminate_train_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (dedup.py::decontaminate_against_eval):
    every 100th document (offset 3) plays the EVAL benchmark; each
    remaining training doc reports how many of its distinct 5-grams
    appear anywhere in the eval set — the GPT-3/PaLM n-gram-overlap
    leak filter, in the DROP direction (which TRAINING docs to cut).
    The inverse audit — how much of each EVAL doc the train corpus
    contains — is ``decontaminate_eval_ngrams``; a pipeline runs both.
    Spark joins on xxhash64 gram keys; the oracle joins the gram
    strings. Counts are integer-exact.
    """
    docs = t(spark, sf_dir, "documents")
    eval_df = docs.filter(F.col("doc_id") % 100 == 3)
    train = docs.filter(F.col("doc_id") % 100 != 3)
    return dedup.decontaminate_against_eval(train, eval_df, "doc_id", "text", n=5)


@q(
    "text_repetition_scores",
    """
    WITH base AS (SELECT doc_id, list_filter(string_split(text, ' '),
                                             x -> x <> '') AS w
                  FROM documents),
    tot AS (SELECT doc_id, len(w) AS n_tokens FROM base),
    sized AS (SELECT doc_id, w,
                     CAST(ceil(len(w) / 10.0) AS INT) AS nbk FROM base),
    blocks AS (SELECT doc_id,
                      array_to_string(list_slice(w, (i-1)*10 + 1, i*10), ' ')
                        AS p
               FROM sized, UNNEST(range(1, nbk + 1)) AS u(i)
               WHERE nbk >= 1),
    pb AS (SELECT doc_id, p, COUNT(*) AS cnt,
                  len(list_filter(string_split(p, ' '), x -> x <> ''))
                    AS blen
           FROM blocks GROUP BY 1, 2),
    bs AS (SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS nb,
                  CAST(SUM(cnt - 1) AS BIGINT) AS nb_dup,
                  CAST(SUM((cnt - 1) * blen) AS BIGINT) AS dup_block_tokens
           FROM pb GROUP BY 1),
    big AS (SELECT doc_id, array_to_string(list_slice(w, i, i + 1), ' ') AS bg
            FROM base, UNNEST(range(1, len(w))) AS u(i)
            WHERE len(w) >= 2),
    bc AS (SELECT doc_id, bg, COUNT(*) AS cnt FROM big GROUP BY 1, 2),
    tb AS (SELECT doc_id,
                  min(struct_pack(negcnt := -cnt, bg := bg)) AS m
           FROM bc GROUP BY 1),
    tb2 AS (SELECT doc_id, CAST(-m.negcnt AS BIGINT) AS top_bg_cnt FROM tb),
    pos AS (SELECT doc_id, s.pos AS pos, s.g AS g
            FROM (SELECT doc_id,
                         unnest(list_transform(range(1, len(w) - 3),
                           i -> struct_pack(pos := i,
                                  g := array_to_string(
                                         list_slice(w, i, i + 4), ' ')))) AS s
                  FROM base WHERE len(w) >= 5)),
    gc AS (SELECT doc_id, g, COUNT(*) AS cnt FROM pos GROUP BY 1, 2),
    cov AS (SELECT DISTINCT p.doc_id, tp
            FROM pos p JOIN gc ON p.doc_id = gc.doc_id AND p.g = gc.g,
                 UNNEST(range(p.pos, p.pos + 5)) AS u(tp)
            WHERE gc.cnt >= 2),
    cv AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dup_gram_tokens
           FROM cov GROUP BY 1)
    SELECT t.doc_id, CAST(t.n_tokens AS BIGINT) AS n_tokens,
           CASE WHEN COALESCE(bs.nb, 0) > 0
                THEN COALESCE(bs.nb_dup, 0) / bs.nb ELSE 0.0 END
             AS dup_block_frac,
           CASE WHEN t.n_tokens > 0
                THEN COALESCE(bs.dup_block_tokens, 0) / t.n_tokens
                ELSE 0.0 END AS dup_block_token_frac,
           CASE WHEN t.n_tokens > 0
                THEN COALESCE(tb2.top_bg_cnt, 0) * 2 / t.n_tokens
                ELSE 0.0 END AS top_bigram_frac,
           CASE WHEN t.n_tokens > 0
                THEN COALESCE(cv.dup_gram_tokens, 0) / t.n_tokens
                ELSE 0.0 END AS dup_ngram_token_frac,
           (CASE WHEN COALESCE(bs.nb, 0) > 0
                 THEN COALESCE(bs.nb_dup, 0) / bs.nb ELSE 0.0 END <= 0.3
            AND CASE WHEN t.n_tokens > 0
                     THEN COALESCE(bs.dup_block_tokens, 0) / t.n_tokens
                     ELSE 0.0 END <= 0.2
            AND CASE WHEN t.n_tokens > 0
                     THEN COALESCE(tb2.top_bg_cnt, 0) * 2 / t.n_tokens
                     ELSE 0.0 END <= 0.2
            AND CASE WHEN t.n_tokens > 0
                     THEN COALESCE(cv.dup_gram_tokens, 0) / t.n_tokens
                     ELSE 0.0 END <= 0.15)
             AS passes_repetition
    FROM tot t
    LEFT JOIN bs USING (doc_id)
    LEFT JOIN tb2 USING (doc_id)
    LEFT JOIN cv USING (doc_id)
    """,
)
def text_repetition_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/MassiveText within-document repetition filters
    (text.py::gopher_repetition_scores): duplicate-block fraction and
    token coverage, top-bigram coverage, duplicated-5-gram POSITIONAL
    coverage, plus the composite Table-A1 gate. Complements the
    shuffle-free ``text_repetition`` battery (duplicate-token fraction
    + top-bigram share as pure array folds): the block and positional-
    coverage metrics here genuinely need doc-keyed aggregation legs —
    the price of the line-level and span-level signals the array fold
    cannot see. Spark keys grams by xxhash64; the oracle uses the
    strings; every fraction is one exact BIGINT/BIGINT IEEE division.
    """
    docs = t(spark, sf_dir, "documents")
    return text.gopher_repetition_scores(docs, "doc_id", "text", block_tokens=10, n=5)


@q(
    "training_data_pipeline_v4",
    """
    WITH thr AS (SELECT CAST(floor(COUNT(*) * 0.8) AS BIGINT) AS t
                 FROM documents),
    base AS (SELECT doc_id, source,
                    list_filter(string_split(text, ' '), x -> x <> '') AS w
             FROM documents),
    -- eval benchmark: every 100th CORPUS doc (offset 3)
    eg AS (SELECT DISTINCT array_to_string(list_slice(w, i, i + 4), ' ') AS g5
           FROM base, thr, UNNEST(range(1, len(w) - 3)) AS u(i)
           WHERE doc_id < thr.t AND doc_id % 100 = 3 AND len(w) >= 5),
    bdocs AS (SELECT b.doc_id, b.source, b.w FROM base b, thr
              WHERE b.doc_id >= thr.t),
    -- stage 1: decontamination (drop any batch doc sharing a 5-gram)
    bg5 AS (SELECT DISTINCT doc_id,
                   array_to_string(list_slice(w, i, i + 4), ' ') AS g5
            FROM bdocs, UNNEST(range(1, len(w) - 3)) AS u(i)
            WHERE len(w) >= 5),
    contaminated AS (SELECT DISTINCT doc_id FROM bg5 SEMI JOIN eg USING (g5)),
    -- stage 2: Gopher repetition gate on the batch docs
    sized AS (SELECT doc_id, w, CAST(ceil(len(w) / 10.0) AS INT) AS nbk
              FROM bdocs WHERE len(w) > 0),
    blocks AS (SELECT doc_id,
                      array_to_string(list_slice(w, (i-1)*10 + 1, i*10), ' ')
                        AS p
               FROM sized, UNNEST(range(1, nbk + 1)) AS u(i)
               WHERE nbk >= 1),
    pb AS (SELECT doc_id, p, COUNT(*) AS cnt,
                  len(list_filter(string_split(p, ' '), x -> x <> ''))
                    AS blen
           FROM blocks GROUP BY 1, 2),
    bs AS (SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS nb,
                  CAST(SUM(cnt - 1) AS BIGINT) AS nb_dup,
                  CAST(SUM((cnt - 1) * blen) AS BIGINT) AS dup_block_tokens
           FROM pb GROUP BY 1),
    big AS (SELECT doc_id, array_to_string(list_slice(w, i, i + 1), ' ') AS bg
            FROM bdocs, UNNEST(range(1, len(w))) AS u(i) WHERE len(w) >= 2),
    bc AS (SELECT doc_id, bg, COUNT(*) AS cnt FROM big GROUP BY 1, 2),
    tb2 AS (SELECT doc_id, CAST(-(min(struct_pack(negcnt := -cnt, bg := bg))).negcnt
                                AS BIGINT) AS top_bg_cnt
            FROM bc GROUP BY doc_id),
    pos5 AS (SELECT doc_id, s.pos AS pos, s.g AS g
             FROM (SELECT doc_id,
                          unnest(list_transform(range(1, len(w) - 3),
                            i -> struct_pack(pos := i,
                                   g := array_to_string(
                                          list_slice(w, i, i + 4), ' ')))) AS s
                   FROM bdocs WHERE len(w) >= 5)),
    gc AS (SELECT doc_id, g, COUNT(*) AS cnt FROM pos5 GROUP BY 1, 2),
    cv AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dup_gram_tokens
           FROM (SELECT DISTINCT p.doc_id, tp
                 FROM pos5 p JOIN gc ON p.doc_id = gc.doc_id AND p.g = gc.g,
                      UNNEST(range(p.pos, p.pos + 5)) AS u(tp)
                 WHERE gc.cnt >= 2) GROUP BY 1),
    rep_pass AS (SELECT s.doc_id
                 FROM (SELECT doc_id, len(w) AS n_tokens FROM bdocs) s
                 LEFT JOIN bs USING (doc_id)
                 LEFT JOIN tb2 USING (doc_id)
                 LEFT JOIN cv USING (doc_id)
                 -- zero-token docs pass vacuously (gate never drops
                 -- empty docs — matches gopher_repetition_scores)
                 WHERE s.n_tokens = 0
                    OR (COALESCE(bs.nb_dup, 0) / bs.nb <= 0.3
                   AND COALESCE(bs.dup_block_tokens, 0) / s.n_tokens <= 0.2
                   AND COALESCE(tb2.top_bg_cnt, 0) * 2 / s.n_tokens <= 0.2
                   AND COALESCE(cv.dup_gram_tokens, 0) / s.n_tokens <= 0.15)),
    -- stage 3: incremental paragraph rewrite of the surviving docs
    kept_docs AS (SELECT b.* FROM bdocs b
                  SEMI JOIN rep_pass USING (doc_id)
                  ANTI JOIN contaminated USING (doc_id)),
    corpus_p AS (SELECT DISTINCT
                        array_to_string(list_slice(w, (i-1)*10 + 1, i*10), ' ')
                          AS p
                 FROM (SELECT doc_id, w,
                              CAST(ceil(len(w) / 10.0) AS INT) AS nbk
                       FROM base, thr WHERE doc_id < thr.t) c,
                      UNNEST(range(1, nbk + 1)) AS u(i)
                 WHERE nbk >= 1),
    ksized AS (SELECT doc_id, source, w,
                      CAST(ceil(len(w) / 10.0) AS INT) AS nbk
               FROM kept_docs),
    kblocks AS (SELECT doc_id, i AS blk,
                       array_to_string(list_slice(w, (i-1)*10 + 1, i*10), ' ')
                         AS p
                FROM ksized, UNNEST(range(1, nbk + 1)) AS u(i)
                WHERE nbk >= 1),
    owner AS (SELECT p, min(struct_pack(d := doc_id, b := blk)) AS o
              FROM kblocks GROUP BY 1),
    kept_blocks AS (SELECT b.doc_id, b.blk, b.p,
                           len(list_filter(string_split(b.p, ' '),
                                           x -> x <> '')) AS blen
                    FROM kblocks b JOIN owner ow USING (p)
                    WHERE b.doc_id = ow.o.d AND b.blk = ow.o.b
                      AND b.p NOT IN (SELECT p FROM corpus_p)),
    per_doc AS (SELECT doc_id, COUNT(*) AS n_kept_blocks,
                       SUM(blen) AS kept_tokens
                FROM kept_blocks GROUP BY 1)
    -- stage 4: per-source corpus stats over the surviving batch
    SELECT k.source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(k.nbk) AS BIGINT) AS n_blocks,
           CAST(SUM(COALESCE(p.n_kept_blocks, 0)) AS BIGINT)
             AS n_blocks_kept,
           CAST(SUM(COALESCE(p.kept_tokens, 0)) AS BIGINT) AS n_tokens_kept
    FROM ksized k LEFT JOIN per_doc p USING (doc_id)
    GROUP BY k.source
    """,
)
def training_data_pipeline_v4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The round-6 composed production tick, every stage an engine
    operator: the last 20% of documents arrive as a batch →
    decontaminate against an eval benchmark drawn from the corpus
    (dedup.decontaminate_against_eval, drop any hit) → Gopher
    repetition gate (text.gopher_repetition_scores) → INCREMENTAL
    paragraph dedup against the corpus block index
    (dedup.incremental_paragraph_rewrite) → per-source corpus stats.
    The oracle rebuilds the whole chain in one SQL — full value parity
    proves the stages compose without semantic drift, the same
    certificate v2 carries for the full-corpus cleaning chain.
    """
    from pyspark import StorageLevel

    from dbt_repo_spark.operators import text as tx

    docs = t(spark, sf_dir, "documents")
    thr = docs.agg(F.floor(F.count("*") * 0.8).cast("long").alias("thr"))
    corpus = docs.join(F.broadcast(thr)).filter(F.col("doc_id") < F.col("thr"))
    # The batch relation feeds EVERY stage (decontamination reads it 3x
    # internally, the repetition gate 5x, the keep join and the rewrite
    # again) — unpersisted, Catalyst duplicates the scan+filter subtree
    # into each consumer (~20 re-reads; 155 exchanges in the cold plan).
    # Batch-count bound, the tick's working set.
    batch = (
        docs.join(F.broadcast(thr))
        .filter(F.col("doc_id") >= F.col("thr"))
        .drop("thr")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    eval_df = corpus.filter(F.col("doc_id") % 100 == 3)
    dec = dedup.decontaminate_against_eval(
        batch, eval_df, "doc_id", "text", n=5
    ).filter(~F.col("is_contaminated"))
    rep = tx.gopher_repetition_scores(
        batch, "doc_id", "text", block_tokens=10, n=5
    ).filter("passes_repetition")
    # survivors feed the rewrite (blocks + rebuild + totals) and the
    # final source join — persist the small filtered relation too
    kept = (
        batch.join(dec.select("doc_id"), "doc_id")
        .join(rep.select("doc_id"), "doc_id")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    idx = dedup.paragraph_block_index(corpus, "doc_id", "text", block_tokens=10)
    rw = dedup.incremental_paragraph_rewrite(
        kept, idx, "doc_id", "text", block_tokens=10
    )
    return (
        rw.join(kept.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_blocks").cast("long").alias("n_blocks"),
            F.sum("n_kept").cast("long").alias("n_blocks_kept"),
            F.sum(
                F.size(dedup.tokens(F.col("text_rewritten")))
            ).cast("long").alias("n_tokens_kept"),
        )
    )


@q(
    "embedding_quality_audit",
    """
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings),
    n AS (SELECT vec_id, len(v) AS dim,
                 round(sqrt(list_dot_product(v, v)), 6) AS nrm
          FROM e),
    j AS (SELECT d.doc_id, d.source, n.vec_id, n.dim, n.nrm
          FROM documents d LEFT JOIN n ON d.doc_id = n.vec_id)
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(vec_id) AS BIGINT) AS n_with_embedding,
           CAST(COUNT(*) - COUNT(vec_id) AS BIGINT) AS n_missing,
           CAST(COUNT(CASE WHEN dim = 64 THEN 1 END) AS BIGINT) AS n_dim_ok,
           CAST(COUNT(CASE WHEN nrm = 0 THEN 1 END) AS BIGINT)
             AS n_zero_norm,
           MIN(nrm) AS min_norm,
           MAX(nrm) AS max_norm
    FROM j GROUP BY source
    """,
)
def embedding_quality_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-column health audit, per source: coverage (docs with a
    vector under the doc_id=vec_id contract), dimension conformance,
    zero-norm (untrainable) vectors, and the norm range — the data-
    quality gate a multimodal pipeline runs before ANN indexing or
    contrastive training ever sees the table. One broadcast-friendly
    left join + one grouped conditional-count pass; norms follow the
    engine's deterministic sequential-fold recipe (cast to double,
    6-dp round) so even the float columns hash-match the oracle.
    """
    docs = t(spark, sf_dir, "documents")
    emb = t(spark, sf_dir, "embeddings")
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    n = emb.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        F.round(F.sqrt(similarity.dot(v, v)), 6).alias("nrm"),
    )
    j = docs.select("doc_id", "source").join(
        n, docs["doc_id"] == n["vec_id"], "left"
    )
    return j.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.count("vec_id").cast("long").alias("n_with_embedding"),
        (F.count("*") - F.count("vec_id")).cast("long").alias("n_missing"),
        F.count(F.when(F.col("dim") == 64, 1)).cast("long").alias("n_dim_ok"),
        F.count(F.when(F.col("nrm") == 0, 1)).cast("long").alias("n_zero_norm"),
        F.min("nrm").alias("min_norm"),
        F.max("nrm").alias("max_norm"),
    )


@q(
    "multimodal_audio_decode",
    """
    WITH wav AS (SELECT doc_id, 1 + doc_id % 2 AS ch,
                        8000 + (doc_id % 5) * 2000 AS rate,
                        50 + doc_id % 40 AS nf
                 FROM documents WHERE doc_id % 3 = 1),
    s AS (SELECT doc_id,
                 (doc_id * 1103515245 + i * 40503 + c * 997) % 65536 - 32768
                   AS v
          FROM wav, UNNEST(range(0, nf)) AS ui(i),
                    UNNEST(range(0, ch)) AS uc(c))
    SELECT w.doc_id AS media_id,
           CAST(w.ch AS INTEGER) AS channels,
           CAST(w.rate AS INTEGER) AS sample_rate,
           CAST(w.nf AS BIGINT) AS n_frames,
           CAST(44 + w.nf * w.ch * 2 AS BIGINT) AS n_bytes,
           (w.nf * 1000) / w.rate AS duration_ms,
           CAST(SUM(s.v) AS BIGINT) / (w.nf * w.ch) AS sample_mean,
           CAST(SUM(s.v * s.v) AS BIGINT) / (w.nf * w.ch) AS sample_meansq
    FROM wav w JOIN s USING (doc_id)
    GROUP BY w.doc_id, w.ch, w.rate, w.nf
    """,
)
def multimodal_audio_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL WAV decode (r07): deterministic RIFF/PCM16 blobs generated
    from the documents table, parsed by the stdlib chunk-walking parser
    (operators/media_codecs.py::decode_wav). The oracle recomputes the
    layout (channels / rate / frame count), the canonical 44-byte-header
    container size, the duration, and the exact sample mean / mean
    square from the generator formula — every float is ONE IEEE division
    of exact integers, so the row hashes bit-identically. Image twin:
    ``multimodal_features``.
    """
    from dbt_repo_spark.operators import multimodal

    media = multimodal.real_media_from_documents(t(spark, sf_dir, "documents"))
    return multimodal.decode_audio_stats(media)


@q(
    "multimodal_audio_resample",
    """
    WITH wav AS (SELECT doc_id, 1 + doc_id % 2 AS ch,
                        8000 + (doc_id % 5) * 2000 AS rate,
                        50 + doc_id % 40 AS nf
                 FROM documents WHERE doc_id % 3 = 1),
    k AS (SELECT doc_id,
                 (doc_id * 1103515245 + i * 40503 + c * 997) % 65536 - 32768
                   AS v
          FROM wav, UNNEST(range(0, nf, 2)) AS ui(i),
                    UNNEST(range(0, ch)) AS uc(c))
    SELECT w.doc_id AS media_id,
           CAST(w.ch AS INTEGER) AS channels,
           CAST(w.rate // 2 AS INTEGER) AS sample_rate,
           CAST((w.nf + 1) // 2 AS BIGINT) AS n_frames,
           (((w.nf + 1) // 2) * 1000) / (w.rate // 2) AS duration_ms,
           CAST(SUM(k.v) AS BIGINT) / (((w.nf + 1) // 2) * w.ch)
             AS sample_mean
    FROM wav w JOIN k USING (doc_id)
    GROUP BY w.doc_id, w.ch, w.rate, w.nf
    """,
)
def multimodal_audio_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio downsample roundtrip (r07): decode WAV -> keep every
    2nd frame -> re-encode at rate/2 -> decode the re-encoded bytes ->
    emit ITS stats (duration preserved up to the tail frame). The oracle
    keeps frames via range(0, nf, 2) on the generator formula, so a
    green row certifies the decimate + re-encode chain. Image twin:
    ``multimodal_resize``.
    """
    from dbt_repo_spark.operators import multimodal

    media = multimodal.real_media_from_documents(t(spark, sf_dir, "documents"))
    return multimodal.resample_real_audio(media, factor=2)


@q(
    "ann_ivf_upsert_tick",
    """
    WITH thr AS (SELECT CAST(floor(COUNT(*) * 0.8) AS BIGINT) AS t
                 FROM embeddings),
    e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v0 FROM embeddings),
    nr AS (SELECT vec_id, sqrt(list_dot_product(v0, v0)) AS nrm, v0 FROM e0),
    e AS (SELECT vec_id, list_transform(v0, x -> x / nrm) AS v FROM nr),
    cb AS (SELECT CAST(row_number() OVER (ORDER BY e.vec_id) - 1 AS INTEGER)
                    AS cl, e.v
           FROM e, thr WHERE e.vec_id < thr.t ORDER BY e.vec_id LIMIT 16),
    sc AS (SELECT e.vec_id, cb.cl, list_dot_product(e.v, cb.v) AS s
           FROM e CROSS JOIN cb),
    asg AS (SELECT vec_id, cl AS cluster, s AS ascore
            FROM (SELECT vec_id, cl, s,
                         row_number() OVER (PARTITION BY vec_id
                                            ORDER BY s DESC, cl ASC) AS rn
                  FROM sc)
            WHERE rn = 1),
    lab AS (SELECT a.vec_id, a.cluster, a.ascore,
                   (a.vec_id >= thr.t) AS is_batch
            FROM asg a, thr),
    st AS (SELECT cluster, is_batch, COUNT(*) AS n,
                  CAST(SUM(CAST(round(ascore, 6) AS DECIMAL(20,6)))
                       AS DOUBLE) / COUNT(*) AS avg_s
           FROM lab GROUP BY 1, 2),
    cells AS (SELECT CAST(u AS INTEGER) AS cluster
              FROM UNNEST(range(0, 16)) t(u))
    SELECT c.cluster,
           CAST(COALESCE(co.n, 0) AS BIGINT) AS n_corpus,
           CAST(COALESCE(ba.n, 0) AS BIGINT) AS n_batch,
           co.avg_s AS corpus_avg_score,
           ba.avg_s AS batch_avg_score,
           co.avg_s - ba.avg_s AS score_drift,
           COALESCE(ba.avg_s < co.avg_s - 5e-2, FALSE) AS retrain
    FROM cells c
    LEFT JOIN (SELECT * FROM st WHERE NOT is_batch) co USING (cluster)
    LEFT JOIN (SELECT * FROM st WHERE is_batch) ba USING (cluster)
    """,
)
def ann_ivf_upsert_tick(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ANN index maintenance (r07): the similarity family's
    production tick, mirroring r06's dedup ticks. The first 80% of the
    embeddings table seeds a persisted IVF postings index (batch=-1);
    the last 20% arrives as a new batch and
    ``similarity.py::ivf_index_upsert`` assigns it to the EXISTING
    centroids, publishes its postings under an idempotent ``batch=<id>``
    partition, and emits the per-cell drift statistics (fill counts +
    corpus-vs-batch assignment-score means) that decide when to retrain
    the codebook. Assignment scores use the engine's sequential-fold
    dot over unit-normalized doubles, so the oracle reproduces them
    bit-exactly with list_dot_product; means accumulate as
    DECIMAL(20,6) over 6-dp scores with ONE final IEEE division.
    Batch ≡ full-rebuild posting equivalence and crash-replay
    idempotence are pinned by tests; the streaming twin is
    ``streaming_ann_index``.
    """
    docs_emb = t(spark, sf_dir, "embeddings")
    thr = docs_emb.agg(
        F.floor(F.count("*") * 0.8).cast("long").alias("thr")
    )
    corpus = docs_emb.join(F.broadcast(thr)).filter(F.col("vec_id") < F.col("thr"))
    batch = docs_emb.join(F.broadcast(thr)).filter(F.col("vec_id") >= F.col("thr"))
    codebook = [
        r.v
        for r in similarity._normalized(corpus, "id", "v", "vec_id", "embedding")
        .orderBy("id")
        .limit(16)
        .collect()
    ]
    with scratch_dir("ann_upsert_") as work:
        index_dir = f"{work}/index"
        publish(similarity.ivf_assign(corpus, codebook), index_dir, -1)
        return similarity.ivf_index_upsert(
            spark, batch, 0, index_dir, codebook
        ).localCheckpoint(eager=True)


@q(
    "streaming_ann_index",
    """
    WITH thr AS (SELECT CAST(floor(COUNT(*) * 0.8) AS BIGINT) AS t
                 FROM embeddings),
    e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v0 FROM embeddings),
    nr AS (SELECT vec_id, sqrt(list_dot_product(v0, v0)) AS nrm, v0 FROM e0),
    e AS (SELECT vec_id, list_transform(v0, x -> x / nrm) AS v FROM nr),
    cb AS (SELECT CAST(row_number() OVER (ORDER BY e.vec_id) - 1 AS INTEGER)
                    AS cl, e.v
           FROM e, thr WHERE e.vec_id < thr.t ORDER BY e.vec_id LIMIT 16),
    sc AS (SELECT e.vec_id, cb.cl, list_dot_product(e.v, cb.v) AS s
           FROM e CROSS JOIN cb),
    asg AS (SELECT vec_id, cl AS cluster, s AS ascore
            FROM (SELECT vec_id, cl, s,
                         row_number() OVER (PARTITION BY vec_id
                                            ORDER BY s DESC, cl ASC) AS rn
                  FROM sc)
            WHERE rn = 1),
    st AS (SELECT cluster, COUNT(*) AS n,
                  CAST(SUM(CAST(round(ascore, 6) AS DECIMAL(20,6)))
                       AS DOUBLE) / COUNT(*) AS avg_s
           FROM asg GROUP BY 1),
    cells AS (SELECT CAST(u AS INTEGER) AS cluster
              FROM UNNEST(range(0, 16)) t(u))
    SELECT c.cluster,
           CAST(COALESCE(st.n, 0) AS BIGINT) AS n_vectors,
           st.avg_s AS avg_score
    FROM cells c LEFT JOIN st USING (cluster)
    """,
)
def streaming_ann_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LIVE streaming twin of ``ann_ivf_upsert_tick``
    (streaming/ann_stream.py): the last 20% of documents arrive over
    the Kafka wire shape (every record delivered TWICE — at-least-once
    bus), each micro-batch looks up its embeddings from the static
    table and a foreachBatch tick upserts their IVF postings against
    an index seeded from the first 80%. Because the codebook is fixed
    between retrains, assignment is order-independent, so the PUBLISHED
    index must equal a one-shot assignment of the whole corpus — the
    oracle checks exactly that (per-cell counts + DECIMAL-folded score
    means over ALL embeddings), certifying the wire parse, the
    stream-static lookup, the at-least-once collapse, and the
    idempotent partition publish end to end.
    """
    from dbt_repo_spark.sources import kafka_mirror
    from dbt_repo_spark.streaming.ann_stream import start_ann_index_stream

    broker = kafka_mirror.build_documents_fixture(sf_dir)
    emb = t(spark, sf_dir, "embeddings")
    thr = emb.agg(F.floor(F.count("*") * 0.8).cast("long").alias("thr"))
    corpus = emb.join(F.broadcast(thr)).filter(F.col("vec_id") < F.col("thr"))
    codebook = [
        r.v
        for r in similarity._normalized(corpus, "id", "v", "vec_id", "embedding")
        .orderBy("id")
        .limit(16)
        .collect()
    ]
    with scratch_dir("stream_ann_") as work:
        index_dir = f"{work}/index"
        publish(similarity.ivf_assign(corpus, codebook), index_dir, -1)
        q_ = start_ann_index_stream(
            spark,
            broker,
            f"{sf_dir}/embeddings.parquet",
            index_dir,
            f"{work}/ckpt",
            codebook,
        )
        q_.awaitTermination()
        published = spark.read.parquet(index_dir)
        dec = F.round(F.col("ascore"), 6).cast("decimal(20,6)")
        st = published.groupBy("cluster").agg(
            F.count("*").cast("long").alias("n"),
            (F.sum(dec).cast("double") / F.count("*")).alias("avg_score"),
        )
        cells = spark.range(16).select(F.col("id").cast("int").alias("cluster"))
        out = cells.join(st, "cluster", "left").select(
            "cluster",
            F.coalesce("n", F.lit(0)).cast("long").alias("n_vectors"),
            "avg_score",
        )
        return out.localCheckpoint(eager=True)


@q(
    "dedup_index_delete_tick",
    """
    WITH toks AS (SELECT doc_id,
                         list_filter(string_split(text, ' '), x -> x <> '') AS w
                  FROM documents),
    sized AS (SELECT doc_id, w,
                     CAST(ceil(len(w) / 10.0) AS INTEGER) AS nb FROM toks),
    blocks AS (SELECT doc_id, CAST(i AS BIGINT) AS blk,
                      md5(array_to_string(w[((i - 1) * 10 + 1):(i * 10)], ' ')) AS k
               FROM sized, UNNEST(range(1, nb + 1)) AS t(i)
               WHERE nb >= 1),
    owners AS (SELECT k, min(struct_pack(d := doc_id, b := blk)) AS o
               FROM blocks GROUP BY k),
    dels AS (SELECT doc_id FROM documents WHERE doc_id % 31 = 0),
    aff AS (SELECT o.k, o.o.d AS old_doc, o.o.b AS old_blk
            FROM owners o JOIN dels d ON o.o.d = d.doc_id),
    surv AS (SELECT b.doc_id, b.blk, b.k FROM blocks b
             ANTI JOIN dels d ON b.doc_id = d.doc_id),
    newo AS (SELECT s.k, min(struct_pack(d := s.doc_id, b := s.blk)) AS o
             FROM surv s SEMI JOIN aff a ON s.k = a.k
             GROUP BY s.k)
    SELECT a.k AS block_key, a.old_doc, a.old_blk,
           n.o.d AS new_doc, n.o.b AS new_blk,
           CASE WHEN n.k IS NULL THEN 'tombstoned'
                ELSE 'reelected' END AS status
    FROM aff a LEFT JOIN newo n ON n.k = a.k
    """,
)
def dedup_index_delete_tick(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DELETE propagation through the paragraph dedup index
    (dedup.py::paragraph_index_delete): every 31st document is the
    right-to-be-forgotten batch; the tick emits the owner re-election
    delta — blocks whose corpus-first owner is deleted get the minimum
    surviving holder re-elected, blocks with no surviving holder are
    tombstoned. Under the keep-first rewrite contract this delta IS the
    re-publication work list: the deleted owner's copy was the block's
    only published copy (every other holder's rewrite already cut it),
    so each re-elected row says whose rewrite must be regenerated.

    Scale: one corpus block scan, an owner fold on the md5 block key,
    and a broadcast semi-join of survivor blocks against the
    delete-bounded affected-key set — re-election only ever groups the
    affected keys' holders. The oracle replays the identical election
    relationally (min struct_pack owner folds, ANTI/SEMI joins).
    """
    docs = t(spark, sf_dir, "documents")
    return dedup.paragraph_index_delete(
        docs, F.col("doc_id") % 31 == 0, "doc_id", "text", block_tokens=10
    )


@q(
    "ann_index_delete_tick",
    """
    WITH e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v0 FROM embeddings),
    nr AS (SELECT vec_id, sqrt(list_dot_product(v0, v0)) AS nrm, v0 FROM e0),
    e AS (SELECT vec_id, list_transform(v0, x -> x / nrm) AS v FROM nr),
    cb AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER)
                    AS cl, v
           FROM e ORDER BY vec_id LIMIT 16),
    sc AS (SELECT e.vec_id, cb.cl, list_dot_product(e.v, cb.v) AS s
           FROM e CROSS JOIN cb),
    asg AS (SELECT vec_id, cl AS cluster, s AS ascore
            FROM (SELECT vec_id, cl, s,
                         row_number() OVER (PARTITION BY vec_id
                                            ORDER BY s DESC, cl ASC) AS rn
                  FROM sc)
            WHERE rn = 1),
    st AS (SELECT cluster,
                  COUNT(*) AS n_before,
                  CAST(SUM(CASE WHEN vec_id % 31 = 0 THEN 1 ELSE 0 END)
                       AS BIGINT) AS n_removed,
                  SUM(CASE WHEN vec_id % 31 = 0
                           THEN CAST(round(ascore, 6) AS DECIMAL(20,6))
                           ELSE CAST(0 AS DECIMAL(20,6)) END) AS s_removed
           FROM asg GROUP BY cluster),
    cells AS (SELECT CAST(u AS INTEGER) AS cluster
              FROM UNNEST(range(0, 16)) t(u))
    SELECT c.cluster,
           CAST(COALESCE(st.n_before, 0) AS BIGINT) AS n_before,
           CAST(COALESCE(st.n_removed, 0) AS BIGINT) AS n_removed,
           CAST(COALESCE(st.n_before, 0) - COALESCE(st.n_removed, 0)
                AS BIGINT) AS n_after,
           CASE WHEN COALESCE(st.n_removed, 0) > 0
                THEN CAST(st.s_removed AS DOUBLE) / st.n_removed
                ELSE NULL END AS mean_removed_score
    FROM cells c LEFT JOIN st USING (cluster)
    """,
)
def ann_index_delete_tick(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DELETE propagation through the ANN index — the second half of
    the right-to-be-forgotten tick (``dedup_index_delete_tick`` handles
    the dedup index): postings of the deleted vec_ids (every 31st) are
    dropped per cell, and the report carries before/after fill plus the
    DECIMAL-folded mean assignment score of the removed vectors — the
    drift-accounting a production index keeps so the retrain trigger
    (``ann_ivf_retrain``) sees deletions as well as arrivals. Unlike
    inserts, deletes need no re-assignment (the codebook is fixed
    between retrains), so the tick is ONE pass over the postings: at
    100 TB it anti-joins the stored postings table against the
    delete-bounded id set — here the postings relation is re-derived
    in-plan via the proven exact assignment (``ivf_assign``) because
    the registry query must be self-contained over the parquet tables.
    """
    emb = t(spark, sf_dir, "embeddings")
    codebook = similarity.initial_codebook(emb, 16)
    asg = similarity.ivf_assign(emb, codebook)
    dec = F.when(
        F.col("vec_id") % 31 == 0,
        F.round(F.col("ascore"), 6).cast("decimal(20,6)"),
    ).otherwise(F.lit(0).cast("decimal(20,6)"))
    st = asg.groupBy("cluster").agg(
        F.count("*").cast("long").alias("n_before"),
        F.sum(F.when(F.col("vec_id") % 31 == 0, 1).otherwise(0))
        .cast("long")
        .alias("n_removed"),
        F.sum(dec).alias("s_removed"),
    )
    cells = spark.range(16).select(F.col("id").cast("int").alias("cluster"))
    return cells.join(st, "cluster", "left").select(
        "cluster",
        F.coalesce("n_before", F.lit(0)).cast("long").alias("n_before"),
        F.coalesce("n_removed", F.lit(0)).cast("long").alias("n_removed"),
        (F.coalesce("n_before", F.lit(0)) - F.coalesce("n_removed", F.lit(0)))
        .cast("long")
        .alias("n_after"),
        F.when(
            F.coalesce("n_removed", F.lit(0)) > 0,
            F.col("s_removed").cast("double") / F.col("n_removed"),
        ).alias("mean_removed_score"),
    )


@q(
    "training_data_pipeline_v5",
    """
    WITH thr AS (SELECT CAST(floor(COUNT(*) * 0.8) AS BIGINT) AS t
                 FROM documents),
    batch AS (SELECT d.doc_id, d.source FROM documents d, thr
              WHERE d.doc_id >= thr.t),
    -- stage 1: REAL media decode gate (params are the generator formula)
    gated AS (SELECT doc_id, source FROM batch
              WHERE CASE
                      WHEN doc_id % 3 = 1 THEN
                        ((50 + doc_id % 40) * 1000)
                          / (8000 + (doc_id % 5) * 2000) >= 5e0
                      WHEN doc_id % 3 = 0 THEN
                        (4 + doc_id % 5) * (3 + doc_id % 4) >= 12
                      ELSE (3 + doc_id % 6) * (2 + doc_id % 5) >= 12
                    END),
    -- stage 2: incremental paragraph rewrite of gated docs vs corpus index
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
    bblocks AS (SELECT b.doc_id, b.blk, b.p FROM blocks b
                SEMI JOIN gated g ON b.doc_id = g.doc_id),
    owner AS (SELECT p, min(struct_pack(d := doc_id, b := blk)) AS o
              FROM bblocks GROUP BY 1),
    kept AS (SELECT b.doc_id, b.blk FROM bblocks b JOIN owner ow USING (p)
             WHERE b.doc_id = ow.o.d AND b.blk = ow.o.b
               AND b.p NOT IN (SELECT p FROM corpus_p)),
    para AS (SELECT g.doc_id, g.source,
                    CAST(s.nb AS BIGINT) AS n_blocks,
                    CAST(COALESCE(k.n_kept, 0) AS BIGINT) AS n_kept
             FROM gated g
             JOIN sized s ON s.doc_id = g.doc_id
             LEFT JOIN (SELECT doc_id, COUNT(*) AS n_kept FROM kept
                        GROUP BY 1) k ON k.doc_id = g.doc_id),
    -- stage 3: ANN assignment of gated docs' embeddings to the corpus
    -- codebook (first 16 corpus vectors, normalized)
    e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v0 FROM embeddings),
    nr AS (SELECT vec_id, sqrt(list_dot_product(v0, v0)) AS nrm, v0 FROM e0),
    e AS (SELECT vec_id, list_transform(v0, x -> x / nrm) AS v FROM nr),
    cb AS (SELECT CAST(row_number() OVER (ORDER BY e.vec_id) - 1 AS INTEGER)
                    AS cl, e.v
           FROM e, thr WHERE e.vec_id < thr.t ORDER BY e.vec_id LIMIT 16),
    sc AS (SELECT e.vec_id, cb.cl, list_dot_product(e.v, cb.v) AS s
           FROM e SEMI JOIN gated g ON e.vec_id = g.doc_id
           CROSS JOIN cb),
    asg AS (SELECT vec_id, s AS ascore
            FROM (SELECT vec_id, s,
                         row_number() OVER (PARTITION BY vec_id
                                            ORDER BY s DESC, cl ASC) AS rn
                  FROM sc)
            WHERE rn = 1)
    SELECT b.source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(g.doc_id) AS BIGINT) AS n_media_ok,
           CAST(COALESCE(SUM(p.n_blocks), 0) AS BIGINT) AS n_blocks,
           CAST(COALESCE(SUM(p.n_kept), 0) AS BIGINT) AS n_blocks_kept,
           CAST(SUM(CAST(round(a.ascore, 6) AS DECIMAL(20,6))) AS DOUBLE)
             / COUNT(a.vec_id) AS mean_assign_score
    FROM batch b
    LEFT JOIN gated g ON g.doc_id = b.doc_id
    LEFT JOIN para p ON p.doc_id = b.doc_id
    LEFT JOIN asg a ON a.vec_id = b.doc_id
    GROUP BY b.source
    """,
)
def training_data_pipeline_v5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed production tick v5 — the MULTIMODAL nightly (r07): the
    new-batch documents pass a REAL media decode gate (stdlib BMP/PPM/
    WAV parsers on generator-derived blobs: images need >= 12 px, audio
    needs >= 5 ms — the corrupt-/degenerate-asset cut every multimodal
    training pipeline runs), survivors get the incremental paragraph
    rewrite against the corpus block index, and their embeddings are
    assigned to the corpus IVF codebook (the index-upsert math of
    ``ann_ivf_upsert_tick``, in-plan). One row per source: batch size,
    decode-gate survivors, paragraph block totals/kept, and the
    DECIMAL-folded mean assignment score. Composes only driver-proven
    pieces, so the single composed oracle certifies the stage WIRING.
    """
    from dbt_repo_spark.operators import multimodal

    docs = t(spark, sf_dir, "documents")
    thr = docs.agg(F.floor(F.count("*") * 0.8).cast("long").alias("thr"))
    batch = docs.join(F.broadcast(thr)).filter(F.col("doc_id") >= F.col("thr"))
    corpus = docs.join(F.broadcast(thr)).filter(F.col("doc_id") < F.col("thr"))

    # stage 1: decode gate over REAL media blobs (media consumed by both
    # decode stages -> persist the generated relation, not re-generate)
    media = multimodal.real_media_from_documents(batch).persist()
    img_ok = (
        multimodal.decode_image_stats(media)
        .filter(F.col("width") * F.col("height") >= 12)
        .select(F.col("media_id").alias("doc_id"))
    )
    aud_ok = (
        multimodal.decode_audio_stats(media)
        .filter(F.col("duration_ms") >= 5.0)
        .select(F.col("media_id").alias("doc_id"))
    )
    gated = batch.join(img_ok.unionByName(aud_ok), "doc_id", "semi")

    # stage 2: incremental paragraph rewrite vs the corpus block index
    idx = dedup.paragraph_block_index(corpus, "doc_id", "text", 10)
    para = dedup.incremental_paragraph_rewrite(gated, idx, "doc_id", "text", 10)

    # stage 3: assign gated docs' embeddings to the corpus codebook
    emb = t(spark, sf_dir, "embeddings")
    corpus_emb = emb.join(F.broadcast(thr)).filter(F.col("vec_id") < F.col("thr"))
    codebook = [
        r.v
        for r in similarity._normalized(corpus_emb, "id", "v", "vec_id", "embedding")
        .orderBy("id")
        .limit(16)
        .collect()
    ]
    gated_emb = emb.join(
        F.broadcast(gated.select(F.col("doc_id").alias("vec_id"))), "vec_id"
    )
    asg = similarity.ivf_assign(gated_emb, codebook, exact=True)

    dec = F.round(F.col("ascore"), 6).cast("decimal(20,6)")
    return (
        batch.select("doc_id", "source")
        .join(gated.select("doc_id").withColumn("__g", F.lit(1)), "doc_id", "left")
        .join(para.select("doc_id", "n_blocks", "n_kept"), "doc_id", "left")
        .join(asg.select(F.col("vec_id").alias("doc_id"), "ascore"), "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.count("__g").cast("long").alias("n_media_ok"),
            F.coalesce(F.sum("n_blocks"), F.lit(0)).cast("long").alias("n_blocks"),
            F.coalesce(F.sum("n_kept"), F.lit(0)).cast("long").alias("n_blocks_kept"),
            (F.sum(dec).cast("double") / F.count("ascore")).alias("mean_assign_score"),
        )
    )


@q(
    "embed_near_dup_pairs_scaled",
    """
    WITH nv AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM embeddings),
    pp AS (SELECT 1.0 - acos(0.4)/pi() AS p,
                  greatest(2, CAST(ceil(log2(greatest(n, 2.0) / 64.0))
                               AS BIGINT)) AS r_ideal
           FROM nv),
    rb AS (SELECT rr.r,
                  greatest(1, CAST(ceil(ln(1.0 - 0.8)
                      / ln(1.0 - pow(p, CAST(rr.r AS DOUBLE))))
                      AS BIGINT)) AS b
           FROM pp, range(2, 65) rr(r) WHERE rr.r <= pp.r_ideal),
    prm AS (SELECT r, b FROM rb WHERE r * b <= 512 ORDER BY r DESC LIMIT 1),
    px AS (SELECT j, d, (j*1000003 + d*7919 + 12345) & 4294967295 AS x0
           FROM range(512) t(j), range(64) t2(d), prm
           WHERE j < prm.r * prm.b),
    p1 AS (SELECT j, d, xor(x0, (x0 << 13) & 4294967295) AS x1 FROM px),
    p2 AS (SELECT j, d, xor(x1, x1 >> 17) AS x2 FROM p1),
    p3 AS (SELECT j, d,
                  CAST(xor(x2, (x2 << 5) & 4294967295) AS DOUBLE)
                  / 4294967296.0 - 0.5 AS w
           FROM p2),
    pl AS (SELECT j, list(w ORDER BY d) AS pw FROM p3 GROUP BY j),
    e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v0 FROM embeddings),
    bits AS (SELECT e0.vec_id, p.j,
                    CASE WHEN list_dot_product(e0.v0, p.pw) >= 0
                         THEN '1' ELSE '0' END AS bit
             FROM e0 CROSS JOIN pl p),
    keys AS (SELECT vec_id, j // prm.r AS band,
                    string_agg(bit, '' ORDER BY j) AS bkey
             FROM bits, prm GROUP BY vec_id, j // prm.r),
    cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
             FROM keys a JOIN keys b
               ON a.band = b.band AND a.bkey = b.bkey
              AND a.vec_id < b.vec_id),
    nr AS (SELECT vec_id, sqrt(list_dot_product(v0, v0)) AS nrm, v0 FROM e0),
    e  AS (SELECT vec_id, list_transform(v0, x -> x / nrm) AS v FROM nr),
    scored AS (SELECT c.id_a, c.id_b,
                      list_dot_product(ea.v, eb.v) AS raw
               FROM cand c
               JOIN e ea ON ea.vec_id = c.id_a
               JOIN e eb ON eb.vec_id = c.id_b)
    SELECT id_a, id_b, round(raw, 6) AS score FROM scored WHERE raw >= 0.4
    """,
)
def embed_near_dup_pairs_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs with SOLVER-SIZED LSH parameters
    (similarity.py::embedding_near_duplicates_scaled) — the scale path
    the r07 growth sweep demanded: fixed (8 planes, 4 bands) keeps band
    keys 2 bits wide, so candidates grow QUADRATICALLY with the corpus
    (measured 2.9s -> 23s at 1x -> 4x); here band width tracks log2(N)
    (bucket occupancy pinned at ~64) and band count restores the 0.8
    recall floor at tau = 0.4.

    FULL oracle as of r08 (was the registry's last no_oracle row): the
    whole pipeline is deterministic given N, so the SQL reproduces ALL
    of it — the OR-of-ANDs parameter solver (r = max(2, ceil(log2(N/64))),
    b = ceil(ln(1-R)/ln(1-p^r)), max-r-fitting-512-planes selection ≡
    lsh_params_for's descending loop), the xorshift32 hyperplanes (the
    embed_near_dup_pairs recipe), the sign bits on the RAW vectors
    (matching _signature_arrow — sign is scale-invariant), the banded
    candidate join, and the sequential-fold exact verify. Verified
    bit-green at sf0.001/0.01 (r=3,b=6) AND sf0.1 (n=2000 → r=5,b=16:
    the solver's variable path). Residual cross-engine risk is a BLAS
    signature dot whose true value sits within ~1e-13 of zero — none
    exist in the content-addressed fixture at any sf tier.
    """
    emb = t(spark, sf_dir, "embeddings")
    return similarity.embedding_near_duplicates_scaled(emb, threshold=0.4)


# One spherical-Lloyd iteration, SQL template: assignment under codebook
# {prev} -> DECIMAL-folded per-(cluster, component) means -> unit
# renormalization; an empty cluster keeps its {prev} centroid. Used
# unrolled (fixed iteration count = deterministic = oracle-checkable).
# The order-exact Lloyd-step SQL template moved to dbt_repo_spark.queries
# (r07) so the dedup_semantic oracle can share it; imported here for the
# ann_ivf_retrain oracle below.
from dbt_repo_spark.queries import _LLOYD_STEP  # noqa: E402  isort:skip


@q(
    "ann_ivf_retrain",
    """
    WITH e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v0
                FROM embeddings),
    nr AS (SELECT vec_id, sqrt(list_dot_product(v0, v0)) AS nrm, v0 FROM e0),
    e AS (SELECT vec_id, list_transform(v0, x -> x / nrm) AS v FROM nr),
    cb0 AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER)
                     AS cl, v
            FROM e ORDER BY vec_id LIMIT 8),"""
    + _LLOYD_STEP.format(i=1, prev="cb0")
    + ","
    + _LLOYD_STEP.format(i=2, prev="cb1")
    + """,
    af AS (SELECT vec_id, cl AS cluster, s AS ascore FROM (
             SELECT e.vec_id, cb.cl, list_dot_product(e.v, cb.v) AS s,
                    row_number() OVER (
                      PARTITION BY e.vec_id
                      ORDER BY list_dot_product(e.v, cb.v) DESC, cb.cl ASC
                    ) AS rn
             FROM e CROSS JOIN cb2 cb) WHERE rn = 1),
    st AS (SELECT cluster, COUNT(*) AS n,
                  CAST(SUM(CAST(round(ascore, 6) AS DECIMAL(20,6)))
                       AS DOUBLE) / COUNT(*) AS avg_s
           FROM af GROUP BY 1),
    cent AS (SELECT cb.cl AS cluster, unnest(cb.v) AS cval,
                    unnest(range(0, len(cb.v))) AS idx
             FROM cb2 cb)
    SELECT c.cluster, CAST(c.idx AS INTEGER) AS idx,
           round(c.cval, 6) AS c,
           CAST(COALESCE(st.n, 0) AS BIGINT) AS n_members,
           st.avg_s AS avg_score
    FROM cent c LEFT JOIN st ON st.cluster = c.cluster
    """,
)
def ann_ivf_retrain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Codebook RETRAIN — the response to ``ann_ivf_upsert_tick``'s
    drift flag and the third leg of the index lifecycle (build ->
    upsert -> retrain). Two spherical Lloyd steps from the
    deterministic seed (8 smallest-id vectors, unit-normalized), then
    the final corpus assignment under the retrained codebook
    (``similarity.py::ivf_retrain``). Every stage is cross-engine
    exact — sequential-fold assignment dots, DECIMAL(20,6)-folded
    centroid means with one IEEE division, sequential-fold
    renormalization, empty cells keeping their previous centroid — so
    the oracle unrolls the SAME two iterations in SQL and the 6-dp
    centroid components themselves hash-match. Output: one row per
    (cluster, component) with the retrained centroid value plus the
    cell's final member count and DECIMAL-folded mean assignment score
    (8 x 64 = 512 rows). Scale shape per iteration: broadcast-codebook
    assignment (no shuffle), one k*dim-cell partial-aggregable sum, a
    k-row driver collect; at 100 TB retrain runs on a deterministic
    id-sample, then reassigns the corpus once — see the operator
    docstring.
    """
    emb = t(spark, sf_dir, "embeddings")
    cb = similarity.ivf_retrain(emb, k=8, n_iters=2)
    normed = similarity._normalized(emb, "vec_id", "v", "vec_id", "embedding")
    asg = similarity._assign_normed(normed, cb)
    stats = asg.groupBy("cluster").agg(
        F.count("*").cast("long").alias("n_members"),
        (
            F.sum(F.round(F.col("ascore"), 6).cast("decimal(20,6)")).cast("double")
            / F.count("*")
        ).alias("avg_score"),
    )
    cent = spark.createDataFrame(
        [
            (cl, idx, float(val))
            for cl, vec in enumerate(cb)
            for idx, val in enumerate(vec)
        ],
        "cluster int, idx int, c double",
    )
    return (
        cent.join(stats, "cluster", "left")
        .select(
            "cluster",
            "idx",
            F.round("c", 6).alias("c"),
            F.coalesce("n_members", F.lit(0)).cast("long").alias("n_members"),
            "avg_score",
        )
    )


@q(
    "snapshot_novelty_report",
    """
    WITH thr AS (SELECT CAST(floor(COUNT(*) * 0.8) AS BIGINT) AS t
                 FROM documents),
    newd AS (SELECT d.doc_id, d.source, d.text FROM documents d, thr
             WHERE d.doc_id >= thr.t),
    oldd AS (SELECT d.doc_id, d.text FROM documents d, thr
             WHERE d.doc_id < thr.t),
    -- doc granularity: exact content identity
    old_sig AS (SELECT DISTINCT md5(text) AS sig FROM oldd),
    docs AS (SELECT n.source,
                    CAST(COUNT(*) AS BIGINT) AS n_docs,
                    CAST(COUNT(o.sig) AS BIGINT) AS n_exact_dup
             FROM (SELECT source, md5(text) AS sig FROM newd) n
             LEFT JOIN old_sig o USING (sig) GROUP BY 1),
    -- paragraph granularity: 10-token blocks (the rewrite-family rule)
    ntoks AS (SELECT doc_id, source,
                     list_filter(string_split(text, ' '), x -> x <> '') AS w
              FROM newd),
    nsized AS (SELECT doc_id, source, w,
                      CAST(ceil(len(w) / 10.0) AS INT) AS nb FROM ntoks),
    nblocks AS (SELECT source,
                       md5(array_to_string(
                         list_slice(w, (i-1)*10 + 1, i*10), ' ')) AS ph
                FROM nsized, UNNEST(range(1, nb + 1)) AS u(i)
                WHERE nb >= 1),
    otoks AS (SELECT doc_id,
                     list_filter(string_split(text, ' '), x -> x <> '') AS w
              FROM oldd),
    osized AS (SELECT doc_id, w, CAST(ceil(len(w) / 10.0) AS INT) AS nb
               FROM otoks),
    oblocks AS (SELECT DISTINCT md5(array_to_string(
                         list_slice(w, (i-1)*10 + 1, i*10), ' ')) AS ph
                FROM osized, UNNEST(range(1, nb + 1)) AS u(i)
                WHERE nb >= 1),
    blocks AS (SELECT n.source,
                      CAST(COUNT(*) AS BIGINT) AS n_blocks,
                      CAST(COUNT(o.ph) AS BIGINT) AS n_blocks_known
               FROM nblocks n LEFT JOIN oblocks o USING (ph) GROUP BY 1),
    -- 8-gram granularity: per-doc-distinct word 8-grams (shingle rule)
    ngrams AS (SELECT DISTINCT doc_id, source,
                      md5(array_to_string(list_slice(w, i, i + 7), ' '))
                        AS gh
               FROM nsized, UNNEST(range(1, len(w) - 6)) AS u(i)
               WHERE len(w) >= 8),
    ograms AS (SELECT DISTINCT md5(array_to_string(list_slice(w, i, i + 7),
                                                   ' ')) AS gh
               FROM osized, UNNEST(range(1, len(w) - 6)) AS u(i)
               WHERE len(w) >= 8),
    grams AS (SELECT n.source,
                     CAST(COUNT(DISTINCT n.gh) AS BIGINT) AS n_grams,
                     CAST(COUNT(DISTINCT CASE WHEN o.gh IS NOT NULL
                                              THEN n.gh END) AS BIGINT)
                       AS n_grams_known
              FROM ngrams n LEFT JOIN ograms o USING (gh) GROUP BY 1)
    SELECT d.source, d.n_docs, d.n_exact_dup,
           COALESCE(b.n_blocks, 0) AS n_blocks,
           COALESCE(b.n_blocks_known, 0) AS n_blocks_known,
           COALESCE(g.n_grams, 0) AS n_grams,
           COALESCE(g.n_grams_known, 0) AS n_grams_known,
           CAST(d.n_exact_dup AS DOUBLE) / NULLIF(d.n_docs, 0)
             AS doc_dup_rate,
           CAST(b.n_blocks_known AS DOUBLE) / NULLIF(b.n_blocks, 0)
             AS block_known_rate,
           CAST(g.n_grams_known AS DOUBLE) / NULLIF(g.n_grams, 0)
             AS gram_known_rate
    FROM docs d
    LEFT JOIN blocks b USING (source)
    LEFT JOIN grams g USING (source)
    """,
)
def snapshot_novelty_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-SNAPSHOT novelty audit (CCNet/CommonCrawl shape): before a
    new crawl delta enters the corpus, measure how much of it the
    previous snapshot already contains — per source, at three
    granularities. Doc-level: exact content identity (md5, the
    dedup_exact rule). Paragraph-level: 10-token blocks (the
    rewrite-family splitter), fraction already in the old snapshot's
    block set. 8-gram level: per-doc-distinct word shingles (the
    decontamination rule), distinct-gram overlap with the old
    snapshot. The three rates tell a pipeline operator whether to run
    the cheap doc cut, the paragraph rewrite, or nothing at all on
    this delta — the triage step ahead of the incremental ticks
    (``dedup_paragraph_incremental``, ``dedup_substring_incremental``).
    Reference analog: the incremental fact's "which arriving rows are
    genuinely new" anti-join on surrogate keys
    (/root/reference/models/facts/fact_station_status.sql:30-32),
    generalized from exact key identity to three content granularities.

    Scale shape: the old snapshot folds to three DISTINCT hash sets
    (never re-shuffled text, 16-byte keys); each granularity is one
    hash-equi-join bounded by |new delta| x matching rows + one
    partial-aggregable per-source count. All counts integer-exact;
    the three rates are single IEEE divisions. Complements
    ``dup_rate_by_source`` (within-corpus) and
    ``decontaminate_train_eval`` (train-vs-eval direction).
    """
    docs = t(spark, sf_dir, "documents")
    thr = docs.agg(F.floor(F.count("*") * 0.8).cast("long").alias("thr"))
    old = docs.join(F.broadcast(thr)).filter(F.col("doc_id") < F.col("thr"))
    new = docs.join(F.broadcast(thr)).filter(F.col("doc_id") >= F.col("thr"))

    old_sig = old.select(F.md5("text").alias("sig")).distinct()
    doc_stats = (
        new.select("source", F.md5("text").alias("sig"))
        .join(old_sig.withColumn("__hit", F.lit(1)), "sig", "left")
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.count("__hit").cast("long").alias("n_exact_dup"),
        )
    )

    src = new.select("doc_id", "source")
    new_blocks = (
        dedup._paragraph_blocks(new, "doc_id", "text", 10)
        .select("doc_id", F.md5("p").alias("ph"))
        .join(src, "doc_id")
    )
    old_blocks = (
        dedup._paragraph_blocks(old, "doc_id", "text", 10)
        .select(F.md5("p").alias("ph"))
        .distinct()
    )
    block_stats = (
        new_blocks.join(old_blocks.withColumn("__hit", F.lit(1)), "ph", "left")
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_blocks"),
            F.count("__hit").cast("long").alias("n_blocks_known"),
        )
    )

    new_grams = (
        dedup.shingles(new, "doc_id", "text", n=8)
        .select(F.col("id").alias("doc_id"), F.md5("shingle").alias("gh"))
        .join(src, "doc_id")
    )
    old_grams = (
        dedup.shingles(old, "doc_id", "text", n=8)
        .select(F.md5("shingle").alias("gh"))
        .distinct()
    )
    gram_stats = (
        new_grams.join(old_grams.withColumn("__hit", F.lit(1)), "gh", "left")
        .groupBy("source")
        .agg(
            F.count_distinct("gh").cast("long").alias("n_grams"),
            F.count_distinct(F.when(F.col("__hit").isNotNull(), F.col("gh")))
            .cast("long")
            .alias("n_grams_known"),
        )
    )

    return (
        doc_stats.join(block_stats, "source", "left")
        .join(gram_stats, "source", "left")
        .select(
            "source",
            "n_docs",
            "n_exact_dup",
            F.coalesce("n_blocks", F.lit(0)).cast("long").alias("n_blocks"),
            F.coalesce("n_blocks_known", F.lit(0)).cast("long")
            .alias("n_blocks_known"),
            F.coalesce("n_grams", F.lit(0)).cast("long").alias("n_grams"),
            F.coalesce("n_grams_known", F.lit(0)).cast("long")
            .alias("n_grams_known"),
            (
                F.col("n_exact_dup").cast("double")
                / F.nullif(F.col("n_docs"), F.lit(0))
            ).alias("doc_dup_rate"),
            (
                F.col("n_blocks_known").cast("double")
                / F.nullif(F.col("n_blocks"), F.lit(0))
            ).alias("block_known_rate"),
            (
                F.col("n_grams_known").cast("double")
                / F.nullif(F.col("n_grams"), F.lit(0))
            ).alias("gram_known_rate"),
        )
    )
