"""Round-9 operator wave: the pipeline-infrastructure asks a 100 TB
training-data deployment hits right after the r8 scale family.

- **DSIR importance weights** (`dsir_importance_weights`): hashed-n-gram
  importance resampling (Xie et al. 2023, "Data Selection for Language
  Models via Importance Resampling") — the standard recipe for tilting a
  raw crawl toward a target domain without training a classifier. Both
  feature distributions reduce to a 256-bucket table (broadcastable KBs
  at any corpus size); per-document scores are one explode + broadcast
  join + per-doc integer sum.
- **FD audit** (`fd_violations`): the Deequ-style functional-dependency
  check (does A determine B?) over candidate FDs — the data-quality
  contract test that catches silently denormalized or corrupted feeds.
  Two hash-aggs per FD, exact integers end to end.
- **CM join-size estimate** (`join_size_cm_estimate`): the
  Cormode-Muthukrishnan inner-product estimate of an equi-join's output
  cardinality from two count-min sketches — the planner-shaped probe
  that prices a shuffle BEFORE running it. est ≥ exact always
  (property-tested); both sketches are map-side one-pass builds.
- **Weighted SSSP** (`graph_weighted_sssp`): bounded-round Bellman-Ford
  over integer weights (graph.weighted_sssp) — the weighted
  blast-radius sibling bfs_hops' docstring deferred.

Cross-engine exactness: everything is integers/booleans except the DSIR
log-ratios, which follow the bigram-LM rule (ln of identical doubles
rounds to the same 6-dp integer on both engines; all downstream sums are
integer, hence order-independent).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dbt_repo_spark.operators.ids import SYNTH_ID_TAG
from dbt_repo_spark.queries import dec, q, scratch_dir, t

_DSIR_B = 256  # hashed-feature buckets (per DSIR: 10k at production scale)


def _duck_bucket(expr: str, width: int) -> str:
    """DuckDB twin of sketches._cm_bucket's md5 fold: first 8 md5 hex
    chars of ``expr`` as an integer mod ``width``."""
    return (
        f"CAST(CAST(('0x' || substr(md5({expr}), 1, 8)) AS UBIGINT)"
        f" % {width} AS BIGINT)"
    )


_DSIR_CTES = f"""toks AS (
      SELECT doc_id, lang,
             unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS w
      FROM documents),
    tb AS (SELECT doc_id, lang, {_duck_bucket("w", _DSIR_B)} AS b FROM toks),
    spine AS (SELECT unnest(range({_DSIR_B})) AS b),
    srcc AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS c FROM tb GROUP BY 1),
    tgtc AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS c FROM tb
             WHERE lang = 'en' GROUP BY 1),
    tots AS (SELECT (SELECT COUNT(*) FROM tb) AS ts,
                    (SELECT COUNT(*) FROM tb WHERE lang = 'en') AS tt),
    ratio AS (
      SELECT spine.b,
             CAST(round((ln(CAST(COALESCE(tg.c, 0) + 1 AS DOUBLE)
                            / CAST(tots.tt + {_DSIR_B} AS DOUBLE))
                         - ln(CAST(COALESCE(sc.c, 0) + 1 AS DOUBLE)
                              / CAST(tots.ts + {_DSIR_B} AS DOUBLE)))
                        * 1000000.0, 0) AS BIGINT) AS r
      FROM spine
      LEFT JOIN srcc sc ON sc.b = spine.b
      LEFT JOIN tgtc tg ON tg.b = spine.b
      CROSS JOIN tots),
    scores AS (
      SELECT tb.doc_id, MIN(tb.lang) AS lang,
             CAST(COUNT(*) AS BIGINT) AS n_toks,
             CAST(SUM(ratio.r) AS BIGINT) AS score_micros
      FROM tb JOIN ratio ON ratio.b = tb.b
      GROUP BY tb.doc_id)"""


def _dsir_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared DSIR scoring relation: (doc_id, lang, n_toks, score_micros)
    — the Spark twin of the ``scores`` CTE in ``_DSIR_CTES``."""
    from dbt_repo_spark.operators.dedup import tokens

    docs = t(spark, sf_dir, "documents")
    tb = docs.select(
        "doc_id",
        "lang",
        F.explode(tokens(F.col("text"))).alias("w"),
    ).select(
        "doc_id",
        "lang",
        F.pmod(
            F.conv(F.substring(F.md5("w"), 1, 8), 16, 10).cast("bigint"),
            F.lit(_DSIR_B),
        ).alias("b"),
    )
    spine = spark.range(_DSIR_B).select(F.col("id").alias("b"))
    srcc = tb.groupBy("b").agg(F.count("*").alias("cs"))
    tgtc = (
        tb.filter(F.col("lang") == "en").groupBy("b").agg(F.count("*").alias("ct"))
    )
    tots = tb.agg(
        F.count("*").alias("ts"),
        F.sum((F.col("lang") == "en").cast("long")).alias("tt"),
    )
    ln = F.log  # natural log, same as DuckDB ln()
    ratio = (
        spine.join(srcc, "b", "left")
        .join(tgtc, "b", "left")
        .join(F.broadcast(tots))
        .select(
            "b",
            F.round(
                (
                    ln(
                        (F.coalesce(F.col("ct"), F.lit(0)) + 1).cast("double")
                        / (F.col("tt") + _DSIR_B).cast("double")
                    )
                    - ln(
                        (F.coalesce(F.col("cs"), F.lit(0)) + 1).cast("double")
                        / (F.col("ts") + _DSIR_B).cast("double")
                    )
                )
                * 1000000.0,
                0,
            )
            .cast("long")
            .alias("r"),
        )
    )
    return (
        tb.join(F.broadcast(ratio), "b")
        .groupBy("doc_id")
        .agg(
            F.min("lang").alias("lang"),
            F.count("*").alias("n_toks"),
            F.sum("r").cast("long").alias("score_micros"),
        )
    )


@q(
    "dsir_importance_weights",
    f"""
    WITH {_DSIR_CTES}
    SELECT doc_id, lang, n_toks, score_micros, score_micros > 0 AS keep
    FROM scores
    """,
)
def dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR (hashed-n-gram importance resampling) scores against the
    'en' slice as the target domain: feature = md5-hashed token bucket
    (256 lanes), both bucket distributions Laplace-smoothed over the
    full spine (no ln(0), buckets absent from either side included),
    per-document score = Σ over token instances of the 6-dp integer
    log-ratio ln(p_target(b)) − ln(p_source(b)). A positive score means
    the document looks more like the target than the source average —
    ``keep`` is the zero-threshold selection DSIR resamples from.

    Scale (100 TB): the two distribution tables are ≤256 rows each
    regardless of corpus size (one hash-agg apiece, partial-aggregable)
    and BROADCAST to the scoring pass; scoring is explode → map-side
    broadcast join → per-doc integer sum (one shuffle keyed on doc_id,
    combiner-friendly). No UDFs, no driver-side loops, no vocabulary
    materialized anywhere.
    """
    return _dsir_scores(spark, sf_dir).select(
        "doc_id", "lang", "n_toks", "score_micros",
        (F.col("score_micros") > 0).alias("keep"),
    )


_FD_SPECS = [
    # (name, table, lhs, rhs) — a key-held FD (doc_id->lang, zero
    # violations by uniqueness) plus four violated ones: the audit must
    # report both verdicts, not just rubber-stamp.
    ("documents.doc_id->lang", "documents", "doc_id", "lang"),
    ("lineitem.l_orderkey->l_linestatus", "lineitem", "l_orderkey", "l_linestatus"),
    ("lineitem.l_suppkey->l_returnflag", "lineitem", "l_suppkey", "l_returnflag"),
    ("orders.o_custkey->o_orderpriority", "orders", "o_custkey", "o_orderpriority"),
    ("documents.source->lang", "documents", "source", "lang"),
]


def _fd_oracle() -> str:
    blocks = []
    for name, table, lhs, rhs in _FD_SPECS:
        blocks.append(f"""
    SELECT '{name}' AS fd,
           CAST(COUNT(*) AS BIGINT) AS n_keys,
           CAST(SUM(CASE WHEN d > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_violating_keys,
           CAST(MAX(d) AS BIGINT) AS max_distinct_rhs,
           CAST(SUM(CASE WHEN d > 1 THEN 1 ELSE 0 END) * 1000000
                // COUNT(*) AS BIGINT) AS violation_rate_micros
    FROM (SELECT {lhs}, COUNT(DISTINCT {rhs}) AS d FROM {table} GROUP BY 1)""")
    return " UNION ALL ".join(blocks)


@q("fd_violations", _fd_oracle())
def fd_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency audit (the Deequ/data-contract check): for
    each candidate FD A→B, how many A-keys map to more than one B value.
    One row per audited FD: (fd, n_keys, n_violating_keys,
    max_distinct_rhs, violation_rate_micros — exact integer millionths,
    no float division). The spec list mixes a held FD with violated ones
    so both verdicts are exercised.

    Scale: each FD is two partial-aggregable hash-aggs (per-key distinct
    count, then a 1-row fold) — |keys| intermediate rows, never a
    materialized violation list; the rate is read off the counts.
    """
    out = None
    for name, table, lhs, rhs in _FD_SPECS:
        per_key = (
            t(spark, sf_dir, table)
            .groupBy(lhs)
            .agg(F.countDistinct(rhs).alias("d"))
        )
        viol = F.sum((F.col("d") > 1).cast("long"))
        row = per_key.agg(
            F.lit(name).alias("fd"),
            F.count("*").alias("n_keys"),
            viol.alias("n_violating_keys"),
            F.max("d").cast("long").alias("max_distinct_rhs"),
            F.expr(
                "CAST(sum(CASE WHEN d > 1 THEN 1 ELSE 0 END) * 1000000"
                " div count(*) AS BIGINT)"
            ).alias("violation_rate_micros"),
        )
        out = row if out is None else out.unionByName(row)
    return out


@q(
    "join_size_cm_estimate",
    f"""
    WITH d AS (SELECT unnest(range(4)) AS d),
    ska AS (
      SELECT d, {_duck_bucket(
          "CAST(user_id AS VARCHAR) || '|' || CAST(d AS VARCHAR)", 256
      )} AS bucket, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM events CROSS JOIN d GROUP BY 1, 2),
    skb AS (
      SELECT d, {_duck_bucket(
          "CAST(o_custkey AS VARCHAR) || '|' || CAST(d AS VARCHAR)", 256
      )} AS bucket, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM orders CROSS JOIN d GROUP BY 1, 2),
    ip AS (SELECT ska.d, SUM(ska.cnt * skb.cnt) AS ip
           FROM ska JOIN skb ON ska.d = skb.d AND ska.bucket = skb.bucket
           GROUP BY 1),
    ex AS (SELECT COALESCE(SUM(a.c * b.c), 0) AS exact
           FROM (SELECT user_id AS k, COUNT(*) AS c FROM events GROUP BY 1) a
           JOIN (SELECT o_custkey AS k, COUNT(*) AS c FROM orders GROUP BY 1) b
             ON a.k = b.k)
    SELECT CAST(ex.exact AS BIGINT) AS exact_join_size,
           CAST((SELECT MIN(ip) FROM ip) AS BIGINT) AS cm_join_size_est,
           CAST((SELECT MIN(ip) FROM ip) - ex.exact AS BIGINT) AS overcount
    FROM ex
    """,
)
def join_size_cm_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-shuffle join-cardinality probe: |events ⋈ orders ON user_id =
    o_custkey| estimated from two 4×256 count-min sketches via the
    Cormode-Muthukrishnan inner-product bound
    (sketches.countmin_inner_product), alongside the exact size and the
    guaranteed-non-negative overcount. est ≥ exact ALWAYS (all counters
    non-negative; collisions only add cross terms) — property-tested.

    Scale (100 TB): the exact number needs the real key-join (here it is
    the oracle's certificate); the ESTIMATE is the product a planner can
    afford — each sketch builds map-side in one pass (depth×width cells
    regardless of key cardinality) and the inner product joins two
    KB-sized tables. This is Spark's runtime-stats gap made explicit:
    price the shuffle before paying for it.
    """
    from dbt_repo_spark.operators.sketches import (
        countmin_inner_product,
        countmin_table,
    )

    ev = t(spark, sf_dir, "events").select(F.col("user_id").alias("k"))
    od = t(spark, sf_dir, "orders").select(F.col("o_custkey").alias("k"))
    ska = countmin_table(ev, "k")
    skb = countmin_table(od, "k")
    est = countmin_inner_product(ska, skb)
    a = ev.groupBy("k").agg(F.count("*").alias("ca"))
    b = od.groupBy("k").agg(F.count("*").alias("cb"))
    exact = a.join(b, "k").agg(
        F.coalesce(F.sum(F.col("ca") * F.col("cb")), F.lit(0))
        .cast("long")
        .alias("exact_join_size")
    )
    return exact.join(F.broadcast(est)).select(
        "exact_join_size",
        "cm_join_size_est",
        (F.col("cm_join_size_est") - F.col("exact_join_size")).alias("overcount"),
    )


def _sssp_oracle(iters: int = 4) -> str:
    rounds = []
    for r in range(1, iters + 1):
        rounds.append(
            f"""s{r} AS (
      SELECT node, MIN(dist) AS dist FROM (
        SELECT node, dist FROM s{r - 1}
        UNION ALL
        SELECT e.dst AS node, s{r - 1}.dist + e.w AS dist
        FROM s{r - 1} JOIN e ON e.src = s{r - 1}.node)
      GROUP BY node)"""
        )
    return f"""
    WITH e AS (
      SELECT l_orderkey AS src, l_partkey + {SYNTH_ID_TAG} AS dst,
             CAST(l_quantity AS BIGINT) AS w
      FROM lineitem
      UNION ALL
      SELECT l_partkey + {SYNTH_ID_TAG} AS src, l_orderkey AS dst,
             CAST(l_quantity AS BIGINT) AS w
      FROM lineitem),
    seeds AS (SELECT DISTINCT l_orderkey AS node FROM lineitem
              WHERE l_orderkey % 64 = 0),
    s0 AS (SELECT node, CAST(0 AS BIGINT) AS dist FROM seeds),
    {", ".join(rounds)}
    SELECT dist // 10 AS dist_bucket, CAST(COUNT(*) AS BIGINT) AS n_nodes,
           MIN(dist) AS min_dist, MAX(dist) AS max_dist,
           CAST(SUM(dist) AS BIGINT) AS sum_dist
    FROM s{iters} GROUP BY 1
    """


@q("graph_weighted_sssp", _sssp_oracle())
def graph_weighted_sssp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted blast radius: exact ≤4-edge shortest DISTANCES (edge
    weight = line quantity) from the seed set over the order↔part
    bipartite graph — graph.weighted_sssp's bounded-round Bellman-Ford,
    where bfs_hops counts edges this accumulates weight (a longer-hop
    path can be lighter, so a settled node can re-improve — but only
    nodes whose distance improved last round can improve a neighbor,
    so rounds join the improved-frontier only, r10 true-frontier fix).
    Part nodes ride in the guarded 2^40 namespace (ids.tagged_id).
    Output: per 10-unit distance bucket, node count + distance extrema
    and mass — covers every settled node without shipping the node list.
    All integers → full oracle (unrolled relaxation CTEs).
    """
    from dbt_repo_spark.operators.graph import weighted_sssp
    from dbt_repo_spark.operators.ids import tagged_id

    from dbt_repo_spark.operators.ids import SYNTH_ID_TAG as _TAG

    li = t(spark, sf_dir, "lineitem")
    part = tagged_id(F.col("l_partkey"), what="l_partkey")
    # order ids stay raw but are guarded the same way as graph_bfs_hops:
    # the tag-then-subtract keeps the in-plan assertion that no orderkey
    # reaches the part namespace
    order_guard = tagged_id(F.col("l_orderkey"), what="l_orderkey") - F.lit(
        _TAG
    ).cast("long")
    w = F.col("l_quantity").cast("long")
    edges = li.select(
        order_guard.alias("src"), part.alias("dst"), w.alias("w")
    ).unionByName(
        li.select(part.alias("src"), order_guard.alias("dst"), w.alias("w"))
    )
    seeds = (
        li.filter(F.col("l_orderkey") % 64 == 0)
        .select(F.col("l_orderkey").alias("node"))
        .distinct()
    )
    dist = weighted_sssp(edges, seeds, iters=4)
    return dist.groupBy(
        F.expr("dist div 10").alias("dist_bucket")
    ).agg(
        F.count("*").alias("n_nodes"),
        F.min("dist").alias("min_dist"),
        F.max("dist").alias("max_dist"),
        F.sum("dist").cast("long").alias("sum_dist"),
    )


@q(
    "streaming_interval_join",
    """
    WITH p AS (SELECT event_id, user_id, ts FROM events
               WHERE event_type = 'purchase'),
    s AS (SELECT event_id, user_id, ts FROM events
          WHERE event_type = 'signup')
    SELECT p.user_id,
           p.event_id AS purchase_id,
           s.event_id AS signup_id,
           CAST((epoch_us(p.ts) - epoch_us(s.ts)) // 1000000 AS BIGINT)
             AS lag_sec
    FROM p JOIN s
      ON p.user_id = s.user_id
     AND s.ts <= p.ts
     AND p.ts <= s.ts + INTERVAL 30 DAY
    """,
)
def streaming_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STREAM event-time interval join — the one streaming join
    class the registry's stream-static broadcasts don't cover: purchases
    and signups arrive as two independent streams, and each purchase
    pairs with every signup by the same user in the preceding 30 days.
    Spark buffers both sides in watermark-bounded state and emits a
    match when both rows have arrived; the time-range condition
    (s.ts <= p.ts <= s.ts + 30d) is what lets the state store EVICT —
    without it stream-stream state grows forever (the 100 TB killer;
    the watermark + range bound is the operator's contract, not an
    optimization). Inner join: matches are complete with no flush tick
    needed (unlike outer, which waits for the watermark to declare
    no-match), so delivering the backlog as one availableNow batch
    makes the live output EQUAL the batch interval join — which is
    exactly what the oracle states. lag_sec is integer µs-div, exact on
    both engines.
    """
    with scratch_dir("stream_ivj_") as work:
        pdir, sdir = f"{work}/purchases", f"{work}/signups"
        out, ckpt = f"{work}/out", f"{work}/ckpt"
        ev = t(spark, sf_dir, "events").select(
            "event_id", "user_id", "ts", "event_type"
        )
        ev.filter(F.col("event_type") == "purchase").drop(
            "event_type"
        ).write.parquet(pdir)
        ev.filter(F.col("event_type") == "signup").drop(
            "event_type"
        ).write.parquet(sdir)
        sch = "event_id long, user_id long, ts timestamp"
        p = (
            spark.readStream.schema(sch)
            .parquet(pdir)
            .withWatermark("ts", "1 hour")
            .alias("p")
        )
        s = (
            spark.readStream.schema(sch)
            .parquet(sdir)
            .withWatermark("ts", "1 hour")
            .alias("s")
        )
        joined = p.join(
            s,
            (F.col("p.user_id") == F.col("s.user_id"))
            & (F.col("s.ts") <= F.col("p.ts"))
            & (F.col("p.ts") <= F.col("s.ts") + F.expr("INTERVAL 30 DAYS")),
            "inner",
        ).select(
            F.col("p.user_id").alias("user_id"),
            F.col("p.event_id").alias("purchase_id"),
            F.col("s.event_id").alias("signup_id"),
            F.expr(
                "(unix_micros(p.ts) - unix_micros(s.ts)) div 1000000"
            ).alias("lag_sec"),
        )
        qh = (
            joined.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        qh.awaitTermination()
        return (
            spark.read.schema(
                "user_id long, purchase_id long, signup_id long, lag_sec long"
            )
            .parquet(out)
            .localCheckpoint(eager=True)
        )


_PCA_DIM = 64
_PCA_SQUARINGS = 10  # M^(2^10): convergence rate (λ2/λ1)^1024
_PCA_TARGET = 1 << 25  # post-shift magnitude cap (multiply-safe at dim 64)


def _pca_oracle() -> str:
    """Unrolled integer REPEATED-SQUARING power method (pagerank_units'
    exactness recipe applied to the embedding scatter matrix): the
    corpus eigen-gap is thin (λ2/λ1 ≈ 0.98 at sf0.1), so plain power
    iteration needs hundreds of rounds — squaring the matrix k times
    applies 2^k rounds in k join-aggs. Every division is sign-magnitude
    over non-negative operands, so DuckDB `//` and Spark `div` agree
    exactly despite their different negative semantics."""
    rounds = []
    for r in range(1, _PCA_SQUARINGS + 1):
        p = r - 1
        rounds.append(f"""
    q{r} AS MATERIALIZED (
      SELECT a.i, b.j, CAST(SUM(CAST(a.s AS HUGEINT) * b.s) AS HUGEINT) AS u
      FROM m{p} a JOIN m{p} b ON a.j = b.i GROUP BY 1, 2),
    e{r} AS MATERIALIZED (
      SELECT GREATEST(CAST(1 AS HUGEINT), MAX(ABS(u)) // {_PCA_TARGET}) AS d
      FROM q{r}),
    m{r} AS MATERIALIZED (
      SELECT i, j, CAST(CASE WHEN u < 0
                             THEN -(ABS(u) // (SELECT d FROM e{r}))
                             ELSE ABS(u) // (SELECT d FROM e{r}) END
                        AS BIGINT) AS s
      FROM q{r})""")
    return f"""
    WITH x AS MATERIALIZED (
      SELECT vec_id, u.i AS i,
             CAST(round(list_extract(CAST(embedding AS DOUBLE[]), u.i + 1)
                        * 1000, 0) AS BIGINT) AS v
      FROM embeddings, UNNEST(range({_PCA_DIM})) u(i)),
    nn AS (SELECT CAST(COUNT(*) AS HUGEINT) AS n FROM embeddings),
    sv AS MATERIALIZED (SELECT i, CAST(SUM(v) AS HUGEINT) AS s
                        FROM x GROUP BY 1),
    pp AS MATERIALIZED (
      SELECT a.i AS i, b.i AS j,
             CAST(SUM(CAST(a.v AS HUGEINT) * b.v) AS HUGEINT) AS p
      FROM x a JOIN x b USING (vec_id) GROUP BY 1, 2),
    sc AS MATERIALIZED (
      SELECT pp.i, pp.j, (SELECT n FROM nn) * pp.p - sa.s * sb.s AS sc
      FROM pp JOIN sv sa ON sa.i = pp.i JOIN sv sb ON sb.i = pp.j),
    sh AS (SELECT GREATEST(CAST(1 AS HUGEINT),
                           MAX(ABS(sc)) // {_PCA_TARGET}) AS sh FROM sc),
    m0 AS MATERIALIZED (
      SELECT i, j, CAST(CASE WHEN sc < 0
                             THEN -(ABS(sc) // (SELECT sh FROM sh))
                             ELSE ABS(sc) // (SELECT sh FROM sh) END
                        AS BIGINT) AS s
      FROM sc),
    {",".join(rounds)},
    v0 AS (SELECT unnest(range({_PCA_DIM})) AS i,
                  CAST(CASE WHEN CAST(('0x' || substr(md5(
                         CAST(unnest(range({_PCA_DIM})) AS VARCHAR)), 1, 1))
                         AS UBIGINT) < 8
                       THEN 1000000 ELSE -1000000 END AS BIGINT) AS v),
    uv AS MATERIALIZED (
      SELECT m.i, CAST(SUM(CAST(m.s AS HUGEINT) * v0.v) AS HUGEINT) AS u
      FROM m{_PCA_SQUARINGS} m JOIN v0 ON v0.i = m.j GROUP BY 1),
    dv AS (SELECT GREATEST(CAST(1 AS HUGEINT), MAX(ABS(u)) // 1000000) AS d
           FROM uv),
    vf AS MATERIALIZED (
      SELECT i, CAST(CASE WHEN u < 0
                          THEN -(ABS(u) // (SELECT d FROM dv))
                          ELSE ABS(u) // (SELECT d FROM dv) END
                     AS BIGINT) AS v
      FROM uv),
    flip AS (SELECT CASE WHEN (SELECT v FROM vf WHERE v <> 0
                               ORDER BY i LIMIT 1) < 0
                         THEN -1 ELSE 1 END AS f)
    SELECT CAST(i AS BIGINT) AS dim,
           CAST(v * (SELECT f FROM flip) AS BIGINT) AS component
    FROM vf
    """


@q("embed_top_principal_direction", _pca_oracle())
def embed_top_principal_direction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal direction of the embedding corpus by EXACT-INTEGER
    repeated-squaring power method — the embedding-health analytic
    (dominant variance axis: anisotropy diagnosis, whitening input, the
    first step of every "your embeddings collapsed" investigation),
    computed without a single cross-engine-fragile float reduction.

    Recipe (pagerank_units' integer regime, applied to linear algebra):
    embeddings quantize to 3-dp integers; the CENTERED scatter matrix is
    the all-integer identity n·Σxᵢxⱼ − SᵢSⱼ (n² × covariance — same
    eigenvectors, no mean division); a data-derived shift brings it into
    multiply-safe range; the matrix is SQUARED k=10 times (the corpus
    eigen-gap is thin — λ2/λ1 ≈ 0.98 — so plain power iteration needs
    hundreds of rounds; squaring applies 2^k = 1024 of them in k tiny
    join-aggs, renormalizing to the magnitude cap each time), then one
    matvec against an md5-SIGN start vector (the all-ones start is
    near-orthogonal to this corpus's top eigenvector — measured cos 0.01
    — the deterministic pseudo-random signs break that degeneracy on
    both engines identically). EVERY division is sign-magnitude over
    non-negative operands, so Spark ``div`` (truncate-toward-zero) and
    DuckDB ``//`` cannot disagree. Output: 64 rows (dim, component),
    sign-canonicalized so the first nonzero component is positive. Unit
    test pins |cos| > 0.999 against NumPy's eigh at three scales.

    Scale (100 TB): the Gram reduce is ONE pass over the vectors
    through fit.gram_partials — a per-partition NumPy integer matmul
    (the sanctioned Arrow seam) that folds each partition into ONE
    64×64 int64 partial plus column sums, so the only shuffled relation
    is |partitions|·(64²+64) partial rows (r10: this replaced a
    posexplode self-join that shipped 4096 rows PER VECTOR through the
    shuffle — same exact-integer result, certified by the unchanged
    oracle, growth row stays corpus-flat). Everything after runs on
    ≤4096-row relations (10 squaring joins + 1 matvec).
    """
    import hashlib

    import numpy as np

    from dbt_repo_spark.operators.fit import gram_partials

    emb = t(spark, sf_dir, "embeddings")
    d38 = "decimal(38,0)"
    n = emb.count()
    # quantization stays Spark-side (HALF_UP round, identical to the
    # oracle's); the Arrow seam only ever sees exact integers
    xq = emb.select(
        F.expr(
            "transform(embedding,"
            " e -> CAST(round(CAST(e AS DOUBLE) * 1000, 0) AS BIGINT))"
        ).alias("q")
    )
    # r13 (guide §1.2 step 1 — the attribution_markov precedent): every
    # relation after the Gram reduce is ≤(dim²+dim)=4160 rows BY
    # CONSTRUCTION (dim=64), yet the squaring chain paid ~13 blocking
    # scheduler round-trips (10 per-squaring eager checkpoints + the
    # partials checkpoint + 2 more) and ~30 tiny join/agg operators. One
    # collect of the aggregated partials replaces all of it; the solve
    # runs on the driver with the IDENTICAL integer recurrence:
    # - Python ints carry the centered-scatter products exactly
    #   (⊇ decimal(38,0) headroom);
    # - the squaring matmul is exact in np.int64: post-renorm |m| ≤
    #   2·TARGET = 2²⁶, so |u| ≤ 64·2⁵² < 2⁶³ (the same bound that made
    #   Spark's long sum safe);
    # - every division is sign·(abs // d) over non-negative operands —
    #   identical to Spark/DuckDB div.
    # The fact-sized work (quantization + per-partition NumPy Gram fold)
    # stays distributed and unchanged; only the finished 64×64 partials
    # cross to the driver. Oracle parity re-verified at sf0.001/sf0.01.
    rows = (
        gram_partials(xq, "q", _PCA_DIM)
        .groupBy("i", "j")
        .agg(F.sum(F.col("p").cast(d38)).alias("p"))
        .collect()
    )
    schema_out = "dim long, component long"
    if not rows:
        # empty corpus: the old plan's empty `first` cross join emitted
        # zero rows
        return spark.createDataFrame([], schema_out)
    dim = _PCA_DIM
    s = [0] * dim
    g = [[0] * dim for _ in range(dim)]
    for r in rows:
        if r.j == -1:
            s[r.i] = int(r.p)
        else:
            g[r.i][r.j] = int(r.p)
    sc = [
        [n * g[i][j] - s[i] * s[j] for j in range(dim)] for i in range(dim)
    ]
    mx = max(abs(x) for row in sc for x in row)
    shv = max(1, mx // _PCA_TARGET)
    m = np.array(
        [[(1 if x >= 0 else -1) * (abs(x) // shv) for x in row] for row in sc],
        dtype=np.int64,
    )
    for _ in range(_PCA_SQUARINGS):
        u = m @ m
        d = max(1, int(np.abs(u).max()) // _PCA_TARGET)
        m = np.sign(u) * (np.abs(u) // d)
    v0 = np.array(
        [
            1_000_000
            if int(hashlib.md5(str(j).encode()).hexdigest()[0], 16) < 8
            else -1_000_000
            for j in range(dim)
        ],
        dtype=np.int64,
    )
    uv = m @ v0
    dv = max(1, int(np.abs(uv).max()) // 1_000_000)
    vf = (np.sign(uv) * (np.abs(uv) // dv)).tolist()
    nz = [x for x in vf if x != 0]
    if not nz:
        # all-zero direction (e.g. n == 1): the old plan's empty `first`
        # cross join emitted zero rows
        return spark.createDataFrame([], schema_out)
    f = 1 if nz[0] > 0 else -1
    return spark.createDataFrame(
        [(i, int(v) * f) for i, v in enumerate(vf)], schema_out
    )


@q(
    "dsir_token_budget_resample",
    f"""
    WITH {_DSIR_CTES},
    bud AS (SELECT CAST(SUM(n_toks) // 4 AS BIGINT) AS b FROM scores),
    r AS (SELECT doc_id, lang, n_toks, score_micros,
                 SUM(n_toks) OVER (ORDER BY score_micros DESC, doc_id
                                   ROWS UNBOUNDED PRECEDING) AS cum
          FROM scores),
    sel AS (SELECT r.* FROM r CROSS JOIN bud WHERE r.cum <= bud.b)
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_toks) AS BIGINT) AS n_tokens,
           MIN(score_micros) AS min_score_micros,
           MAX(score_micros) AS max_score_micros
    FROM sel GROUP BY lang
    """,
)
def dsir_token_budget_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The resampling half of DSIR: take documents in descending
    importance-score order until a 25%-of-corpus TOKEN budget fills
    (exclusive running count — the doc that would cross the boundary is
    excluded, so every run under- rather than over-fills; (score DESC,
    doc_id) is a total order, so membership is reproducible). Output:
    the selected corpus's language mix — the audit a mixture owner reads
    (did tilting toward 'en' actually shift the mix, and what score
    range survived per language).

    Scale (r8 verdict discipline, applied from birth): the running token
    sum goes through evalmetrics.ordered_prefix_sums on the struct key
    (-score, doc_id) — range exchange + per-partition window + broadcast
    offsets, NO Exchange-SinglePartition over the document relation —
    while the oracle states the same thing as the global window DuckDB
    can afford at oracle scale. Budget derives from total_n_toks (a
    literal from the same offsets job: zero extra scans).
    """
    from dbt_repo_spark.operators.evalmetrics import ordered_prefix_sums

    keyed = _dsir_scores(spark, sf_dir).withColumn(
        "_okey",
        F.struct(
            (-F.col("score_micros")).alias("a"), F.col("doc_id").alias("b")
        ),
    )
    cum = ordered_prefix_sums(keyed, "_okey", ["n_toks"])
    sel = cum.filter(
        F.col("cum_n_toks_before") + F.col("n_toks")
        <= F.expr("total_n_toks div 4")
    )
    return sel.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_toks").cast("long").alias("n_tokens"),
        F.min("score_micros").alias("min_score_micros"),
        F.max("score_micros").alias("max_score_micros"),
    )


@q(
    "training_data_pipeline_v7",
    f"""
    WITH {_DSIR_CTES},
    kept AS (SELECT s.doc_id, s.n_toks, d.text
             FROM scores s JOIN documents d USING (doc_id)
             WHERE s.score_micros > 0),
    own AS (SELECT md5(text) AS h, MIN(doc_id) AS doc_id
            FROM kept GROUP BY 1),
    surv AS (SELECT k.doc_id, k.n_toks FROM kept k
             JOIN own ON own.doc_id = k.doc_id),
    cum AS (
      SELECT doc_id, n_toks,
             CAST(COALESCE(SUM(n_toks) OVER (
                    ORDER BY n_toks, doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS BIGINT) AS cumb
      FROM surv)
    SELECT CAST(cumb // 256 AS BIGINT) AS shard_id,
           COUNT(*) AS n_docs,
           CAST(SUM(n_toks) AS BIGINT) AS shard_tokens,
           MIN(n_toks) AS min_tokens, MAX(n_toks) AS max_tokens,
           MIN(doc_id) AS min_doc_id, MAX(doc_id) AS max_doc_id
    FROM cum GROUP BY 1
    """,
)
def training_data_pipeline_v7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The round-9 composed production tick: SELECT (DSIR keep-gate,
    score > 0) → EXACT-DEDUP (md5 content hash, keep-first owner — the
    dedup_exact shape) → SHARD (length-curriculum manifest via
    curriculum_token_shards) — the "choose what to train on, drop exact
    copies, lay out the shards" chain that sits upstream of every other
    pipeline_v* tick. One composed oracle certifies all three stages
    end-to-end, same as v2–v6.

    Scale: DSIR stage as dsir_importance_weights (256-row broadcasts);
    dedup is one content-hash agg + semi-join; sharding reuses the
    two-phase prefix-sum (no single-partition window). Token counts
    flow from the DSIR stage — the corpus text is hashed once and never
    re-tokenized.
    """
    from dbt_repo_spark.operators.sampling import curriculum_token_shards

    scores = _dsir_scores(spark, sf_dir).filter(F.col("score_micros") > 0)
    hashed = t(spark, sf_dir, "documents").select(
        "doc_id", F.md5("text").alias("h")
    )
    kept = scores.join(hashed, "doc_id")
    owners = kept.groupBy("h").agg(F.min("doc_id").alias("doc_id"))
    surv = kept.join(owners.select("doc_id"), "doc_id", "left_semi")
    # 256-token shards: the DSIR gate keeps a small high-score slice of
    # the fixture corpus, and the manifest check is only non-trivial
    # with multiple shard rows
    return curriculum_token_shards(
        surv.select("doc_id", "n_toks"), "doc_id", "n_toks", budget=256
    )


@q(
    "woe_information_value",
    """
    WITH base AS (
      SELECT o_orderkey,
             CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100 AS BIGINT)
               AS cents,
             CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS pos
      FROM orders),
    scored AS (
      SELECT pos, ntile(10) OVER (ORDER BY cents, o_orderkey) AS decile
      FROM base),
    bins AS (
      SELECT decile, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(pos) AS BIGINT) AS n_pos,
             CAST(COUNT(*) - SUM(pos) AS BIGINT) AS n_neg
      FROM scored GROUP BY 1),
    tot AS (SELECT SUM(n_pos) AS tp, SUM(n_neg) AS tn FROM bins)
    SELECT decile, n, n_pos, n_neg,
           CAST(round((ln(CAST(n_pos + 1 AS DOUBLE) / CAST(tp + 10 AS DOUBLE))
                       - ln(CAST(n_neg + 1 AS DOUBLE) / CAST(tn + 10 AS DOUBLE)))
                      * 1000000.0, 0) AS BIGINT) AS woe_micros,
           CAST(round((CAST(n_pos + 1 AS DOUBLE) / CAST(tp + 10 AS DOUBLE)
                       - CAST(n_neg + 1 AS DOUBLE) / CAST(tn + 10 AS DOUBLE))
                      * (ln(CAST(n_pos + 1 AS DOUBLE) / CAST(tp + 10 AS DOUBLE))
                         - ln(CAST(n_neg + 1 AS DOUBLE) / CAST(tn + 10 AS DOUBLE)))
                      * 1000000.0, 0) AS BIGINT) AS iv_micros
    FROM bins CROSS JOIN tot
    """,
)
def woe_information_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-of-Evidence / Information-Value feature screening (the
    credit-scoring staple): order value binned into exact deciles
    (scalable_ntile — the r8 two-phase machinery, no single-partition
    window over the fact), target = order fulfilled ('F'); per bin
    WOE = ln(pos_share) − ln(neg_share) and the IV contribution
    (pos_share − neg_share)·WOE, both Laplace-smoothed (+1 per bin,
    +n_bins per total) so empty cells never hit ln(0). Σ iv_micros is
    the feature's screening score (IV < 0.02 → useless, > 0.3 →
    strong). 6-dp rounding on identical doubles — cross-engine exact.

    Scale: one fact reduce to ≤10 bin rows after the decile assignment
    (whose sort is a 2-column projection range-shuffle); everything
    after is arithmetic on a broadcast-sized relation.
    """
    from dbt_repo_spark.operators.ids import scalable_ntile

    base = t(spark, sf_dir, "orders").select(
        "o_orderkey",
        (dec("o_totalprice", 14, 2) * 100).cast("long").alias("cents"),
        (F.col("o_orderstatus") == "F").cast("int").alias("pos"),
    )
    scored = scalable_ntile(base, 10, ["cents", "o_orderkey"], "decile")
    bins = scored.groupBy("decile").agg(
        F.count("*").alias("n"),
        F.sum("pos").cast("long").alias("n_pos"),
        (F.count("*") - F.sum("pos")).cast("long").alias("n_neg"),
    )
    tot = bins.agg(
        F.sum("n_pos").alias("tp"), F.sum("n_neg").alias("tn")
    )
    ps = (F.col("n_pos") + 1).cast("double") / (F.col("tp") + 10).cast("double")
    ns = (F.col("n_neg") + 1).cast("double") / (F.col("tn") + 10).cast("double")
    woe = F.log(ps) - F.log(ns)
    return bins.crossJoin(F.broadcast(tot)).select(
        "decile", "n", "n_pos", "n_neg",
        F.round(woe * 1000000.0, 0).cast("long").alias("woe_micros"),
        F.round((ps - ns) * woe * 1000000.0, 0).cast("long").alias("iv_micros"),
    )


_RARE_DF = 8  # rare-gram blocking: shingles with document frequency <= this


@q(
    "text_containment_pairs",
    f"""
    WITH sh AS (
      SELECT DISTINCT doc_id,
             md5(g.s1 || ' ' || g.s2 || ' ' || g.s3) AS h
      FROM (
        SELECT doc_id, toks[i] AS s1, toks[i + 1] AS s2, toks[i + 2] AS s3
        FROM (SELECT doc_id,
                     list_filter(string_split(text, ' '), x -> x <> '') AS toks
              FROM documents),
             UNNEST(range(1, greatest(len(toks) - 1, 1))) AS u(i)) g),
    sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS sz
              FROM sh GROUP BY 1),
    rare AS (SELECT h FROM sh GROUP BY h HAVING COUNT(*) <= {_RARE_DF}),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM sh a JOIN rare USING (h) JOIN sh b USING (h)
      WHERE a.doc_id < b.doc_id),
    inter AS (
      SELECT c.id_a, c.id_b, CAST(COUNT(*) AS BIGINT) AS n_common
      FROM cand c
      JOIN sh x ON x.doc_id = c.id_a
      JOIN sh y ON y.doc_id = c.id_b AND y.h = x.h
      GROUP BY 1, 2)
    SELECT i.id_a, i.id_b, i.n_common,
           sa.sz AS size_a, sb.sz AS size_b,
           CAST(i.n_common * 1000000 // sa.sz AS BIGINT)
             AS containment_a_micros,
           CAST(i.n_common * 1000000 // sb.sz AS BIGINT)
             AS containment_b_micros
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.id_a
    JOIN sizes sb ON sb.doc_id = i.id_b
    WHERE i.n_common * 2 >= sa.sz OR i.n_common * 2 >= sb.sz
    """,
)
def text_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ASYMMETRIC containment detection — the quote/subset relation
    symmetric Jaccard under-reports (a short doc fully quoted inside a
    long one has tiny Jaccard but containment ≈ 1 on the short side):
    per candidate pair, |A∩B| over exact distinct 3-gram shingle sets
    and both directional containments in integer millionths; pairs kept
    when either side is ≥50% contained.

    Candidate generation is RARE-GRAM BLOCKING (shingles with document
    frequency ≤ 8 nominate pairs): the df-cap bounds the inverted-index
    fan-out at Σ_{{rare g}} df(g)² ≤ 64·|rare grams| — the quadratic
    blowup of a plain gram self-join never materializes, and common
    boilerplate grams (high df) nominate nothing. A true quote of ≥3
    consecutive rare tokens always shares a rare gram, so recall loss is
    confined to pairs overlapping ONLY in boilerplate — which the ≥50%
    gate would reject anyway. Same contract as the oracle, stated as the
    identical SQL — full value parity, not an approximation waiver.

    Scale: distinct-shingle relation shuffles once; the blocked
    candidate join is df-bounded; the intersection count joins candidate
    pairs back to the two shingle sets (keyed, co-partitioned).
    """
    from dbt_repo_spark.operators.dedup import shingles

    docs = t(spark, sf_dir, "documents")
    sh = shingles(docs, "doc_id", "text", n=3).select(
        F.col("id").alias("doc_id"), F.md5("shingle").alias("h")
    ).distinct().localCheckpoint(eager=True)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("sz"))
    rare = sh.groupBy("h").agg(F.count("*").alias("df")).filter(
        F.col("df") <= _RARE_DF
    ).select("h")
    a = sh.join(rare, "h").select(F.col("doc_id").alias("id_a"), "h")
    b = sh.select(F.col("doc_id").alias("id_b"), "h")
    cand = (
        a.join(b, "h")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    x = sh.select(F.col("doc_id").alias("id_a"), F.col("h").alias("h1"))
    y = sh.select(F.col("doc_id").alias("_yb"), F.col("h").alias("h2"))
    inter = (
        cand.join(x, "id_a")
        .join(
            y,
            (F.col("id_b") == F.col("_yb")) & (F.col("h1") == F.col("h2")),
        )
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("id_a"), F.col("sz").alias("size_a"))
    sb = sizes.select(F.col("doc_id").alias("id_b"), F.col("sz").alias("size_b"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .filter(
            (F.col("n_common") * 2 >= F.col("size_a"))
            | (F.col("n_common") * 2 >= F.col("size_b"))
        )
        .select(
            "id_a", "id_b", "n_common", "size_a", "size_b",
            F.expr("CAST(n_common * 1000000 div size_a AS BIGINT)").alias(
                "containment_a_micros"
            ),
            F.expr("CAST(n_common * 1000000 div size_b AS BIGINT)").alias(
                "containment_b_micros"
            ),
        )
    )


_RAKE_STOP_K = 20  # corpus-derived delimiter set (top-K frequency tokens)
_RAKE_MAXLEN = 4
_RAKE_TOPK = 20


def _rake_phrases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE's candidate phrases, one row per (doc_id, run): maximal
    runs of non-delimiter tokens, cut where the per-document run-id
    prefix sum over token positions steps."""
    from pyspark.sql.window import Window

    docs = t(spark, sf_dir, "documents")
    pos = docs.select(
        "doc_id",
        F.posexplode(
            F.filter(F.split("text", " "), lambda x: x != "")
        ).alias("pos", "w"),
    )
    stop = (
        pos.groupBy("w")
        .agg(F.count("*").alias("c"))
        .orderBy(F.col("c").desc(), "w")
        .limit(_RAKE_STOP_K)
        .select("w", F.lit(1).alias("st"))
    )
    fl = pos.join(F.broadcast(stop), "w", "left").select(
        "doc_id", "pos", "w", F.coalesce("st", F.lit(0)).alias("st")
    )
    run = F.sum("st").over(
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        fl.withColumn("run", run)
        .filter(F.col("st") == 0)
        .groupBy("doc_id", "run")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "w"))),
                    lambda x: x["w"],
                ),
                " ",
            ).alias("phrase"),
            F.count("*").alias("len"),
        )
        .filter(F.col("len").between(1, _RAKE_MAXLEN))
    )


@q(
    "text_keyphrase_rake",
    f"""
    WITH toks AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ts
      FROM documents),
    pos AS (SELECT doc_id, u.i AS pos, ts[u.i + 1] AS w
            FROM toks, UNNEST(range(len(ts))) u(i)),
    stop AS (SELECT w FROM (
      SELECT w, COUNT(*) AS c FROM pos GROUP BY 1
      ORDER BY c DESC, w LIMIT {_RAKE_STOP_K})),
    fl AS (SELECT p.doc_id, p.pos, p.w,
                  CASE WHEN s.w IS NULL THEN 0 ELSE 1 END AS st
           FROM pos p LEFT JOIN stop s ON s.w = p.w),
    rn AS (SELECT doc_id, pos, w, st,
                  SUM(st) OVER (PARTITION BY doc_id ORDER BY pos
                                ROWS UNBOUNDED PRECEDING) AS run
           FROM fl),
    ph AS (SELECT doc_id, run,
                  string_agg(w, ' ' ORDER BY pos) AS phrase,
                  CAST(COUNT(*) AS BIGINT) AS len
           FROM rn WHERE st = 0 GROUP BY 1, 2
           HAVING COUNT(*) BETWEEN 1 AND {_RAKE_MAXLEN}),
    wstat AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS freq,
                     CAST(SUM(len) AS BIGINT) AS deg
              FROM (SELECT len, unnest(string_split(phrase, ' ')) AS w
                    FROM ph)
              GROUP BY 1),
    wsc AS (SELECT w, CAST(deg * 1000000 // freq AS BIGINT) AS ws FROM wstat),
    dp AS (SELECT phrase, CAST(COUNT(*) AS BIGINT) AS n_occurrences,
                  MIN(len) AS n_words
           FROM ph GROUP BY 1),
    pw AS (SELECT phrase, unnest(string_split(phrase, ' ')) AS w FROM dp),
    ps AS (SELECT pw.phrase, CAST(SUM(wsc.ws) AS BIGINT) AS score
           FROM pw JOIN wsc USING (w) GROUP BY 1)
    SELECT dp.phrase, dp.n_words, dp.n_occurrences, ps.score AS score_micros
    FROM dp JOIN ps USING (phrase)
    ORDER BY score_micros DESC, phrase LIMIT {_RAKE_TOPK}
    """,
)
def text_keyphrase_rake(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyphrase extraction (Rose et al. 2010) with a
    corpus-derived delimiter set: the top-20 (by frequency)
    tokens play the stopword role (the standard RAKE variant for
    corpora without a curated list), candidate phrases are maximal
    non-delimiter runs of ≤4 tokens, word score = degree/frequency over
    phrase co-occurrence (exact integer millionths: deg·1e6 div freq),
    phrase score = Σ member word scores — top-20 phrases out with
    (score DESC, phrase) determinism.

    Scale: positions explode once (linear); the run-id window partitions
    BY DOCUMENT (bounded by doc length, never corpus size); word stats
    and scores are hash-aggs over phrase-token instances; the word-score
    relation is vocabulary-sized and broadcastable; top-k is
    TakeOrderedAndProject. No global windows, no quadratic joins.
    """
    # ph feeds THREE consumers (wstat, dp→ps, the final dp join).
    # ReuseExchange dedups the window sort exchange, but each consumer
    # would still re-run the window + phrase-assembly aggregate above
    # it. One shared lazy materialization instead (CC's prop
    # discipline); phrase-count sized, never corpus sized.
    ph = _rake_phrases(spark, sf_dir).localCheckpoint(eager=False)
    wstat = (
        ph.select("len", F.explode(F.split("phrase", " ")).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("freq"), F.sum("len").alias("deg"))
    )
    wsc = wstat.select(
        "w", F.expr("CAST(deg * 1000000 div freq AS BIGINT)").alias("ws")
    )
    dp = ph.groupBy("phrase").agg(
        F.count("*").alias("n_occurrences"), F.min("len").alias("n_words")
    # dp feeds ps AND the final join — same shared-materialization rule
    ).localCheckpoint(eager=False)
    ps = (
        dp.select("phrase", F.explode(F.split("phrase", " ")).alias("w"))
        .join(F.broadcast(wsc), "w")
        .groupBy("phrase")
        .agg(F.sum("ws").cast("long").alias("score_micros"))
    )
    return (
        dp.join(ps, "phrase")
        .select("phrase", "n_words", "n_occurrences", "score_micros")
        .orderBy(F.col("score_micros").desc(), "phrase")
        .limit(_RAKE_TOPK)
    )


_LPA_ROUNDS = 4
_LPA_MIN_CO = 2  # co-purchase edge threshold


def _lpa_oracle(rounds: int = _LPA_ROUNDS) -> str:
    ctes = [
        f"""op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
              FROM lineitem),
    e0 AS (SELECT a.p AS src, b.p AS dst, COUNT(*) AS co
           FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
           GROUP BY 1, 2 HAVING COUNT(*) >= {_LPA_MIN_CO}),
    e AS (SELECT src, dst FROM e0
          UNION ALL SELECT dst, src FROM e0),
    l0 AS (SELECT DISTINCT src AS node, src AS label FROM e)"""
    ]
    for r in range(1, rounds + 1):
        p = r - 1
        ctes.append(f"""
    c{r} AS (SELECT e.src AS node, l.label, CAST(COUNT(*) AS BIGINT) AS c
             FROM e JOIN l{p} l ON l.node = e.dst GROUP BY 1, 2),
    l{r} AS (SELECT node,
                    (MIN(struct_pack(a := -c, b := label))).b AS label
             FROM c{r} GROUP BY 1)""")
    return f"""
    WITH {",".join(ctes)}
    SELECT label AS community, CAST(COUNT(*) AS BIGINT) AS n_nodes,
           MIN(node) AS min_node, MAX(node) AS max_node
    FROM l{rounds} GROUP BY 1
    """


@q("graph_label_prop_communities", _lpa_oracle())
def graph_label_prop_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection by SYNCHRONOUS label propagation over the
    part co-purchase graph (parts sharing ≥2 orders) — the
    modularity-style grouping the components family can't express (the
    co-purchase graph is one giant connected component; LPA finds its
    dense regions). Deterministic variant (graph.label_propagation):
    every node simultaneously adopts its neighbors' most frequent label,
    ties broken by the SMALLEST label (MIN over (-count, label) structs —
    the unigram DP's argmax idiom), fixed 4 rounds (sync LPA can
    oscillate, so a fixed round count IS the algorithm here, stated
    identically in the unrolled oracle). All integers → full value
    parity.

    Scale: the co-purchase edge build is the co_purchase_lift shape
    (per-order line fan-out, bounded by max lines per order); each LPA
    round is one O(|E|) equi-join + two hash-aggs with a lineage cut —
    the same per-round bill as connected_components without the
    convergence loop.
    """
    from dbt_repo_spark.operators.graph import label_propagation

    li = t(spark, sf_dir, "lineitem")
    op = li.select(
        F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")
    ).distinct()
    a, b = op.alias("a"), op.alias("b")
    e0 = (
        a.join(b, (F.col("a.o") == F.col("b.o")) & (F.col("a.p") < F.col("b.p")))
        .groupBy(F.col("a.p").alias("src"), F.col("b.p").alias("dst"))
        .agg(F.count("*").alias("co"))
        .filter(F.col("co") >= _LPA_MIN_CO)
        .select("src", "dst")
    )
    labels = label_propagation(e0, rounds=_LPA_ROUNDS)
    return labels.groupBy(F.col("label").alias("community")).agg(
        F.count("*").alias("n_nodes"),
        F.min("node").alias("min_node"),
        F.max("node").alias("max_node"),
    )


@q(
    "streaming_interval_join_outer",
    """
    WITH p AS (SELECT event_id, user_id, ts FROM events
               WHERE event_type = 'purchase'),
    s AS (SELECT event_id, user_id, ts FROM events
          WHERE event_type = 'signup')
    SELECT p.user_id,
           p.event_id AS purchase_id,
           s.event_id AS signup_id,
           CAST((epoch_us(p.ts) - epoch_us(s.ts)) // 1000000 AS BIGINT)
             AS lag_sec
    FROM p LEFT JOIN s
      ON p.user_id = s.user_id
     AND s.ts <= p.ts
     AND p.ts <= s.ts + INTERVAL 30 DAY
    """,
)
def streaming_interval_join_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER stream-stream interval join — the HARD half of
    stream-stream semantics: matched pairs emit when both rows arrive,
    but a purchase with NO signup in its window may only emit (with
    NULL signup columns) once the watermark PROVES no matching signup
    can still arrive. One availableNow batch therefore cannot flush the
    no-match rows — the same problem streaming_sessionize solved with
    sentinel ticks, reused here: after the real backlog, two sentinel
    events per stream (users -1/-2 at max(ts)+1d/+2d) advance the
    watermark past every real purchase's join window across two more
    availableNow runs, so every unmatched purchase's NULL row flushes.
    Sentinels self-filter (user_id >= 0). The batch oracle is the plain
    LEFT JOIN — full value parity including the NULL rows, certifying
    Spark's outer-join state eviction end to end.

    100 TB note: two-sided state is bounded by the watermark delay and
    the 30-day condition exactly as in the inner twin; the outer rows
    cost nothing extra (they emit FROM evicted state). Off the bench
    sweep per the streaming-twin policy.
    """
    import datetime as dt

    with scratch_dir("stream_ivjo_") as work:
        pdir, sdir = f"{work}/purchases", f"{work}/signups"
        out, ckpt = f"{work}/out", f"{work}/ckpt"
        ev = t(spark, sf_dir, "events").select(
            "event_id", "user_id", "ts", "event_type"
        )
        pur = ev.filter(F.col("event_type") == "purchase").drop("event_type")
        sig = ev.filter(F.col("event_type") == "signup").drop("event_type")
        pur.write.parquet(pdir)
        sig.write.parquet(sdir)
        mx = ev.agg(F.max("ts")).collect()[0][0]
        if mx is None:
            return spark.createDataFrame(
                [],
                "user_id long, purchase_id long, signup_id long, lag_sec long",
            )
        sch = "event_id long, user_id long, ts timestamp"

        def run_once() -> None:
            p = (
                spark.readStream.schema(sch)
                .parquet(pdir)
                .withWatermark("ts", "1 hour")
                .alias("p")
            )
            s = (
                spark.readStream.schema(sch)
                .parquet(sdir)
                .withWatermark("ts", "1 hour")
                .alias("s")
            )
            joined = p.join(
                s,
                (F.col("p.user_id") == F.col("s.user_id"))
                & (F.col("s.ts") <= F.col("p.ts"))
                & (F.col("p.ts") <= F.col("s.ts") + F.expr("INTERVAL 30 DAYS")),
                "leftOuter",
            ).select(
                F.col("p.user_id").alias("user_id"),
                F.col("p.event_id").alias("purchase_id"),
                F.col("s.event_id").alias("signup_id"),
                F.expr(
                    "(unix_micros(p.ts) - unix_micros(s.ts)) div 1000000"
                ).alias("lag_sec"),
            )
            qh = (
                joined.writeStream.format("parquet")
                .option("path", out)
                .option("checkpointLocation", ckpt)
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            qh.awaitTermination()

        run_once()
        for i in (1, 2):
            sentinel = [(-(i * 2), -i, mx + dt.timedelta(days=i))]
            spark.createDataFrame(sentinel, sch).write.mode("append").parquet(
                pdir
            )
            spark.createDataFrame(sentinel, sch).write.mode("append").parquet(
                sdir
            )
            run_once()
        return (
            spark.read.schema(
                "user_id long, purchase_id long, signup_id long, lag_sec long"
            )
            .parquet(out)
            .filter(F.col("user_id") >= 0)
            .localCheckpoint(eager=True)
        )


@q(
    "eval_confusion_mcc",
    """
    WITH base AS (
      SELECT o_totalprice AS s,
             CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
      FROM orders),
    nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM base),
    thr AS (SELECT s AS t FROM base ORDER BY s
            LIMIT 1 OFFSET (SELECT (n - 1) // 2 FROM nn)),
    cm AS (
      SELECT CAST(SUM(CASE WHEN s > t AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
             CAST(SUM(CASE WHEN s > t AND y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
             CAST(SUM(CASE WHEN s <= t AND y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tn,
             CAST(SUM(CASE WHEN s <= t AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fn,
             MIN(t) AS threshold
      FROM base CROSS JOIN thr)
    SELECT threshold, tp, fp, tn, fn,
           CAST((tp + tn) * 1000000 // (tp + fp + tn + fn) AS BIGINT)
             AS accuracy_micros,
           CASE WHEN tp + fp = 0 THEN NULL
                ELSE CAST(tp * 1000000 // (tp + fp) AS BIGINT) END
             AS precision_micros,
           CASE WHEN tp + fn = 0 THEN NULL
                ELSE CAST(tp * 1000000 // (tp + fn) AS BIGINT) END
             AS recall_micros,
           CASE WHEN 2 * tp + fp + fn = 0 THEN NULL
                ELSE CAST(2 * tp * 1000000 // (2 * tp + fp + fn) AS BIGINT) END
             AS f1_micros,
           CASE WHEN (tp+fp) * (tp+fn) * 1 = 0 OR (tn+fp) * (tn+fn) = 0
                THEN NULL
                ELSE CAST(round(CAST(tp*tn - fp*fn AS DOUBLE)
                     / (sqrt(CAST((tp+fp) * (tp+fn) AS DOUBLE))
                        * sqrt(CAST((tn+fp) * (tn+fn) AS DOUBLE)))
                     * 1000000.0, 0) AS BIGINT) END AS mcc_micros
    FROM cm
    """,
)
def eval_confusion_mcc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Thresholded-classifier audit: the full confusion matrix at the
    EXACT MEDIAN score threshold (value at 0-based global rank
    (n−1)//2 of o_totalprice — located by ids.exact_order_statistics'
    two-phase range scan, NOT a global sort) plus
    accuracy/precision/recall/F1 as exact integer millionths and the
    Matthews correlation coefficient — the one single-number summary
    that stays honest under class imbalance (the companion to
    eval_auc_roc's threshold-free ranking view; same score/label
    fixture). MCC's two pair products are exact BIGINTs (each <2^63
    even at extreme SF — the FOUR-way product would overflow, hence
    sqrt·sqrt); the one double expression runs on identical operands in
    identical order on both engines, then 6-dp rounds. Zero-denominator
    legs are NULL-guarded on BOTH sides (ANSI div would raise).

    Scale: one fact scan for the counts (broadcast scalar threshold),
    one 2-column range-shuffle for the order statistic. No global
    windows anywhere.
    """
    from dbt_repo_spark.operators.ids import exact_order_statistics

    base = t(spark, sf_dir, "orders").select(
        F.col("o_totalprice").alias("s"),
        (F.col("o_orderstatus") == "F").cast("int").alias("y"),
    )
    thr = exact_order_statistics(
        base, "s", ranks_of_n=lambda n: [(n - 1) // 2]
    )
    tval = float(next(iter(thr.values())))
    cm = base.agg(
        F.sum(((F.col("s") > tval) & (F.col("y") == 1)).cast("long")).alias("tp"),
        F.sum(((F.col("s") > tval) & (F.col("y") == 0)).cast("long")).alias("fp"),
        F.sum(((F.col("s") <= tval) & (F.col("y") == 0)).cast("long")).alias("tn"),
        F.sum(((F.col("s") <= tval) & (F.col("y") == 1)).cast("long")).alias("fn"),
    )
    tp, fp, tn, fn = F.col("tp"), F.col("fp"), F.col("tn"), F.col("fn")
    num = (tp * tn - fp * fn).cast("double")
    den = F.sqrt(((tp + fp) * (tp + fn)).cast("double")) * F.sqrt(
        ((tn + fp) * (tn + fn)).cast("double")
    )
    guard = lambda d, expr: F.when(d == 0, F.lit(None)).otherwise(expr)
    return cm.select(
        F.lit(tval).alias("threshold"),
        "tp", "fp", "tn", "fn",
        F.expr(
            "CAST((tp + tn) * 1000000 div (tp + fp + tn + fn) AS BIGINT)"
        ).alias("accuracy_micros"),
        guard(tp + fp, F.expr("CAST(tp * 1000000 div (tp + fp) AS BIGINT)"))
        .alias("precision_micros"),
        guard(tp + fn, F.expr("CAST(tp * 1000000 div (tp + fn) AS BIGINT)"))
        .alias("recall_micros"),
        guard(
            2 * tp + fp + fn,
            F.expr("CAST(2 * tp * 1000000 div (2 * tp + fp + fn) AS BIGINT)"),
        ).alias("f1_micros"),
        F.when(
            ((tp + fp) * (tp + fn) == 0) | ((tn + fp) * (tn + fn) == 0),
            F.lit(None).cast("long"),
        )
        .otherwise(F.round(num / den * 1000000.0, 0).cast("long"))
        .alias("mcc_micros"),
    )
