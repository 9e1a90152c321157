"""Scale-infrastructure query family (round-8 additions).

Operators a 100 TB deployment leans on that the registry did not yet
expose as oracle-checked queries:

- **Z-order layout manifest** (`layout.morton_interleave`): the
  oracle-checkable twin of the approxQuantile-ranked write path in
  `operators/layout.py` / `python -m dbt_repo_spark optimize --zorder`.
  Equal-WIDTH bucket ranks (pure integer math from the relation's
  min/max) keep the whole computation deterministic, so the per-block
  zone map AND the probe-pruning verdict get a full DuckDB oracle. This
  is the Delta/Iceberg OPTIMIZE ZORDER shape: multi-column clustering so
  per-file min/max stats prune scans on EVERY participating column.
- **Portable Bloom runtime filter** (`sketches.bloom_build/bloom_probe`):
  the explicit form of Spark's runtime bloom-filter join pruning — build
  on the filtered dim side, broadcast 64 BIGINT lanes, classify every
  fact key, and AUDIT the filter (no false negatives, measured FPR)
  instead of trusting it.
- **Curriculum shard manifest** (`sampling.curriculum_token_shards`):
  short-to-long curriculum order + token-budget shard cuts via the
  two-phase `ordered_prefix_sums` (no single-partition window — the
  r07 verdict's ntile fix, applied from birth here).
- **Multi-source BFS hops** (`graph.bfs_hops`): bounded-radius shortest
  hops over the order↔part bipartite graph — the blast-radius /
  ego-network primitive the CC / PageRank / k-core family doesn't cover.
- **Stateful streaming sessionization** (`streaming/stateful.py::
  sessionize`): the applyInPandasWithState event-time-timer operator
  promoted to a full oracle — live closed sessions hash-equal the batch
  gap-sessionization (sentinel-tick watermark flush).
- **Perceptual image dedup** (`multimodal.phash_nibbles`): decoded-pixel
  average-hash, cluster-first linear output, 3-group-banded Hamming<=2
  near links; container-invariant where byte SimHash is blind.
- **MATCH_RECOGNIZE-lite pattern match** (`event_pattern_match`): the
  negative-condition funnel via next-event struct windows.
- **LIVE incremental Bloom-index tick** (`streaming/bloom_stream.py`):
  per-tick lane publish + BIT_OR fold, byte-identical to a batch build.

Cross-engine exactness: every query here is integers and booleans end to
end except streaming_sessionize's total_value, which is kept exact by
integer-cent scaling (float sums of integer-valued doubles are
order-independent).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dbt_repo_spark.operators.ids import SYNTH_ID_TAG
from dbt_repo_spark.queries import q, scratch_dir, t

_ZBITS = 8  # bucket bits per dimension (256 equal-width buckets)


def _zbits_sql(ra: str, rb: str) -> str:
    """Unrolled Morton interleave for the DuckDB oracle: bit 2k of the
    z-value = bit k of rank ``ra``, bit 2k+1 = bit k of rank ``rb``."""
    parts = []
    for k in range(_ZBITS):
        parts.append(f"((({ra} >> {k}) & 1) << {2 * k})")
        parts.append(f"((({rb} >> {k}) & 1) << {2 * k + 1})")
    return " + ".join(parts)


@q(
    "layout_zorder_manifest",
    f"""
    WITH st AS (
      SELECT MIN(o_custkey) AS min_ck, MAX(o_custkey) AS max_ck,
             MIN(CAST(o_orderdate AS DATE)) AS min_d,
             MAX(CAST(o_orderdate AS DATE)) AS max_d
      FROM orders),
    r AS (
      SELECT o.o_custkey AS ck,
             date_diff('day', st.min_d, CAST(o.o_orderdate AS DATE)) AS day,
             LEAST(((o.o_custkey - st.min_ck) * 256)
                   // (st.max_ck - st.min_ck + 1), 255) AS rck,
             LEAST((date_diff('day', st.min_d, CAST(o.o_orderdate AS DATE)) * 256)
                   // (date_diff('day', st.min_d, st.max_d) + 1), 255) AS rdy
      FROM orders o CROSS JOIN st),
    z AS (SELECT ck, day, ({_zbits_sql("rck", "rdy")}) AS zval FROM r),
    pr AS (
      SELECT min_ck + (max_ck - min_ck) // 4 AS lo_ck,
             min_ck + (max_ck - min_ck) // 2 AS hi_ck,
             date_diff('day', min_d, max_d) // 4 AS lo_day,
             date_diff('day', min_d, max_d) // 2 AS hi_day
      FROM st)
    SELECT CAST(zval >> 8 AS BIGINT) AS block_id,
           COUNT(*) AS n_rows,
           MIN(ck) AS min_ck, MAX(ck) AS max_ck,
           CAST(MIN(day) AS BIGINT) AS min_day,
           CAST(MAX(day) AS BIGINT) AS max_day,
           (MIN(ck) <= MAX(pr.hi_ck) AND MAX(ck) >= MIN(pr.lo_ck)
            AND MIN(day) <= MAX(pr.hi_day) AND MAX(day) >= MIN(pr.lo_day))
             AS probe_overlaps,
           CAST(SUM(CASE WHEN ck BETWEEN pr.lo_ck AND pr.hi_ck
                          AND day BETWEEN pr.lo_day AND pr.hi_day
                         THEN 1 ELSE 0 END) AS BIGINT) AS probe_rows
    FROM z CROSS JOIN pr
    GROUP BY block_id
    """,
)
def layout_zorder_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order clustering manifest over orders (o_custkey × order day).

    Equal-width 8-bit bucket ranks per dimension (integer math off the
    broadcast min/max row), Morton-interleaved into a 16-bit z-value
    (layout.morton_interleave); block = top 8 z bits, i.e. a 16×16-bucket
    quadtree cell — exactly the per-file grain `zorder_layout` writes.
    The manifest row per block is the zone map (count + min/max of both
    keys), plus the pruning verdict for a fixed probe box (middle
    quartile band of both dimensions): ``probe_overlaps`` is what a scan
    planner would decide from the zone map alone, ``probe_rows`` is the
    ground truth — blocks with probe_rows > 0 are always overlapping
    (zone maps never false-prune), and the overlapping∖matching gap is
    the measured clustering slack.

    Scale: one broadcast of a 1-row stats relation + one hash-agg on the
    block id (≤256 groups). The write path itself (range-repartition +
    in-partition sort on zval) is `layout.zorder_layout`, CLI-tested; this
    query is the oracle-checked PLAN of that layout.
    """
    from dbt_repo_spark.operators.layout import morton_interleave

    o = t(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("ck"),
        F.col("o_orderdate").cast("date").alias("d"),
    )
    st = o.agg(
        F.min("ck").alias("min_ck"),
        F.max("ck").alias("max_ck"),
        F.min("d").alias("min_d"),
        F.max("d").alias("max_d"),
    )
    j = o.join(F.broadcast(st))
    day = F.datediff(F.col("d"), F.col("min_d")).cast("long")
    span_day = F.datediff(F.col("max_d"), F.col("min_d")).cast("long")
    j = j.select(
        "ck",
        day.alias("day"),
        F.least(
            F.expr("((ck - min_ck) * 256) div (max_ck - min_ck + 1)"),
            F.lit(255).cast("long"),
        ).alias("rck"),
        F.least(
            F.expr(
                "((datediff(d, min_d)) * CAST(256 AS BIGINT))"
                " div (datediff(max_d, min_d) + 1)"
            ),
            F.lit(255).cast("long"),
        ).alias("rdy"),
        (F.col("min_ck") + F.expr("(max_ck - min_ck) div 4")).alias("lo_ck"),
        (F.col("min_ck") + F.expr("(max_ck - min_ck) div 2")).alias("hi_ck"),
        F.expr("CAST(datediff(max_d, min_d) AS BIGINT) div 4").alias("lo_day"),
        F.expr("CAST(datediff(max_d, min_d) AS BIGINT) div 2").alias("hi_day"),
    )
    z = j.withColumn(
        "zval", morton_interleave(F.col("rck"), F.col("rdy"), bits=_ZBITS)
    )
    return (
        z.groupBy(F.shiftrightunsigned("zval", 8).cast("long").alias("block_id"))
        .agg(
            F.count("*").alias("n_rows"),
            F.min("ck").alias("min_ck"),
            F.max("ck").alias("max_ck"),
            F.min("day").alias("min_day"),
            F.max("day").alias("max_day"),
            (
                (F.min("ck") <= F.max("hi_ck"))
                & (F.max("ck") >= F.min("lo_ck"))
                & (F.min("day") <= F.max("hi_day"))
                & (F.max("day") >= F.min("lo_day"))
            ).alias("probe_overlaps"),
            F.sum(
                F.when(
                    F.col("ck").between(F.col("lo_ck"), F.col("hi_ck"))
                    & F.col("day").between(F.col("lo_day"), F.col("hi_day")),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("probe_rows"),
        )
    )


@q(
    "bloom_runtime_filter",
    """
    WITH dim AS (SELECT DISTINCT s_suppkey AS key FROM supplier
                 WHERE s_acctbal > 6000),
    hs AS (SELECT key,
                  ('0x' || substr(md5(CAST(key AS VARCHAR) || ':'
                                       || CAST(i AS VARCHAR)), 1, 12))::BIGINT
                    % 3968 AS h
           FROM dim CROSS JOIN (SELECT unnest(range(1, 4)) AS i)),
    bloom AS (SELECT h // 62 AS lane,
                     bit_or(CAST(1 AS BIGINT) << CAST(h % 62 AS INTEGER))
                       AS mask
              FROM hs GROUP BY 1),
    nbits AS (SELECT CAST(SUM(bit_count(mask)) AS BIGINT) AS n_bits_set
              FROM bloom),
    probe AS (SELECT DISTINCT l_suppkey AS key FROM lineitem),
    ph AS (SELECT key,
                  ('0x' || substr(md5(CAST(key AS VARCHAR) || ':'
                                       || CAST(i AS VARCHAR)), 1, 12))::BIGINT
                    % 3968 AS h
           FROM probe CROSS JOIN (SELECT unnest(range(1, 4)) AS i)),
    hits AS (SELECT ph.key,
                    SUM(CASE WHEN b.mask IS NOT NULL
                              AND ((b.mask >> CAST(ph.h % 62 AS INTEGER)) & 1) = 1
                             THEN 1 ELSE 0 END) AS nhit
             FROM ph LEFT JOIN bloom b ON b.lane = ph.h // 62
             GROUP BY 1),
    cls AS (SELECT hits.key, hits.nhit = 3 AS pass,
                   dim.key IS NOT NULL AS member
            FROM hits LEFT JOIN dim ON dim.key = hits.key)
    SELECT CASE WHEN member AND pass THEN 'true_positive'
                WHEN member THEN 'false_negative'
                WHEN pass THEN 'false_positive'
                ELSE 'true_negative' END AS class,
           COUNT(*) AS n_keys,
           nbits.n_bits_set AS n_bits_set
    FROM cls CROSS JOIN nbits
    GROUP BY 1, 3
    """,
)
def bloom_runtime_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Portable Bloom runtime filter, built AND audited.

    Build side: suppliers with s_acctbal > 6000 (the filtered dim a
    runtime filter would harvest) → 64-lane/62-bit/3-hash filter
    (sketches.bloom_build; BIT_OR partial-aggregates map-side). Probe
    side: every distinct lineitem supplier key through
    sketches.bloom_probe (filter broadcast — probe never shuffles on
    data size). The output is the AUDIT a planner needs before trusting
    the filter: per-classification key counts (false_negative must
    never appear — same hash family both sides, and the oracle proves
    it) plus the filter's set-bit count, from which expected FPR
    follows. At 100 TB this relation is what you persist next to an
    incremental index so every later tick reuses the filter instead of
    re-scanning the dim.
    """
    from dbt_repo_spark.operators.sketches import bloom_build, bloom_probe

    sup = t(spark, sf_dir, "supplier").filter(F.col("s_acctbal") > 6000)
    bloom = bloom_build(sup, "s_suppkey").localCheckpoint(eager=True)
    n_bits = bloom.agg(
        F.sum(F.bit_count("mask")).cast("long").alias("n_bits_set")
    )
    probed = bloom_probe(t(spark, sf_dir, "lineitem"), bloom, "l_suppkey")
    member = sup.select(
        F.col("s_suppkey").cast("long").alias("key"), F.lit(True).alias("m")
    ).distinct()
    cls = probed.join(member, "key", "left").select(
        "key",
        F.col("bloom_pass").alias("pass"),
        F.coalesce(F.col("m"), F.lit(False)).alias("member"),
    )
    return (
        cls.select(
            F.when(F.col("member") & F.col("pass"), "true_positive")
            .when(F.col("member"), "false_negative")
            .when(F.col("pass"), "false_positive")
            .otherwise("true_negative")
            .alias("class")
        )
        .groupBy("class")
        .agg(F.count("*").alias("n_keys"))
        .join(F.broadcast(n_bits))
    )


@q(
    "curriculum_shards",
    """
    WITH tok AS (
      SELECT doc_id,
             CAST(len(list_filter(string_split(text, ' '), x -> x <> ''))
                  AS BIGINT) AS n_tokens
      FROM documents),
    cum AS (
      SELECT doc_id, n_tokens,
             CAST(COALESCE(SUM(n_tokens) OVER (
                    ORDER BY n_tokens, doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS BIGINT) AS cumb
      FROM tok)
    SELECT CAST(cumb // 4096 AS BIGINT) AS shard_id,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS shard_tokens,
           MIN(n_tokens) AS min_tokens, MAX(n_tokens) AS max_tokens,
           MIN(doc_id) AS min_doc_id, MAX(doc_id) AS max_doc_id
    FROM cum GROUP BY 1
    """,
)
def curriculum_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-curriculum training-shard manifest over documents.

    Documents in short-to-long order (n_tokens, doc_id — a total order),
    cut into 4096-token shards by the exclusive running token count
    (sampling.curriculum_token_shards). The Spark side computes the
    running sum via the two-phase ordered_prefix_sums — range exchange,
    per-partition window, broadcast offsets; NO Exchange-SinglePartition
    (plan-shape-tested) — while the oracle states the same thing as the
    naive global window DuckDB can afford at oracle scale.
    """
    from dbt_repo_spark.operators.dedup import tokens
    from dbt_repo_spark.operators.sampling import curriculum_token_shards

    docs = t(spark, sf_dir, "documents").select(
        "doc_id", F.size(tokens(F.col("text"))).cast("long").alias("n_tokens")
    )
    return curriculum_token_shards(docs, "doc_id", "n_tokens", budget=4096)


def _bfs_oracle(iters: int = 4) -> str:
    rounds = []
    for r in range(1, iters + 1):
        rounds.append(
            f"""d{r} AS (
      SELECT node, MIN(hops) AS hops FROM (
        SELECT node, hops FROM d{r - 1}
        UNION ALL
        SELECT e.dst AS node, d{r - 1}.hops + 1 AS hops
        FROM d{r - 1} JOIN e ON e.src = d{r - 1}.node)
      GROUP BY node)"""
        )
    return f"""
    WITH e AS (
      SELECT l_orderkey AS src, l_partkey + {SYNTH_ID_TAG} AS dst FROM lineitem
      UNION ALL
      SELECT l_partkey + {SYNTH_ID_TAG} AS src, l_orderkey AS dst FROM lineitem),
    seeds AS (SELECT DISTINCT l_orderkey AS node FROM lineitem
              WHERE l_orderkey % 64 = 0),
    d0 AS (SELECT node, CAST(0 AS BIGINT) AS hops FROM seeds),
    {", ".join(rounds)}
    SELECT hops, COUNT(*) AS n_nodes,
           MIN(node) AS min_node, MAX(node) AS max_node
    FROM d{iters} GROUP BY hops
    """


@q("graph_bfs_hops", _bfs_oracle())
def graph_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS over the order↔part bipartite graph: exact hop
    distance (≤4) from the seed set {orderkeys ≡ 0 mod 64} — the
    blast-radius primitive (graph.bfs_hops; min-relaxation per round,
    all integers → full oracle). Aggregated to one row per hop level
    (count + node-id extrema) so the check covers every node's distance
    without shipping the node list. Part nodes are lifted into the
    2^40 synthetic namespace via ids.tagged_id, which ASSERTS in-plan
    that no orderkey/partkey reaches the tag — a fixed 1e9 offset would
    silently collide at large SF while the (identically offset) oracle
    stayed green.
    """
    from dbt_repo_spark.operators.graph import bfs_hops
    from dbt_repo_spark.operators.ids import tagged_id

    li = t(spark, sf_dir, "lineitem")
    part = tagged_id(F.col("l_partkey"), what="l_partkey").alias("p")
    order_guard = tagged_id(F.col("l_orderkey"), what="l_orderkey") - F.lit(
        SYNTH_ID_TAG
    ).cast("long")
    edges = li.select(
        order_guard.alias("src"), part.alias("dst")
    ).unionByName(li.select(part.alias("src"), order_guard.alias("dst")))
    seeds = (
        li.filter(F.col("l_orderkey") % 64 == 0)
        .select(F.col("l_orderkey").alias("node"))
        .distinct()
    )
    dist = bfs_hops(edges, seeds, iters=4)
    return dist.groupBy("hops").agg(
        F.count("*").alias("n_nodes"),
        F.min("node").alias("min_node"),
        F.max("node").alias("max_node"),
    )


@q(
    "streaming_sessionize",
    """
    WITH ev AS (
      SELECT user_id, date_trunc('second', ts) AS ts,
             round(value * 100, 0) AS value
      FROM events WHERE value IS NOT NULL),
    marked AS (
      SELECT user_id, ts, value,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                       <= INTERVAL 30 MINUTE THEN 0 ELSE 1 END AS new_session
      FROM ev),
    numbered AS (
      SELECT user_id, ts, value,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS session_no
      FROM marked)
    SELECT user_id, MIN(ts) AS session_start, MAX(ts) AS session_end,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           SUM(value) AS total_value
    FROM numbered GROUP BY user_id, session_no
    """,
)
def streaming_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LIVE stateful sessionizer (streaming/stateful.py::sessionize —
    applyInPandasWithState + EventTimeTimeout) promoted to a full-oracle
    check: every real session the stream CLOSES must hash-equal the batch
    gap-sessionization of the same events.

    Delivery: all real events in tick 1 (in-batch gaps close interior
    sessions immediately), then two SENTINEL ticks — one event each for
    users -1 / -2 at max(ts)+1d / +2d — whose only job is to advance the
    watermark across restarts so every real open session's event-time
    timer fires (tick N's watermark = max event time through tick N-1,
    so two sentinel ticks flush everything real). The sentinels' own
    sessions never close and are filtered by user_id >= 0; the batch
    oracle needs no such carve-out because it never sees them.

    Exactness: ts is second-truncated on BOTH sides (the state tuple
    holds epoch-millis) and value is scaled to integer cents — float
    sums of integer-valued doubles are order-independent-exact, so the
    per-session totals are bit-identical between the Python fold and
    DuckDB's SUM. 100 TB note: state is one fixed-width tuple per OPEN
    key, event-volume-independent; the batch fixture delivering the
    whole corpus as tick 1 is oracle plumbing, not the deployment shape.
    """
    import datetime as dt

    from dbt_repo_spark.streaming.stateful import SESSION_OUT_SCHEMA, sessionize

    with scratch_dir("stream_sess_") as work:
        src, out, ckpt = f"{work}/src", f"{work}/out", f"{work}/ckpt"
        schema = "user_id long, ts timestamp, value double"
        ev = (
            t(spark, sf_dir, "events")
            .filter(F.col("value").isNotNull())
            .select(
                F.col("user_id").cast("long").alias("user_id"),
                F.date_trunc("second", "ts").alias("ts"),
                F.round(F.col("value") * 100, 0).alias("value"),
            )
        )
        ev.write.parquet(src)
        mx = ev.agg(F.max("ts")).collect()[0][0]
        if mx is None:
            # no sessionizable events at all: the sentinel arithmetic
            # below has no watermark to advance — the correct answer is
            # the empty session relation, not a TypeError on mx+timedelta
            return spark.createDataFrame([], SESSION_OUT_SCHEMA)

        def run_once() -> None:
            stream = spark.readStream.schema(schema).parquet(src)
            qh = (
                sessionize(stream, gap_minutes=30, delay="2 minutes")
                .writeStream.format("parquet")
                .option("path", out)
                .option("checkpointLocation", ckpt)
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            qh.awaitTermination()

        run_once()
        for i in (1, 2):
            spark.createDataFrame(
                [(-i, mx + dt.timedelta(days=i), 0.0)], schema
            ).write.mode("append").parquet(src)
            run_once()
        return (
            spark.read.parquet(out)
            .filter(F.col("user_id") >= 0)
            .select(
                "user_id", "session_start", "session_end", "n_events",
                "total_value",
            )
            .localCheckpoint(eager=True)
        )


_PHASH_CTES = f"""img AS (
      SELECT doc_id AS media_id, doc_id AS pid,
             CASE WHEN doc_id % 3 = 0 THEN 4 + doc_id % 5
                  ELSE 3 + doc_id % 6 END AS w,
             CASE WHEN doc_id % 3 = 0 THEN 3 + doc_id % 4
                  ELSE 2 + doc_id % 5 END AS h
      FROM documents WHERE doc_id % 3 <> 1
      UNION ALL
      SELECT doc_id + {SYNTH_ID_TAG}, doc_id,
             CASE WHEN doc_id % 3 = 0 THEN 4 + doc_id % 5
                  ELSE 3 + doc_id % 6 END,
             CASE WHEN doc_id % 3 = 0 THEN 3 + doc_id % 4
                  ELSE 2 + doc_id % 5 END
      FROM documents WHERE doc_id % 3 <> 1 AND doc_id % 5 = 0),
    g AS (
      SELECT media_id, ty * 8 + tx AS p,
             (pid * 7 + ((tx * w) // 8) * 13 + ((ty * h) // 8) * 31) % 256
           + (pid * 7 + ((tx * w) // 8) * 13 + ((ty * h) // 8) * 31 + 101) % 256
           + (pid * 7 + ((tx * w) // 8) * 13 + ((ty * h) // 8) * 31 + 202) % 256
               AS gray
      FROM img, UNNEST(range(0, 8)) AS ux(tx), UNNEST(range(0, 8)) AS uy(ty)),
    tot AS (SELECT media_id, SUM(gray) AS total FROM g GROUP BY 1),
    bits AS (
      SELECT g.media_id, g.p // 4 AS band,
             CASE WHEN g.gray * 64 > tot.total
                  THEN 1 << CAST(g.p % 4 AS INTEGER) ELSE 0 END AS bv
      FROM g JOIN tot USING (media_id)),
    nib AS (SELECT media_id, CAST(band AS INTEGER) AS band,
                   CAST(SUM(bv) AS BIGINT) AS v
            FROM bits GROUP BY 1, 2),
    pk AS (SELECT media_id,
                  CAST(SUM(CASE WHEN band < 8
                                THEN v << CAST(4 * band AS INTEGER)
                                ELSE 0 END) AS BIGINT) AS h1,
                  CAST(SUM(CASE WHEN band >= 8
                                THEN v << CAST(4 * (band - 8) AS INTEGER)
                                ELSE 0 END) AS BIGINT) AS h2
           FROM nib GROUP BY 1),
    cl AS (SELECT h1, h2, MIN(media_id) AS canonical,
                  CAST(COUNT(*) AS BIGINT) AS cluster_size
           FROM pk GROUP BY 1, 2),
    rep AS (SELECT canonical, h1, h2,
                   h1 & 16777215 AS g0,
                   (h1 >> 24) | ((h2 & 4095) << 8) AS g1,
                   h2 >> 12 AS g2
            FROM cl),
    bands AS (SELECT canonical, 0 AS b, g0 AS val FROM rep
              UNION ALL SELECT canonical, 1, g1 FROM rep
              UNION ALL SELECT canonical, 2, g2 FROM rep),
    cand AS (SELECT DISTINCT x.canonical AS ca, y.canonical AS cb
             FROM bands x JOIN bands y
               ON x.b = y.b AND x.val = y.val AND x.canonical < y.canonical),
    ham AS (SELECT ca, cb,
                   CAST(bit_count(xor(a.h1, b.h1))
                        + bit_count(xor(a.h2, b.h2)) AS BIGINT) AS hd
            FROM cand
            JOIN rep a ON a.canonical = ca
            JOIN rep b ON b.canonical = cb)"""

_PHASH_SQL = f"""
    WITH {_PHASH_CTES},
    near0 AS (SELECT ca AS c, cb AS o, hd FROM ham WHERE hd BETWEEN 1 AND 2
              UNION ALL
              SELECT cb, ca, hd FROM ham WHERE hd BETWEEN 1 AND 2),
    near AS (SELECT c, MIN(struct_pack(h := hd, o := o)) AS nn
             FROM near0 GROUP BY 1)
    SELECT pk.media_id, cl.canonical AS canonical_id, cl.cluster_size,
           near.nn.o AS near_canon, near.nn.h AS near_ham
    FROM pk
    JOIN cl ON pk.h1 = cl.h1 AND pk.h2 = cl.h2
    LEFT JOIN near ON near.c = cl.canonical
"""

_PHASH_GROUPS_SQL = f"""
    WITH RECURSIVE {_PHASH_CTES},
    hamf AS (SELECT ca, cb FROM ham WHERE hd BETWEEN 1 AND 2),
    bidir AS (SELECT ca AS s, cb AS d FROM hamf
              UNION SELECT cb, ca FROM hamf),
    cc(node, label) AS (
      SELECT s, s FROM bidir
      UNION
      SELECT b.d, cc.label FROM cc JOIN bidir b ON b.s = cc.node),
    lab AS (SELECT node, MIN(label) AS label FROM cc GROUP BY node),
    member AS (
      SELECT pk.media_id, cl.canonical,
             COALESCE(lab.label, cl.canonical) AS group_id
      FROM pk
      JOIN cl ON pk.h1 = cl.h1 AND pk.h2 = cl.h2
      LEFT JOIN lab ON lab.node = cl.canonical)
    SELECT group_id,
           CAST(COUNT(*) AS BIGINT) AS n_images,
           CAST(COUNT(DISTINCT canonical) AS BIGINT) AS n_clusters,
           MIN(media_id) AS min_media_id, MAX(media_id) AS max_media_id
    FROM member GROUP BY group_id
"""


def _phash_base(spark: SparkSession, sf_dir: str):
    """Shared perceptual-hash relations for the dedup + groups queries:
    pk (image -> packed 32-bit hash halves), cl (identical-hash
    clusters), ham (canonical near-pairs at Hamming 1..2). pk and the
    band representative relation are lineage-cut so the Arrow decode
    runs once per query."""
    from dbt_repo_spark.operators import multimodal

    media = multimodal.real_media_with_format_twins(
        t(spark, sf_dir, "documents"), every=5
    )
    nib = multimodal.phash_nibbles(media, grid=8)
    pk = nib.groupBy("media_id").agg(
        F.sum(
            F.when(
                F.col("band") < 8,
                F.expr("shiftleft(CAST(v AS BIGINT), CAST(4 * band AS INT))"),
            ).otherwise(F.lit(0))
        )
        .cast("long")
        .alias("h1"),
        F.sum(
            F.when(
                F.col("band") >= 8,
                F.expr(
                    "shiftleft(CAST(v AS BIGINT), CAST(4 * (band - 8) AS INT))"
                ),
            ).otherwise(F.lit(0))
        )
        .cast("long")
        .alias("h2"),
    )
    pk = pk.localCheckpoint(eager=True)
    cl = pk.groupBy("h1", "h2").agg(
        F.min("media_id").alias("canonical"),
        F.count("*").alias("cluster_size"),
    )
    rep = cl.select(
        "canonical",
        "h1",
        "h2",
        F.col("h1").bitwiseAND(F.lit(16777215)).alias("g0"),
        F.shiftrightunsigned("h1", 24)
        .bitwiseOR(F.shiftleft(F.col("h2").bitwiseAND(F.lit(4095)), 8))
        .alias("g1"),
        F.shiftrightunsigned("h2", 12).alias("g2"),
    ).localCheckpoint(eager=True)
    bands = (
        rep.select("canonical", F.lit(0).alias("b"), F.col("g0").alias("val"))
        .unionByName(
            rep.select("canonical", F.lit(1).alias("b"), F.col("g1").alias("val"))
        )
        .unionByName(
            rep.select("canonical", F.lit(2).alias("b"), F.col("g2").alias("val"))
        )
    )
    x, y = bands.alias("x"), bands.alias("y")
    cand = (
        x.join(
            y,
            (F.col("x.b") == F.col("y.b"))
            & (F.col("x.val") == F.col("y.val"))
            & (F.col("x.canonical") < F.col("y.canonical")),
        )
        .select(F.col("x.canonical").alias("ca"), F.col("y.canonical").alias("cb"))
        .distinct()
    )
    a, bb = rep.alias("a"), rep.alias("b")
    ham = (
        cand.join(a, F.col("a.canonical") == F.col("ca"))
        .join(bb, F.col("b.canonical") == F.col("cb"))
        .select(
            "ca",
            "cb",
            (
                F.bit_count(F.col("a.h1").bitwiseXOR(F.col("b.h1")))
                + F.bit_count(F.col("a.h2").bitwiseXOR(F.col("b.h2")))
            )
            .cast("long")
            .alias("hd"),
        )
        .filter(F.col("hd").between(1, 2))
    )
    return pk, cl, ham


@q("multimodal_phash_dedup", _PHASH_SQL)
def multimodal_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual (decoded-PIXEL) image dedup: average-hash over the 8x8
    nearest-sample gray grid — the semantic complement of
    ``multimodal_near_dedup``'s raw-BYTE SimHash: a re-encoded image
    (bmp <-> ppm, same pixels) shares no bytes with its original, so the
    byte detector is blind to it, while the pixel hash matches it
    exactly. Every 5th image doc is seeded with a cross-format twin and
    the unit test pins that every twin lands in its base's cluster.

    SCALE-CORRECT OUTPUT SHAPE (first cut emitted all Hamming<=10 pairs
    and measured 4x pairs per 2x corpus on this dup-heavy fixture —
    pair lists over identical-hash groups are inherently quadratic):
    1. CLUSTER identical 64-bit hashes (one hash-agg; min-id canonical)
       — exact-dup mass collapses to one row per image, linear.
    2. NEAR-link only between DISTINCT hashes (996 of 4000 images at
       sf0.1 — bounded by distinct perceptual content, not corpus
       size): 3-group banding (24/20/20 bits; Hamming <= 2 flips <= 2
       bit-groups, so >= 1 band matches exactly — pigeonhole recall 1),
       bandwise XOR/bit_count verify, nearest neighbor per cluster as
       MIN(struct(ham, canonical)).
    Output: one row per image (media_id, canonical_id, cluster_size,
    near_canon, near_ham) — linear in the corpus.

    Decode + hash is ONE Arrow pass over the real codecs (the
    sanctioned seam); packing, clustering, banding, and the Hamming
    verify are JVM-side integer relational algebra.
    """
    pk, cl, ham = _phash_base(spark, sf_dir)
    near = (
        ham.select(F.col("ca").alias("c"), F.col("cb").alias("o"), "hd")
        .unionByName(
            ham.select(F.col("cb").alias("c"), F.col("ca").alias("o"), "hd")
        )
        .groupBy("c")
        .agg(
            F.min(
                F.struct(F.col("hd").alias("h"), F.col("o").alias("o"))
            ).alias("nn")
        )
    )
    return (
        pk.join(cl, ["h1", "h2"])
        .join(near, F.col("canonical") == F.col("c"), "left")
        .select(
            "media_id",
            F.col("canonical").alias("canonical_id"),
            "cluster_size",
            F.col("nn.o").alias("near_canon"),
            F.col("nn.h").alias("near_ham"),
        )
    )


@q("multimodal_phash_groups", _PHASH_GROUPS_SQL)
def multimodal_phash_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual GROUPS: connected components over the Hamming<=2
    near-links between identical-hash clusters — the transitive-closure
    half of perceptual dedup (A~B and B~C group A,B,C even when A,C sit
    just past the radius), composing two proven pieces: _phash_base's
    cluster/near relations and graph.connected_components' min-label
    propagation. Output is group-level (bounded by distinct perceptual
    content): (group_id, n_images, n_clusters, min/max member id);
    clusters with no near-link form their own singleton group. The
    oracle replays the closure as a recursive min-label CTE (the
    dedup_clusters recipe) over the same banded pair set.
    """
    from dbt_repo_spark.operators.graph import connected_components

    pk, cl, ham = _phash_base(spark, sf_dir)
    lab = connected_components(ham, src="ca", dst="cb")
    member = (
        pk.join(cl, ["h1", "h2"])
        .join(lab, F.col("canonical") == F.col("node"), "left")
        .select(
            "media_id",
            "canonical",
            F.coalesce(F.col("cluster_id"), F.col("canonical")).alias("group_id"),
        )
    )
    return member.groupBy("group_id").agg(
        F.count("*").alias("n_images"),
        F.countDistinct("canonical").cast("long").alias("n_clusters"),
        F.min("media_id").alias("min_media_id"),
        F.max("media_id").alias("max_media_id"),
    )


@q(
    "event_pattern_match",
    """
    WITH ev AS (SELECT user_id, event_id, ts, event_type FROM events),
    nx AS (
      SELECT user_id, event_id, ts, event_type,
             MIN(CASE WHEN event_type = 'purchase'
                      THEN struct_pack(t := ts, i := event_id) END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS np,
             MIN(CASE WHEN event_type = 'error'
                      THEN struct_pack(t := ts, i := event_id) END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS ne
      FROM ev),
    sg AS (
      SELECT user_id, ts, np, ne,
             (np IS NOT NULL
              AND np.t <= ts + INTERVAL 7 DAY
              AND (ne IS NULL OR ne > np)) AS matched
      FROM nx WHERE event_type = 'signup')
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_signups,
           CAST(SUM(CASE WHEN matched THEN 1 ELSE 0 END) AS BIGINT)
             AS n_matched,
           MIN(CASE WHEN matched
                    THEN epoch_us(np.t) - epoch_us(ts) END) AS min_delay_us
    FROM sg GROUP BY user_id
    """,
)
def event_pattern_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATCH_RECOGNIZE-lite event-sequence pattern: signup followed by a
    purchase within 7 days with NO error event in between — the
    NEGATIVE-condition funnel (funnel_signup_purchase counts A→B;
    pattern engines also need "…without C between", which windowed
    next-event structs express relationally).

    Per user-ordered event: the NEXT purchase and NEXT error as
    MIN(struct(ts, event_id)) over the strictly-following frame — the
    (ts, event_id) tuple is a TOTAL order, so tie-breaking is
    deterministic and the struct comparison "error before purchase"
    is exact. One shuffle on user_id; windows are per-key (no global
    sort); output is user-level (n_signups, n_matched, min match
    delay in µs — integer epoch arithmetic end to end).
    """
    from pyspark.sql.window import Window

    ev = t(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "event_type"
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(1, Window.unboundedFollowing)
    )
    nxt = ev.select(
        "user_id",
        "ts",
        "event_type",
        F.min(
            F.when(
                F.col("event_type") == "purchase",
                F.struct(F.col("ts").alias("t"), F.col("event_id").alias("i")),
            )
        )
        .over(w)
        .alias("np"),
        F.min(
            F.when(
                F.col("event_type") == "error",
                F.struct(F.col("ts").alias("t"), F.col("event_id").alias("i")),
            )
        )
        .over(w)
        .alias("ne"),
    )
    sg = nxt.filter(F.col("event_type") == "signup").select(
        "user_id",
        "ts",
        "np",
        (
            F.col("np").isNotNull()
            & (F.col("np.t") <= F.col("ts") + F.expr("INTERVAL 7 DAY"))
            & (F.col("ne").isNull() | (F.col("ne") > F.col("np")))
        ).alias("matched"),
    )
    return sg.groupBy("user_id").agg(
        F.count("*").alias("n_signups"),
        F.sum(F.when(F.col("matched"), 1).otherwise(0))
        .cast("long")
        .alias("n_matched"),
        F.min(
            F.when(
                F.col("matched"),
                F.unix_micros(F.col("np.t")) - F.unix_micros(F.col("ts")),
            )
        ).alias("min_delay_us"),
    )


@q(
    "streaming_bloom_index",
    """
    WITH dim AS (SELECT DISTINCT s_suppkey AS key FROM supplier
                 WHERE s_acctbal > 6000),
    hs AS (SELECT ('0x' || substr(md5(CAST(key AS VARCHAR) || ':'
                                       || CAST(i AS VARCHAR)), 1, 12))::BIGINT
                    % 3968 AS h
           FROM dim CROSS JOIN (SELECT unnest(range(1, 4)) AS i))
    SELECT h // 62 AS lane,
           bit_or(CAST(1 AS BIGINT) << CAST(h % 62 AS INTEGER)) AS mask
    FROM hs GROUP BY 1
    """,
)
def streaming_bloom_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIVE incremental Bloom-index maintenance
    (streaming/bloom_stream.py): the filtered dim keys arrive over TWO
    availableNow ticks with at-least-once redelivery (every key of the
    first wave is redelivered in the second, and each wave carries
    within-tick duplicates), each tick publishes its own 64-lane table
    under batch=<id> (idempotent dynamic-partition overwrite), and the
    BIT_OR fold of all committed partitions must be BYTE-IDENTICAL to
    the filter one batch build would produce — which is exactly what
    the oracle states. BIT_OR's idempotence is the load-bearing
    property: redelivery re-sets already-set bits, so no collapse
    stage is needed anywhere.
    """
    from dbt_repo_spark.streaming.bloom_stream import (
        read_bloom_index,
        start_bloom_index_stream,
    )

    with scratch_dir("stream_bloom_") as work:
        src, idx, ckpt = f"{work}/src", f"{work}/index", f"{work}/ckpt"
        keys = (
            t(spark, sf_dir, "supplier")
            .filter(F.col("s_acctbal") > 6000)
            .select(F.col("s_suppkey").cast("long").alias("key"))
        )
        w1 = keys.filter(F.col("key") % 2 == 0)
        w1 = w1.unionByName(w1)  # within-tick duplicates
        # wave 2: the odd keys PLUS a full redelivery of wave 1 (at-least-
        # once across ticks)
        w2 = keys.filter(F.col("key") % 2 == 1).unionByName(keys)
        # two appends into the source root: one file each, so
        # maxFilesPerTrigger=1 delivers exactly two ticks
        w1.coalesce(1).write.mode("append").parquet(src)
        w2.coalesce(1).write.mode("append").parquet(src)
        qh = start_bloom_index_stream(spark, src, idx, ckpt, key_col="key")
        qh.awaitTermination()
        return read_bloom_index(spark, idx).localCheckpoint(eager=True)


@q(
    "funnel_paths_topk",
    """
    WITH ranked AS (
      SELECT user_id, event_type,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events),
    paths AS (
      SELECT user_id,
             string_agg(event_type, '>' ORDER BY rn) AS path,
             CAST(COUNT(*) AS BIGINT) AS path_len
      FROM ranked WHERE rn <= 3 GROUP BY user_id)
    SELECT path, path_len, CAST(COUNT(*) AS BIGINT) AS n_users
    FROM paths GROUP BY path, path_len
    ORDER BY n_users DESC, path ASC LIMIT 10
    """,
)
def funnel_paths_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Path analysis: the 10 most common opening event sequences (each
    user's first 3 events in (ts, event_id) order, joined with '>') —
    the product-analytics "paths" report that pairwise
    event_transition_matrix can't express (it loses sequence identity
    beyond one step).

    Shape: per-user rank via WindowGroupLimit-prunable row_number
    (rn <= 3 filter lets Spark cap each key map-side), one hash-agg to
    the path string, one hash-agg to path counts, then a
    TakeOrderedAndProject top-10 — k rows per partition cross the
    wire, never the full path dictionary. Deterministic: the rank
    order carries the event_id tie-break and the final sort breaks
    count ties on the path string.
    """
    from pyspark.sql.window import Window

    ev = t(spark, sf_dir, "events").select("user_id", "event_id", "ts", "event_type")
    rn = F.row_number().over(
        Window.partitionBy("user_id").orderBy("ts", "event_id")
    )
    first3 = ev.withColumn("rn", rn).filter(F.col("rn") <= 3)
    paths = first3.groupBy("user_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("rn", "event_type"))),
                lambda x: x["event_type"],
            ),
            ">",
        ).alias("path"),
        F.count("*").alias("path_len"),
    )
    return (
        paths.groupBy("path", "path_len")
        .agg(F.count("*").alias("n_users"))
        .orderBy(F.col("n_users").desc(), F.col("path").asc())
        .limit(10)
    )


@q(
    "mv_join_delta_maintenance",
    """
    WITH thr AS (SELECT CAST(floor(COUNT(*) * 0.8) AS BIGINT) AS t,
                        CAST(MAX(o_orderkey) AS BIGINT) AS mx
                 FROM orders),
    ranked AS (SELECT o.*, row_number() OVER (ORDER BY o_orderkey) AS rn
               FROM orders o),
    v AS (SELECT r.o_orderkey, r.o_totalprice, c.c_mktsegment,
                 r.rn > thr.t AS from_delta
          FROM ranked r JOIN customer c ON c.c_custkey = r.o_custkey
          CROSS JOIN thr)
    SELECT c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN from_delta THEN 1 ELSE 0 END) AS BIGINT)
             AS n_from_delta,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             AS sum_price
    FROM v GROUP BY c_mktsegment
    """,
)
def mv_join_delta_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental JOIN-view maintenance: V = orders ⋈ customer kept
    current by the delta rule ΔV = ΔA ⋈ B (a join view appends its
    delta; an aggregate view would re-aggregate). The first 80% of
    orders (by key order) is the materialized view; the last 20% arrives as a delta batch DELIVERED
    TWICE (at-least-once), is collapsed by the incremental anti-join
    against the view's key set (the J6 primitive), joined to the
    broadcast dim, and unioned in. The maintained view must equal the
    full recompute — the oracle states the recompute, and n_from_delta
    proves the delta path actually contributed rows.

    Scale: the fact is never re-scanned — maintenance cost is
    |Δ| ⋈ broadcast(dim) plus one anti-join against the view's key
    projection. This is the production shape for keeping a 10¹¹-row
    denormalized view current from a stream of fact appends.
    """
    from dbt_repo_spark.operators.ids import exact_order_statistics

    orders = t(spark, sf_dir, "orders")
    cust = t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    # deterministic 80/20 split WITHOUT a global row_number window: the
    # orderkey at exact rank floor(0.8n)-1 via the two-phase selection
    # (orderkeys are unique, so value <= boundary == rank <= floor(0.8n))
    cut = exact_order_statistics(
        orders, "o_orderkey", ranks_of_n=lambda n: [(n * 8) // 10 - 1]
    )
    boundary = next(iter(cut.values()))
    base_facts = orders.filter(F.col("o_orderkey") <= boundary)
    delta_facts = orders.filter(F.col("o_orderkey") > boundary)
    delta_facts = delta_facts.unionByName(delta_facts)  # at-least-once

    join_view = (
        lambda f, flag: f.join(F.broadcast(cust), f["o_custkey"] == cust["c_custkey"])
        .select("o_orderkey", "o_totalprice", "c_mktsegment")
        .withColumn("from_delta", F.lit(flag))
    )
    v0 = join_view(base_facts, False)
    # exactly-once collapse: drop redelivered keys already in the view,
    # and keys duplicated within the delta batch itself
    fresh = delta_facts.join(
        v0.select("o_orderkey"), "o_orderkey", "left_anti"
    ).dropDuplicates(["o_orderkey"])
    maintained = v0.unionByName(join_view(fresh, True))
    return maintained.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_rows"),
        F.sum(F.when(F.col("from_delta"), 1).otherwise(0))
        .cast("long")
        .alias("n_from_delta"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("sum_price"),
    )


_UNIGRAM_MAXLEN = 12  # DP rounds; words longer than this are excluded
_UNIGRAM_PIECE_MAX = 4


def _unigram_dp_sql(prefix: str, cost_rel: str) -> str:
    """Unrolled Viterbi CTE chain `{prefix}0..{prefix}N` + `{prefix}done`
    over the `wl` word relation under cost table ``cost_rel``: {prefix}p
    holds, per word of length >= p, the minimum-cost (then
    lexicographically-least-path) segmentation of the first p chars.
    MATERIALIZED is load-bearing: each dp stage is referenced by up to
    PIECE_MAX later stages and inlining re-evaluates the chain
    exponentially (measured as a hang)."""
    dps = []
    for p in range(1, _UNIGRAM_MAXLEN + 1):
        legs = []
        for l in range(1, min(_UNIGRAM_PIECE_MAX, p) + 1):
            legs.append(f"""
        SELECT d.w, d.len, d.freq, d.cost + k.c AS cand_c,
               CASE WHEN d.path = '' THEN d.pc
                    ELSE d.path || '|' || d.pc END AS cand_p
        FROM (SELECT *, substr(w, {p - l + 1}, {l}) AS pc
              FROM {prefix}{p - l} WHERE len >= {p}) d
        JOIN {cost_rel} k ON k.piece = d.pc""")
        dps.append(f"""
    {prefix}{p} AS MATERIALIZED (
      SELECT w, len, freq, m.c AS cost, m.p AS path FROM (
        SELECT w, len, freq, MIN(struct_pack(c := cand_c, p := cand_p)) AS m
        FROM ({" UNION ALL ".join(legs)})
        GROUP BY w, len, freq))""")
    finals = " UNION ALL ".join(
        f"SELECT * FROM {prefix}{p} WHERE len = {p}"
        for p in range(1, _UNIGRAM_MAXLEN + 1)
    )
    return f"""
    {prefix}0 AS MATERIALIZED (SELECT w, len, freq, CAST(0 AS BIGINT) AS cost,
                               '' AS path
                               FROM wl),
    {",".join(dps)},
    {prefix}done AS MATERIALIZED (SELECT * FROM ({finals}))"""


_UNIGRAM_BASE_SQL = f"""toks AS (SELECT unnest(list_filter(string_split(text, ' '),
                                            x -> x <> '')) AS w
                  FROM documents),
    wl AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS freq, length(w) AS len
           FROM toks GROUP BY 1
           HAVING length(w) <= {_UNIGRAM_MAXLEN}),
    pc AS (SELECT substr(w, s, l) AS piece, CAST(SUM(freq) AS BIGINT) AS cnt
           FROM wl,
                UNNEST(range(1, len + 1)) AS us(s),
                UNNEST(range(1, {_UNIGRAM_PIECE_MAX + 1})) AS ul(l)
           WHERE s + l - 1 <= len GROUP BY 1),
    tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS tot FROM pc),
    pcost AS (SELECT piece,
                     CAST(round(-ln(CAST(cnt AS DOUBLE)
                                    / CAST(tot.tot AS DOUBLE))
                                * 1000000.0, 0) AS BIGINT) AS c
              FROM pc, tot)"""


def _unigram_oracle() -> str:
    return f"""
    WITH {_UNIGRAM_BASE_SQL},
    {_unigram_dp_sql("dp", "pcost")}
    SELECT w AS word, freq, CAST(len AS BIGINT) AS word_len,
           cost AS total_cost,
           CAST(length(path) - length(replace(path, '|', '')) + 1 AS BIGINT)
             AS n_pieces,
           path AS segmentation
    FROM dpdone
    """


def _unigram_em_oracle() -> str:
    return f"""
    WITH {_UNIGRAM_BASE_SQL},
    {_unigram_dp_sql("dp", "pcost")},
    used AS (SELECT piece, CAST(SUM(freq) AS BIGINT) AS cnt
             FROM (SELECT freq, unnest(string_split(path, '|')) AS piece
                   FROM dpdone)
             GROUP BY 1),
    tot1 AS (SELECT CAST(SUM(cnt) AS BIGINT) AS tot FROM used),
    pcost1 AS (SELECT piece,
                      CAST(round(-ln(CAST(cnt AS DOUBLE)
                                     / CAST(tot1.tot AS DOUBLE))
                                 * 1000000.0, 0) AS BIGINT) AS c
               FROM used, tot1),
    {_unigram_dp_sql("ep", "pcost1")},
    vc AS (SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM pcost) AS n_vocab_init,
                  (SELECT CAST(COUNT(*) AS BIGINT) FROM pcost1) AS n_vocab_em)
    SELECT e.w AS word, e.freq, CAST(e.len AS BIGINT) AS word_len,
           e.cost AS total_cost_em,
           CAST(length(e.path) - length(replace(e.path, '|', '')) + 1
                AS BIGINT) AS n_pieces_em,
           e.path AS segmentation_em,
           e.path <> d.path AS seg_changed,
           vc.n_vocab_init, vc.n_vocab_em
    FROM epdone e JOIN dpdone d ON d.w = e.w CROSS JOIN vc
    """


_UNIGRAM_TRAIN_ROUNDS = 3  # EM rounds in unigram_lm_train (fixed: oracle unrolls them)


def _unigram_mstep_sql(done_rel: str, idx: int) -> str:
    """M-step CTEs: piece usage counts of ``done_rel``'s best paths →
    re-normalized 6-dp integer cost table ``pcost{idx}`` (unused pieces
    fall out of the vocabulary — SentencePiece's zero-expectation
    prune)."""
    return f"""used{idx} AS (SELECT piece, CAST(SUM(freq) AS BIGINT) AS cnt
             FROM (SELECT freq, unnest(string_split(path, '|')) AS piece
                   FROM {done_rel})
             GROUP BY 1),
    tot{idx} AS (SELECT CAST(SUM(cnt) AS BIGINT) AS tot FROM used{idx}),
    pcost{idx} AS (SELECT piece,
                      CAST(round(-ln(CAST(cnt AS DOUBLE)
                                     / CAST(tot{idx}.tot AS DOUBLE))
                                 * 1000000.0, 0) AS BIGINT) AS c
               FROM used{idx}, tot{idx})"""


def _unigram_train_oracle(rounds: int = _UNIGRAM_TRAIN_ROUNDS) -> str:
    """Fixed-round train-to-convergence oracle: rounds+1 unrolled
    Viterbi chains (t0_.. = the initial segmentation, t{r}_.. = after EM
    round r), an M-step between consecutive chains, one summary row per
    round."""
    ctes = [_UNIGRAM_BASE_SQL]
    cost_rel = "pcost"
    for r in range(rounds + 1):
        ctes.append(_unigram_dp_sql(f"t{r}_", cost_rel))
        if r < rounds:
            ctes.append(_unigram_mstep_sql(f"t{r}_done", r + 1))
            cost_rel = f"pcost{r + 1}"
    selects = []
    for r in range(rounds + 1):
        cost_rel_r = "pcost" if r == 0 else f"pcost{r}"
        changed = (
            "CAST(0 AS BIGINT)"
            if r == 0
            else f"""(SELECT CAST(COUNT(*) AS BIGINT)
              FROM t{r}_done a JOIN t{r - 1}_done b USING (w)
              WHERE a.path <> b.path)"""
        )
        selects.append(f"""
    SELECT CAST({r} AS BIGINT) AS round,
           (SELECT CAST(SUM(freq * cost) AS BIGINT) FROM t{r}_done)
             AS corpus_cost,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM {cost_rel_r}) AS n_vocab,
           {changed} AS n_words_changed""")
    return "WITH " + ",".join(ctes) + " UNION ALL ".join(selects)


def _unigram_word_relation(spark: SparkSession, sf_dir: str):
    """(wl, cost_map): the distinct-word relation (freq, len, capped at
    MAXLEN) and the initial substring-cost table as a driver dict (the
    broadcast-build seam — see ``_collect_cost_map``)."""
    from dbt_repo_spark.operators.dedup import tokens

    docs = t(spark, sf_dir, "documents")
    wl = (
        docs.select(F.explode(tokens(F.col("text"))).alias("w"))
        .groupBy("w")
        .agg(F.count("*").cast("long").alias("freq"))
        .withColumn("len", F.length("w"))
        .filter(F.col("len") <= _UNIGRAM_MAXLEN)
        # lazy: the cost-map collect below materializes it in the same
        # job; every later DP pass reads the cached blocks (r12 — one
        # scheduler round-trip saved per query)
        .localCheckpoint(eager=False)
    )
    pieces = (
        wl.select(
            "w",
            "freq",
            "len",
            F.explode(F.sequence(F.lit(1), F.col("len"))).alias("s"),
        )
        .select(
            "w",
            "freq",
            F.explode(
                F.sequence(F.lit(1), F.lit(_UNIGRAM_PIECE_MAX))
            ).alias("l"),
            "s",
            "len",
        )
        .filter(F.col("s") + F.col("l") - 1 <= F.col("len"))
        .select(F.expr("substr(w, s, l)").alias("piece"), "freq")
        .groupBy("piece")
        .agg(F.sum("freq").cast("long").alias("cnt"))
    )
    return wl, _collect_cost_map(_cost_table(pieces))


def _cost_table(counts: DataFrame) -> DataFrame:
    """(piece, cnt) -> (piece, c): 6-dp-scaled integer -ln(cnt/total).

    The log/round arithmetic stays ENGINE-SIDE (JVM Math.log on the same
    doubles DuckDB sees) so the 6-dp integer costs are the exact values
    the oracle unrolls — only the finished integers cross to the driver.
    """
    tot = counts.agg(F.sum("cnt").cast("long").alias("tot"))
    return counts.join(F.broadcast(tot)).select(
        "piece",
        F.round(
            -F.log(F.col("cnt").cast("double") / F.col("tot").cast("double"))
            * 1000000.0,
            0,
        )
        .cast("long")
        .alias("c"),
    )


def _collect_cost_map(pcost: DataFrame) -> dict[str, int]:
    """Materialize a (piece, c) cost table as a driver dict.

    This is the broadcast-build seam of the unigram family (guide §3.1:
    collect the side that fits, ship it everywhere): the cost table is
    VOCAB-relation-sized (Zipf-bounded — every 1..PIECE_MAX-char
    substring of the distinct-word relation, ~100k rows at sf0.1, a few
    MB as a dict), never corpus-sized, so it fits the driver and every
    executor by the same argument that made it a per-round broadcast
    join before. One Arrow-backed collect replaces MAXLEN join rounds.
    """
    pdf = pcost.toPandas()
    return dict(zip(pdf["piece"], (int(c) for c in pdf["c"])))


_VITERBI_BROADCASTS: list = []


def release_viterbi_broadcasts() -> None:
    """Destroy cost-map broadcasts from FINISHED unigram queries (r13).

    Call only between queries (bench and plan-capture teardown, the
    pytest session's teardown, after each query of the bare-session
    sweep in ``tests/driver_emulation.py``):
    a destroyed broadcast cannot be re-read, so the caller guarantees no
    registered DataFrame will re-execute afterwards.
    """
    while _VITERBI_BROADCASTS:
        bc = _VITERBI_BROADCASTS.pop()
        try:
            bc.destroy()
        except Exception:
            pass  # already cleaned by ContextCleaner / stopped context


def _viterbi_segment(wl: DataFrame, cost_map: dict[str, int]) -> DataFrame:
    """Exact integer-cost Viterbi over the word relation under
    ``cost_map``: returns one row per word (w, len, freq, cost, path).

    r12 rewrite (guide §1.2 step 1 + §4.2): the DP used to run as
    _UNIGRAM_MAXLEN sequential Spark rounds — each a PIECE_MAX-leg
    union + join against the cost relation + groupBy + eager
    localCheckpoint, i.e. ~12 jobs and ~36 shuffles PER CHAIN (×4
    chains in unigram_lm_train). Every one of those joins was
    vocab×vocab-bounded, so the distributed machinery bought nothing:
    the whole DP state for one word is O(len) integers. It now runs as
    ONE Arrow stage over the word relation with the cost table shipped
    as a broadcast dict; per word the classic O(len·PIECE_MAX) DP picks
    min (cost, path) exactly as the old MIN(struct(cand_c, cand_p)) —
    Python tuple order on (int, str) equals Spark's struct order
    (UTF-8 byte order = code-point order), so results are bit-identical
    (oracle-checked). Zero shuffles, zero per-round checkpoints; the
    only remaining cost is one pass over the Zipf-bounded word relation.
    """
    spark = wl.sparkSession
    bc = spark.sparkContext.broadcast(cost_map)
    # r13 (ADVICE): each call ships a fresh cost-map broadcast whose
    # executor copies are otherwise reclaimed only when ContextCleaner
    # notices the driver reference is GC-dead — across a 300-query bench
    # session that is dozens of multi-MB blocks pinned indefinitely.
    # Register it so session-hygiene points (bench teardown) can destroy
    # the retired ones deterministically; the LIVE query's broadcasts are
    # never touched mid-flight (release runs between queries).
    _VITERBI_BROADCASTS.append(bc)
    piece_max = _UNIGRAM_PIECE_MAX

    def seg(batches):
        import pandas as pd

        cm = bc.value
        for pdf in batches:
            out_w: list = []
            out_len: list = []
            out_freq: list = []
            out_cost: list = []
            out_path: list = []
            for w, ln, fq in zip(pdf["w"], pdf["len"], pdf["freq"]):
                ln = int(ln)
                dp: list = [None] * (ln + 1)
                dp[0] = (0, "")
                for p in range(1, ln + 1):
                    best = None
                    for l in range(1, min(piece_max, p) + 1):
                        prev = dp[p - l]
                        if prev is None:
                            continue
                        pc = w[p - l : p]
                        c = cm.get(pc)
                        if c is None:
                            continue
                        cand = (
                            prev[0] + c,
                            pc if prev[1] == "" else prev[1] + "|" + pc,
                        )
                        if best is None or cand < best:
                            best = cand
                    dp[p] = best
                if dp[ln] is not None:
                    out_w.append(w)
                    out_len.append(ln)
                    out_freq.append(int(fq))
                    out_cost.append(dp[ln][0])
                    out_path.append(dp[ln][1])
            yield pd.DataFrame(
                {
                    "w": pd.Series(out_w, dtype="object"),
                    "len": pd.Series(out_len, dtype="int32"),
                    "freq": pd.Series(out_freq, dtype="int64"),
                    "cost": pd.Series(out_cost, dtype="int64"),
                    "path": pd.Series(out_path, dtype="object"),
                }
            )

    return wl.mapInPandas(
        seg, schema="w string, len int, freq long, cost long, path string"
    )


@q("unigram_lm_tokenize", _unigram_oracle())
def unigram_lm_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM (SentencePiece-style) Viterbi tokenization — the
    E-step of unigram tokenizer training, the other half of the
    tokenizer family next to bpe_tokenize (BPE merges greedily;
    unigram picks each word's GLOBALLY optimal segmentation under
    piece log-probs): vocabulary = every 1..4-char substring with its
    corpus occurrence count, piece cost = 6-dp-scaled integer
    -ln(count/total), per-word best split by Viterbi DP over word
    positions.

    Exactness across engines: ln of identical doubles rounds to the
    same 6-dp integer (the bigram-LM rule), so the DP runs in exact
    integer arithmetic; ties in cost break on the lexicographically
    least path string via MIN(struct(cost, path)) — fully
    deterministic, no backtracking (the path rides the DP state).

    Scale: everything is DISTINCT-WORD-relation work (Zipf-bounded —
    the corpus explodes once to count pieces, then never again); the
    DP is MAXLEN unrolled rounds of (vocab-row join piece-cost table),
    lineage-cut per round. Words longer than {maxlen} chars are
    excluded by contract (production caps piece/word length the same
    way). Output: one row per distinct word with its freq, optimal
    cost, piece count, and '|'-joined segmentation.
    """
    wl, cmap = _unigram_word_relation(spark, sf_dir)
    done = _viterbi_segment(wl, cmap)
    return done.select(
        F.col("w").alias("word"),
        "freq",
        F.col("len").cast("long").alias("word_len"),
        F.col("cost").alias("total_cost"),
        (
            F.length("path")
            - F.length(F.regexp_replace("path", "\\|", ""))
            + 1
        )
        .cast("long")
        .alias("n_pieces"),
        F.col("path").alias("segmentation"),
    )


@q("unigram_lm_em_round", _unigram_em_oracle())
def unigram_lm_em_round(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE full EM round of unigram-LM tokenizer TRAINING on top of
    ``unigram_lm_tokenize``'s E-step: piece usage counts from the
    round-0 best paths (weighted by word frequency) re-estimate the
    piece probabilities (M-step — unused substrings fall out of the
    vocabulary exactly as SentencePiece prunes zero-expectation
    pieces), and a second Viterbi re-segments every word under the new
    integer cost table. Feasibility is guaranteed: each word's own
    round-0 pieces survive pruning, so its previous segmentation is
    always available to round 1.

    Output per word: the EM segmentation, whether it changed, and the
    vocabulary sizes before/after pruning (the audit that the M-step
    actually concentrated mass). Same exactness regime as the E-step:
    integer costs from 6-dp-rounded logs, lexicographic tie-breaks —
    the DuckDB oracle unrolls BOTH DP chains.
    """
    wl, cmap0 = _unigram_word_relation(spark, sf_dir)
    # lazy: the round-1 cost-map collect materializes done0's blocks
    done0 = _viterbi_segment(wl, cmap0).localCheckpoint(eager=False)
    used = (
        done0.select(
            "freq", F.explode(F.split("path", "\\|")).alias("piece")
        )
        .groupBy("piece")
        .agg(F.sum("freq").cast("long").alias("cnt"))
    )
    cmap1 = _collect_cost_map(_cost_table(used))
    done1 = _viterbi_segment(wl, cmap1)
    # vocab sizes are len() of the already-collected cost maps — the
    # former count() aggregates re-scanned relations the driver holds
    d0 = done0.select("w", F.col("path").alias("path0"))
    return (
        done1.join(d0, "w")
        .withColumn("n_vocab_init", F.lit(len(cmap0)).cast("long"))
        .withColumn("n_vocab_em", F.lit(len(cmap1)).cast("long"))
        .select(
            F.col("w").alias("word"),
            "freq",
            F.col("len").cast("long").alias("word_len"),
            F.col("cost").alias("total_cost_em"),
            (
                F.length("path")
                - F.length(F.regexp_replace("path", "\\|", ""))
                + 1
            )
            .cast("long")
            .alias("n_pieces_em"),
            F.col("path").alias("segmentation_em"),
            (F.col("path") != F.col("path0")).alias("seg_changed"),
            "n_vocab_init",
            "n_vocab_em",
        )
    )


@q("unigram_lm_train", _unigram_train_oracle())
def unigram_lm_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM tokenizer TRAINING to a fixed round count — the
    end-to-end composition the single ``unigram_lm_em_round`` tick is
    one step of (r8 verdict ask #5; the BPE family got the same
    unrolled-training treatment in r6): _UNIGRAM_TRAIN_ROUNDS hard-EM
    rounds, each = Viterbi re-segmentation of every word under the
    current integer cost table (E-step), then piece-usage re-estimation
    with zero-expectation pruning (M-step, SentencePiece's prune rule).

    Output: ONE ROW PER ROUND — (round, corpus_cost = Σ freq·cost of
    that round's best segmentations, n_vocab = cost-table size used that
    round, n_words_changed vs the previous round) — the training curve,
    not the (word-level, already-oracle-checked-via-em_round) paths, so
    the oracle stays |rounds| rows while certifying every chain. Hard-EM
    guarantees corpus_cost is non-increasing round over round up to the
    6-dp log rounding (property-tested with the exact rounding slack:
    Viterbi is an exact argmin under the given integer table, and the
    M-step's re-normalized table is optimal for the previous round's
    usage counts by the Gibbs inequality); n_vocab only shrinks after
    round 0 (pruning never adds pieces). Feasibility: each word's own
    previous pieces survive pruning, so every round's DP has at least
    the previous segmentation available.

    Scale (100 TB): all DP work runs on the DISTINCT-vocab relation
    (unigram_lm_tokenize's bound — measured exponent 0.06 at 8× corpus);
    training multiplies that by a FIXED round count, and the per-round
    summaries are single-row aggregates. The corpus is touched exactly
    once (the word-count scan).
    """
    wl, cost = _unigram_word_relation(spark, sf_dir)
    rounds = []
    prev = None
    for r in range(_UNIGRAM_TRAIN_ROUNDS + 1):
        # lazy: rounds 0..N-1 are materialized by the next round's
        # cost-map collect; the last round by the caller's action
        done = _viterbi_segment(wl, cost).localCheckpoint(eager=False)
        base = done.agg(
            F.lit(r).cast("long").alias("round"),
            F.sum(F.col("freq") * F.col("cost")).cast("long").alias(
                "corpus_cost"
            ),
        )
        # n_vocab = len() of the collected cost map (no extra count job)
        base = base.withColumn("n_vocab", F.lit(len(cost)).cast("long"))
        if prev is None:
            changed = spark.range(1).select(
                F.lit(0).cast("long").alias("n_words_changed")
            )
        else:
            changed = (
                done.alias("a")
                .join(prev.alias("b"), "w")
                .agg(
                    F.sum(
                        (F.col("a.path") != F.col("b.path")).cast("long")
                    ).alias("n_words_changed")
                )
            )
        rounds.append(base.join(F.broadcast(changed)))
        if r < _UNIGRAM_TRAIN_ROUNDS:
            used = (
                done.select(
                    "freq", F.explode(F.split("path", "\\|")).alias("piece")
                )
                .groupBy("piece")
                .agg(F.sum("freq").cast("long").alias("cnt"))
            )
            cost = _collect_cost_map(_cost_table(used))
        prev = done
    out = rounds[0]
    for x in rounds[1:]:
        out = out.unionByName(x)
    return out
