"""Similarity-operator cross-checks: the three ANN variants against the
exact expression-based brute force."""

from __future__ import annotations

from pyspark.sql import functions as F

from dbt_repo_spark.operators import similarity

SF = "/root/testdata/sf0.001"


def _pairs(df):
    return {(r.query_id, r.neighbor_id) for r in df.collect()}


def test_vectorized_topk_matches_expression_topk(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    exact = _pairs(similarity.cosine_topk(emb, F.col("vec_id") < 10, k=5))
    vec = _pairs(similarity.cosine_topk_vectorized(emb, F.col("vec_id") < 10, k=5))
    assert vec == exact  # both exact brute force → identical neighbor sets


def test_ivf_recall(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    exact = _pairs(similarity.cosine_topk(emb, F.col("vec_id") < 10, k=5))
    ivf = _pairs(similarity.ivf_topk(emb, F.col("vec_id") < 10, k=5))
    assert len(exact & ivf) / len(exact) >= 0.85


def test_ivfpq_recall_and_registry_floor(spark):
    """IVF-PQ (fused assign+encode+ADC) keeps usable recall vs exact
    brute force, and the registry query's self-validating recall@k
    column respects the pinned floor on every query row."""
    from dbt_repo_spark.queries import QUERIES

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    exact = _pairs(similarity.cosine_topk(emb, F.col("vec_id") < 10, k=5))
    ivfpq = _pairs(
        similarity.ivfpq_topk(emb, F.col("vec_id") < 10, k=5, rerank=100)
    )
    assert len(exact & ivfpq) / len(exact) >= 0.8
    rows = QUERIES["embed_ivfpq_topk"](spark, SF).collect()
    recalls = [r.recall_at_k for r in rows]
    assert min(recalls) >= 0.4 and sum(recalls) / len(recalls) >= 0.7


def test_cosine_pairs_symmetric_and_thresholded(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    pairs = similarity.cosine_pairs(emb, threshold=0.4)
    rows = pairs.collect()
    assert all(r.id_a < r.id_b for r in rows)
    assert all(r.score >= 0.4 for r in rows)


def test_embedding_near_duplicates_subset_of_exact(spark):
    """LSH near-dups are a (recall-limited) subset of the exact pair set."""
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    exact = {
        (r.id_a, r.id_b) for r in similarity.cosine_pairs(emb, threshold=0.4).collect()
    }
    lsh = {
        (r.id_a, r.id_b)
        for r in similarity.embedding_near_duplicates(emb, threshold=0.4, n_planes=4).collect()
    }
    assert lsh <= exact


def test_embedding_near_duplicates_banded_recall(spark):
    """The banded variant (OR-of-ANDs over 4 bands x 2 planes) is still a
    subset of exact pairs but recovers a usable fraction of them — the
    single-bucket table at the same 8 planes retrieves almost nothing at
    tau=0.4. Floor set at half the 1-(1-p^r)^b ~ 0.87 expectation to stay
    seed-robust."""
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    exact = {
        (r.id_a, r.id_b) for r in similarity.cosine_pairs(emb, threshold=0.4).collect()
    }
    banded = {
        (r.id_a, r.id_b)
        for r in similarity.embedding_near_duplicates(
            emb, threshold=0.4, n_planes=8, bands=4
        ).collect()
    }
    assert banded <= exact
    assert len(banded) / len(exact) >= 0.45
    single = {
        (r.id_a, r.id_b)
        for r in similarity.embedding_near_duplicates(
            emb, threshold=0.4, n_planes=8
        ).collect()
    }
    assert len(single) <= len(banded)  # banding only widens candidate cover


def test_embedding_near_duplicates_rejects_bad_bands():
    import pytest as _pytest

    from dbt_repo_spark.operators import similarity as sim

    with _pytest.raises(ValueError, match="not divisible"):
        sim.embedding_near_duplicates(None, 0.4, n_planes=8, bands=3)


def test_incremental_minhash_equals_full_run_restriction(spark, sf_dir):
    """The incremental tick must find exactly the full-corpus pairs that
    touch the batch (same threshold/banding) — no more, no fewer."""
    from dbt_repo_spark.operators import dedup
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    full = dedup.minhash_dedup(
        docs, "doc_id", "text", threshold=0.2, n=2, num_perm=64, bands=16, rows=4
    )
    is_batch = lambda c: F.col(c) % 4 == 0  # noqa: E731
    want = {
        # normalize order: batch doc second, as the incremental op emits
        (r["id_a"], r["id_b"]) if r["id_b"] % 4 == 0 else (r["id_b"], r["id_a"])
        for r in full.filter(is_batch("id_a") | is_batch("id_b")).collect()
    }
    batch = docs.filter(is_batch("doc_id"))
    corpus = docs.filter(~is_batch("doc_id"))
    inc = dedup.incremental_minhash_dedup(
        dedup.minhash_index(batch, "doc_id", "text", n=2, num_perm=64),
        dedup.minhash_index(corpus, "doc_id", "text", n=2, num_perm=64),
        threshold=0.2, bands=16, rows=4,
    ).collect()
    got = set()
    for r in inc:
        assert r["id_b"] % 4 == 0  # id_b is always the batch doc
        if r["origin"] == "batch":
            assert r["id_a"] % 4 == 0 and r["id_a"] < r["id_b"]
            got.add((min(r["id_a"], r["id_b"]), max(r["id_a"], r["id_b"])))
        else:
            assert r["id_a"] % 4 != 0
            got.add((r["id_a"], r["id_b"]))
    # normalize want the same way for intra-batch pairs (a<b already)
    norm_want = set()
    for a, b in want:
        if a % 4 == 0 and b % 4 == 0:
            norm_want.add((min(a, b), max(a, b)))
        else:
            norm_want.add((a, b) if b % 4 == 0 else (b, a))
    assert got == norm_want and len(got) > 0


def test_pq_recall_and_code_size(spark):
    """PQ ADC + exact rerank: high recall vs brute force, and codes are m
    small ints (the 32x memory-compression representation)."""
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    exact = _pairs(similarity.cosine_topk(emb, F.col("vec_id") < 10, k=5))
    pq = _pairs(
        similarity.pq_topk(emb, F.col("vec_id") < 10, k=5, m=8, nbits=4, rerank=100)
    )
    assert len(exact & pq) / len(exact) >= 0.85

    books = similarity.train_pq_codebooks(emb, m=8, nbits=4)
    assert books.shape == (8, 16, 8)  # dim 64 -> 8 subspaces of 8, 16 cents


def test_heavy_hitters_exact_via_candidates(spark):
    """MG candidate + exact verify equals brute-force GROUP BY/HAVING on
    an adversarially skewed key column."""
    from pyspark.sql import functions as F

    from dbt_repo_spark.operators.sketches import heavy_hitters

    base = spark.range(10_000).select((F.col("id") % 997).alias("k"))
    hot = spark.range(2_000).select(F.lit(42).alias("k"))
    warm = spark.range(500).select(F.lit(7).alias("k"))
    df = base.union(hot).union(warm).repartition(16)

    got = {(r.k, r.cnt) for r in heavy_hitters(df, "k", theta=0.01).collect()}
    n = df.count()
    want = {
        (r.k, r.cnt)
        for r in df.groupBy("k").agg(F.count("*").alias("cnt"))
        .filter(F.col("cnt") > 0.01 * n)
        .collect()
    }
    assert got == want
    assert (42, 2010) in got  # 2000 hot + 10 from base residue class


def test_registry_ann_queries_emit_pinned_recall(spark):
    """The approximate ANN registry queries carry a self-validating
    recall@k column; pin the floors so a recall collapse fails loudly
    (the driver's rows-only check sees values, not just counts)."""
    import statistics

    from dbt_repo_spark.queries import QUERIES

    floors = {"embed_lsh_topk": 0.5, "embed_ivf_topk": 0.85, "embed_pq_topk": 0.85}
    for name, floor in floors.items():
        rows = QUERIES[name](spark, SF).collect()
        per_q = dict({(r.query_id, r.recall_at_k) for r in rows})
        assert len(per_q) == 10, name
        assert statistics.mean(per_q.values()) >= floor, (name, per_q)


def test_registry_minhash_query_emits_pair_recall(spark):
    """dedup_minhash_lsh emits recall vs the exact join restricted to a
    seeded 50% audit sample (the full exact join is the quadratic cost
    LSH avoids); precision is 1.0 by construction (every candidate is
    exact-verified)."""
    from dbt_repo_spark.queries import QUERIES

    rows = QUERIES["dedup_minhash_lsh"](spark, SF).collect()
    recalls = {r.sampled_pair_recall for r in rows}
    assert len(recalls) == 1  # corpus-level metric, constant per run
    assert recalls.pop() >= 0.8


def test_lsh_multiprobe_strictly_widens_candidates(spark):
    """multiprobe=1 probes Hamming-1 buckets: recall is >= the single
    bucket probe and each (query, neighbor) appears at most once."""
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    exact = similarity.cosine_topk(emb, F.col("vec_id") < 10, k=5)
    e = {(r.query_id, r.neighbor_id) for r in exact.collect()}

    def hits(mp):
        got = similarity.lsh_bucket_topk(
            emb, F.col("vec_id") < 10, k=5, n_planes=4, multiprobe=mp
        ).collect()
        pairs = [(r.query_id, r.neighbor_id) for r in got]
        assert len(pairs) == len(set(pairs))
        return len(e & set(pairs))

    assert hits(1) >= hits(0)


def test_prefix_filter_join_equals_quadratic_join(spark):
    """jaccard_pairs_prefix (AllPairs/PPJoin prefix filtering) returns
    exactly the quadratic inverted-index join's pairs."""
    from dbt_repo_spark.operators import dedup

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    sh = dedup.shingles(docs, "doc_id", "text", n=2, as_hash=True)
    exact = {(r.id_a, r.id_b) for r in dedup.jaccard_pairs(sh, 0.2).collect()}
    pref = {
        (r.id_a, r.id_b) for r in dedup.jaccard_pairs_prefix(sh, 0.2).collect()
    }
    assert pref == exact and len(exact) > 0


def test_passjoin_equals_quadratic_levenshtein(spark):
    """passjoin_pairs returns exactly the brute-force lev≤k pairs on a
    corpus engineered to stress the pigeonhole: substitutions in each
    segment, ±k insertions/deletions (length drift), identical strings,
    strings shorter than k+1 segments, and unrelated strings."""
    from itertools import combinations

    from dbt_repo_spark.operators import dedup

    base = "the quick brown fox jumps over it"  # 33 chars
    rows = [
        (0, base),
        (1, base),                                 # identical → d=0
        (2, base[:10] + "X" + base[11:]),          # 1 sub in seg0
        (3, base[:20] + "Y" + base[21:]),          # 1 sub in seg1
        (4, base[:5] + base[6:]),                  # 1 deletion → len-1
        (5, "ZZ" + base),                          # 2 insertions at front
        (6, base[:12] + "AB" + base[14:]),         # 2 subs mid
        (7, "completely different string here"),
        (8, "ab"),                                 # shorter than k+1 segs
        (9, "ac"),                                 # d=1 vs id 8
        (10, base[:8] + "Q" + base[9:25] + "R" + base[26:]),  # subs in 2 segs
    ]
    df = spark.createDataFrame(rows, ["id", "s"])
    got = {
        (r.id_a, r.id_b, r.edit_distance)
        for r in dedup.passjoin_pairs(df, "id", "s", k=2).collect()
    }

    def lev(a, b):
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[-1] + 1, prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    want = {
        (i, j, lev(a, b))
        for (i, a), (j, b) in combinations(rows, 2)
        if lev(a, b) <= 2
    }
    assert got == want and len(want) >= 6


def test_semantic_dedup_registry_floor_and_subset(spark):
    """dedup_semantic: duplicates only ever point at a lower-id cluster-
    mate above threshold (subset of the exact near-dup relation), and the
    emitted pair_recall matches intra/exact counted independently. The
    0.15 floor is ~2.5x the 1/16 same-cluster chance rate on isotropic
    fixture embeddings — real embeddings cluster far harder (SemDeDup
    operates at 0.9+); a collapse to chance means assignment broke."""
    from dbt_repo_spark.operators.similarity import cosine_pairs
    from dbt_repo_spark.queries import QUERIES

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    rows = QUERIES["dedup_semantic"](spark, SF).collect()
    assert len(rows) == emb.count()
    recalls = {r.pair_recall for r in rows}
    assert len(recalls) == 1  # corpus-level metric, constant per run
    assert recalls.pop() >= 0.15
    dup_ids = {r.id for r in rows if r.is_duplicate}
    exact = cosine_pairs(emb, 0.4).collect()
    # every duplicate is the greater id of at least one exact near-dup pair
    greater_ids = {p.id_b for p in exact}
    assert dup_ids <= greater_ids


def test_quantile_sketch_rollup_rank_error_floor(spark):
    """Range-merged per-day quantile grids (day <= 15, r8 portable
    exact-grid swap) answer range quantiles within 1/k + the raw 1/n
    rank quantum of the smallest source day (sf0.001's per-(type, day)
    groups fall under k=32 rows, so they quantize at 1/n_rows),
    certified in-plan by rank_err = |F_exact(est) - p| vs the true
    range CDF."""
    from pyspark.sql import functions as F

    from dbt_repo_spark.queries import QUERIES, t as load

    rows = QUERIES["quantile_sketch_rollup"](spark, SF).collect()
    assert len(rows) == 15  # 5 event types x 3 probs
    min_n = (
        load(spark, SF, "events")
        .filter(F.col("value").isNotNull() & (F.dayofmonth("ts") <= 15))
        .groupBy("event_type", F.date_trunc("day", "ts"))
        .count()
        .agg(F.min("count"))
        .collect()[0][0]
    )
    assert max(r.rank_err for r in rows) <= 1 / 32 + 1.0 / min_n


def test_filtered_topk_recall_floor_and_filter_honored(spark, sf_dir):
    """Filtered ANN: every returned neighbor satisfies the metadata
    filter (pre-filter semantics — no silent under-return), and the
    in-plan recall@k vs the exact filtered top-k clears the floor."""
    from dbt_repo_spark.queries import QUERIES, t

    rows = QUERIES["embed_filtered_topk"](spark, sf_dir).collect()
    assert rows
    allowed = {
        r["vec_id"]
        for r in t(spark, sf_dir, "embeddings").filter("label = 1").collect()
    }
    for r in rows:
        if r["neighbor_id"] is not None:
            assert r["neighbor_id"] in allowed
    recalls = [r["recall_at_k"] for r in rows if r["recall_at_k"] is not None]
    assert recalls and sum(recalls) / len(recalls) >= 0.6


def test_embed_stub_unit_norm_and_content_addressed(spark):
    """The embedding seam yields unit vectors, content-addressed:
    identical text → identical vector regardless of id or partition."""
    from dbt_repo_spark.operators.similarity import embed_text_stub

    df = spark.createDataFrame(
        [(1, "alpha"), (2, "alpha"), (3, "beta")], "rid long, txt string"
    ).repartition(3)
    rows = {r["rid"]: r for r in embed_text_stub(df, "rid", "txt").collect()}
    for r in rows.values():
        assert abs(sum(c * c for c in r["embedding"]) - 1.0) < 1e-6
    assert rows[1]["embedding"] == rows[2]["embedding"]
    assert rows[1]["embedding"] != rows[3]["embedding"]


def test_rag_pipeline_self_retrieval(spark, sf_dir):
    """A single-chunk query document must retrieve its own chunk at
    rank 1 with score 1 (the embedding is content-addressed, so the
    query vector equals its own chunk's vector exactly)."""
    from dbt_repo_spark.queries import QUERIES

    rows = QUERIES["rag_retrieval_pipeline"](spark, sf_dir).collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r["qid"], []).append(r)
    assert set(by_q) == {0, 1, 2, 3, 4}
    for qid, rs in by_q.items():
        assert len(rs) == 3
        top = min(rs, key=lambda r: r["rank"])
        if top["src_doc"] == qid:  # single-chunk docs self-retrieve
            assert top["score"] == 1.0


# ---------------------------------------------------------------- r07:
# incremental IVF index maintenance (ivf_index_upsert + streaming twin)


def _codebook(spark, emb, n=8):
    return [
        r.v
        for r in similarity._normalized(emb, "id", "v", "vec_id", "embedding")
        .orderBy("id")
        .limit(n)
        .collect()
    ]


def _postings(spark, index_dir):
    return {
        (r.vec_id, r.cluster)
        for r in spark.read.parquet(index_dir).collect()
    }


def test_ivf_assign_exact_matches_arrow(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    cb = _codebook(spark, emb)
    ex = {r.vec_id: r.cluster for r in similarity.ivf_assign(emb, cb, exact=True).collect()}
    ar = {r.vec_id: r.cluster for r in similarity.ivf_assign(emb, cb, exact=False).collect()}
    assert ex == ar


def test_ivf_upsert_equals_full_rebuild_and_replays_idempotently(spark, tmp_path):
    """Seed(80%) + tick(20%) postings == one-shot assignment of the whole
    corpus (fixed codebook → order-independent), and a crash-replay of
    the tick (same batch id) overwrites instead of appending."""
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    thr = int(emb.count() * 0.8)
    corpus = emb.filter(F.col("vec_id") < thr)
    batch = emb.filter(F.col("vec_id") >= thr)
    cb = _codebook(spark, corpus)
    index_dir = str(tmp_path / "idx")
    (
        similarity.ivf_assign(corpus, cb)
        .withColumn("batch", F.lit(-1).cast("long"))
        .write.partitionBy("batch")
        .parquet(index_dir)
    )
    drift = similarity.ivf_index_upsert(spark, batch, 0, index_dir, cb)
    rows = {r.cluster: r for r in drift.collect()}
    assert set(rows) == set(range(len(cb)))
    assert sum(r.n_batch for r in rows.values()) == batch.count()
    published = _postings(spark, index_dir)
    full = {
        (r.vec_id, r.cluster)
        for r in similarity.ivf_assign(emb, cb).collect()
    }
    assert published == full
    # replay: same batch id, same rows — idempotent publish
    similarity.ivf_index_upsert(spark, batch, 0, index_dir, cb)
    assert _postings(spark, index_dir) == published


def test_ivf_upsert_redelivery_and_empty_tick(spark, tmp_path):
    """A vec_id redelivered in a LATER tick must not double-post; an
    empty tick is a no-op."""
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    cb = _codebook(spark, emb)
    index_dir = str(tmp_path / "idx")
    first = emb.filter(F.col("vec_id") < 20)
    similarity.ivf_index_upsert(spark, first, 0, index_dir, cb)
    base = _postings(spark, index_dir)
    assert len(base) == 20
    # tick 1 redelivers ids 10-19 plus new 20-29 (and an in-batch dup)
    redeliver = emb.filter((F.col("vec_id") >= 10) & (F.col("vec_id") < 30))
    redeliver = redeliver.unionByName(emb.filter(F.col("vec_id") == 25))
    similarity.ivf_index_upsert(spark, redeliver, 1, index_dir, cb)
    after = _postings(spark, index_dir)
    assert len(after) == 30 and base <= after
    ids = [p[0] for p in after]
    assert len(ids) == len(set(ids))  # one posting per vec_id
    # empty tick
    similarity.ivf_index_upsert(spark, emb.filter("vec_id < 0"), 2, index_dir, cb)
    assert _postings(spark, index_dir) == after


def test_ivf_upsert_retrain_trips_on_shifted_batch(spark, tmp_path):
    """A batch pushed AWAY from every centroid (negated vectors on an
    asymmetric codebook region... simplest: scale-preserving negation
    changes cosine sign) must trip the retrain flag somewhere."""
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    thr = int(emb.count() * 0.8)
    corpus = emb.filter(F.col("vec_id") < thr)
    cb = _codebook(spark, corpus)
    index_dir = str(tmp_path / "idx")
    (
        similarity.ivf_assign(corpus, cb)
        .withColumn("batch", F.lit(-1).cast("long"))
        .write.partitionBy("batch")
        .parquet(index_dir)
    )
    shifted = emb.filter(F.col("vec_id") >= thr).select(
        "vec_id", F.transform("embedding", lambda x: -x).alias("embedding")
    )
    drift = similarity.ivf_index_upsert(spark, shifted, 0, index_dir, cb)
    rows = drift.collect()
    assert any(r.retrain for r in rows if r.n_batch > 0)
    # drift column is corpus minus batch mean where both exist
    for r in rows:
        if r.n_batch > 0 and r.n_corpus > 0:
            assert abs(r.score_drift - (r.corpus_avg_score - r.batch_avg_score)) < 1e-12


def test_ivf_retrain_improves_drifted_batch_and_closes_the_loop(spark, tmp_path):
    """The lifecycle: a drifted batch trips the upsert tick's retrain
    flag (previous test); RESPONDING with ivf_retrain over the grown
    corpus must raise the batch's mean assignment score vs the stale
    codebook, and re-running the tick under the retrained codebook must
    no longer trip the flag on any corpus-backed cell."""
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    thr = int(emb.count() * 0.8)
    corpus = emb.filter(F.col("vec_id") < thr)
    shifted = emb.filter(F.col("vec_id") >= thr).select(
        "vec_id", F.transform("embedding", lambda x: -x).alias("embedding")
    )
    grown = corpus.select("vec_id", "embedding").unionByName(shifted)
    stale = _codebook(spark, corpus)

    def batch_mean(cb):
        rows = similarity.ivf_assign(shifted, cb).collect()
        return sum(r.ascore for r in rows) / len(rows)

    retrained = similarity.ivf_retrain(grown, k=8, n_iters=2)
    assert batch_mean(retrained) > batch_mean(stale)
    # tick under the retrained codebook: no corpus-backed cell trips
    index_dir = str(tmp_path / "idx")
    (
        similarity.ivf_assign(corpus, retrained)
        .withColumn("batch", F.lit(-1).cast("long"))
        .write.partitionBy("batch")
        .parquet(index_dir)
    )
    drift = similarity.ivf_index_upsert(
        spark, shifted, 0, index_dir, retrained
    ).collect()
    tripped = [r for r in drift if r.retrain and r.n_corpus > 0 and r.n_batch > 0]
    assert not tripped


def test_ivf_retrain_deterministic_unit_centroids(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    cb1 = similarity.ivf_retrain(emb, k=8, n_iters=2)
    cb2 = similarity.ivf_retrain(emb, k=8, n_iters=2)
    assert cb1 == cb2  # bit-identical across runs
    assert len(cb1) == 8 and all(len(c) == 64 for c in cb1)
    for c in cb1:
        assert abs(sum(x * x for x in c) - 1.0) < 1e-9


def test_ivf_retrain_empty_cluster_keeps_seed(spark):
    """Two identical seed vectors: every point ties to the smaller
    cluster, so the other cell is empty on every iteration and must
    keep its seed centroid verbatim."""
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [1.0, 0.0, 0.0]),
        (2, [0.9, 0.1, 0.0]),
        (3, [0.8, 0.0, 0.2]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cb = similarity.ivf_retrain(emb, k=2, n_iters=2)
    assert cb[1] == [1.0, 0.0, 0.0]  # empty cell: seed kept
    # cluster 0 moved to the renormalized mean of ALL four points
    assert cb[0] != [1.0, 0.0, 0.0] and abs(
        sum(x * x for x in cb[0]) - 1.0
    ) < 1e-9


def test_ann_stream_multi_tick_carries_index_state(spark, tmp_path):
    """Two availableNow runs (resume from checkpoint) upsert disjoint
    arrival sets; the final index equals one-shot assignment of every
    arrived vector, and redelivered arrivals collapse."""
    import json

    from dbt_repo_spark.streaming.ann_stream import start_ann_index_stream

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    cb = _codebook(spark, emb)
    broker = tmp_path / "broker"
    pdir = broker / "documents" / "p0"
    pdir.mkdir(parents=True)
    index_dir = str(tmp_path / "idx")
    ckpt = str(tmp_path / "ckpt")

    def rec(doc_id):
        return json.dumps(
            {
                "key": str(doc_id),
                "value": json.dumps({"doc_id": doc_id, "source": "s", "text": "x"}),
                "timestamp_ms": 1700000000000 + doc_id,
                "headers": {},
            }
        )

    # tick 1: ids 0-9, id 5 delivered twice
    (pdir / "segment-000.jsonl").write_text(
        "\n".join([rec(i) for i in range(10)] + [rec(5)]) + "\n"
    )
    q = start_ann_index_stream(
        spark, str(broker), f"{SF}/embeddings.parquet", index_dir, ckpt, cb
    )
    q.awaitTermination()
    assert len(_postings(spark, index_dir)) == 10

    # tick 2: ids 10-14 plus a cross-tick redelivery of id 3
    (pdir / "segment-001.jsonl").write_text(
        "\n".join([rec(i) for i in range(10, 15)] + [rec(3)]) + "\n"
    )
    q = start_ann_index_stream(
        spark, str(broker), f"{SF}/embeddings.parquet", index_dir, ckpt, cb
    )
    q.awaitTermination()
    published = _postings(spark, index_dir)
    arrived = emb.filter(F.col("vec_id") < 15)
    full = {(r.vec_id, r.cluster) for r in similarity.ivf_assign(arrived, cb).collect()}
    assert published == full


def test_lsh_params_solver_properties():
    """Band width grows with corpus size (bucket occupancy pinned),
    band count restores the recall floor, and the analytic recall of
    the returned (planes, bands) meets the target."""
    import math

    prev_r = 0
    for n in (1_000, 10_000, 100_000, 10_000_000):
        n_planes, b = similarity.lsh_params_for(n, 0.4, target_recall=0.8)
        r = n_planes // b
        assert r >= prev_r  # width is monotone in corpus size
        prev_r = r
        p = 1 - math.acos(0.4) / math.pi
        analytic = 1 - (1 - p**r) ** b
        assert analytic >= 0.8 - 1e-9, (n, r, b, analytic)
    # higher threshold -> fewer bands needed at the same width
    np_lo, b_lo = similarity.lsh_params_for(100_000, 0.4, 0.8)
    np_hi, b_hi = similarity.lsh_params_for(100_000, 0.8, 0.8)
    assert b_hi < b_lo
    import pytest as _pytest

    with _pytest.raises(ValueError):
        similarity.lsh_params_for(1000, 1.5)


def test_scaled_near_dup_precision_and_recall(spark):
    """The solver-sized pair generator never emits a false pair (exact
    verify) and recovers >= its target recall of the quadratic exact
    join on the fixture corpus."""
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    base = similarity._normalized(emb, "id", "v", "vec_id", "embedding")
    exact = (
        base.alias("a")
        .join(base.alias("b"), F.col("a.id") < F.col("b.id"))
        .withColumn("s", similarity.dot(F.col("a.v"), F.col("b.v")))
        .filter("s >= 0.4")
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
    )
    ex = {(r.id_a, r.id_b) for r in exact.collect()}
    got = {
        (r.id_a, r.id_b)
        for r in similarity.embedding_near_duplicates_scaled(emb, 0.4).collect()
    }
    assert got <= ex  # precision 1.0 by exact verification
    assert len(got & ex) / max(len(ex), 1) >= 0.8
