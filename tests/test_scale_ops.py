"""Unit + plan-shape tests for the round-8 scale-infrastructure family
(queries_scale.py): Z-order manifest, portable Bloom runtime filter,
curriculum shard manifest, multi-source BFS. Oracle parity itself runs in
test_oracle_parity; these pin the semantic invariants and the plan
properties the parity hash can't see."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from dbt_repo_spark.operators.ids import SYNTH_ID_TAG
from dbt_repo_spark.queries import QUERIES

SF = "/root/testdata/sf0.001"
SF01 = "/root/testdata/sf0.01"


def _plan(spark, name: str, sf: str = SF) -> str:
    df = QUERIES[name](spark, sf)
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


# ---------------------------------------------------------------- zorder


def test_zorder_manifest_zone_map_sound(spark):
    """Zone maps may over-admit, never false-prune: every block with
    actual probe rows must be flagged overlapping, and the block grid
    must cover every order exactly once."""
    rows = QUERIES["layout_zorder_manifest"](spark, SF01).collect()
    assert all(r.probe_overlaps for r in rows if r.probe_rows > 0)
    from dbt_repo_spark.queries import t

    assert sum(r.n_rows for r in rows) == t(spark, SF01, "orders").count()
    assert all(0 <= r.block_id < 256 for r in rows)


def test_zorder_manifest_prunes(spark):
    """The point of the layout: for a mid-band 2-D probe, a material
    fraction of blocks must be prunable from the zone map alone."""
    rows = QUERIES["layout_zorder_manifest"](spark, SF01).collect()
    pruned = [r for r in rows if not r.probe_overlaps]
    assert len(pruned) >= len(rows) // 4, (len(pruned), len(rows))
    # and pruning is consistent: pruned blocks contain zero probe rows
    assert all(r.probe_rows == 0 for r in pruned)


def test_morton_interleave_bits(spark):
    """morton_interleave(a, b) must equal the reference bit-interleave
    for exhaustive small ranks and round-trip back to its inputs."""
    from dbt_repo_spark.operators.layout import morton_interleave

    df = spark.range(256).select(
        (F.col("id") % 16).alias("a"), (F.col("id") / 16).cast("long").alias("b")
    )
    got = df.withColumn("z", morton_interleave(F.col("a"), F.col("b"), bits=4))
    for r in got.collect():
        want = 0
        for k in range(4):
            want |= ((r.a >> k) & 1) << (2 * k)
            want |= ((r.b >> k) & 1) << (2 * k + 1)
        assert r.z == want


# ---------------------------------------------------------------- bloom


def test_bloom_no_false_negatives(spark):
    rows = QUERIES["bloom_runtime_filter"](spark, SF01).collect()
    by_class = {r["class"]: r.n_keys for r in rows}
    assert "false_negative" not in by_class
    assert by_class.get("true_positive", 0) > 0  # members exist at sf0.01


def test_bloom_filter_is_broadcast_and_bounded(spark):
    from dbt_repo_spark.operators.sketches import (
        BLOOM_LANES,
        bloom_build,
        bloom_probe,
    )
    from dbt_repo_spark.queries import t

    sup = t(spark, SF, "supplier")
    bloom = bloom_build(sup, "s_suppkey")
    assert bloom.count() <= BLOOM_LANES
    probed = bloom_probe(t(spark, SF, "lineitem"), bloom, "l_suppkey")
    plan = probed._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert "BroadcastHashJoin" in plan
    # every dim key passes its own filter (no false negatives, directly)
    members = {r.s_suppkey for r in sup.select("s_suppkey").collect()}
    passed = {r.key for r in probed.filter("bloom_pass").collect()}
    assert members <= passed


# ---------------------------------------------------------- curriculum


def test_curriculum_shards_budget_and_order(spark):
    rows = sorted(
        QUERIES["curriculum_shards"](spark, SF01).collect(),
        key=lambda r: r.shard_id,
    )
    assert rows[0].shard_id == 0
    # shards are contiguous ids and (except possibly the last) fill to
    # at least the budget once the spill-over doc lands
    ids = [r.shard_id for r in rows]
    assert ids == list(range(len(rows)))
    # curriculum order: shard token bounds are non-decreasing across
    # shards (short-to-long global order means max_tokens of shard i
    # <= min_tokens of shard i+1 can be violated only at boundaries by
    # the straddling doc; the MONOTONE invariant is on min_tokens)
    mins = [r.min_tokens for r in rows]
    assert mins == sorted(mins)
    total = sum(r.shard_tokens for r in rows)
    budgets = [r.shard_tokens for r in rows[:-1]]
    # every non-final shard starts a doc past its 4096 boundary
    assert all(b >= 4096 - max(r.max_tokens for r in rows) for b in budgets)
    assert total > 0


def test_curriculum_shards_no_single_partition_window(spark):
    plan = _plan(spark, "curriculum_shards", SF01)
    assert "Exchange SinglePartition" not in plan


# ------------------------------------------------------------------ bfs


def test_bfs_hops_levels(spark):
    from dbt_repo_spark.queries import t

    rows = {r.hops: r for r in QUERIES["graph_bfs_hops"](spark, SF01).collect()}
    li = t(spark, SF01, "lineitem")
    n_seeds = (
        li.filter(F.col("l_orderkey") % 64 == 0)
        .select("l_orderkey")
        .distinct()
        .count()
    )
    assert rows[0].n_nodes == n_seeds
    # bipartite graph: odd hops are part nodes (offset by 1e9)
    assert rows[1].min_node >= SYNTH_ID_TAG
    assert rows[2].max_node < SYNTH_ID_TAG
    assert set(rows) <= {0, 1, 2, 3, 4}


def test_bfs_hops_exact_small_graph(spark):
    """Hand-checkable path graph: 1-2-3-4-5, seed {1}."""
    from dbt_repo_spark.operators.graph import bfs_hops

    e = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5)], "src long, dst long"
    )
    edges = e.union(e.select(F.col("dst"), F.col("src")))
    seeds = spark.createDataFrame([(1,)], "node long")
    got = {r.node: r.hops for r in bfs_hops(edges, seeds, iters=3).collect()}
    assert got == {1: 0, 2: 1, 3: 2, 4: 3}  # 5 unreached within 3 hops


# ---------------------------------------------------------------- phash


def test_phash_container_invariance(spark):
    """The same pixel grid encoded as BMP and as PPM must produce
    IDENTICAL nibbles — the property that separates pixel-space pHash
    from byte-space SimHash."""
    from dbt_repo_spark.operators import media_codecs
    from dbt_repo_spark.operators.multimodal import phash_nibbles

    px = [[((x * 37 + y * 11) % 256,) * 3 for x in range(5)] for y in range(4)]
    media = spark.createDataFrame(
        [
            (1, "image", bytearray(media_codecs.encode_bmp(px))),
            (2, "image", bytearray(media_codecs.encode_ppm(px))),
        ],
        "media_id long, media_type string, content binary",
    )
    nib = phash_nibbles(media).collect()
    a = {r.band: r.v for r in nib if r.media_id == 1}
    b = {r.band: r.v for r in nib if r.media_id == 2}
    assert len(a) == 16 and a == b


def test_phash_twin_recall_total(spark):
    """Every seeded cross-format twin lands in its base image's hash
    cluster (identical pixels -> identical hash -> same canonical), and
    the output is exactly one row per image (linear, never pair-shaped)."""
    from dbt_repo_spark.queries import t

    rows = {r.media_id: r for r in QUERIES["multimodal_phash_dedup"](spark, SF01).collect()}
    docs = t(spark, SF01, "documents")
    img_ids = [
        r.doc_id for r in docs.filter(F.col("doc_id") % 3 != 1).collect()
    ]
    assert len(rows) == len(img_ids) + len([i for i in img_ids if i % 5 == 0])
    for did in img_ids:
        if did % 5 == 0:
            assert rows[did + SYNTH_ID_TAG].canonical_id == rows[did].canonical_id
    # near links are symmetric-ish and within the radius
    for r in rows.values():
        if r.near_canon is not None:
            assert 1 <= r.near_ham <= 2


# -------------------------------------------------------- bloom stream


def test_streaming_bloom_index_equals_batch_build(spark, tmp_path):
    """Two ticks with duplicates + cross-tick redelivery must fold to
    the EXACT filter a single batch build produces (BIT_OR idempotence),
    and each tick leaves its own batch partition (idempotent publish)."""
    import os

    from dbt_repo_spark.operators.sketches import bloom_build
    from dbt_repo_spark.streaming.bloom_stream import (
        read_bloom_index,
        start_bloom_index_stream,
    )

    keys = spark.range(40).select((F.col("id") * 3 + 1).alias("key"))
    src, idx, ckpt = (
        str(tmp_path / "src"),
        str(tmp_path / "idx"),
        str(tmp_path / "ckpt"),
    )
    w1 = keys.filter("key % 2 = 0")
    w1.unionByName(w1).coalesce(1).write.mode("append").parquet(src)
    keys.filter("key % 2 = 1").unionByName(keys).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    start_bloom_index_stream(spark, src, idx, ckpt).awaitTermination()
    got = {(r.lane, r.mask) for r in read_bloom_index(spark, idx).collect()}
    want = {(r.lane, r.mask) for r in bloom_build(keys, "key").collect()}
    assert got == want
    parts = {d for d in os.listdir(idx) if d.startswith("batch=")}
    assert len(parts) == 2


# -------------------------------------------------------------- unigram


def test_release_destroys_finished_viterbi_broadcasts(spark):
    """A finished unigram_lm_tokenize query leaves its cost-map
    broadcasts registered and live; the release destroys every one."""
    from dbt_repo_spark import queries_scale

    queries_scale.release_viterbi_broadcasts()
    QUERIES["unigram_lm_tokenize"](spark, SF).collect()
    shipped = list(queries_scale._VITERBI_BROADCASTS)
    assert shipped and all(bc._jbroadcast.isValid() for bc in shipped)
    queries_scale.release_viterbi_broadcasts()
    assert not queries_scale._VITERBI_BROADCASTS
    assert not any(bc._jbroadcast.isValid() for bc in shipped)


def test_unigram_viterbi_is_optimal(spark):
    """Brute-force optimality certificate: for every word, the DP's
    total_cost equals the minimum over ALL segmentations into 1..4-char
    pieces under the same integer cost table, and the emitted path
    re-joins to the word with exactly that cost."""
    import math

    from dbt_repo_spark.queries import t
    from dbt_repo_spark.operators.dedup import tokens as tok

    from dbt_repo_spark.queries_scale import _UNIGRAM_MAXLEN

    rows = QUERIES["unigram_lm_tokenize"](spark, SF01).collect()
    # mirror the query's documented contract: words longer than
    # _UNIGRAM_MAXLEN are excluded BEFORE the cost table is built, so
    # both the expected word set and the brute-force cost table must be
    # derived from the filtered relation (a 13+-char fixture token would
    # otherwise fail this test spuriously / KeyError in best()).
    words = {
        (r.w, r.freq)
        for r in t(spark, SF01, "documents")
        .select(F.explode(tok(F.col("text"))).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("freq"))
        .collect()
        if len(r.w) <= _UNIGRAM_MAXLEN
    }
    counts: dict[str, int] = {}
    for w, f in words:
        for s in range(len(w)):
            for l in range(1, 5):
                if s + l <= len(w):
                    counts[w[s : s + l]] = counts.get(w[s : s + l], 0) + f
    total = sum(counts.values())
    cost = {
        p: int(
            __import__("decimal").Decimal(
                -math.log(c / total) * 1e6
            ).quantize(0, rounding="ROUND_HALF_UP")
        )
        for p, c in counts.items()
    }

    def best(w: str) -> int:
        dp = [0] + [None] * len(w)
        for p in range(1, len(w) + 1):
            cands = [
                dp[p - l] + cost[w[p - l : p]]
                for l in range(1, min(4, p) + 1)
                if dp[p - l] is not None
            ]
            dp[p] = min(cands)
        return dp[len(w)]

    assert len(rows) == len(words)
    for r in rows:
        assert r.total_cost == best(r.word), r.word
        pieces = r.segmentation.split("|")
        assert "".join(pieces) == r.word
        assert sum(cost[p] for p in pieces) == r.total_cost
        assert r.n_pieces == len(pieces)


def test_unigram_train_curve_properties(spark):
    """Hard-EM training-curve invariants on the fixture (r8 verdict ask
    #5): corpus_cost is non-increasing round over round up to the 6-dp
    log-rounding slack (Viterbi is an exact argmin under each integer
    table; the M-step table is optimal for the previous round's usage
    by the Gibbs inequality — each rounded piece cost deviates <=0.5
    micro-units from the exact log, and a segmentation uses at most
    sum(freq*len) piece instances, so 1 unit * that bound is a sound
    slack), n_vocab only shrinks after the round-0 prune, and round 0
    reports zero changed words by definition."""
    from dbt_repo_spark.queries import t
    from dbt_repo_spark.operators.dedup import tokens as tok
    from dbt_repo_spark.queries_scale import (
        _UNIGRAM_MAXLEN,
        _UNIGRAM_TRAIN_ROUNDS,
    )

    rows = sorted(
        QUERIES["unigram_lm_train"](spark, SF01).collect(),
        key=lambda r: r.round,
    )
    assert [r.round for r in rows] == list(range(_UNIGRAM_TRAIN_ROUNDS + 1))
    assert rows[0].n_words_changed == 0
    slack = (
        t(spark, SF01, "documents")
        .select(F.explode(tok(F.col("text"))).alias("w"))
        .filter(F.length("w") <= _UNIGRAM_MAXLEN)
        .agg(F.sum(F.length("w"))).collect()[0][0]
    )
    for a, b in zip(rows, rows[1:]):
        assert b.corpus_cost <= a.corpus_cost + slack, (a, b)
        assert b.n_vocab <= a.n_vocab, (a, b)
    # the M-step concentrates mass: the first prune must actually shrink
    # the all-substrings vocabulary
    assert rows[1].n_vocab < rows[0].n_vocab
