"""Round-9 wave property tests: brute-force twins and guarantee pins for
DSIR importance weights, the FD audit, the count-min join-size estimate,
and bounded-round weighted SSSP — independent of the DuckDB oracles."""

from __future__ import annotations

import hashlib
import math
from decimal import ROUND_HALF_UP, Decimal

import pytest
from pyspark.sql import functions as F

from dbt_repo_spark.queries import QUERIES, t

SF = "/root/testdata/sf0.001"
SF01 = "/root/testdata/sf0.01"


def test_dsir_matches_pure_python(spark):
    """Every doc's score equals a hashlib+math reimplementation of the
    DSIR recipe (bucket hash, Laplace smoothing, 6-dp half-up rounding,
    integer sum) — the cross-engine exactness claim, certified against a
    third implementation."""
    B = 256
    docs = {
        r.doc_id: (r.lang, [w for w in r.text.split(" ") if w != ""])
        for r in t(spark, SF, "documents").collect()
    }

    def bucket(w: str) -> int:
        return int(hashlib.md5(w.encode()).hexdigest()[:8], 16) % B

    src: dict[int, int] = {}
    tgt: dict[int, int] = {}
    ts = tt = 0
    for lang, ws in docs.values():
        for w in ws:
            b = bucket(w)
            src[b] = src.get(b, 0) + 1
            ts += 1
            if lang == "en":
                tgt[b] = tgt.get(b, 0) + 1
                tt += 1
    ratio = {
        b: int(
            Decimal(
                (
                    math.log((tgt.get(b, 0) + 1) / (tt + B))
                    - math.log((src.get(b, 0) + 1) / (ts + B))
                )
                * 1e6
            ).quantize(0, rounding=ROUND_HALF_UP)
        )
        for b in range(B)
    }
    rows = {r.doc_id: r for r in QUERIES["dsir_importance_weights"](spark, SF).collect()}
    assert set(rows) == {d for d, (_, ws) in docs.items() if ws}
    for did, (lang, ws) in docs.items():
        if not ws:
            continue
        exp = sum(ratio[bucket(w)] for w in ws)
        assert rows[did].score_micros == exp, did
        assert rows[did].n_toks == len(ws)
        assert rows[did].keep == (exp > 0)
        assert rows[did].lang == lang


def test_dsir_tilts_toward_target(spark):
    """Direction check on the real fixture: the mean score of 'en' docs
    (the target slice) exceeds the mean score of non-'en' docs — the
    entire point of importance resampling."""
    rows = QUERIES["dsir_importance_weights"](spark, SF01).collect()
    en = [r.score_micros / r.n_toks for r in rows if r.lang == "en"]
    rest = [r.score_micros / r.n_toks for r in rows if r.lang != "en"]
    assert en and rest
    assert sum(en) / len(en) > sum(rest) / len(rest)


def test_fd_audit_verdicts(spark):
    """The audit separates held from violated FDs on the fixture: the
    key FD reports zero violations, every non-key FD reports at least
    one, and the rate arithmetic is consistent with the counts."""
    rows = {r.fd: r for r in QUERIES["fd_violations"](spark, SF01).collect()}
    assert rows["documents.doc_id->lang"].n_violating_keys == 0
    assert rows["documents.doc_id->lang"].max_distinct_rhs == 1
    for name, r in rows.items():
        assert 0 <= r.n_violating_keys <= r.n_keys
        assert r.violation_rate_micros == r.n_violating_keys * 1_000_000 // r.n_keys
        if name != "documents.doc_id->lang":
            assert r.n_violating_keys > 0, name
            assert r.max_distinct_rhs > 1, name


@pytest.mark.parametrize("sf", [SF, SF01])
def test_cm_join_estimate_upper_bounds_exact(spark, sf):
    """Cormode-Muthukrishnan guarantee: the sketch inner product never
    underestimates the true join size (counters are non-negative, so
    collisions only ADD cross terms)."""
    r = QUERIES["join_size_cm_estimate"](spark, sf).collect()[0]
    assert r.exact_join_size > 0  # the probe is non-degenerate
    assert r.cm_join_size_est >= r.exact_join_size
    assert r.overcount == r.cm_join_size_est - r.exact_join_size


def bellman_ford(edges, seeds, iters):
    """Pure-Python bounded-round Bellman-Ford over (src, dst, w) triples:
    the shortest distance from the seed set over paths of ≤ iters edges."""
    dist = {s: 0 for s in seeds}
    for _ in range(iters):
        nxt = dict(dist)
        for s, d, w in edges:
            if s in dist and dist[s] + w < nxt.get(d, 1 << 60):
                nxt[d] = dist[s] + w
        dist = nxt
    return dist


def test_weighted_sssp_matches_bellman_ford(spark):
    """graph.weighted_sssp == a pure-Python bounded-round Bellman-Ford
    on a small weighted digraph (cycle + chords + an unreachable node),
    including the <=iters-edge path bound."""
    from dbt_repo_spark.operators.graph import weighted_sssp

    edges = [
        (0, 1, 5), (1, 2, 1), (2, 3, 1), (0, 3, 9), (3, 4, 2),
        (4, 0, 1), (2, 0, 7), (5, 6, 1),  # 5->6 unreachable from 0
        (0, 2, 4),
    ]
    iters = 3
    dist = bellman_ford(edges, [0], iters)
    e = spark.createDataFrame(edges, "src long, dst long, w long")
    seeds = spark.createDataFrame([(0,)], "node long")
    got = {
        r.node: r.dist
        for r in weighted_sssp(e, seeds, iters=iters).collect()
    }
    assert got == dist
    # weighted vs hop semantics: the direct edge 0->3 costs 9, but the
    # 2-edge path 0->2->3 costs 4+1=5 — weight wins over hop count
    assert got[3] == 5


@pytest.mark.parametrize("sf", [SF, SF01])
def test_pca_direction_matches_numpy(spark, sf):
    """The integer power iteration's direction agrees with NumPy's exact
    eigendecomposition of the float covariance: |cosine| > 0.999 (the
    3-dp quantization + 8 rounds bound the residual; sign is
    canonicalized separately so only alignment matters)."""
    import numpy as np

    rows = sorted(
        QUERIES["embed_top_principal_direction"](spark, sf).collect(),
        key=lambda r: r.dim,
    )
    v = np.array([r.component for r in rows], dtype=float)
    X = np.array(
        [r.embedding for r in t(spark, sf, "embeddings").collect()], dtype=float
    )
    C = np.cov(X, rowvar=False, bias=True)
    w, vecs = np.linalg.eigh(C)
    top = vecs[:, -1]
    cos = abs(v @ top) / (np.linalg.norm(v) * np.linalg.norm(top))
    assert cos > 0.999, cos
    # sign canonicalization: first nonzero component positive
    nz = v[v != 0]
    assert nz[0] > 0


def test_interval_join_pairs_within_window(spark):
    """Every emitted stream-stream pair satisfies the interval contract
    (0 <= lag <= 30 days), and per-user pair counts equal the batch
    brute-force on the fixture."""
    rows = QUERIES["streaming_interval_join"](spark, SF).collect()
    assert rows
    ev = t(spark, SF, "events").select("event_id", "user_id", "ts", "event_type")
    sig = {
        (r.user_id, r.event_id): r.ts
        for r in ev.filter(F.col("event_type") == "signup").collect()
    }
    pur = {
        (r.user_id, r.event_id): r.ts
        for r in ev.filter(F.col("event_type") == "purchase").collect()
    }
    expected = {
        (pu, pe, su, se)
        for (pu, pe), pts in pur.items()
        for (su, se), sts in sig.items()
        if pu == su and sts <= pts and (pts - sts).total_seconds() <= 30 * 86400
    }
    got = {(r.user_id, r.purchase_id, r.user_id, r.signup_id) for r in rows}
    assert got == expected
    for r in rows:
        assert 0 <= r.lag_sec <= 30 * 86400


def test_dsir_resample_budget_and_prefix(spark):
    """The resampled corpus is exactly the top-score prefix under the
    25% token budget: total selected tokens <= budget, and a brute-force
    greedy over the score relation reproduces the per-lang counts."""
    scores = sorted(
        QUERIES["dsir_importance_weights"](spark, SF01).collect(),
        key=lambda r: (-r.score_micros, r.doc_id),
    )
    total = sum(r.n_toks for r in scores)
    budget = total // 4
    # the contract is a strict PREFIX of the score order: the running
    # sum advances over every doc (selected or not), so the first doc
    # whose inclusive prefix crosses the budget ends the selection —
    # reproducible and order-stable (same as token_budget_mixture)
    run, sel = 0, []
    for r in scores:
        run += r.n_toks
        if run <= budget:
            sel.append(r)
    rows = {r.lang: r for r in QUERIES["dsir_token_budget_resample"](spark, SF01).collect()}
    exp: dict[str, list] = {}
    for r in sel:
        exp.setdefault(r.lang, []).append(r)
    assert set(rows) == set(exp)
    got_total = 0
    for lang, rs in exp.items():
        assert rows[lang].n_docs == len(rs)
        assert rows[lang].n_tokens == sum(x.n_toks for x in rs)
        got_total += rows[lang].n_tokens
    assert got_total <= budget


def test_v7_pipeline_conservation(spark):
    """v7 stage conservation on the fixture: the shard manifest accounts
    for every kept, exact-deduped document exactly once; shard ids are
    dense from 0; every shard except possibly stragglers starts under
    the budget boundary."""
    shards = sorted(
        QUERIES["training_data_pipeline_v7"](spark, SF01).collect(),
        key=lambda r: r.shard_id,
    )
    assert [s.shard_id for s in shards] == list(range(len(shards)))
    scores = {
        r.doc_id: r
        for r in QUERIES["dsir_importance_weights"](spark, SF01).collect()
        if r.score_micros > 0
    }
    texts = {
        r.doc_id: r.text
        for r in t(spark, SF01, "documents").collect()
        if r.doc_id in scores
    }
    owners = {}
    for did in sorted(texts):
        owners.setdefault(texts[did], did)
    surv = set(owners.values())
    assert sum(s.n_docs for s in shards) == len(surv)
    assert sum(s.shard_tokens for s in shards) == sum(
        scores[d].n_toks for d in surv
    )


def test_woe_bins_consistent(spark):
    """WOE/IV audit arithmetic: deciles are 1..10 and partition the
    orders (sum of n == row count), every IV contribution is
    non-negative ((share_diff) and ln(share ratio) always share sign),
    and the micro values reproduce from the emitted counts."""
    import math

    rows = sorted(
        QUERIES["woe_information_value"](spark, SF01).collect(),
        key=lambda r: r.decile,
    )
    assert [r.decile for r in rows] == list(range(1, 11))
    n_orders = t(spark, SF01, "orders").count()
    assert sum(r.n for r in rows) == n_orders
    tp = sum(r.n_pos for r in rows)
    tn = sum(r.n_neg for r in rows)
    for r in rows:
        ps = (r.n_pos + 1) / (tp + 10)
        ns = (r.n_neg + 1) / (tn + 10)
        woe = math.log(ps) - math.log(ns)
        assert abs(r.woe_micros - woe * 1e6) <= 1, r
        assert abs(r.iv_micros - (ps - ns) * woe * 1e6) <= 1, r
        assert r.iv_micros >= 0, r


def test_containment_matches_brute_force(spark):
    """text_containment_pairs == a pure-Python reimplementation of the
    rare-gram-blocked containment recipe on the small fixture, and the
    asymmetry claim holds: containment_a >= jaccard for every pair."""
    from dbt_repo_spark.queries_r9 import _RARE_DF

    docs = {
        r.doc_id: [w for w in r.text.split(" ") if w != ""]
        for r in t(spark, SF, "documents").collect()
    }
    sh = {
        d: {" ".join(ws[i : i + 3]) for i in range(len(ws) - 2)}
        for d, ws in docs.items()
        if len(ws) >= 3
    }
    df: dict[str, int] = {}
    for g in (g for gs in sh.values() for g in gs):
        df[g] = df.get(g, 0) + 1
    rare = {g for g, c in df.items() if c <= _RARE_DF}
    exp = {}
    ids = sorted(sh)
    for ai in range(len(ids)):
        for bi in range(ai + 1, len(ids)):
            a, b = ids[ai], ids[bi]
            if not (sh[a] & sh[b] & rare):
                continue
            inter = len(sh[a] & sh[b])
            if 2 * inter >= len(sh[a]) or 2 * inter >= len(sh[b]):
                exp[(a, b)] = (inter, len(sh[a]), len(sh[b]))
    rows = {
        (r.id_a, r.id_b): r
        for r in QUERIES["text_containment_pairs"](spark, SF).collect()
    }
    assert set(rows) == set(exp)
    for k, (inter, sa, sb) in exp.items():
        r = rows[k]
        assert (r.n_common, r.size_a, r.size_b) == (inter, sa, sb)
        assert r.containment_a_micros == inter * 1_000_000 // sa
        assert r.containment_b_micros == inter * 1_000_000 // sb
        jac = inter * 1_000_000 // (sa + sb - inter)
        assert max(r.containment_a_micros, r.containment_b_micros) >= jac


def test_rake_matches_pure_python(spark):
    """text_keyphrase_rake == a pure-Python RAKE with the same
    corpus-derived delimiter set, integer word scores, and (score DESC,
    phrase) top-20 — certified against a third implementation."""
    from dbt_repo_spark.queries_r9 import (
        _RAKE_MAXLEN,
        _RAKE_STOP_K,
        _RAKE_TOPK,
    )

    docs = {
        r.doc_id: [w for w in r.text.split(" ") if w != ""]
        for r in t(spark, SF, "documents").collect()
    }
    cnt: dict[str, int] = {}
    for ws in docs.values():
        for w in ws:
            cnt[w] = cnt.get(w, 0) + 1
    stop = {
        w for w, _ in sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[:_RAKE_STOP_K]
    }
    phrases: list[list[str]] = []
    for ws in docs.values():
        cur: list[str] = []
        for w in ws:
            if w in stop:
                if cur:
                    phrases.append(cur)
                cur = []
            else:
                cur.append(w)
        if cur:
            phrases.append(cur)
    phrases = [p for p in phrases if 1 <= len(p) <= _RAKE_MAXLEN]
    freq: dict[str, int] = {}
    deg: dict[str, int] = {}
    for p in phrases:
        for w in p:
            freq[w] = freq.get(w, 0) + 1
            deg[w] = deg.get(w, 0) + len(p)
    ws_ = {w: deg[w] * 1_000_000 // freq[w] for w in freq}
    agg: dict[str, list] = {}
    for p in phrases:
        k = " ".join(p)
        if k not in agg:
            agg[k] = [0, len(p), sum(ws_[w] for w in p)]
        agg[k][0] += 1
    exp = sorted(
        ((k, v[1], v[0], v[2]) for k, v in agg.items()),
        key=lambda x: (-x[3], x[0]),
    )[:_RAKE_TOPK]
    rows = [
        (r.phrase, r.n_words, r.n_occurrences, r.score_micros)
        for r in QUERIES["text_keyphrase_rake"](spark, SF).collect()
    ]
    assert rows == exp


def test_label_prop_matches_pure_python(spark):
    """graph.label propagation (the fixed-round sync variant inside
    graph_label_prop_communities) == a pure-Python simulation on the
    sf0.001 co-purchase graph, reconstructed independently."""
    from dbt_repo_spark.queries_r9 import _LPA_MIN_CO, _LPA_ROUNDS

    li = t(spark, SF, "lineitem").select("l_orderkey", "l_partkey").collect()
    orders: dict[int, set] = {}
    for r in li:
        orders.setdefault(r.l_orderkey, set()).add(r.l_partkey)
    co: dict[tuple, int] = {}
    for parts in orders.values():
        ps = sorted(parts)
        for i in range(len(ps)):
            for j in range(i + 1, len(ps)):
                co[(ps[i], ps[j])] = co.get((ps[i], ps[j]), 0) + 1
    adj: dict[int, list] = {}
    for (a, b), c in co.items():
        if c >= _LPA_MIN_CO:
            adj.setdefault(a, []).append(b)
            adj.setdefault(b, []).append(a)
    labels = {n: n for n in adj}
    for _ in range(_LPA_ROUNDS):
        new = {}
        for n, ns in adj.items():
            votes: dict[int, int] = {}
            for m in ns:
                votes[labels[m]] = votes.get(labels[m], 0) + 1
            new[n] = min(votes, key=lambda l: (-votes[l], l))
        labels = new
    exp: dict[int, list] = {}
    for n, l in labels.items():
        exp.setdefault(l, []).append(n)
    rows = {
        r.community: r
        for r in QUERIES["graph_label_prop_communities"](spark, SF).collect()
    }
    assert set(rows) == set(exp)
    for l, ns in exp.items():
        assert rows[l].n_nodes == len(ns)
        assert rows[l].min_node == min(ns)
        assert rows[l].max_node == max(ns)


from hypothesis import given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402
from pyspark.sql import Row  # noqa: E402

_H = dict(max_examples=12, deadline=None, derandomize=True)


@given(
    st.lists(
        st.tuples(st.integers(0, 20), st.integers(0, 20), st.integers(1, 9)),
        min_size=1,
        max_size=50,
    ),
    st.lists(st.integers(0, 20), min_size=1, max_size=4, unique=True),
)
@settings(**_H)
def test_weighted_sssp_matches_reference_random(spark, edge_list, seed_list):
    """weighted_sssp == bounded-round Bellman-Ford on arbitrary small
    weighted digraphs (self loops, parallel edges with different
    weights, unreachable nodes, seeds off-graph)."""
    from dbt_repo_spark.operators.graph import weighted_sssp

    iters = 4
    e = spark.createDataFrame([Row(src=a, dst=b, w=w) for a, b, w in edge_list])
    seeds = spark.createDataFrame([Row(node=s) for s in seed_list])
    got = {
        r.node: r.dist for r in weighted_sssp(e, seeds, iters=iters).collect()
    }
    assert got == bellman_ford(edge_list, seed_list, iters)


@given(
    st.lists(
        st.tuples(st.integers(0, 15), st.integers(0, 15)),
        min_size=1,
        max_size=40,
    )
)
@settings(**_H)
def test_label_prop_sync_rounds_reference_random(spark, edge_list):
    """The fixed-round synchronous LPA operator (graph.label_propagation,
    which graph_label_prop_communities runs) == a pure-Python simulation
    on arbitrary small undirected graphs — argmax vote with (count DESC,
    label ASC) tie-break, 4 sync rounds."""
    from dbt_repo_spark.operators.graph import label_propagation

    edges = [(a, b) for a, b in edge_list if a != b]
    if not edges:
        return
    e0 = spark.createDataFrame([Row(src=a, dst=b) for a, b in edges])
    labels = label_propagation(e0, rounds=4)
    got = {r.node: r.label for r in labels.collect()}

    adj: dict[int, list] = {}
    for a, b in edges:
        adj.setdefault(a, []).append(b)
        adj.setdefault(b, []).append(a)
    ref = {n: n for n in adj}
    for _ in range(4):
        new = {}
        for n, ns in adj.items():
            votes: dict[int, int] = {}
            for m in ns:
                votes[ref[m]] = votes.get(ref[m], 0) + 1
            new[n] = min(votes, key=lambda l: (-votes[l], l))
        ref = new
    assert got == ref


def test_outer_interval_join_flushes_no_match_rows(spark):
    """The outer stream-stream join emits EVERY purchase exactly as the
    batch LEFT JOIN does: matched rows satisfy the window, unmatched
    purchases appear once with NULL signup columns (the rows only a
    watermark-advancing flush can produce in a stream)."""
    rows = QUERIES["streaming_interval_join_outer"](spark, SF).collect()
    ev = t(spark, SF, "events").select("event_id", "user_id", "ts", "event_type")
    pur = {(r.user_id, r.event_id): r.ts
           for r in ev.filter(F.col("event_type") == "purchase").collect()}
    sig = {(r.user_id, r.event_id): r.ts
           for r in ev.filter(F.col("event_type") == "signup").collect()}
    assert {(r.user_id, r.purchase_id) for r in rows} == set(pur)
    for r in rows:
        if r.signup_id is None:
            assert r.lag_sec is None
            # genuinely unmatched: no signup in the window
            pts = pur[(r.user_id, r.purchase_id)]
            assert not any(
                su == r.user_id and sts <= pts
                and (pts - sts).total_seconds() <= 30 * 86400
                for (su, _), sts in sig.items()
            )
        else:
            assert 0 <= r.lag_sec <= 30 * 86400


def test_bfs_hops_deduplicates_seed_rows(spark):
    """Contract pin (r9 self-review): duplicate rows in the seed
    DataFrame must not produce duplicate output rows — the frontier
    rewrite no longer re-aggregates dist, so the dedup is explicit."""
    from dbt_repo_spark.operators.graph import bfs_hops

    e = spark.createDataFrame([(0, 1), (1, 2)], "src long, dst long")
    seeds = spark.createDataFrame([(0,), (0,), (0,)], "node long")
    rows = bfs_hops(e, seeds, iters=2).collect()
    assert sorted((r.node, r.hops) for r in rows) == [(0, 0), (1, 1), (2, 2)]


def test_kafka_mirror_chunk_budget_is_proportional(spark, tmp_path):
    """maxOffsetsPerTrigger distributes the per-tick budget
    PROPORTIONALLY over partition lags (the real Kafka semantics), not
    greedily in key order — every lagging partition makes progress in
    the first tick."""
    import json as _json
    import os

    from dbt_repo_spark.sources.kafka_mirror import _KafkaMirrorStreamReader

    root = str(tmp_path / "broker")
    for part, n in [(0, 8), (1, 8), (2, 8)]:
        d = os.path.join(root, "t", f"p{part}")
        os.makedirs(d)
        with open(os.path.join(d, "segment-000.jsonl"), "w") as fh:
            for i in range(n):
                fh.write(
                    _json.dumps(
                        {"key": None, "value": f"v{part}-{i}",
                         "timestamp_ms": 1000 + i}
                    )
                    + "\n"
                )
    rdr = _KafkaMirrorStreamReader(
        {"path": root, "subscribe": "t", "maxoffsetspertrigger": "6"}
    )
    rows, end = rdr.read({})
    # 6-record budget over 3 equally-lagged partitions -> 2 each
    assert end == {"t/0": 2, "t/1": 2, "t/2": 2}
    assert len(list(rows)) == 6
    # second tick resumes and stays proportional
    rows2, end2 = rdr.read(end)
    assert end2 == {"t/0": 4, "t/1": 4, "t/2": 4}
    assert len(list(rows2)) == 6


def test_kafka_mirror_remainder_round_robins_unequal_lags(spark, tmp_path):
    """The floor-division remainder is placed ONE record per partition
    per pass (true round-robin), never all on the first lagging
    partition: lags 5/2/2 with budget 7 -> floor shares 3/1/1 leave a
    2-record remainder that must land on two DIFFERENT partitions."""
    import json as _json
    import os

    from dbt_repo_spark.sources.kafka_mirror import _KafkaMirrorStreamReader

    root = str(tmp_path / "broker")
    for part, n in [(0, 5), (1, 2), (2, 2)]:
        d = os.path.join(root, "t", f"p{part}")
        os.makedirs(d)
        with open(os.path.join(d, "segment-000.jsonl"), "w") as fh:
            for i in range(n):
                fh.write(
                    _json.dumps(
                        {"key": None, "value": f"v{part}-{i}",
                         "timestamp_ms": 1000 + i}
                    )
                    + "\n"
                )
    rdr = _KafkaMirrorStreamReader(
        {"path": root, "subscribe": "t", "maxoffsetspertrigger": "7"}
    )
    rows, end = rdr.read({})
    # floor shares: 7*5//9=3, 7*2//9=1, 7*2//9=1 (sum 5, remainder 2);
    # round-robin gives one extra each to t/0 and t/1 — a greedy
    # allocator would emit {t/0: 5, t/1: 1, t/2: 1} instead
    assert end == {"t/0": 4, "t/1": 2, "t/2": 1}
    assert len(list(rows)) == 7
    # the follow-up tick drains the rest and never over-reads a lag
    rows2, end2 = rdr.read(end)
    assert end2 == {"t/0": 5, "t/1": 2, "t/2": 2}
    assert len(list(rows2)) == 2


def test_confusion_mcc_matches_brute_force(spark):
    """eval_confusion_mcc == a pure-Python confusion/MCC at the same
    exact-median threshold."""
    import math

    rows = [
        (r.o_totalprice, 1 if r.o_orderstatus == "F" else 0)
        for r in t(spark, SF, "orders").select(
            "o_totalprice", "o_orderstatus"
        ).collect()
    ]
    svals = sorted(s for s, _ in rows)
    thr = svals[(len(svals) - 1) // 2]
    tp = sum(1 for s, y in rows if s > thr and y == 1)
    fp = sum(1 for s, y in rows if s > thr and y == 0)
    tn = sum(1 for s, y in rows if s <= thr and y == 0)
    fn = sum(1 for s, y in rows if s <= thr and y == 1)
    r = QUERIES["eval_confusion_mcc"](spark, SF).collect()[0]
    assert (r.tp, r.fp, r.tn, r.fn) == (tp, fp, tn, fn)
    assert r.threshold == thr
    assert r.accuracy_micros == (tp + tn) * 1_000_000 // (tp + fp + tn + fn)
    mcc = (tp * tn - fp * fn) / (
        math.sqrt((tp + fp) * (tp + fn)) * math.sqrt((tn + fp) * (tn + fn))
    )
    assert abs(r.mcc_micros - mcc * 1e6) <= 1
    assert -1_000_000 <= r.mcc_micros <= 1_000_000
