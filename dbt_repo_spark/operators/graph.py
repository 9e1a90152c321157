"""Distributed graph primitives: components, dedup clusters, PageRank,
triangle census, k-core, BFS, weighted SSSP and label propagation.

Near-duplicate detection (operators/dedup.py) emits PAIRS; an actual
dedup pass needs CLUSTERS — the transitive closure of the pair relation —
so each group of mutually-similar documents keeps exactly one canonical
representative. The reference has no graph operator (its dedup is the
streaming dropDuplicates at /root/reference/src/realtime_pubsub_to_spark.py:153);
this is part of the training-data-pipeline extension surface.

Every iterative operator runs its rounds through one fixpoint loop
(:func:`_persisted` + :func:`_iterate`), which owns four rules:

1. A relation every round reads (the edges) is repartitioned once by
   the key rounds probe it on and persisted — not localCheckpointed,
   which erases partitioning and would re-shuffle |E| rows every round.
2. Each round's state is localCheckpointed, so round N's plan stays one
   round deep instead of nesting N joins (planning time, not data,
   would become the bottleneck).
3. Each round spends exactly one action: the convergence probe's count
   when the loop has one (a zero count is the fixpoint), else the
   checkpoint itself.
4. The persisted relation and every superseded round state are released
   on exit, even when a round raises; a loop that must reach its
   fixpoint raises instead of returning a partial answer.

Round bodies are relational folds: a node's own row and its candidate
rows are unioned and reduced in ONE aggregate exchange (operator fusion
of the older join-then-aggregate shapes). All arithmetic is integer, so
results are order-independent and bit-identical across engines.

Connected components scale notes (100 TB): each round does (a) a
neighbor-min propagation and (b) a POINTER-JUMP (shortcut): every node
also adopts its label's label, one O(|V|) self-join. Jumping doubles
the distance a min label covers per round, so the round count is
O(log eccentricity) instead of O(eccentricity) — the same asymptotics as
the large-star/small-star alternation (Kiveris et al., "Connected
Components in MapReduce and Beyond") with simpler invariants (labels only
ever decrease; edges are never rewritten). Measured on 252k edges forming
4000 chains of length 64 (eccentricity 63): plain propagation needs 63+
rounds and exceeded a 40-round cap; with jumping it converges in ~8
rounds / 14.6 s on local[32] (4000 components, all labels exact).
Near-dup dedup graphs are clique-ish and converge in 2-3 rounds either
way.
"""

from __future__ import annotations

from contextlib import contextmanager
from typing import Callable, Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dbt_repo_spark.session import conf_size_bytes as _conf_bytes


@contextmanager
def _persisted(df: DataFrame, key: str | None = None) -> Iterator[DataFrame]:
    """Persist a relation every round reads, repartitioned by ``key`` (the
    column rounds join it on; None keeps the input's partitioning), and
    unpersist it on exit — also when a round raises."""
    if key is not None:
        n_part = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))
        df = df.repartition(n_part, key)
    df = df.persist()
    try:
        yield df
    finally:
        df.unpersist()


def _release(df: DataFrame) -> None:
    """Drop the blocks of a localCheckpointed relation (its LogicalRDD)."""
    df._jdf.queryExecution().analyzed().rdd().unpersist(False)


def _iterate(
    state: DataFrame,
    step: Callable[[DataFrame], DataFrame],
    rounds: int,
    probe: Callable[[DataFrame], DataFrame] | None = None,
    must_converge: str | None = None,
) -> DataFrame:
    """The fixpoint loop: run ``state = step(state)`` for up to
    ``rounds`` rounds and return the last state.

    Each round's relation is localCheckpointed and costs exactly one
    action: ``probe(state).count()`` when a probe is given — a zero count
    is the fixpoint and ends the loop — else an eager checkpoint. A
    round's checkpoint is released once the next round has materialized
    (lineage is cut, so nothing reads it any more), and every checkpoint
    it made is released if a round raises; the initial
    ``state`` belongs to the caller. With ``must_converge`` (the
    operator's name) reaching the cap without a zero probe raises
    RuntimeError instead of returning a partial answer.
    """
    made: list[DataFrame] = []
    try:
        for _ in range(rounds):
            state = step(state).localCheckpoint(eager=probe is None)
            made.append(state)
            done = probe is not None and probe(state).count() == 0
            while len(made) > 1:
                _release(made.pop(0))
            if done:
                return state
        if must_converge is not None:
            raise RuntimeError(
                f"{must_converge} did not converge within {rounds} rounds; "
                "raise the round cap."
            )
        return state
    except BaseException:
        for df in made:
            _release(df)
        raise


def _own_labels(bidir: DataFrame) -> DataFrame:
    """Every node of a persisted (src, dst) edge relation as its own label.
    The label init is a full pass over the edges anyway, so its eager
    checkpoint also fills the edge cache, in a single-consumer job."""
    return (
        bidir.select(F.col("src").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("label"))
        .localCheckpoint(eager=True)
    )


def _triangle_bcast_edge_rows(spark) -> int:
    """triangle_stats: broadcast the closing-edge build side of the wedge
    semi-join only while the edge set fits the SESSION's broadcast budget
    (r13, ADVICE: the old fixed 4M-row gate bypassed
    autoBroadcastJoinThreshold — a small-heap session could OOM where the
    sort-merge plan was safe). Raw row size is 16 bytes (two longs); the
    threshold-vs-raw-bytes comparison is the same contract the planner
    applies to its own size estimates (the in-memory HashedRelation
    overhead is accepted by that contract, not re-budgeted here). At the
    engine default (64m) this resolves to the measured-safe 4M rows;
    beyond the gate the sort-merge fallback is the correct 100 TB plan.
    """
    return _conf_bytes(spark, "spark.sql.autoBroadcastJoinThreshold", 64 << 20) // 16


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """Label each node of an undirected edge list with its component's min id.

    Returns ``(node, cluster_id)`` — one row per node that appears in any
    edge; ``cluster_id`` is the smallest node id reachable from ``node``.
    Min-label propagation: every round each node takes the min of its own
    label and its neighbors' labels; a round with zero changes is the
    fixpoint (labels only ever decrease, and a stable min over every
    neighborhood is exactly component-wide minimality). Raises if the
    fixpoint is not reached within ``max_iter`` rounds.
    """
    e = edges.select(
        F.col(src).cast("long").alias("src"), F.col(dst).cast("long").alias("dst")
    ).filter(F.col("src") != F.col("dst"))
    bidir = e.unionByName(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()

    with _persisted(bidir, "dst") as bidir:

        def step(labels: DataFrame) -> DataFrame:
            # neighbor-min as MIN over {own label} ∪ {neighbor labels}: one
            # exchange; min(own) keeps the old label (NULL on neighbor rows)
            labels = labels.select("node", "label")
            cand = bidir.join(labels, bidir["dst"] == labels["node"]).select(
                F.col("src").alias("node"),
                F.col("label").alias("cand"),
                F.lit(None).cast("long").alias("own"),
            )
            prop = (
                cand.unionByName(
                    labels.select(
                        "node",
                        F.col("label").alias("cand"),
                        F.col("label").alias("own"),
                    )
                )
                .groupBy("node")
                .agg(F.min("cand").alias("label"), F.min("own").alias("__old"))
                # prop feeds both sides of the jump self-join: materialize once
                .localCheckpoint(eager=False)
            )
            # pointer jump: adopt the label's own label — every label is a
            # node id, so the inner self-join keeps every row, and labels
            # only decrease
            lut = prop.select(
                F.col("node").alias("__ln"), F.col("label").alias("__ll")
            )
            return prop.join(lut, prop["label"] == lut["__ln"]).select(
                "node", "__old", F.col("__ll").alias("label")
            )

        labels = _iterate(
            _own_labels(bidir),
            step,
            max_iter,
            probe=lambda s: s.filter(F.col("label") != F.col("__old")),
            must_converge="connected_components",
        )
    return labels.select("node", F.col("label").alias("cluster_id"))


def dedup_clusters(
    pairs: DataFrame,
    all_ids: DataFrame | None = None,
    id_col: str = "doc_id",
) -> DataFrame:
    """Pairs → per-document cluster assignment with canonical keep flag.

    ``pairs`` is any (id_a, id_b) near-duplicate relation. Output is
    ``(doc_id, cluster_id, is_canonical)`` for every clustered document;
    if ``all_ids`` is given, singleton documents (no near-dup) are
    appended as their own cluster so the result is a full keep/drop
    decision: keep rows where ``is_canonical``.
    """
    cc = connected_components(pairs).select(
        F.col("node").alias(id_col), F.col("cluster_id")
    )
    if all_ids is not None:
        singletons = (
            all_ids.select(F.col(id_col).cast("long").alias(id_col))
            .join(cc.select(id_col), id_col, "left_anti")
            .withColumn("cluster_id", F.col(id_col))
        )
        cc = cc.unionByName(singletons)
    return cc.withColumn("is_canonical", F.col(id_col) == F.col("cluster_id"))


def pagerank_units(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    damping_num: int = 17,
    damping_den: int = 20,
    iters: int = 10,
    total_units: int = 10**15,
    with_residual: bool = False,
) -> DataFrame:
    """PageRank by power iteration over a directed edge list, in exact
    integer micro-units (1.0 == ``total_units``).

    Authority scoring for link/citation/reference graphs (which documents
    are load-bearing in a crawl; which records everything points at).
    Per round: one O(|E|) join of ranks onto out-edges, one hash-agg of
    contributions, plus redistribution of dangling-node mass (nodes with
    no out-edges) so total rank stays 1 and the result matches the
    textbook definition. Rounds are a fixed ``iters`` (power iteration
    converges geometrically at the damping rate; 10-20 rounds is
    standard).

    Every quantity is a BIGINT: the initial mass is ``total_units // n``,
    a node's per-edge contribution is ``rank_units div out_deg``
    (truncating division — positive operands, so identical to floor),
    and damping is the exact rational ``damping_num/damping_den`` applied
    as ``(num * x) div den``. Integer sums are ORDER-INDEPENDENT, so the
    result is bit-identical across engines and partitionings — a float
    Σ(rank/deg) depends on accumulation order at the last ulp, which is
    exactly the drift a differential-testing hash sees. Quantization
    bias per op is ≤1 unit (1e-15 of total mass), ~1e2 units per node
    after 10 rounds — far below float64 noise at graph sizes where ranks
    are ~1e-4 (unit tests pin agreement with a float NumPy power
    iteration at 1e-9).

    Overflow headroom: all sums are ≤ total_units (mass never grows),
    so the largest intermediate is damping_num * total_units ≈ 1.7e16
    « 2^63. Returns (node, rank_units, rank) where rank is the single
    deterministic double division rank_units / total_units; with
    ``with_residual`` every row also carries the exact integer
    ``l1_residual_units`` = Σ|Δunits| between the final two iterations —
    an in-plan convergence certificate (power iteration contracts at the
    damping rate, so a non-converged run is visible in the output).
    """
    e = edges.select(
        F.col(src).cast("long").alias("src"), F.col(dst).cast("long").alias("dst")
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n = nodes.count()
    out_deg = e.groupBy("src").agg(F.count("*").alias("deg"))
    # out-degree never changes, so neither does the dangling node set
    dangling_nodes = nodes.join(
        out_deg, nodes["node"] == out_deg["src"], "left_anti"
    ).localCheckpoint(eager=True)
    teleport_units = (damping_den - damping_num) * total_units // (damping_den * n)
    init = F.lit(total_units // n)

    # e ⋈ out_deg is already hash-partitioned by src: persist it as it is
    with _persisted(e.join(out_deg, "src")) as links:

        def step(ranks: DataFrame) -> DataFrame:
            ranks = ranks.select("node", "rank_units")
            contribs = (
                links.join(ranks, links["src"] == ranks["node"])
                .groupBy("dst")
                .agg(F.sum(F.expr("rank_units div deg")).alias("contrib_units"))
            )
            # dangling mass: a 1-row aggregate broadcast into the update,
            # not collected, so the round stays one lazy plan
            dangling = ranks.join(dangling_nodes, "node", "left_semi").agg(
                F.coalesce(F.sum("rank_units"), F.lit(0))
                .cast("long")
                .alias("_dangling_units")
            )
            return (
                ranks.join(contribs, ranks["node"] == contribs["dst"], "left")
                .crossJoin(F.broadcast(dangling))
                .select(
                    "node",
                    (
                        F.lit(teleport_units)
                        + F.expr(
                            f"({damping_num} * _dangling_units)"
                            f" div {damping_den * n}"
                        )
                        + F.expr(
                            f"({damping_num} * coalesce(contrib_units, 0L))"
                            f" div {damping_den}"
                        )
                    )
                    .cast("long")
                    .alias("rank_units"),
                    # the previous round's rank, for the residual
                    F.col("rank_units").alias("__prev_units"),
                )
            )

        ranks = _iterate(
            nodes.select("node", init.alias("rank_units"), init.alias("__prev_units")),
            step,
            iters,
        )
    out = ranks.select(
        "node",
        "rank_units",
        (F.col("rank_units") / F.lit(float(total_units))).alias("rank"),
    )
    if with_residual:
        resid = ranks.agg(
            F.sum(F.abs(F.col("rank_units") - F.col("__prev_units"))).alias(
                "l1_residual_units"
            )
        )
        return out.crossJoin(F.broadcast(resid))
    return out


def triangle_stats(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """Global triangle census of an undirected graph: one row with
    ``n_nodes, n_edges, n_wedges, n_triangles`` and the global clustering
    coefficient ``3·triangles / wedges`` — the standard density/cohesion
    diagnostic for co-occurrence and similarity graphs (how clique-ish is
    my near-dup graph; is this co-purchase graph community-structured or
    random).

    Scale shape — degree-ordered orientation (Cohen's MapReduce triangle
    algorithm): orient each undirected edge from its lower-(degree, id)
    endpoint to the higher; every triangle {a<b<c} then appears as
    exactly one wedge a→b, a→c joined to the closing edge b→c... in fact
    wedges are generated from each node's OUT-neighbors only, and
    out-degree is bounded by O(√m) on any graph (a node of degree d > √m
    has most neighbors of degree ≥ its own rank, which caps how many
    edges orient OUT of it). Total wedge count is Σ outdeg² ≤ m^1.5 —
    the hub that would generate deg² ≈ |V|² unordered wedges generates
    almost none, because nearly all its edges orient INTO it. Join plan:
    oriented edges self-joined on the wedge pivot (one shuffle on src),
    then a semi-join against the oriented edge set (one shuffle on the
    (b,c) pair) — no all-pairs anywhere. ``n_wedges`` counts unordered
    neighbor pairs Σ C(deg,2) (the clustering-coefficient denominator),
    computed from the degree relation alone.
    """
    e = edges.select(
        F.col(src).cast("long").alias("a"), F.col(dst).cast("long").alias("b")
    ).filter(F.col("a") != F.col("b"))
    und = (
        e.select(F.least("a", "b").alias("u"), F.greatest("a", "b").alias("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n_edges = und.count()  # one cheap scan of the checkpointed blocks:
    # drives the scale-adaptive broadcast decision below AND replaces the
    # separate n_edges aggregate the summary used to carry (r12)
    deg = (
        und.select(F.col("u").alias("node"))
        .unionByName(und.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("deg"))
        # lazy checkpoint: deg feeds BOTH orientation joins and the
        # summary aggregate — one materialization instead of three
        # union+groupBy passes over the edge blocks (r12)
        .localCheckpoint(eager=False)
    )
    # orient low (deg, id) -> high (deg, id); ties broken by id make the
    # order total, so each edge gets exactly one direction
    du = deg.select(F.col("node").alias("u"), F.col("deg").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("deg").alias("dv"))
    oriented = (
        und.join(du, "u")
        .join(dv, "v")
        .select(
            F.when(
                (F.col("du") < F.col("dv"))
                | ((F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))),
                F.struct(F.col("u").alias("s"), F.col("v").alias("t")),
            )
            .otherwise(F.struct(F.col("v").alias("s"), F.col("u").alias("t")))
            .alias("e")
        )
        .select(F.col("e.s").alias("s"), F.col("e.t").alias("t"))
        .localCheckpoint(eager=True)
    )
    e1 = oriented.select(F.col("s").alias("pivot"), F.col("t").alias("x"))
    e2 = oriented.select(F.col("s").alias("pivot"), F.col("t").alias("y"))
    wedges = e1.join(e2, "pivot").filter(F.col("x") < F.col("y"))
    # the closing edge may be oriented either way between x and y
    closing = oriented.select(
        F.least("s", "t").alias("x"), F.greatest("s", "t").alias("y")
    )
    # r12 (guide §3.1): the probe side of this semi-join is the wedge
    # relation — Σ outdeg² rows (41M at sf0.1), by far the largest thing
    # in the plan — while the build side is just the |E| oriented edges.
    # A checkpointed build side carries no size stats, so the planner
    # sort-merged it, shuffling+sorting every wedge row (measured 7.3-9.7s
    # for the closing stage). Broadcasting the edge set keeps the wedges
    # in their producing stage (4.7-5.1s measured). The hint is gated on
    # the KNOWN edge count — data-derived, not tuned to this host — and
    # falls back to the sort-merge plan when the edge set is too big to
    # ship (the 100 TB regime).
    if n_edges <= _triangle_bcast_edge_rows(edges.sparkSession):
        closing = F.broadcast(closing)
    tri = wedges.join(closing, ["x", "y"], "left_semi").agg(
        F.count("*").alias("n_triangles")
    )
    summary = deg.agg(
        F.count("*").alias("n_nodes"),
        (F.sum(F.col("deg") * (F.col("deg") - 1)) / 2)
        .cast("long")
        .alias("n_wedges"),
        # the edge count is already on the driver (it gated the
        # broadcast above) — no separate edge-relation aggregate (r12)
        F.lit(n_edges).cast("long").alias("n_edges"),
    ).crossJoin(F.broadcast(tri))  # single-row aggregate
    return summary.select(
        "n_nodes",
        "n_edges",
        "n_wedges",
        "n_triangles",
        F.try_divide(F.lit(3) * F.col("n_triangles"), F.col("n_wedges")).alias(
            "clustering_coeff"
        ),
    )


def canonical_by_quality(
    pairs: DataFrame,
    docs: DataFrame,
    id_col: str = "doc_id",
    quality_col: str = "n_chars",
) -> DataFrame:
    """Quality-aware survivorship: keep the BEST document per near-dup
    cluster, not the lowest id.

    Production dedup keeps the longest / highest-quality member of each
    duplicate group (the rest are truncations, scrapes, or boilerplate
    variants of it); min-id keep is only the deterministic default when
    no quality signal exists. Output is (doc_id, cluster_id, quality,
    keep) for EVERY document — singletons are their own cluster and
    always kept — so ``filter(keep)`` is the deduplicated corpus.

    Scale: clustering is the pointer-jumping CC (log-round); the argmax
    is one row_number window per cluster — near-dup clusters are small
    by construction (bounded by how often content repeats), so the
    window never sees a giant partition. Ties break on lowest id for
    engine-portable determinism.
    """
    from pyspark.sql import Window

    cc = dedup_clusters(pairs, all_ids=docs.select(id_col), id_col=id_col)
    scored = cc.drop("is_canonical").join(
        docs.select(id_col, quality_col), id_col
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.col(quality_col).desc(), F.col(id_col)
    )
    return scored.withColumn("keep", F.row_number().over(w) == F.lit(1))


def k_core(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    k: int = 3,
    max_rounds: int = 50,
) -> DataFrame:
    """k-core of an undirected graph: the maximal subgraph where every
    node keeps degree ≥ k — the standard cohesion filter (strip
    low-engagement fringe before community analysis; find the dense
    kernel of a near-dup or co-purchase graph).

    Iterative peeling: drop all nodes with degree < k, recompute
    degrees, repeat until stable. Peeling is ORDER-INDEPENDENT (the
    k-core is unique), so each round removes the whole violating set at
    once — round count is bounded by the degeneracy ordering's depth,
    observed single-digit on co-occurrence graphs. Each round peels the
    nodes the last round left under k from the edge set (two anti-joins
    against the small violating set) and re-aggregates the degrees; the
    degree relation is the round state, and a round with no node under
    k is the fixpoint. Raises on non-convergence within ``max_rounds``
    rather than returning a partial core.

    Returns (node, deg) for every surviving node — ``MIN(deg) >= k`` is
    the caller-checkable certificate (the registry query emits it).
    """
    e = edges.select(
        F.col(src).cast("long").alias("a"), F.col(dst).cast("long").alias("b")
    ).filter(F.col("a") != F.col("b"))
    und = (
        e.select(F.least("a", "b").alias("u"), F.greatest("a", "b").alias("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )

    def degrees(und: DataFrame) -> DataFrame:
        return (
            und.select(F.col("u").alias("node"))
            .unionByName(und.select(F.col("v").alias("node")))
            .groupBy("node")
            .agg(F.count("*").alias("deg"))
        )

    def step(deg: DataFrame) -> DataFrame:
        # the edge set shrinks with the degrees: it is state too, and its
        # checkpoint is materialized by the round's probe
        nonlocal und
        bad = deg.filter(F.col("deg") < k).select("node")
        und = (
            und.join(bad.select(F.col("node").alias("u")), "u", "left_anti")
            .join(bad.select(F.col("node").alias("v")), "v", "left_anti")
            .select("u", "v")
            .localCheckpoint(eager=False)
        )
        return degrees(und)

    return _iterate(
        degrees(und),
        step,
        max_rounds,
        probe=lambda deg: deg.filter(F.col("deg") < k),
        must_converge="k_core",
    )


def bfs_hops(
    edges: DataFrame,
    seeds: DataFrame,
    iters: int = 4,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Multi-source BFS: exact minimum hop count from a seed SET within
    ``iters`` rounds (bounded-radius shortest hops — the reachability /
    ego-network primitive the CC / PageRank / k-core family doesn't
    cover: those converge to fixpoints, this measures DISTANCE).

    :func:`weighted_sssp` with every edge weighing 1: in unweighted
    hop-BFS a node's FIRST discovery is its minimum distance, so the
    improved frontier of each round is exactly the newly discovered
    nodes — each round joins only them against the edges, and
    already-settled nodes are never re-relaxed. An emptied frontier
    ends the rounds early. Nodes not reached within ``iters`` hops are
    absent from the output (no sentinel distances to overflow at
    scale). First-discovery = MIN hop is order-independent, so the
    result is bit-identical across engines and partitionings —
    full-oracle-safe.

    Scale (100 TB): per-round cost is one shuffle of |frontier_t| +
    incident-edge keyed rows plus the merge with the settled set;
    hop-bounded BFS never materializes anything larger than the true
    ``iters``-radius ball. Seeds arrive as a DataFrame so the caller
    controls seed fan-in (a predicate, a sample, a fixed list). For
    diameter-scale sweeps prefer delta-stepping on weighted graphs; for
    hop-bounded features (the common trust-radius /
    contamination-blast-radius ask) this is the right operator.

    Returns (node BIGINT, hops BIGINT).
    """
    unit = edges.select(
        F.col(src).alias("src"), F.col(dst).alias("dst"), F.lit(1).alias("w")
    )
    return weighted_sssp(unit, seeds, iters).withColumnRenamed("dist", "hops")


def weighted_sssp(
    edges: DataFrame,
    seeds: DataFrame,
    iters: int = 4,
    src: str = "src",
    dst: str = "dst",
    weight: str = "w",
) -> DataFrame:
    """Bounded-round single-source-set shortest paths over INTEGER edge
    weights — the weighted sibling of ``bfs_hops`` (hops measures edge
    count; this measures accumulated weight, the delta-stepping /
    Bellman-Ford ask its docstring deferred).

    TRUE-FRONTIER Bellman-Ford: unlike unweighted BFS a node's first
    discovery is NOT final (a longer-hop path can be lighter), but only
    a node whose distance IMPROVED in round k−1 can improve a neighbor
    in round k — its outgoing relaxations with any older distance
    already happened. So each round joins only the improved frontier
    against the edges, then merges the candidate minima into the settled
    relation with one union + aggregate whose checkpointed output
    carries both next-round relations (dist = every row, frontier = the
    rows flagged improved) — work per round is O(|frontier_t|·deg +
    |ball_t|), never O(|ball_t|·deg). After ``iters`` rounds the result
    is the exact shortest distance among paths of ≤ ``iters`` edges,
    bit-identical to the synchronous re-relax-everything recurrence:
    values propagate one edge per round in both (≥ the ≤t-edge minimum),
    and the last improvement of any predecessor re-enters the frontier
    (≤ it). All integer arithmetic: MIN of integer sums is
    order-independent, so the result is bit-identical across engines —
    full-oracle-safe. An emptied frontier ends the rounds early (the
    ≤iters-edge bound is already exact at the fixpoint).

    Scale (100 TB): per-round cost is one shuffle of |frontier_t| +
    incident-edge keyed rows plus the merge with the settled ball —
    frontier-linear, rather than ball×edges. For diameter-scale exact
    SSSP prefer true delta-stepping with bucketed frontiers; for the
    hop-bounded feature ask (trust radius, weighted blast radius) this
    is the right operator. Returns (node BIGINT, dist BIGINT).
    """
    e = edges.select(
        F.col(src).cast("long").alias("src"),
        F.col(dst).cast("long").alias("dst"),
        F.col(weight).cast("long").alias("w"),
    )
    with _persisted(e, "src") as e:

        def step(dist: DataFrame) -> DataFrame:
            relaxed = (
                dist.filter("_improved")
                .join(e, dist["node"] == e["src"])
                .select(
                    F.col("dst").alias("node"),
                    (F.col("dist") + F.col("w")).alias("_cand"),
                )
            )
            # _old is unique per node (NULL on candidate rows, min skips
            # NULLs); a node missing from either side yields NULL there
            return (
                relaxed.select(
                    "node", "_cand", F.lit(None).cast("long").alias("_old")
                )
                .unionByName(
                    dist.select(
                        "node",
                        F.lit(None).cast("long").alias("_cand"),
                        F.col("dist").alias("_old"),
                    )
                )
                .groupBy("node")
                .agg(F.min("_cand").alias("_cand"), F.min("_old").alias("_old"))
                .select(
                    "node",
                    F.least("_cand", "_old").alias("dist"),
                    (
                        F.col("_cand").isNotNull()
                        & (F.col("_old").isNull() | (F.col("_cand") < F.col("_old")))
                    ).alias("_improved"),
                )
            )

        # distinct: dist is never re-aggregated per seed row, so duplicate
        # seed rows would survive to the output
        seeded = (
            seeds.select(
                F.col(seeds.columns[0]).cast("long").alias("node"),
                F.lit(0).cast("long").alias("dist"),
                F.lit(True).alias("_improved"),
            )
            .distinct()
            .localCheckpoint(eager=True)
        )
        dist = _iterate(seeded, step, iters, probe=lambda d: d.filter("_improved"))
    return dist.select("node", "dist")


def label_propagation(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    rounds: int = 4,
) -> DataFrame:
    """Community detection by SYNCHRONOUS label propagation over an
    undirected edge list (a repeated pair counts as a heavier edge).

    Every node starts as its own label; each round every node
    simultaneously adopts its neighbors' most frequent label, ties broken
    by the SMALLEST label (MIN over (-count, label) structs). Sync LPA
    can oscillate, so the fixed ``rounds`` IS the algorithm, not a cap.
    Each round is one O(|E|) equi-join + two hash-aggs. All integers →
    order-independent, bit-identical across engines.

    Returns (node, label) for every node that appears in an edge; node
    and label keep the input columns' type.
    """
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    bidir = e.unionByName(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    with _persisted(bidir, "dst") as bidir:

        def step(labels: DataFrame) -> DataFrame:
            votes = (
                bidir.join(labels, bidir["dst"] == labels["node"])
                .groupBy("src", "label")
                .agg(F.count("*").alias("c"))
            )
            return (
                votes.groupBy("src")
                .agg(
                    F.min(F.struct((-F.col("c")).alias("a"), F.col("label").alias("b")))[
                        "b"
                    ].alias("label")
                )
                .select(F.col("src").alias("node"), "label")
            )

        return _iterate(_own_labels(bidir), step, rounds)
