"""Graph centrality over an edge DataFrame — weighted PageRank.

Training-data pipelines form graphs constantly: near-dup pair graphs
(``operators.dedup`` emitters), citation/link graphs shipped with web
corpora, event-transition graphs. Connected components
(``operators.components``) answers "which cluster"; PageRank answers
"which node matters" — used for corpus selection (keep the central
page of a near-dup cluster rather than the min-id one) and for
Markov-chain steady states over transition graphs.

Same iterative discipline as connected components: every round is ONE
shuffle keyed by the destination node (the same hash partitioning each
round, so AQE reuses the exchange layout), out-degree totals are
computed once up front, and lineage is truncated per round with
``localCheckpoint`` so ``iterations`` rounds don't build an
``iterations``-deep recursive plan. Ranks never leave the cluster —
the driver loop is control flow only.

Semantics (documented precisely so an external SQL oracle can unroll
them): nodes = distinct(src) ∪ distinct(dst);
``rank_0 = 1/N``;
``rank_{i+1}(v) = (1-d)/N + d * Σ_{(u,v) ∈ E} rank_i(u) * w(u,v) /
out_w(u)``.
Dangling nodes (no out-edges) contribute nothing — their mass leaks,
as in the original formulation without the dangling-mass
redistribution term; total rank therefore sums to ≤ 1. Self-loops are
legal and count toward out-weight.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

#: Decimals of the rounded output columns. The registry oracles round
#: to the same, so the two engines' results hash-match.
_DIGITS = 6

#: Node (or sub-k node) count up to which pagerank, label_propagation
#: and k_core hint the per-round join of the one-row-per-node frame as a
#: broadcast; past it the joins fall back to shuffle joins under AQE.
_BROADCAST_MAX_ROWS = 2_000_000


def _undirected(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """The undirected simple graph of an edge list, as ``(a, b)`` with
    ``a < b``: reversed and parallel edges collapse, self-loops and
    NULL endpoints drop. The graph contract of triangle_count, k_core,
    adamic_adar, jaccard_links and degree_assortativity."""
    return (
        edges.filter(
            F.col(src).isNotNull()
            & F.col(dst).isNotNull()
            & (F.col(src) != F.col(dst))
        )
        .select(
            F.least(src, dst).alias("a"), F.greatest(src, dst).alias("b")
        )
        .distinct()
    )


def _both_ways(canon: DataFrame) -> DataFrame:
    """Both orientations of each ``(a, b)`` edge of ``canon``."""
    return canon.unionByName(
        canon.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight: str | None = None,
    iterations: int = 10,
    damping: float = 0.85,
) -> DataFrame:
    """Weighted PageRank over a directed edge list.

    Returns ``(node, rank)`` for every node appearing as a source or a
    destination. ``weight`` (optional) is an edge-weight column —
    omitted, every edge weighs 1. ``iterations`` fixed rounds (no
    convergence test: a delta-based stop costs one extra aggregate per
    round; callers wanting it can compare successive calls).

    Scale shape: the per-round job is edges ⋈ ranks on the SOURCE key
    followed by a hash aggregate on the DESTINATION key. The edge list
    (with precomputed ``w / out_w``) is checkpointed once and reused;
    only the (node, rank) frame — one row per node — cycles through
    the loop. When the node count (already computed for the 1/N init)
    is ≤ ``_BROADCAST_MAX_ROWS``, the per-round rank/inflow joins take
    explicit broadcast hints so the edge list never shuffles inside a
    round; past the threshold the joins fall back to shuffle joins
    under AQE.
    """
    if not 0.0 < damping < 1.0:
        raise ValueError(f"damping must be in (0,1), got {damping}")
    if iterations < 1:
        raise ValueError(f"iterations must be >= 1, got {iterations}")
    w = F.col(weight).cast("double") if weight else F.lit(1.0)
    e = edges.select(
        F.col(src).alias("src"), F.col(dst).alias("dst"), w.alias("w")
    )
    # Normalize once: each edge carries its share of the source's
    # out-weight, so the per-round join multiplies rank * share and
    # never re-aggregates degrees.
    out_w = e.groupBy("src").agg(F.sum("w").alias("out_w"))
    shares = (
        e.join(out_w, "src")
        .select("src", "dst", (F.col("w") / F.col("out_w")).alias("share"))
        .localCheckpoint(eager=False)
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    n = nodes.count()
    if n == 0:
        return nodes.withColumn("rank", F.lit(0.0))
    small = n <= _BROADCAST_MAX_ROWS

    def _maybe_bcast(df: DataFrame) -> DataFrame:
        return F.broadcast(df) if small else df

    base = (1.0 - damping) / n
    ranks = nodes.withColumn("rank", F.lit(1.0 / n))
    for _ in range(iterations):
        inflow = (
            shares.join(
                _maybe_bcast(ranks.withColumnRenamed("node", "src")),
                "src",
            )
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum(F.col("rank") * F.col("share")).alias("in_rank"))
        )
        ranks = (
            nodes.join(_maybe_bcast(inflow), "node", "left")
            .select(
                "node",
                (
                    F.lit(base)
                    + F.lit(damping) * F.coalesce("in_rank", F.lit(0.0))
                ).alias("rank"),
            )
            # Lazy: the next round's rank-broadcast build (or the
            # caller's action) materializes this frame; eager spent an
            # extra job per round on the same work.
            .localCheckpoint(eager=False)
        )
    return ranks


def triangle_count(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    include_degree: bool = False,
) -> DataFrame:
    """Per-node triangle counts over an undirected simple graph.

    Input is any directed/undirected edge list: edges are canonicalized
    (undirected, deduplicated, self-loops dropped) first, so parallel
    and reversed edges never double-count. Returns ``(node,
    triangles)`` for EVERY node in the graph (zero-participation nodes
    included — the GraphFrames ``triangleCount`` convention).

    Scale shape — the degree-orientation algorithm (Cohen 2009;
    "MapReduce triangle enumeration"), not the naive 3-way self-join:

    * Every undirected edge is oriented from the (degree, node)-smaller
      endpoint to the larger, making the oriented adjacency acyclic
      with max out-degree O(√m) on any graph — so the wedge join below
      emits O(m^1.5) candidates worst-case instead of Σ deg² (the
      difference between survivable and not on a power-law web graph).
    * Wedges are an equi-join of the oriented list with itself on the
      common LOW vertex; closure is a second equi-join probing the
      oriented list on the (v, w) pair. Both are shuffle hash/SMJ
      equi-joins — never a cartesian.
    * Per-node counts are one explode of the 3-node triangle rows +
      a hash aggregate, left-joined back to the node set for zeros.

    The DuckDB oracle is the brute-force 3-way join on the canonical
    a<b edge list (each triangle found exactly once as a<b<c), proving
    the orientation lossless.

    The degree table and the oriented edge list are lazily
    ``localCheckpoint``\\ ed: the oriented list is consumed THREE times
    (both wedge spokes + the closure probe) and degrees twice
    (orientation + the zero-fill node set) — without materialization
    Spark re-runs the upstream edge scan once per consumer.
    """
    und = _undirected(edges, src, dst)
    deg = (
        und.select(F.col("a").alias("node"))
        .unionAll(und.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("deg"))
        .localCheckpoint(eager=False)
    )
    # Orient by the total order (deg, node): u -> v with u strictly
    # smaller. deg rides on both endpoints so the wedge join can order
    # the two spokes without re-joining degrees.
    withdeg = (
        und.join(deg.withColumnRenamed("node", "a"), "a")
        .withColumnRenamed("deg", "deg_a")
        .join(
            deg.select(F.col("node").alias("b"), F.col("deg").alias("deg_b")),
            "b",
        )
    )
    a_first = (F.col("deg_a") < F.col("deg_b")) | (
        (F.col("deg_a") == F.col("deg_b")) & (F.col("a") < F.col("b"))
    )
    oriented = withdeg.select(
        F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("v"),
        F.when(a_first, F.col("deg_b")).otherwise(F.col("deg_a")).alias(
            "deg_v"
        ),
    ).localCheckpoint(eager=False)
    e1, e2 = oriented.alias("e1"), oriented.alias("e2")
    # Wedge (u; v, w) with v before w in the same total order — each
    # triangle is generated from its unique smallest vertex, once.
    wedges = e1.join(
        e2,
        (F.col("e1.u") == F.col("e2.u"))
        & (
            (F.col("e1.deg_v") < F.col("e2.deg_v"))
            | (
                (F.col("e1.deg_v") == F.col("e2.deg_v"))
                & (F.col("e1.v") < F.col("e2.v"))
            )
        ),
    ).select(
        F.col("e1.u").alias("x"),
        F.col("e1.v").alias("y"),
        F.col("e2.v").alias("z"),
    )
    closer = oriented.select(
        F.col("u").alias("y"), F.col("v").alias("z")
    )
    tri = wedges.join(closer, ["y", "z"])
    per_node = (
        tri.select(
            F.explode(F.array("x", "y", "z")).alias("node")
        )
        .groupBy("node")
        .agg(F.count("*").alias("triangles"))
    )
    out = deg.join(per_node, "node", "left").select(
        "node",
        F.col("deg").cast("long").alias("deg"),
        F.coalesce(F.col("triangles"), F.lit(0)).cast("long").alias(
            "triangles"
        ),
    )
    # include_degree: keep the (already computed) degree column — the
    # local clustering coefficient 2T / (deg·(deg−1)) needs it and a
    # caller re-deriving degrees would re-scan the edge list.
    return out if include_degree else out.drop("deg")


def label_propagation(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight: str | None = None,
    iterations: int = 3,
    seeds: DataFrame | None = None,
) -> DataFrame:
    """Synchronous weighted label propagation (Raghavan et al. 2007,
    made deterministic): community detection over an UNDIRECTED view
    of the edge list — each round, every node adopts the label with
    the largest total incident edge weight among its neighbours, ties
    broken by the SMALLEST label, all nodes updating simultaneously
    from the previous round's labels.

    Returns ``(node, label)``. Labels start as the node's own id, or
    from ``seeds`` (``(node, label)`` rows; unseeded nodes fall back
    to their id) for the semi-supervised variant — seeded nodes are
    CLAMPED to their seed label every round (Zhu & Ghahramani 2002's
    label-spreading convention: ground truth doesn't drift). Rounds
    where a node has no neighbours keep its current label.

    Determinism (so an external SQL oracle can unroll the rounds):
    weights aggregate exactly (counts/ints or identical doubles), the
    winner is ``row_number() over (partition by node order by total
    weight desc, label asc)`` — a total order; synchronous updates
    mean round k depends only on round k−1. (Synchronous LPA can
    oscillate on bipartite structures — run an odd/even iteration
    comparison if that matters; fixed ``iterations`` keeps the output
    well-defined either way.)

    Scale shape: identical to :func:`pagerank` — the symmetrized edge
    list is checkpointed once; each round is one join keyed by the
    neighbour side + two hash aggregates (vote totals per (node,
    label), then the per-node argmax as a single ``min(struct(-wt,
    label))`` — exactly the window's (wt desc, label asc) winner but
    with map-side partial aggregation and no per-node sort), with
    lineage truncated per round. Only the (node, label) frame cycles.
    When the node count (counted once up front) is ≤
    ``_BROADCAST_MAX_ROWS``, the per-round label/winner/seed joins take
    explicit broadcast hints so the EDGE LIST never shuffles inside a
    round — the label frame is one row per node and orders of
    magnitude smaller than the edges it votes over; past the
    threshold the joins fall back to shuffle joins under AQE.
    Exact-equivalence note for the argmax: ``-wt`` negation is exact
    for doubles, so the min-struct winner matches the window path
    bit-for-bit whenever vote totals are comparable numbers; all-NULL
    vote totals are coalesced to +inf so they lose exactly like the
    window's NULLS-last ``wt desc`` order (NaN weights — already
    outside the documented "weights aggregate exactly" contract —
    would rank first under the window and last under min-struct, and
    a literal -inf vote total ties with the NULL sentinel instead of
    beating it).
    """
    if iterations < 1:
        raise ValueError(f"iterations must be >= 1, got {iterations}")
    w = F.col(weight).cast("double") if weight else F.lit(1.0)
    e = edges.select(
        F.col(src).alias("a"), F.col(dst).alias("b"), w.alias("w")
    )
    sym = e.unionByName(
        e.select(F.col("b").alias("a"), F.col("a").alias("b"), "w")
    )
    # Collapse parallel edges once so per-round vote aggregates touch
    # the minimal edge list.
    sym = (
        sym.groupBy("a", "b")
        .agg(F.sum("w").alias("w"))
        .localCheckpoint(eager=False)
    )
    nodes = sym.select(F.col("a").alias("node")).distinct()
    s = None
    if seeds is not None:
        s = seeds.select(
            "node", F.col("label").alias("seed_label")
        ).localCheckpoint(eager=False)
        # Seeded-but-isolated nodes (no edges) must still appear in
        # the output with their ground-truth label — the node set is
        # edge endpoints ∪ seed nodes, exactly connected_components'
        # `nodes` treatment.
        nodes = nodes.unionByName(s.select("node")).distinct()
    nodes = nodes.localCheckpoint(eager=False)
    # One count decides the per-round join strategy: the label frame
    # is |nodes| rows, so when that fits comfortably in a broadcast
    # the big edge list never shuffles inside the loop.
    small = nodes.count() <= _BROADCAST_MAX_ROWS

    def _maybe_bcast(df: DataFrame) -> DataFrame:
        return F.broadcast(df) if small else df

    if s is not None:
        labels = nodes.join(_maybe_bcast(s), "node", "left").select(
            "node",
            F.coalesce("seed_label", F.col("node")).alias("label"),
        )
    else:
        labels = nodes.select("node", F.col("node").alias("label"))
    for _ in range(iterations):
        votes = (
            sym.join(
                _maybe_bcast(labels.withColumnRenamed("node", "a")), "a"
            )
            .groupBy(F.col("b").alias("node"), "label")
            .agg(F.sum("w").alias("wt"))
        )
        # Per-node argmax: min(struct(-wt, label)) == the window's
        # (wt desc, label asc) first row, without the per-node sort.
        # NULL vote totals (a (node, label) group whose weights are
        # ALL NULL) are mapped to +inf so they rank LAST exactly like
        # the window's `wt desc` NULLS-last ordering — bare NULL sorts
        # FIRST in an ascending struct comparison and would have beaten
        # every real vote.
        winners = (
            votes.groupBy("node")
            .agg(
                F.min(
                    F.struct(
                        F.coalesce(
                            -F.col("wt"), F.lit(float("inf"))
                        ).alias("_nw"),
                        F.col("label").alias("label"),
                    )
                ).alias("_best")
            )
            .select("node", F.col("_best.label").alias("new_label"))
        )
        labels = labels.join(_maybe_bcast(winners), "node", "left").select(
            "node",
            F.coalesce("new_label", "label").alias("label"),
        )
        if s is not None:  # clamp: seeds never drift
            labels = labels.join(_maybe_bcast(s), "node", "left").select(
                "node",
                F.coalesce("seed_label", "label").alias("label"),
            )
        # Lazy: the next round's label-broadcast build (or the caller's
        # action) materializes this round's frame — an eager checkpoint
        # here spent one extra job per round on the same work. The
        # checkpoint still truncates lineage so only the (node, label)
        # frame cycles.
        labels = labels.localCheckpoint(eager=False)
    return labels


def k_core(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    k: int = 2,
    max_iter: int = 50,
) -> DataFrame:
    """k-core decomposition by iterative peeling (Seidman 1983; the
    standard web-graph quality filter — pages outside a dense core are
    disproportionately spam/boilerplate, and the ER/near-dup cluster
    graphs built upstream use it to separate hub-dense families from
    stragglers): repeatedly delete every node whose degree in the
    CURRENT graph is < k until none remains. Returns ``(node,
    core_degree)`` for the surviving subgraph — every core_degree is
    ≥ k by construction, and the result is the unique maximal
    subgraph with min degree ≥ k (order-independent, hence fully
    deterministic: no ties exist to break).

    Graph semantics: undirected simple graph — the edge list is
    symmetrized, parallel edges collapse, self-loops drop (a self-loop
    is not connectivity).

    Scale shape: the symmetrized edge list is localCheckpoint'ed once
    (dedup runs on the CANONICAL a<b half — half the exchange bytes —
    and symmetrization after it is a narrow union); each peel round is
    ONE hash aggregate (degrees) + two anti-joins against the
    checkpoint-cached sub-k node set, with lineage truncated per round
    — only the shrinking edge list cycles, and rounds stop at the
    fixpoint (one bounded count() action per round detects it;
    ``max_iter`` guards pathological chains — peeling removes ≥1 node
    per non-final round, so max_iter bounds are loud, not silent).
    The per-round sub-k node set is usually tiny relative to the edge
    list; when its (already computed) count is ≤
    ``_BROADCAST_MAX_ROWS`` the anti-joins take an explicit broadcast
    hint, so the edge list is never shuffled inside a round — without
    the hint both anti-joins plan as sort-merge against the
    unknown-size checkpoint RDD and re-shuffle the full edge list
    every round. Past the threshold (a first peel round on a
    power-law graph can drop most nodes at once) the joins fall back
    to shuffle joins under AQE. An external SQL oracle can replay the
    rounds verbatim: each round depends only on the previous round's
    edge set, with no randomness and no tie-breaking.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    cur = _both_ways(_undirected(edges, src, dst)).localCheckpoint(
        eager=False
    )
    for _ in range(max_iter):
        # Lazy checkpoint + count = ONE job that computes the previous
        # round's anti-joins, caches the sub-k node set, and returns
        # the fixpoint test — the former eager checkpoint spent a
        # separate job on the same materialization every round.
        bad = (
            cur.groupBy("a")
            .agg(F.count(F.lit(1)).alias("deg"))
            .filter(F.col("deg") < k)
            .select(F.col("a").alias("_bad"))
            .localCheckpoint(eager=False)
        )
        n_bad = bad.count()
        if n_bad == 0:
            break
        # Both anti-joins reference the SAME hinted frame, so the
        # broadcast exchange canonicalizes identically and is built
        # once and reused (the former withColumnRenamed copy forced a
        # second broadcast build job per round).
        hinted = F.broadcast(bad) if n_bad <= _BROADCAST_MAX_ROWS else bad
        cur = (
            cur.join(hinted, F.col("a") == F.col("_bad"), "left_anti")
            .join(hinted, F.col("b") == F.col("_bad"), "left_anti")
            .localCheckpoint(eager=False)
        )
    else:
        raise RuntimeError(
            f"k_core did not reach a fixpoint in {max_iter} rounds"
        )
    return cur.groupBy(F.col("a").alias("node")).agg(
        F.count(F.lit(1)).alias("core_degree")
    )


def adamic_adar(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    hub_cap: int | None = None,
    include_existing: bool = False,
) -> DataFrame:
    """Adamic-Adar link prediction (Adamic & Adar 2003) over an
    undirected simple graph: for every candidate pair (x < y) sharing
    at least one neighbor, ``aa_score = Σ_{z ∈ N(x)∩N(y)} 1/ln(deg z)``
    — common neighbors weighted by how selective they are. The
    standard baseline for "which links are missing" over the pair
    graphs this package builds constantly (near-dup clusters,
    co-occurrence graphs, k-NN graphs): high-scoring non-edges are
    likely same-entity pairs the blocking stage missed.

    Graph semantics (so an external SQL oracle can mirror them): the
    edge list is symmetrized, parallel edges collapse, self-loops
    drop. Degrees are computed on the FULL graph; ``hub_cap``
    (optional but strongly recommended at scale) excludes nodes with
    degree > cap from serving as the WEDGE CENTER z only — their own
    links are still predicted. Every wedge center has deg ≥ 2 by
    construction, so ``ln(deg)`` is never zero. With
    ``include_existing=False`` (default) pairs already connected are
    anti-joined away, leaving genuinely new candidates.

    Returns ``(node_a, node_b, common_neighbors, aa_score)`` with
    node_a < node_b.

    Scale shape: one hash aggregate for degrees (computed on the
    canonical a<b half and symmetrized after — half the dedup
    exchange), one per-center adjacency-ARRAY aggregate over the
    center-filtered edge list (WHEN ``hub_cap`` is set, arrays are
    ≤ hub_cap elements by construction because hubs were dropped
    BEFORE collecting; with the default ``hub_cap=None`` a hub's full
    neighborhood is collected into one row — set the cap on any graph
    that can contain hubs), a pair explosion local to each center row
    (bounded by ``Σ_z min(deg z, hub_cap)²``, which hub_cap caps
    quadratically; without it one celebrity node with degree 10^6
    alone yields 10^12 wedges), one hash aggregate on the candidate
    pair, and one anti-join against the canonical edge list. The
    array form replaces the former adjacency self-join: the wedge
    fan-out happens inside a projection instead of shuffling the
    adjacency list a second time on the center key. No cartesian
    products, nothing collected to the driver.

    The canonical edge list is ``localCheckpoint(eager=False)``-ed:
    it is referenced by the symmetrization (twice), the degree
    aggregate behind the centers, and the existing-edge anti-join —
    without the checkpoint every consumer re-derives the whole
    upstream edge-build subtree (measured: the co-occurrence
    edge-build aggregate appeared ~9x in one plan and the wall
    regressed 20%+), while the checkpoint computes it once and serves
    the cached rows to all consumers.
    """
    if hub_cap is not None and hub_cap < 2:
        raise ValueError(f"hub_cap must be >= 2, got {hub_cap}")
    canon = _undirected(edges, src, dst).localCheckpoint(eager=False)
    sym = _both_ways(canon)
    deg = sym.groupBy("a").agg(F.count(F.lit(1)).alias("deg"))
    centers = deg.filter(F.col("deg") >= 2)
    if hub_cap is not None:
        centers = centers.filter(F.col("deg") <= int(hub_cap))
    # Per-center adjacency arrays (hubs already filtered, so arrays
    # are ≤ hub_cap), weight attached once so the per-pair aggregate
    # is a plain SUM. sort_array makes every in-array pair (x, y)
    # satisfy x < y without a post-filter.
    adj = (
        sym.join(centers, "a")
        .groupBy("a")
        .agg(
            F.sort_array(F.collect_list("b")).alias("ns"),
            F.first("deg").alias("deg"),
        )
        .select(
            (F.lit(1.0) / F.log(F.col("deg").cast("double"))).alias("w"),
            "ns",
            F.posexplode("ns").alias("_i", "x"),
        )
        .select(
            "w",
            "x",
            F.explode(F.expr("slice(ns, _i + 2, size(ns))")).alias("y"),
        )
    )
    scores = adj.groupBy("x", "y").agg(
        F.count(F.lit(1)).alias("common_neighbors"),
        F.sum("w").alias("aa_score"),
    )
    if not include_existing:
        und = canon.select(
            F.col("a").alias("x"), F.col("b").alias("y")
        )
        scores = scores.join(und, ["x", "y"], "left_anti")
    return scores.select(
        F.col("x").alias("node_a"),
        F.col("y").alias("node_b"),
        "common_neighbors",
        "aa_score",
    )


def jaccard_links(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    hub_cap: int | None = None,
    include_existing: bool = False,
) -> DataFrame:
    """Jaccard-coefficient link prediction over an undirected simple
    graph: for candidate pairs (x < y) sharing a neighbor,
    ``jaccard = |N(x)∩N(y)| / (deg x + deg y − |N(x)∩N(y)|)`` — the
    normalized sibling of :func:`adamic_adar` (same wedge machinery,
    different weighting): AA favors selective shared neighbors,
    Jaccard penalizes mismatched neighborhood SIZES, the better signal
    when near-dup/same-entity pairs should overlap almost completely.

    Same graph contract and hub-cap semantics as :func:`adamic_adar`:
    symmetrize / collapse parallels / drop self-loops; degrees on the
    FULL graph; ``hub_cap`` excludes over-cap nodes from serving as
    the wedge CENTER only — so the common count (and therefore the
    score) is a LOWER BOUND when hubs are capped, the documented
    trade-off that keeps the wedge fan-out quadratically bounded.

    Returns ``(node_a, node_b, common_neighbors, jaccard)``,
    node_a < node_b; the score is an exact integer ratio.

    The canonical edge list and the degree frame are
    ``localCheckpoint(eager=False)``-ed: canon feeds the
    symmetrization (twice) and the existing-edge anti-join, and deg
    feeds the centers filter plus BOTH endpoint-degree attachments —
    five consumers that would otherwise each re-derive the whole
    upstream edge build (measured: ~9 copies of the edge-build
    aggregate in one 214-node plan, and the wall REGRESSED vs the
    self-join form it replaced; with the checkpoints each subtree is
    computed once). The degree joins stay on the POST-aggregate
    candidate-pair table: riding (neighbor, deg) structs through the
    adjacency arrays instead was measured 1.5x slower interleaved —
    map-side partial aggregation already shrinks the pair stream
    before its exchange, while struct arrays double the collect/sort
    bytes and add an edges⋈deg join.
    """
    if hub_cap is not None and hub_cap < 2:
        raise ValueError(f"hub_cap must be >= 2, got {hub_cap}")
    canon = _undirected(edges, src, dst).localCheckpoint(eager=False)
    sym = _both_ways(canon)
    deg = (
        sym.groupBy("a")
        .agg(F.count(F.lit(1)).alias("deg"))
        .localCheckpoint(eager=False)
    )
    centers = deg.filter(F.col("deg") >= 2)
    if hub_cap is not None:
        centers = centers.filter(F.col("deg") <= int(hub_cap))
    # Same array-form wedge generation as adamic_adar: per-center
    # adjacency arrays (≤ hub_cap — hubs filtered before collecting),
    # pairs exploded locally instead of re-shuffling the adjacency
    # list through a self-join on the center key.
    common = (
        sym.join(centers.select("a"), "a")
        .groupBy("a")
        .agg(F.sort_array(F.collect_list("b")).alias("ns"))
        .select("ns", F.posexplode("ns").alias("_i", "x"))
        .select(
            "x",
            F.explode(F.expr("slice(ns, _i + 2, size(ns))")).alias("y"),
        )
        .groupBy("x", "y")
        .agg(F.count(F.lit(1)).alias("common_neighbors"))
    )
    dx = deg.select(F.col("a").alias("x"), F.col("deg").alias("_dx"))
    dy = deg.select(F.col("a").alias("y"), F.col("deg").alias("_dy"))
    scored = common.join(dx, "x").join(dy, "y")
    if not include_existing:
        und = canon.select(
            F.col("a").alias("x"), F.col("b").alias("y")
        )
        scored = scored.join(und, ["x", "y"], "left_anti")
    jac = F.col("common_neighbors").cast("double") / (
        F.col("_dx") + F.col("_dy") - F.col("common_neighbors")
    ).cast("double")
    return scored.select(
        F.col("x").alias("node_a"),
        F.col("y").alias("node_b"),
        "common_neighbors",
        jac.alias("jaccard"),
    )


def degree_assortativity(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Degree assortativity coefficient (Newman 2002): the Pearson
    correlation of endpoint degrees over the edge list — do
    high-degree nodes attach to other hubs (r > 0, social-network
    shape) or to leaves (r < 0, hub-and-spoke / infrastructure
    shape)? One scalar that summarizes the mixing pattern the other
    graph operators (:func:`pagerank`, :func:`k_core`) resolve
    per-node.

    Graph contract as elsewhere in this module: symmetrize, collapse
    parallel edges, drop self-loops; the correlation runs over BOTH
    orientations of each undirected edge (the standard estimator), so
    the two marginals coincide and

        ``r = (M·Σxy − (Σx)²) / (M·Σx² − (Σx)²)``

    with M = directed edge count and x, y the endpoint degrees. All
    sufficient statistics are INTEGER sums (degrees are integers),
    exact in doubles — an external SQL engine reproduces r bit-ic
    identically; no streaming-covariance ops involved.

    Scale shape: one hash agg for degrees, two AQE-sized equi-joins
    to attach them to the symmetrized edge list, one final aggregate.
    Returns one row ``(n_nodes, n_edges, assortativity)`` —
    assortativity NULL for degree-regular graphs (zero variance).
    """
    # Checkpoint: sym is consumed by the degree aggregate AND both
    # endpoint attachments — without it each consumer re-derives the
    # whole upstream edge build.
    sym = _both_ways(_undirected(edges, src, dst)).localCheckpoint(
        eager=False
    )
    deg = sym.groupBy("a").agg(F.count(F.lit(1)).alias("deg"))
    attached = (
        sym.join(deg.select("a", F.col("deg").alias("dx")), "a")
        .join(
            deg.select(
                F.col("a").alias("b"), F.col("deg").alias("dy")
            ),
            "b",
        )
    )
    agg = attached.agg(
        F.count(F.lit(1)).cast("double").alias("m"),
        F.sum("dx").cast("double").alias("sx"),
        F.sum(F.col("dx").cast("double") * F.col("dy")).alias("sxy"),
        F.sum(F.col("dx").cast("double") * F.col("dx")).alias("sxx"),
    )
    nodes = deg.agg(F.count(F.lit(1)).alias("n_nodes"))
    num = F.col("m") * F.col("sxy") - F.col("sx") * F.col("sx")
    den = F.col("m") * F.col("sxx") - F.col("sx") * F.col("sx")
    return agg.crossJoin(F.broadcast(nodes)).select(
        F.col("n_nodes").cast("long").alias("n_nodes"),
        (F.col("m") / 2).cast("long").alias("n_edges"),
        F.round(F.when(den > 0, num / den), _DIGITS).alias(
            "assortativity"
        ),
    )


def markov_stationary(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight: str | None = None,
    n_iter: int = 20,
) -> DataFrame:
    """Stationary distribution of the Markov chain defined by a
    weighted transition edge list — where does a random walk over the
    observed transitions spend its time? The chain-level summary of
    the per-step ``event_transitions`` matrix (and pagerank's
    no-teleport sibling).

    Fixed-point by ``n_iter`` synchronous power-iteration rounds from
    the uniform start — a FIXED iteration count, not a convergence
    test, so the result is a deterministic function of the input and
    an external SQL engine replays it exactly. Each round rounds the
    distribution at 12 dp (round-before-derive — the
    cross-engine float discipline used across this package).

    States with no outgoing edges become explicit SELF-LOOPS in the
    normalized matrix (mass stays put, Σπ = 1 — pagerank's teleport
    is the alternative when absorption is unwanted). Folding the
    dangling handling INTO the matrix keeps each round a single
    join + hash aggregate that references the previous distribution
    exactly once — the plan grows LINEARLY in n_iter (a per-round
    anti-join would reference π twice and double the plan each
    round), so the whole loop is one lazy job over state-sized
    tables, no checkpoints.

    State count is assumed metadata-sized (event types, pages);
    this is a chain over CATEGORIES, not over users. Returns
    ``(state, pi)`` rounded to 6 dp, ordered by state.
    """
    if n_iter < 1:
        raise ValueError(f"n_iter must be >= 1, got {n_iter}")
    w = (
        F.col(weight).cast("double")
        if weight
        else F.lit(1.0)
    )
    e = edges.filter(
        F.col(src).isNotNull() & F.col(dst).isNotNull()
    ).select(
        F.col(src).alias("s"), F.col(dst).alias("d"), w.alias("w")
    )
    agg = e.groupBy("s", "d").agg(F.sum("w").alias("w"))
    out_tot = agg.groupBy("s").agg(F.sum("w").alias("tot"))
    p = agg.join(out_tot, "s").select(
        "s", "d", (F.col("w") / F.col("tot")).alias("p")
    )
    states = (
        e.select(F.col("s").alias("state"))
        .unionByName(e.select(F.col("d").alias("state")))
        .distinct()
    )
    dangling = states.join(
        out_tot.select(F.col("s").alias("state")), "state", "left_anti"
    ).select(
        F.col("state").alias("s"),
        F.col("state").alias("d"),
        F.lit(1.0).alias("p"),
    )
    p_full = p.unionByName(dangling).localCheckpoint(eager=False)
    n_states = Window.partitionBy()
    pi = states.select(
        "state",
        (F.lit(1.0) / F.count(F.lit(1)).over(n_states)).alias("pi"),
    )
    for _ in range(int(n_iter)):
        pi = (
            pi.join(p_full, pi["state"] == p_full["s"])
            .groupBy(F.col("d").alias("state"))
            .agg(
                F.round(
                    F.sum(F.col("pi") * F.col("p")), 12
                ).alias("pi")
            )
        )
    # states whose mass hit exactly zero drop out of the join-agg
    # stream mid-loop (absent = 0); re-attach them for a dense output
    return (
        states.join(pi, "state", "left")
        .select(
            "state",
            F.round(F.coalesce(F.col("pi"), F.lit(0.0)), _DIGITS)
            .alias("pi"),
        )
        .orderBy("state")
    )
