"""Graph analytics over the materialized KG triples.

LogSet's graph is tiny enough that rdflib answers reachability questions
by in-memory traversal; at 10^12-turn scale the same questions (transitive
`partOf` containment per the north_star vocabulary, entity importance)
become distributed iterative-DataFrame problems.  Two examples:

* transitive_closure — SPARQL property-path (`partOf+`) semantics via
  PATH DOUBLING: each round joins the closure with itself, so reachable
  pairs at distance <= 2^k exist after k rounds.  O(log diameter) rounds
  instead of the O(diameter) of naive one-step expansion — the difference
  between 40 shuffles and 6 at a 10^12-edge hierarchy.

* pagerank_fixedpoint — fixed-iteration PageRank in 64-bit FIXED-POINT
  integer arithmetic (rank scaled by 10^12, damping 17/20, integer
  division throughout).  Floating-point PageRank sums are
  order-dependent, so a distributed run can never be hash-compared
  against another engine; integer math makes every iteration exactly
  reproducible across engines, partitionings, and cluster sizes — the
  determinism discipline the driver's value-hash gate demands.
  PageRank is personalized PageRank (ppr_fixedpoint) with every node a
  source; both run on one core.

Every iterative loop here runs through ckpt.fixpoint: one origin-cut
checkpoint action per round, which also reads the round's changed-row
count — there is no separate probe job — and one uniform error when a
convergence cap is hit.  Fixed-round recurrences (PageRank, HITS, LPA,
ANF, walks) pass `F.lit(True)` as the changed predicate with their
round count as a truncating cap.  The one exception is the backward
level sweep of betweenness_approx, whose rounds walk a known depth
down to 0.
"""

from __future__ import annotations

import itertools
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..ckpt import fixpoint  # also registers df.localCheckpointCut
from ..session import local_frame
from .cc import SMALL_GRAPH_EDGES

# rank unit: 1.0 == 10^12.  Headroom: total rank MASS is conserved-or-
# shrinking in this recurrence (mass_0 = N*(scale DIV N) <= scale;
# mass_{k+1} <= 0.15*scale + 0.85*mass_k <= scale, truncating division
# only loses mass), so every per-node rank and every per-dst in_sum is
# <= scale = 1e12 regardless of N or topology — even a total funnel sink
# receives at most the whole mass.  The one multiply, 17*in_sum, is
# computed via the exact identity 17x DIV 20 = 17*(x DIV 20) +
# (17*(x MOD 20)) DIV 20, whose intermediates stay < x, so the update is
# overflow-free for ANY bigint in_sum — raising `scale` toward 1e18 for
# fixed-point resolution on ~1e12-node graphs stays safe (needed because
# rank_0 = scale DIV N must be >> 0 for the recurrence to carry signal).
PR_SCALE = 1_000_000_000_000


# a small EDGE count does not bound the CLOSURE size: a deep/dense DAG
# can close to O(V * ancestors) pairs — far more rows than edges.  The
# driver BFS therefore also caps the pairs it will materialize as Python
# objects and bails to the distributed loop beyond it (VERDICT r02).
MAX_SMALL_CLOSURE_PAIRS = 2_000_000


def _closure_small(spark, rows: list, max_pairs: int) -> DataFrame | None:
    """Driver BFS over collected (child, parent) pairs -> closure rows;
    None if the closure exceeds `max_pairs` (abandon EARLY, before the
    pair list grows into driver-memory trouble — caller falls through
    to the distributed path-doubling loop)."""
    parents: dict[str, set[str]] = {}
    for child, parent in rows:
        if child != parent:
            parents.setdefault(child, set()).add(parent)
    out = []
    for start, first in parents.items():
        frontier, dist, seen = set(first), 1, {start}
        while frontier:
            for a in frontier:
                out.append((start, a, dist))
            if len(out) > max_pairs:
                return None
            seen |= frontier
            frontier = {
                g for a in frontier for g in parents.get(a, ()) if g not in seen
            }
            dist += 1
    return local_frame(spark, out, "node string, ancestor string, dist int")


def transitive_closure(
    edges: DataFrame, max_iter: int = 20,
    small_graph_edges: int = SMALL_GRAPH_EDGES,
    max_small_pairs: int = MAX_SMALL_CLOSURE_PAIRS,
) -> DataFrame:
    """edges: DataFrame[child:string, parent:string] (a DAG; cycles would
    still terminate — path doubling only adds pairs, and pair count is
    finite — but `dist` then means shortest walk, not depth).

    Returns DataFrame[node:string, ancestor:string, dist:int] — every
    (node, proper-ancestor) pair with its minimum hop distance, i.e. the
    closure of the `partOf` relation.  Reflexive pairs are not emitted.

    Path doubling: closure_k holds all pairs of dist < 2^k; one
    self-join round squares the reach.  The join key is the midpoint
    node — a plain equi-join Catalyst shuffles on that key, no
    quadratics anywhere (fan-out is bounded by the true closure size).
    A closure still growing after `max_iter` rounds raises.

    `small_graph_edges`: below this edge count (default
    cc.SMALL_GRAPH_EDGES) the closure is computed by driver BFS instead,
    since ~20 Spark jobs of fixpoint overhead dwarf a tiny graph.  Pass
    0 to force the distributed loop — the oracle-checked q_closure
    does, so the doubling algebra itself stays under test; both paths
    are equivalence-tested in tests/test_graph.
    BFS gives min-HOP distance and path doubling min over all walks of
    per-round-minimal splits — equal exactly because doubling keeps the
    per-pair MIN each round, so a shortest 2^k-bounded decomposition
    always survives."""
    if small_graph_edges:
        head = edges.select("child", "parent").limit(small_graph_edges + 1).collect()
        if len(head) <= small_graph_edges:
            small = _closure_small(
                edges.sparkSession, [tuple(r) for r in head], max_small_pairs
            )
            if small is not None:
                return small
            # closure outgrew the driver cap: distributed loop below

    def double(c: DataFrame) -> DataFrame:
        # (a -> m, d1) x (m -> b, d2)  =>  (a -> b, d1+d2); the old dist
        # rides the min-groupBy as `odist` (one row per pair in c, NULL
        # on doubled rows), so "added or improved" is read in the round's
        # own checkpoint action
        c = c.select("node", "ancestor", "dist")
        left = c.select(
            F.col("node"), F.col("ancestor").alias("mid"), F.col("dist").alias("d1")
        )
        right = c.select(
            F.col("node").alias("mid"), F.col("ancestor"), F.col("dist").alias("d2")
        )
        doubled = left.join(right, "mid").select(
            "node", "ancestor", (F.col("d1") + F.col("d2")).alias("dist"),
            F.lit(None).cast("int").alias("odist"),
        )
        return (
            c.withColumn("odist", F.col("dist"))
            .unionByName(doubled)
            .where(F.col("node") != F.col("ancestor"))
            .groupBy("node", "ancestor")
            .agg(F.min("dist").alias("dist"), F.max("odist").alias("odist"))
        )

    c = edges.select(
        F.col("child").alias("node"),
        F.col("parent").alias("ancestor"),
        F.lit(1).alias("dist"),
    ).where(F.col("node") != F.col("ancestor")).distinct()
    return fixpoint(
        c, double, ~F.col("dist").eqNullSafe(F.col("odist")),
        "transitive_closure", max_rounds=max_iter,
    ).select("node", "ancestor", "dist")


def _distinct_edges_and_nodes(edges: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Checkpointed distinct [src, dst] edges and their endpoint [node]s."""
    e = edges.select("src", "dst").distinct().localCheckpointCut()
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpointCut()
    )
    return e, nodes


def _rank_rounds(
    e: DataFrame, flagged: DataFrame, n_src: DataFrame, n_iter: int,
    scale: int,
) -> DataFrame:
    """The exact-integer (personalized) PageRank core: `n_iter` rounds
    on ckpt.fixpoint over state [node, rank].  e: distinct [src, dst];
    flagged: [node, is_src] for every node, is_src 1 on a teleport
    source; n_src: the 1-row teleport count [n_src], joined as a
    broadcast — never a driver collect."""
    outdeg = e.groupBy("src").agg(F.count("*").alias("od"))
    # 17x DIV 20 via the overflow-free split identity
    damped = F.expr(
        "17 * (coalesce(in_sum, CAST(0 AS BIGINT)) DIV 20)"
        " + (17 * (coalesce(in_sum, CAST(0 AS BIGINT)) % 20)) DIV 20"
    )

    def teleport(mass: str) -> Column:
        return F.expr(
            f"CASE WHEN is_src = 1 THEN {mass} ELSE CAST(0 AS BIGINT) END"
        )

    def step(ranks: DataFrame) -> DataFrame:
        contrib = (
            e.join(ranks.withColumnRenamed("node", "src"), "src")
            .join(outdeg, "src")
            .select("dst", F.expr("rank DIV od").alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("in_sum"))
        )
        return (
            flagged.join(contrib.withColumnRenamed("dst", "node"), "node", "left")
            .crossJoin(F.broadcast(n_src))
            .select("node", (
                teleport(f"CAST(3 * {scale} AS BIGINT) DIV (20 * n_src)")
                + damped
            ).alias("rank"))
        )

    init = flagged.crossJoin(F.broadcast(n_src)).select(
        "node", teleport(f"CAST({scale} AS BIGINT) DIV n_src").alias("rank")
    )
    return fixpoint(init, step, F.lit(True), "pagerank",
                    max_rounds=n_iter, truncate=True)


def pagerank_fixedpoint(
    edges: DataFrame, n_iter: int = 3, scale: int = PR_SCALE
) -> DataFrame:
    """edges: DataFrame[src:string, dst:string], directed, deduplicated
    by the caller if multi-edges should not double-count.

    Returns DataFrame[node:string, rank:long] after exactly `n_iter`
    synchronous PageRank iterations with damping 0.85, all arithmetic in
    scaled 64-bit integers:

        rank_0(v)   = scale DIV N
        rank_k+1(v) = (3*scale) DIV (20*N)
                      + (17 * sum_{u->v} (rank_k(u) DIV outdeg(u))) DIV 20

    — ppr_fixedpoint's recurrence with every node a source, so both run
    on one core (_rank_rounds).  The damping multiply is evaluated as
    the exact bigint identity 17x DIV 20 = 17*(x DIV 20) +
    (17*(x MOD 20)) DIV 20 so no intermediate exceeds x itself (see
    PR_SCALE headroom note).

    DIV is truncating integer division (all quantities non-negative, so
    it equals floor).  Dangling-node mass is dropped, not redistributed —
    documented semantics, identical on any engine that replays the same
    recurrence (see SQL_PAGERANK for the DuckDB replay).

    Plan shape per iteration: one shuffle for the contribution groupBy
    on dst, one join back to the node list; outdeg and N are computed
    once.  The source flag is a literal 1, so the node list is never
    broadcast."""
    e, nodes = _distinct_edges_and_nodes(edges)
    return _rank_rounds(
        e, nodes.withColumn("is_src", F.lit(1)),
        nodes.agg(F.count("*").alias("n_src")), n_iter, scale,
    )


def ppr_fixedpoint(
    edges: DataFrame,
    sources: DataFrame,
    n_iter: int = 3,
    scale: int = PR_SCALE,
) -> DataFrame:
    """Personalized PageRank: pagerank_fixedpoint's exact-integer
    recurrence with teleport mass restricted to `sources`
    (DataFrame[node:string]) — the standard KG entity-relatedness
    primitive ("which entities are structurally close to THIS one").

        rank_0(v)   = scale DIV |S|            if v in S else 0
        rank_k+1(v) = [v in S] * (3*scale) DIV (20*|S|)
                      + (17 * sum_{u->v} (rank_k(u) DIV outdeg(u))) DIV 20

    |S| counts the distinct sources, including any absent from the
    graph.  The source membership flag rides a broadcast left-join (|S|
    is query-scale, not corpus-scale), |S| a broadcast 1-row aggregate.
    Exactly replayable in SQL — see SQL_PPR.  Nodes never reached keep
    rank 0 and ARE returned (the caller filters), so the output domain
    is engine-independent."""
    e, nodes = _distinct_edges_and_nodes(edges)
    src_flag = sources.select(F.col("node")).distinct().withColumn(
        "is_src", F.lit(1)
    )
    flagged = nodes.join(F.broadcast(src_flag), "node", "left").select(
        "node", F.coalesce("is_src", F.lit(0)).alias("is_src")
    )
    return _rank_rounds(
        e, flagged, src_flag.agg(F.count("*").alias("n_src")), n_iter, scale
    )


def _oriented_triangles(canon: DataFrame) -> DataFrame:
    """canon: CANONICAL undirected edges [u < v, distinct, no loops],
    already checkpointed.  Returns one row per triangle [src, x, y] —
    corner node ids, each triangle exactly once — via the
    degree-oriented wedge join (see triangle_count's docstring for why
    this is the formulation that survives power-law skew)."""
    deg = (
        canon.select(F.col("u").alias("node"))
        .unionByName(canon.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("deg"))
    )
    du = deg.select(F.col("node").alias("u"), F.col("deg").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("deg").alias("dv"))
    with_deg = canon.join(du, "u").join(dv, "v")
    lower_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oriented = with_deg.select(
        F.when(lower_first, F.col("u")).otherwise(F.col("v")).alias("src"),
        F.when(lower_first, F.struct("dv", "v")).otherwise(F.struct(F.col("du").alias("dv"), F.col("u").alias("v"))).alias("d"),
    ).select("src", F.col("d.v").alias("dst"), F.col("d.dv").alias("dst_deg")) \
        .localCheckpointCut()  # feeds e1, e2 AND the closing join
    # wedge (src; x, y) with x before y in the SAME (deg, id) total order
    # the orientation used, so the closing edge is oriented x -> y
    e1 = oriented.select("src", F.col("dst").alias("x"), F.col("dst_deg").alias("xd"))
    e2 = oriented.select("src", F.col("dst").alias("y"), F.col("dst_deg").alias("yd"))
    wedges = e1.join(e2, "src").where(
        (F.col("xd") < F.col("yd"))
        | ((F.col("xd") == F.col("yd")) & (F.col("x") < F.col("y")))
    )
    closing = oriented.select(
        F.col("src").alias("x"), F.col("dst").alias("y")
    )
    return wedges.join(closing, ["x", "y"]).select("src", "x", "y")


def triangle_count(edges: DataFrame) -> DataFrame:
    """edges: DataFrame[a:string, b:string], undirected (any direction,
    duplicates/self-loops tolerated).  Returns DataFrame[node, n_tri]
    with each node's triangle participation count (nodes in no triangle
    are absent).

    DEGREE-ORIENTED wedge join — the algorithm that survives skew: orient every
    edge from its lower-(degree, id) endpoint to the higher one, so each
    node's out-degree is bounded by ~sqrt(|E|) even on power-law graphs
    (a celebrity node has huge in-degree but tiny out-degree).  Wedges
    are generated per out-neighbor pair of the SMALL side only, then
    closed with one more equi-join against the oriented edge set —
    3 shuffles total, never a quadratic blowup on hot nodes.  A naive
    a<b<c self-join materializes deg^2 wedges on every hot node; the
    oracle uses exactly that naive algorithm (fine at oracle scale),
    which cross-checks this orientation logic against an independent
    formulation."""
    canon = (
        edges.select(
            F.least("a", "b").alias("u"), F.greatest("a", "b").alias("v")
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
        # referenced by the degree agg AND both sides of the wedge join:
        # checkpoint so the upstream edge derivation runs once, not 4x
        .localCheckpointCut()
    )
    tri = _oriented_triangles(canon)
    corners = (
        tri.select(F.col("src").alias("node"))
        .unionByName(tri.select(F.col("x").alias("node")))
        .unionByName(tri.select(F.col("y").alias("node")))
    )
    return corners.groupBy("node").agg(F.count("*").alias("n_tri"))


def label_propagation(edges: DataFrame, n_iter: int = 3) -> DataFrame:
    """edges: DataFrame[a:string, b:string], undirected (duplicates /
    self-loops tolerated).  Returns DataFrame[node:string, label:string]
    after exactly `n_iter` SYNCHRONOUS label-propagation rounds —
    community detection in the GraphFrames style, recast as pure
    DataFrame algebra.

    Every node starts labeled with its own id; each round it adopts the
    label that is most frequent among its neighbors, ties broken by the
    LEXICOGRAPHICALLY SMALLEST label.  Synchronous rounds + a total
    tie-break order make the whole trajectory deterministic — the same
    discipline as pagerank_fixedpoint: asynchronous LPA (and any
    random tie-break) can never pass a cross-engine value-hash, while
    this recurrence is exactly replayable by unrolled SQL (SQL_LPA).
    Fixed iterations rather than convergence is also semantics, not a
    shortcut: synchronous LPA may 2-cycle on bipartite structures, so
    "run k rounds" is the only portable stopping rule.

    Plan shape per round: ONE shuffle — the (node, label) frequency
    groupBy; the argmax is a second agg on the same keys' prefix (no
    window, no sort), and the neighbor join ships only the node-scale
    label table.  The n_iter rounds run on ckpt.fixpoint."""
    canon = (
        edges.select(
            F.least("a", "b").alias("u"), F.greatest("a", "b").alias("v")
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpointCut()
    )
    adj = (
        canon.select(F.col("u").alias("node"), F.col("v").alias("nbr"))
        .unionByName(
            canon.select(F.col("v").alias("node"), F.col("u").alias("nbr"))
        )
        .localCheckpointCut()
    )

    def step(labels: DataFrame) -> DataFrame:
        cnt = (
            adj.join(labels.withColumnRenamed("node", "nbr"), "nbr")
            .groupBy("node", "label")
            .agg(F.count("*").alias("c"))
        )
        # argmax(c) with min-label tie-break == min over (-c, label):
        # struct ordering is lexicographic on fields, no window needed
        return (
            cnt.groupBy("node")
            .agg(
                F.min(
                    F.struct((-F.col("c")).alias("nc"), F.col("label"))
                ).alias("s")
            )
            .select("node", F.col("s.label").alias("label"))
        )

    labels = adj.select("node").distinct().select(
        "node", F.col("node").alias("label"))
    return fixpoint(labels, step, F.lit(True), "label_propagation",
                    max_rounds=n_iter, truncate=True)


def _frontier_bfs(
    edges: DataFrame, seeds: DataFrame, max_iter: int
) -> DataFrame:
    """Tagged multi-source frontier BFS, the one core behind
    bfs_distances, bfs_distances_tagged, harmonic_centrality and
    ego_network.  edges: [src, dst] directed; seeds: [tag, node].
    Returns [tag, node, dist] — min hops from the tag's seeds, for every
    node within `max_iter` hops (the cap is part of the answer).

    Each round expands only the `fresh` rows (last round's discoveries)
    with one equi-join on src, drops already-settled (tag, node) pairs
    with a left-anti join, and stops when nothing new is found — so it
    runs eccentricity(seeds) rounds, each proportional to the frontier.
    In hop-BFS a node's first discovery IS its minimum distance, so
    settled pairs never need relaxing."""
    e = edges.select("src", "dst").distinct().localCheckpointCut()

    def expand(s: DataFrame) -> DataFrame:
        front = s.where("fresh")
        nxt = (
            front.join(e, front["node"] == e["src"])
            .groupBy("tag", F.col("dst").alias("node"))
            .agg(F.min(F.col("dist") + 1).alias("dist"))
            .join(s.select("tag", "node"), ["tag", "node"], "left_anti")
        )
        return s.withColumn("fresh", F.lit(False)).unionByName(
            nxt.withColumn("fresh", F.lit(True)))

    init = seeds.select("tag", "node").distinct().select(
        "tag", "node", F.lit(0).alias("dist"), F.lit(True).alias("fresh"))
    return fixpoint(
        init, expand, F.col("fresh"), "frontier BFS",
        max_rounds=max_iter, truncate=True,
    ).drop("fresh")


def bfs_distances(
    edges: DataFrame, sources: DataFrame, max_iter: int = 50
) -> DataFrame:
    """edges: DataFrame[src:string, dst:string], DIRECTED; sources:
    DataFrame[node:string].  Returns DataFrame[node:string, dist:int] —
    minimum hop distance from ANY source, for every node within
    `max_iter` hops (sources themselves at dist 0): _frontier_bfs with
    one constant tag.  A path graph runs O(V) rounds — at that shape
    prefer transitive_closure's path doubling."""
    seeds = sources.select(F.lit("").alias("tag"), "node")
    return _frontier_bfs(edges, seeds, max_iter).select("node", "dist")


def kcore_peel(
    edges: DataFrame, k: int, rounds: int | None = None,
    max_rounds: int = 10_000,
) -> DataFrame:
    """edges: DataFrame[a:string, b:string] undirected.  Synchronous
    k-core peel (drop every node whose degree among surviving nodes is
    < k, repeat); returns DataFrame[node, deg] — survivors with their
    residual degree.

    rounds=None (the production default): peel TO CONVERGENCE — the
    loop stops once no node would drop, so the result is the true
    k-core at any peel depth (a star-chain adversarial graph is
    pytest-pinned); past `max_rounds` it raises.  Peel depth is usually
    tens but UNKNOWN a priori at 100x scale — which is why fixed rounds
    alone was flagged (VERDICT r02): a too-small count silently returns
    a superset.

    rounds=<int>: run exactly that many rounds — the oracle-facing mode
    (the driver's value-hash gate needs a result reproducible by an
    unrolled-SQL replay of the same number of rounds; q_kcore asserts
    the fixture converges within its fixed count, so both modes agree
    there).

    The state is the surviving edge set annotated with both endpoint
    degrees: each round is one degree groupBy + two joins on an
    ever-shrinking edge set, and the rows with an endpoint under k are
    the ones the next round drops."""
    canon = (
        edges.select(
            F.least("a", "b").alias("u"), F.greatest("a", "b").alias("v")
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpointCut()
    )

    def degrees(e: DataFrame) -> DataFrame:
        return (
            e.select(F.col("u").alias("node"))
            .unionByName(e.select(F.col("v").alias("node")))
            .groupBy("node")
            .agg(F.count("*").alias("deg"))
        )

    def with_degrees(e: DataFrame) -> DataFrame:
        deg = degrees(e)
        return e.join(
            deg.select(F.col("node").alias("u"), F.col("deg").alias("du")), "u"
        ).join(deg.select(F.col("node").alias("v"), F.col("deg").alias("dv")), "v")

    def peel(s: DataFrame) -> DataFrame:
        return with_degrees(
            s.where((F.col("du") >= k) & (F.col("dv") >= k)).select("u", "v"))

    e = fixpoint(
        with_degrees(canon), peel, (F.col("du") < k) | (F.col("dv") < k),
        "kcore_peel", max_rounds=max_rounds if rounds is None else rounds,
        truncate=rounds is not None,
    )
    return degrees(e)


def shortest_paths(
    edges: DataFrame, sources: DataFrame, max_iter: int = 100
) -> DataFrame:
    """edges: DataFrame[src:string, dst:string, w:bigint], DIRECTED,
    NON-NEGATIVE integer weights (asserted with a one-row probe —
    negative weights plus cycles make shortest distance undefined, and
    integer weights keep the result exact and oracle-checkable; scale
    fractional costs to integers upstream).  sources:
    DataFrame[node:string].  Returns DataFrame[node, dist:bigint] —
    minimum weighted distance from ANY source for every reachable node
    (sources at 0).

    Frontier Bellman-Ford: each round relaxes ONLY from nodes whose
    distance improved last round (one equi-join frontier->edges, then
    one min-groupBy that merges the candidates into the settled table)
    and stops when nothing improves — the weighted generalization of
    bfs_distances, except a settled node CAN re-enter the frontier when
    a cheaper path arrives later (hop order is not cost order), which is
    why the merge is min-keep rather than BFS's anti-join-and-forget.
    The old distance rides the merge as `odist`, so the improved rows
    (the next frontier) are exactly those with dist != odist.  Rounds
    are bounded by the hop count of the longest minimal path (<= V-1
    without negative edges); past `max_iter` the loop raises.

    At 10^12-edge scale every round is two key-shuffles over
    frontier-proportional data; for near-diameter-free graphs (the
    conv->turn hierarchy) rounds stay in the tens."""
    e = edges.select(
        "src", "dst", F.col("w").cast("bigint").alias("w")
    ).localCheckpointCut()
    if e.where(F.col("w") < 0).limit(1).count():
        raise ValueError("shortest_paths requires non-negative weights")
    improved = ~F.col("dist").eqNullSafe(F.col("odist"))

    def relax(s: DataFrame) -> DataFrame:
        front = s.where(improved)
        cand = front.join(e, front["node"] == e["src"]).select(
            F.col("dst").alias("node"),
            (F.col("dist") + F.col("w")).alias("dist"),
            F.lit(None).cast("bigint").alias("odist"),
        )
        return (
            s.select("node", "dist", F.col("dist").alias("odist"))
            .unionByName(cand)
            .groupBy("node")
            .agg(F.min("dist").alias("dist"), F.max("odist").alias("odist"))
        )

    init = sources.select("node").distinct().select(
        "node", F.lit(0).cast("bigint").alias("dist"),
        F.lit(None).cast("bigint").alias("odist"),
    )
    return fixpoint(
        init, relax, improved, "shortest_paths", max_rounds=max_iter
    ).select("node", "dist")


def neighbor_jaccard(
    incidence: DataFrame, min_common: int = 1, min_sim: float = 0.0,
    max_feat_degree: int | None = None,
) -> DataFrame:
    """incidence: DataFrame[node:string, feat:string] — a node-feature
    membership list (an undirected graph's adjacency qualifies with
    feat = neighbor).  Returns DataFrame[u, v, common, union_n,
    jaccard] for node pairs u < v sharing >= min_common features with
    Jaccard(u, v) = |F(u) n F(v)| / |F(u) u F(v)| >= min_sim — the
    set-overlap scorer entity resolution ranks candidate merges with.

    Plan: dedupe the incidence once, count features per node (one
    groupBy), generate co-membership pairs per feature (one self-join
    keyed on feat, u < v so each pair appears once), count pairs (one
    groupBy), then two node-keyed joins attach the degrees; union size
    is du + dv - common by inclusion-exclusion — never a set
    materialization.  The min_sim cut is evaluated in EXACT integer
    arithmetic (common * 1e6 >= round(min_sim*1e6) * union), so the
    float `jaccard` column is presentation only and the filter can
    never flip on a rounding boundary across engines.

    Scale: work is sum over features of C(feat_degree, 2) — inherent to
    EXACT Jaccard (every pair sharing a feature must surface).  A hub
    feature (a stopword-like token shared by millions of nodes) makes
    that quadratic; `max_feat_degree` drops features above the cap
    BEFORE pair generation (one extra groupBy), under-counting `common`
    for pairs that co-occur only in hub features — the standard
    prefix-filter trade, documented rather than silent.  When the
    feature space has no usable cap, the scale path is MinHash-LSH
    (operators/link.py): banded signatures bound candidate pairs by
    similarity instead of by feature degree."""
    inc = incidence.select("node", "feat").distinct()
    if max_feat_degree is not None:
        keep = (
            inc.groupBy("feat")
            .agg(F.count("*").alias("fd"))
            .where(F.col("fd") <= max_feat_degree)
            .select("feat")
        )
        inc = inc.join(keep, "feat", "left_semi")
    inc = inc.localCheckpointCut()  # feeds deg AND both join sides
    deg = inc.groupBy("node").agg(F.count("*").alias("d"))
    a = inc.select("feat", F.col("node").alias("u"))
    b = inc.select("feat", F.col("node").alias("v"))
    common = (
        a.join(b, "feat")
        .where(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.count("*").alias("common"))
        .where(F.col("common") >= min_common)
    )
    sim_scaled = round(min_sim * 1_000_000)
    return (
        common.join(deg.select(F.col("node").alias("u"),
                               F.col("d").alias("du")), "u")
        .join(deg.select(F.col("node").alias("v"),
                         F.col("d").alias("dv")), "v")
        .select(
            "u", "v", "common",
            (F.col("du") + F.col("dv") - F.col("common")).alias("union_n"),
        )
        .where(
            F.col("common") * F.lit(1_000_000)
            >= F.lit(sim_scaled) * F.col("union_n")
        )
        .select(
            "u", "v", "common", "union_n",
            F.round(
                F.col("common").cast("double") / F.col("union_n"), 6
            ).alias("jaccard"),
        )
    )


def hits(
    edges: DataFrame, n_iter: int = 8, scale: int = 1_000_000
) -> DataFrame:
    """edges: DataFrame[src:string, dst:string] directed.  HITS hubs &
    authorities in SCALED 64-BIT INTEGER arithmetic (same discipline as
    pagerank above: float sums are partial-merge-order-dependent and
    can diverge across engines; integer sums are exact, so n_iter
    rounds hash-match any engine replaying the same recurrence).

    Recurrence per round, max-normalized: auth_raw(v) = sum of hub(u)
    over in-edges u->v, then auth = auth_raw * scale DIV max(auth_raw)
    (the max rides as a broadcast 1-row aggregate — never a driver
    collect); hub_raw(u) = sum of auth(v) over out-edges, normalized
    the same way.  hub(x) = scale initially.  Nodes lacking out-edges
    get hub 0, lacking in-edges auth 0 (explicit, via the node-list
    left join).

    Overflow headroom, exact: normalized values <= scale = 1e6, so a
    contribution sum over degree d is <= d * 1e6 — safe to d ~ 9.2e12.
    The normalization itself never multiplies an unbounded raw sum by
    scale: it first right-shifts raw and the max by
    shift = mx DIV (1000 * scale) + 1 and only then rescales, so every
    intermediate is <= 1000 * scale^2 = 1e15 regardless of degree.
    The shift is exact integer arithmetic on both engines; it collapses
    to 1 — the direct, truncation-free raw*scale DIV mx — whenever
    mx < 1e9, i.e. until max degree exceeds ~1000, and beyond that the
    relative truncation error is < 1e-9 per round.

    Plan: one ckpt.fixpoint round per half-iteration over state [node,
    hub, auth] — 2 * n_iter rounds, each one contribution groupBy plus
    the normalizing max, which rides a broadcast."""
    if n_iter < 1:
        raise ValueError("hits needs n_iter >= 1")
    e, nodes = _distinct_edges_and_nodes(edges)
    halves = itertools.count()

    def step(s: DataFrame) -> DataFrame:
        # even rounds refresh auth from hub along in-edges, odd rounds
        # hub from auth along out-edges; the other score rides along
        if next(halves) % 2 == 0:
            col, frm, key, out = "auth", "hub", "src", "dst"
        else:
            col, frm, key, out = "hub", "auth", "dst", "src"
        raw = (
            e.join(s.select(F.col("node").alias(key), frm), key)
            .groupBy(F.col(out).alias("node"))
            .agg(F.sum(frm).alias(col))
        )
        mx = raw.agg(
            F.max(col).alias("_mx")
        ).select(
            F.expr("greatest(_mx, CAST(1 AS BIGINT))").alias("_mx"),
            F.expr(
                f"greatest(_mx, CAST(1 AS BIGINT)) DIV (1000 * {scale})"
                " + CAST(1 AS BIGINT)"
            ).alias("_shift"),
        )
        return (
            s.drop(col).join(raw, "node", "left")
            .crossJoin(F.broadcast(mx))
            .select(
                "node", frm,
                F.expr(
                    f"(coalesce({col}, CAST(0 AS BIGINT)) DIV _shift)"
                    f" * {scale} DIV greatest(_mx DIV _shift,"
                    " CAST(1 AS BIGINT))"
                ).alias(col),
            )
        )

    init = nodes.select(
        "node", F.lit(scale).cast("bigint").alias("hub"),
        F.lit(0).cast("bigint").alias("auth"),
    )
    out = fixpoint(init, step, F.lit(True), "hits",
                   max_rounds=2 * n_iter, truncate=True)
    return out.select("node", "hub", "auth")


def deterministic_walks(
    edges: DataFrame, starts: DataFrame, n_steps: int,
    salt: str = "w",
) -> DataFrame:
    """DeepWalk-style graph walks with DETERMINISTIC pseudo-randomness:
    edges DataFrame[src, dst], starts DataFrame[walk_id:string,
    node:string]; returns DataFrame[walk_id, step:int, node] — step 0 is
    the start node, each next node is the out-neighbor minimizing
    md5(salt:walk_id:step:dst).  A walk at a sink node ends (no row for
    later steps).

    The hash-argmin IS the sampler: md5 is uniform over neighbors, keyed
    by (walk_id, step) so different walks and different steps of one
    walk draw independently, and `salt` reseeds the whole corpus.
    Determinism is what makes the op testable cross-engine (the DuckDB
    oracle replays the identical argmin) and re-runnable at scale — a
    resumed job regenerates byte-identical walks, so downstream
    embedding training (skip-gram over these node sequences — the
    DeepWalk/node2vec corpus) never sees a shifted corpus.

    Plan per step: one equi-join frontier⋈edges on the current node +
    one min_by hash-aggregate per walk (partial map-side combine, one
    exchange per step).  Work per step is O(frontier out-degree); at
    most n_steps rounds (the budget is part of the answer), each
    frontier checkpointed once and the output their union — never a
    re-checkpoint of the growing corpus.  Walk count scales without
    limit (walks partition by walk_id); hot high-out-degree nodes cost
    hash evaluations, never candidate materialization beyond the join
    row stream.  Biased (node2vec p/q) variants fit the same frame by
    weighting the hash, at the cost of carrying the previous node in
    the frontier."""
    e = edges.select("src", "dst").distinct().localCheckpointCut()
    fronts: list[DataFrame] = []

    def advance(front: DataFrame) -> DataFrame:
        fronts.append(front)
        nxt = F.col("step") + 1
        h = F.md5(F.concat_ws(":", F.lit(salt), F.col("walk_id"), nxt, F.col("dst")))
        return (
            front.join(e, front["node"] == e["src"])
            .groupBy("walk_id", "step")
            .agg(F.min_by("dst", h).alias("node"))
            .select("walk_id", nxt.alias("step"), "node")
        )

    last = fixpoint(
        starts.select("walk_id", F.lit(0).alias("step"), "node"),
        advance, F.lit(True), "deterministic_walks",
        max_rounds=n_steps, truncate=True,
    )
    return reduce(DataFrame.unionByName, fronts + [last])


def skipgram_pairs(walks: DataFrame, window: int = 2) -> DataFrame:
    """Skip-gram (center, context) pairs from walk sequences — the
    word2vec-over-graphs training set DeepWalk feeds to the embedding
    trainer.  walks: DataFrame[walk_id, step, node] (deterministic_walks
    output); returns DataFrame[center, context] with one row per ordered
    pair at distance 1..window within a walk.

    Plan: ONE exchange (partitionBy walk_id, orderBy step), then `window`
    lead() columns emit both directions per offset — no self-join, so no
    O(len^2) candidate blowup and no skew by walk length (which is
    bounded by n_steps anyway).  Output size is exactly
    sum_d 2*(len-d) rows per walk — linear in corpus size."""
    if window < 1:
        raise ValueError(f"window must be >= 1, got {window}")
    w = W.partitionBy("walk_id").orderBy("step")
    cols = [F.lead("node", d).over(w).alias(f"_c{d}")
            for d in range(1, window + 1)]
    base = walks.select("node", *cols)
    parts = []
    for d in range(1, window + 1):
        c = F.col(f"_c{d}")
        parts.append(base.where(c.isNotNull()).select(
            F.col("node").alias("center"), c.alias("context")))
        parts.append(base.where(c.isNotNull()).select(
            c.alias("center"), F.col("node").alias("context")))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def bfs_distances_tagged(
    edges: DataFrame, sources: DataFrame, max_iter: int = 50
) -> DataFrame:
    """Per-source hop distances: _frontier_bfs tagged by source —
    returns DataFrame[src, node, dist] for every (source, reachable
    node) pair.  One frontier loop runs ALL sources at once, so the
    round count is max eccentricity over sources, not sources x rounds;
    the caller sizes `sources` (the L-landmark trade)."""
    seeds = sources.select(F.col("node").alias("tag"), "node")
    return _frontier_bfs(edges, seeds, max_iter).select(
        F.col("tag").alias("src"), "node", "dist")


def harmonic_centrality(
    edges: DataFrame, landmarks: DataFrame, max_iter: int = 50
) -> DataFrame:
    """Landmark-approximated harmonic centrality: for each node, the sum
    of 1/d(landmark -> node) over the landmark set (self-distances
    excluded).  With landmarks = all nodes this is exact harmonic
    centrality (inbound form); at scale the caller samples landmarks —
    the standard estimator, whose error is controlled by |landmarks|,
    not graph size.  Returns DataFrame[node, harmonic:double].

    Cost: one tagged multi-source BFS (per-round work proportional to
    the union frontier) + one aggregate; nothing quadratic in nodes."""
    d = bfs_distances_tagged(edges, landmarks, max_iter=max_iter)
    return (
        d.where(F.col("dist") > 0)
        .groupBy("node")
        .agg(F.sum(F.lit(1.0) / F.col("dist")).alias("harmonic"))
    )


def anf_reach(
    edges: DataFrame, rounds: int = 2, n_hashes: int = 4
) -> DataFrame:
    """Approximate neighborhood function (ANF — Palmer/Gibbons/Faloutsos
    KDD'02; HyperANF is the HLL refinement): for every node an estimate
    of |{u : v reaches u in <= k hops}| for k = 0..rounds, via
    Flajolet-Martin bitmasks propagated along out-edges.  THE web-scale
    reach/diameter algorithm: exact k-hop reach needs the transitive
    closure (quadratic rows); ANF needs one 8-byte mask per (node, salt)
    and ONE join + bit_or aggregation per round, so measuring "how much
    of the graph is within k hops" costs k scans of the edge list.
    The rounds run on ckpt.fixpoint; each round's checkpointed state
    yields the snapshot for its k.

    Mask algebra (all native integer ops, deterministic, replayed
    verbatim by the q_anf oracle):
      seed     mask_s(v) = 1 << rho(h_s(v)), rho = trailing zeros of the
               shared cross-engine hash (_hash_u32, md5-based), h=0
               capped at bit 31;
      round    mask_s(v) |= bit_or of mask_s(u) over edges (v, u);
      estimate b = index of the lowest UNSET bit; FM says E[b] ~
               log2(0.77351 * n), so est = 2^(mean_s b) / 0.77351.

    Returns DataFrame[node, k, bits_sum, est]: `bits_sum` = integer sum
    of b over the salts (the exact, hashable quantity the oracle
    checks), `est` the double FM estimate derived from it."""
    mcols = [f"m{s}" for s in range(n_hashes)]
    e, masks = _distinct_edges_and_nodes(edges)
    for s, mc in enumerate(mcols):
        h = _hash_u32(F.concat_ws(":", F.lit(f"anf{s}"), F.col("node")))
        lowbit = h.bitwiseAND(-h)
        rho = F.when(h == 0, F.lit(31)).otherwise(F.bit_count(lowbit - 1))
        # 2^rho as an exact double->long cast (rho <= 31, far below the
        # 2^53 exactness bound; shiftleft takes only a literal shift)
        masks = masks.withColumn(
            mc, F.pow(F.lit(2.0), rho.cast("double")).cast("long")
        )

    def snapshot(m: DataFrame, k: int) -> DataFrame:
        b_exprs = []
        for mc in mcols:
            lowz = (F.col(mc) + 1).bitwiseAND(F.bitwise_not(F.col(mc)))
            b_exprs.append(F.bit_count(lowz - 1))
        bits_sum = sum(b_exprs[1:], b_exprs[0])
        return m.select(
            "node",
            F.lit(k).alias("k"),
            bits_sum.cast("bigint").alias("bits_sum"),
            (F.pow(F.lit(2.0), bits_sum / F.lit(float(n_hashes)))
             / F.lit(0.77351)).alias("est"),
        )

    states: list[DataFrame] = []

    def spread(cur: DataFrame) -> DataFrame:
        states.append(cur)
        contrib = e.join(cur, e["dst"] == cur["node"]).select(
            F.col("src").alias("node"), *mcols
        )
        return (
            cur.unionByName(contrib)
            .groupBy("node")
            .agg(*[F.bit_or(mc).alias(mc) for mc in mcols])
        )

    last = fixpoint(masks, spread, F.lit(True), "anf_reach",
                    max_rounds=rounds, truncate=True)
    return reduce(DataFrame.unionByName,
                  [snapshot(m, k) for k, m in enumerate(states + [last])])


def _hash_u32(col) -> "F.Column":
    """First 8 hex chars of md5 as a non-negative int64 — the shared
    cross-engine uniform hash (DuckDB: CAST('0x'||substr(md5(x),1,8) AS
    BIGINT))."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")


def unigram_slot_table(
    vocab: DataFrame, power: float = 0.75, resolution: int = 1 << 16
) -> DataFrame:
    """Quantize a frequency table into a SLOT TABLE for O(1) categorical
    sampling: vocab DataFrame[node, freq] -> DataFrame[slot:long,
    node], where node i owns max(1, floor(freq_i^power / W * resolution))
    consecutive slots.  A uniform draw `h mod n_slots` equi-joined on
    `slot` then samples ~ freq^power — the word2vec negative-sampling
    distribution — with quantization error <= 1/resolution per node (plus
    the one-slot floor for rare nodes).

    This is the alias-table job done with TWO window cumsums and an
    explode — pure relational ops, so the construction (a) runs
    distributed for vocabularies that don't fit a driver, and (b) replays
    verbatim in SQL for the oracle.  Slot ids are assigned in node order,
    making the table deterministic."""
    w = vocab.select(
        "node", F.pow(F.col("freq").cast("double"), F.lit(power)).alias("w"))
    total = w.agg(F.sum("w").alias("tw"))
    sized = w.crossJoin(F.broadcast(total)).select(
        "node",
        F.greatest(
            F.lit(1),
            F.floor(F.col("w") / F.col("tw") * F.lit(resolution)),
        ).cast("long").alias("n_slots"),
    )
    win = W.orderBy("node")
    # global cumsum window: single-partition over the VOCAB (node-scale,
    # not corpus-scale); for >>1e8-node vocabularies swap in the
    # distributed prefix sum from operators/ordering.py
    lo = sized.select(
        "node", "n_slots",
        (F.sum("n_slots").over(win) - F.col("n_slots")).alias("lo"),
    )
    exploded = lo.select(
        "node", "lo",
        F.posexplode(F.sequence(F.lit(0), F.col("n_slots") - 1)).alias(
            "_i", "_off"),
    )
    return exploded.select(
        (F.col("lo") + F.col("_off")).alias("slot"), "node")


def negative_samples(
    pairs: DataFrame, vocab: DataFrame, k: int = 5,
    power: float = 0.75, resolution: int = 1 << 16, salt: str = "neg",
) -> DataFrame:
    """Deterministic word2vec negative sampling: for each (center,
    context) pair draw `k` negatives ~ freq^power via the quantized slot
    table — returns DataFrame[center, context, j:int, negative].

    draw_j = md5(salt:center:context:j) mod n_slots, equi-joined on the
    slot table: one broadcast-able join, O(pairs * k) rows, no per-row
    Python, replayable in SQL.  Duplicate input pairs draw the SAME
    negatives (the hash sees only the pair values) — determinism over
    independence, the discipline that makes re-runs byte-identical.
    Draws that collide with the pair's own center/context are dropped
    rather than redrawn (a bounded, documented undercount; resampling
    loops would be data-dependent rounds)."""
    n_slots = unigram_slot_table(vocab, power, resolution).persist()
    total = n_slots.count()  # materializes the (vocab-scale) table too
    j = F.posexplode(F.sequence(F.lit(1), F.lit(k))).alias("_p", "j")
    drawn = pairs.select(
        "center", "context", j
    ).select(
        "center", "context", F.col("j").cast("int").alias("j"),
        F.pmod(
            _hash_u32(F.concat_ws(
                ":", F.lit(salt), F.col("center"), F.col("context"),
                F.col("j"))),
            F.lit(total),
        ).alias("slot"),
    )
    out = (
        drawn.join(F.broadcast(n_slots), "slot")
        .where((F.col("node") != F.col("center"))
               & (F.col("node") != F.col("context")))
        .select("center", "context", "j", F.col("node").alias("negative"))
    )
    return out


def clustering_coefficient(edges: DataFrame) -> DataFrame:
    """edges: DataFrame[a, b] undirected -> DataFrame[node, deg, n_tri,
    coef]: local clustering coefficient 2*tri / (deg*(deg-1)) in
    FIXED-POINT (floor((2*tri*10^4) div (deg*(deg-1))) / 10^4 — integer
    arithmetic end to end, then one exact int/10^4 double division, so
    the value is bit-identical across engines; the same determinism
    discipline as pagerank_fixedpoint, avoiding the half-up-vs-half-
    even double-rounding divergence entirely).  deg<2 nodes get 0.0.
    Rides the degree-oriented triangle enumeration, so the per-node
    wedge work stays ~sqrt(|E|) even on power-law graphs; the remaining
    cost is two aggregations and one join on the node domain."""
    canon = (
        edges.select(
            F.least("a", "b").alias("u"), F.greatest("a", "b").alias("v")
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpointCut()
    )
    deg = (
        canon.select(F.col("u").alias("node"))
        .unionByName(canon.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("deg"))
    )
    tri = _oriented_triangles(canon)
    corners = (
        tri.select(F.col("src").alias("node"))
        .unionByName(tri.select(F.col("x").alias("node")))
        .unionByName(tri.select(F.col("y").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("n_tri"))
    )
    base = deg.join(corners, "node", "left").select(
        "node", "deg", F.coalesce("n_tri", F.lit(0)).alias("n_tri")
    )
    return base.select(
        "node",
        "deg",
        "n_tri",
        F.when(
            F.col("deg") >= 2,
            F.expr("(2 * n_tri * 10000) div (deg * (deg - 1))")
            .cast("double") / 10000.0,
        )
        .otherwise(F.lit(0.0))
        .alias("coef"),
    )


def _edge_support(canon: DataFrame) -> DataFrame:
    """Per-CANONICAL-edge triangle support over canonical edge set
    `canon` (checkpointed): [u, v, support].  Edges in no triangle are
    ABSENT (join with coalesce 0 at the call site)."""
    tri = _oriented_triangles(canon)
    legs = (
        tri.select(F.least("src", "x").alias("u"),
                   F.greatest("src", "x").alias("v"))
        .unionByName(tri.select(F.least("src", "y").alias("u"),
                                F.greatest("src", "y").alias("v")))
        .unionByName(tri.select(F.least("x", "y").alias("u"),
                                F.greatest("x", "y").alias("v")))
    )
    return legs.groupBy("u", "v").agg(F.count("*").alias("support"))


def ktruss_peel(
    edges: DataFrame, k: int, rounds: int | None = None,
    max_rounds: int = 10_000,
) -> DataFrame:
    """k-truss: the maximal subgraph whose every edge closes >= k-2
    triangles WITHIN the subgraph — the edge-level strengthening of the
    k-core (cohesive communities that survive hub removal).  edges:
    DataFrame[a, b] undirected; returns DataFrame[u, v, support] —
    surviving canonical edges with their support in the SURVIVING
    subgraph.

    rounds=None (production default): peel to CONVERGENCE — the state
    is the surviving edge set annotated with its support, each round
    drops edges under k-2 and recomputes support via the degree-oriented
    triangle enumeration, and the loop stops once no edge is under k-2,
    so unknown peel depth at 100x scale cannot silently return a
    superset (same discipline as kcore_peel, VERDICT r02 item 1); past
    `max_rounds` it raises.  rounds=<int>: exactly that many peel rounds
    — the oracle-facing mode (q_ktruss unrolls the identical rounds in
    SQL with the NAIVE a<b<c triangle join, cross-checking the
    orientation algebra).  Either way the output support is the support
    within the survivor set.

    Cost: one triangle enumeration per round on an ever-shrinking edge
    set — the round count is the truss peel depth (typically small; a
    pathological triangle-chain cascade is the deep case, pinned in
    tests)."""
    if k < 3:
        raise ValueError("k-truss needs k >= 3 (k-2 >= 1)")
    canon = (
        edges.select(
            F.least("a", "b").alias("u"), F.greatest("a", "b").alias("v")
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpointCut()
    )

    def with_support(c: DataFrame) -> DataFrame:
        return c.join(_edge_support(c), ["u", "v"], "left").select(
            "u", "v", F.coalesce("support", F.lit(0)).alias("support")
        )

    def peel(s: DataFrame) -> DataFrame:
        return with_support(s.where(F.col("support") >= k - 2).select("u", "v"))

    return fixpoint(
        with_support(canon), peel, F.col("support") < k - 2, "ktruss_peel",
        max_rounds=max_rounds if rounds is None else rounds,
        truncate=rounds is not None,
    )


def betweenness_approx(
    edges: DataFrame,
    sources: DataFrame,
    directed: bool = False,
    max_iter: int = 50,
) -> DataFrame:
    """Landmark-sampled betweenness centrality (Brandes): run the exact
    dependency accumulation from the `sources` sample only, so the
    score is the exact betweenness restricted to those roots — the
    standard estimator (scale by N/|S| for an unbiased full-graph
    estimate; the raw restricted sum is returned so callers control the
    scaling).  edges: [src, dst]; sources: [node];
    returns DataFrame[node, score] for nodes with nonzero dependency —
    sources themselves (endpoints) excluded per Brandes.

    Two level-synchronous phases, both all-sources-at-once (the tagged
    frontier trick bfs_distances_tagged uses, so rounds = max
    eccentricity over the sample, not |S| x rounds):

      forward   per (source, node): shortest-path distance AND path
                count sigma — sigma is INTEGER (sum over same-level
                predecessors), deterministic across partitionings.
      backward  per level, deepest first: delta(v) = sum over
                successors w one level deeper of
                sigma(v)/sigma(w) * (1 + delta(w)) — one join per
                level on the two adjacent level slices.

    The ratios make delta a float whose cross-engine summation order
    is not fixed — which is WHY this operator is registry rows-only
    (same class as HLL): the pytest gate replays exact Brandes in
    Python instead.  sigma is bigint: path counts can overflow past
    ~9e18 on adversarially dense DAGs — at that count the estimator is
    meaningless anyway; document, don't mask.

    Scale shape: per-round work proportional to the frontier /
    level-slice out-degree, one checkpoint action per forward round
    (ckpt.fixpoint; it raises past `max_iter`); the backward loop reads
    only two adjacent level slices per step."""
    e = edges.select("src", "dst").where(
        F.col("src") != F.col("dst")
    ).distinct()
    if not directed:
        e = e.unionByName(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        ).distinct()
    e = e.localCheckpointCut()

    def expand(s: DataFrame) -> DataFrame:
        front = s.where("fresh")
        nxt = (
            front.join(e, front["node"] == e["src"])
            .groupBy("bsrc", F.col("dst").alias("node"))
            .agg(F.min(F.col("dist") + 1).alias("dist"),
                 F.sum("sigma").alias("sigma"))
            .join(s.select("bsrc", "node"), ["bsrc", "node"], "left_anti")
        )
        return s.withColumn("fresh", F.lit(False)).unionByName(
            nxt.withColumn("fresh", F.lit(True)))

    init = sources.select(F.col("node").alias("bsrc")).distinct().select(
        "bsrc",
        F.col("bsrc").alias("node"),
        F.lit(0).alias("dist"),
        F.lit(1).cast("long").alias("sigma"),
        F.lit(True).alias("fresh"),
    )
    state = fixpoint(
        init, expand, F.col("fresh"), "betweenness forward BFS",
        max_rounds=max_iter,
    ).drop("fresh")

    maxd = state.agg(F.max("dist")).first()[0] or 0
    spark = edges.sparkSession
    empty = spark.createDataFrame(
        [], "bsrc string, node string, delta double"
    )
    # per-level slices only: each round joins the ADJACENT deeper
    # level's delta slice, and only that round's contrib is
    # checkpointed — checkpointing a growing accumulated union every
    # level would be O(depth^2) checkpoint I/O for no reason
    level_deltas: list = []
    prev = empty  # the delta slice of level lvl+1
    for lvl in range(maxd - 1, -1, -1):
        vside = state.where(F.col("dist") == lvl).select(
            "bsrc", F.col("node").alias("v"), F.col("sigma").alias("sv")
        )
        wside = (
            state.where(F.col("dist") == lvl + 1)
            .select("bsrc", F.col("node").alias("w"),
                    F.col("sigma").alias("sw"))
            .join(
                prev.select("bsrc", F.col("node").alias("w"), "delta"),
                ["bsrc", "w"],
                "left",
            )
            .select(F.col("bsrc").alias("wbsrc"), "w", "sw",
                    F.coalesce("delta", F.lit(0.0)).alias("dw"))
        )
        contrib = (
            vside.join(e, vside["v"] == e["src"])
            .join(
                wside,
                (F.col("bsrc") == F.col("wbsrc")) & (e["dst"] == wside["w"]),
            )
            .select(
                "bsrc",
                F.col("v").alias("node"),
                (
                    F.col("sv").cast("double") / F.col("sw")
                    * (F.lit(1.0) + F.col("dw"))
                ).alias("part"),
            )
            .groupBy("bsrc", "node")
            .agg(F.sum("part").alias("delta"))
            .localCheckpointCut()
        )
        level_deltas.append(contrib)
        prev = contrib

    delta = empty
    for part in level_deltas:
        delta = delta.unionByName(part)
    return (
        delta.join(
            state.where(F.col("dist") == 0).select("bsrc", "node"),
            ["bsrc", "node"],
            "left_anti",
        )
        .groupBy("node")
        .agg(F.sum("delta").alias("score"))
    )


def neighbor_sample(
    edges: DataFrame, k: int, salt: str = "ns"
) -> DataFrame:
    """GraphSAGE-style deterministic neighbor sampling: for every src
    keep the k out-neighbors minimizing md5(salt:src:dst) ->
    DataFrame[src, dst, rank] (rank 1..k in hash order).  The hash IS
    the sampler (uniform over neighbors, reseeded by `salt`), and the
    same determinism contract as deterministic_walks: resumable jobs
    regenerate byte-identical minibatch neighborhoods, and the DuckDB
    oracle replays the identical argmin.  One window shuffle on src;
    hub nodes cost hash evaluations, never a candidate blowup — the
    sample bounds every downstream fanout at k."""
    if k < 1:
        raise ValueError("k must be >= 1")
    e = edges.select("src", "dst").where(
        F.col("src") != F.col("dst")
    ).distinct()
    h = F.md5(F.concat_ws(":", F.lit(salt), "src", "dst"))
    w = W.partitionBy("src").orderBy(h)
    return (
        e.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("src", "dst", "rank")
    )


def sample_fanout(
    edges: DataFrame,
    seeds: DataFrame,
    fanouts: list[int],
    salt: str = "ns",
) -> DataFrame:
    """Layered minibatch neighborhood sampling (the GraphSAGE fanout
    schedule): from `seeds` [node], sample fanouts[0] neighbors, then
    fanouts[1] neighbors of THOSE, ... -> DataFrame[layer, src, dst,
    rank] (layer 1-based).  Each layer is one semi-join restricting the
    presampled ranks to the current frontier — the global
    neighbor_sample ranking is computed ONCE and reused across layers,
    so the whole schedule costs one window shuffle plus a semi-join per
    layer, and a node sampled at two layers contributes the SAME
    neighbor set (deterministic minibatches).  Frontier growth is
    bounded by prod(fanouts) x |seeds| by construction."""
    if not fanouts:
        raise ValueError("fanouts must be non-empty")
    ranked = neighbor_sample(
        edges, max(fanouts), salt
    ).localCheckpointCut()
    frontier = seeds.select(F.col("node").alias("src")).distinct()
    outs = []
    for layer, k in enumerate(fanouts, start=1):
        sampled = ranked.where(F.col("rank") <= k).join(
            frontier, "src", "left_semi"
        )
        outs.append(
            sampled.select(
                F.lit(layer).alias("layer"), "src", "dst", "rank"
            ).localCheckpointCut()
        )
        frontier = sampled.select(F.col("dst").alias("src")).distinct()
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


def ego_network(
    edges: DataFrame,
    seeds: DataFrame,
    hops: int,
    directed: bool = False,
    max_nodes: int | None = None,
) -> DataFrame:
    """K-hop ego network: the edge set INDUCED on every node within
    `hops` of a seed (undirected reach by default) -> DataFrame[src,
    dst] of original-direction edges with both endpoints in the ball.
    The serving-side subgraph extraction for "show me the neighborhood
    of entity X" — the ball is bfs_distances within `hops` (distances
    dropped), followed by one induction semi-join per endpoint.

    max_nodes: optional hard cap — a hub seed at 10^12 edges can own a
    ball of millions; beyond the cap the operator raises rather than
    silently materializing it (the caller picks sampling instead:
    sample_fanout is the bounded alternative)."""
    e = edges.select("src", "dst").where(
        F.col("src") != F.col("dst")
    ).distinct().localCheckpointCut()
    walk = e if directed else e.unionByName(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    ball = bfs_distances(walk, seeds, max_iter=hops).select("node")
    if max_nodes is not None and ball.limit(max_nodes + 1).count() > max_nodes:
        raise ValueError(
            f"ego ball exceeds max_nodes={max_nodes}; use sample_fanout "
            "for a bounded neighborhood"
        )
    return (
        e.join(ball.select(F.col("node").alias("src")), "src", "left_semi")
        .join(ball.select(F.col("node").alias("dst")), "dst", "left_semi")
        .select("src", "dst")
    )


def modularity_parts(edges: DataFrame, labels: DataFrame) -> DataFrame:
    """Per-community modularity decomposition, ALL-INTEGER: for each
    community c over the canonical undirected edge set,
        q_num(c) = 4*m*e_c - deg_c^2
    so that modularity Q = sum(q_num) / (4*m^2) — one exact-integer
    numerator per community and a single float division the CALLER
    performs (modularity_score), keeping every distributed aggregate
    order-independent and hash-comparable across engines (the
    pagerank_fixedpoint discipline applied to community scoring).

    edges: [a, b] undirected; labels: [node, label] (e.g.
    label_propagation or connected_components output).  Returns
    DataFrame[label, n_nodes, e_intra, deg_sum, q_num].  m rides the
    plan as a broadcast one-row aggregate — never a driver collect.
    Overflow: |q_num| <= 4m^2, so bigint holds any graph to m ~ 10^9
    edges per community partition; beyond that, scale the decomposition
    per partition slice."""
    canon = (
        edges.select(
            F.least("a", "b").alias("u"), F.greatest("a", "b").alias("v")
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpointCut()
    )
    lab = labels.select("node", "label")
    deg = (
        canon.select(F.col("u").alias("node"))
        .unionByName(canon.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("deg"))
    )
    per_label = (
        deg.join(lab, "node")
        .groupBy("label")
        .agg(
            F.count("*").alias("n_nodes"),
            F.sum("deg").alias("deg_sum"),
        )
    )
    intra = (
        canon.join(
            lab.select(F.col("node").alias("u"),
                       F.col("label").alias("lu")), "u"
        )
        .join(
            lab.select(F.col("node").alias("v"),
                       F.col("label").alias("lv")), "v"
        )
        .where(F.col("lu") == F.col("lv"))
        .groupBy(F.col("lu").alias("label"))
        .agg(F.count("*").alias("e_intra"))
    )
    m_row = canon.agg(F.count("*").alias("m"))
    return (
        per_label.join(intra, "label", "left")
        .crossJoin(F.broadcast(m_row))
        .select(
            "label",
            "n_nodes",
            F.coalesce("e_intra", F.lit(0)).alias("e_intra"),
            "deg_sum",
            (
                4 * F.col("m") * F.coalesce("e_intra", F.lit(0))
                - F.col("deg_sum") * F.col("deg_sum")
            ).alias("q_num"),
        )
    )


def modularity_score(edges: DataFrame, labels: DataFrame) -> float:
    """Scalar modularity Q = sum(q_num) / (4*m^2) — the one float
    division, driver-side, over the integer decomposition."""
    parts = modularity_parts(edges, labels)
    canon = edges.select(
        F.least("a", "b").alias("u"), F.greatest("a", "b").alias("v")
    ).where(F.col("u") != F.col("v")).distinct()
    row = parts.agg(F.sum("q_num").alias("num")).crossJoin(
        canon.agg(F.count("*").alias("m"))
    ).first()
    if not row["m"]:
        return 0.0
    return row["num"] / (4.0 * row["m"] * row["m"])
