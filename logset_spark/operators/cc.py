"""Stage 3 — canonicalization via connected components over alias edges.

The reference never needs this (rdflib graphs are tiny and single-process);
at 10^12 turns duplicate-node merging is a distributed CC problem
(BASELINE.json north_star: "connected-components union over
GraphFrames-style iterative DataFrame self-joins").  No graphframes jar in
this sandbox, so CC is implemented directly as iterative DataFrame
self-joins.

Algorithm: min-label propagation with path-halving — each round every node
adopts min(own label, neighbors' labels), then labels chase their own
parents (label <- label[label]).  Halving shortcuts labels that point at
nodes already holding smaller ones, but the global minimum can still
advance only one hop per round along a path, so rounds are bounded by
(longest shortest path to the minimum) + 1 <= n, not by log(diameter);
entity-alias graphs are near-star-shaped, so 2-4 rounds in practice.
The loop runs on ckpt.fixpoint with the node count as its cap: one
origin-cut checkpoint per round (the Catalyst lineage trap, SURVEY §4)
whose action also counts the changed labels.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..ckpt import fixpoint  # also registers df.localCheckpointCut
from ..session import local_frame


def _bidirect(edges: DataFrame) -> DataFrame:
    e = edges.select(F.col("src"), F.col("dst"))
    return e.unionByName(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))


# Driver-path ceiling, shared by CC, SCC, topo levels and the closure:
# below it the edge list collects to the driver and an exact union-find /
# Tarjan / Kahn / BFS runs in microseconds, while the iterative DataFrame
# loops cost ~0.5s of scheduling per round regardless of size.  250k
# edges x ~(2 python str objects + dict slots) ≈ low hundreds of MB of
# driver heap worst-case — a safe spike on any sane driver.  (2M edges
# was flagged as a multi-GB spike right at the threshold: ~100 B/row of
# payload is dwarfed by CPython object overhead.)
SMALL_GRAPH_EDGES = 250_000


def _driver_side_cc(edges: DataFrame) -> DataFrame:
    """Union-find on the driver for small alias graphs.  The iterative
    DataFrame loop below costs ~0.5s of scheduling latency per round no
    matter how small the data is; below SMALL_GRAPH_EDGES the whole edge
    list fits in driver memory trivially and a collect + union-find is
    both faster and exactly equivalent (same min-label semantics).  The
    result is an Arrow-built LocalRelation (session.local_frame): no
    Python worker."""
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for row in edges.collect():
        a, b = row[0], row[1]
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)  # min label wins
    out = [(n, find(n)) for n in parent]
    return local_frame(edges.sparkSession, out, "node string, component string")


def connected_components(
    edges: DataFrame, small_graph_edges: int | None = None
) -> DataFrame:
    """edges: DataFrame[src:string, dst:string] (undirected; self-loops ok)
    -> DataFrame[node:string, component:string] where component is the
    lexicographic min node of the component.  Isolated nodes only appear
    if present as a self-loop edge.

    Below `small_graph_edges` (default SMALL_GRAPH_EDGES) the computation
    runs driver-side (see _driver_side_cc); above it, the distributed
    min-label-propagation loop engages — the alias graph over *distinct
    surface forms* is many orders of magnitude smaller than the transcript
    table, so the driver path covers everything up to dictionary scales
    where the iterative loop's per-round cost is actually amortized."""
    # checkpoint the INPUT first: union/bidirect below scans it multiple
    # times within one action, which would re-run the whole upstream plan
    # (extraction, fuzzy linking) once per branch.
    edges = edges.localCheckpointCut()
    limit = SMALL_GRAPH_EDGES if small_graph_edges is None else small_graph_edges
    if edges.limit(limit + 1).count() <= limit:
        return _driver_side_cc(edges)
    e = _bidirect(edges).where(F.col("src") != F.col("dst")).distinct()
    e = e.localCheckpointCut()

    def step(labels: DataFrame) -> DataFrame:
        # candidate label per node from each neighbor's current label; the
        # old label rides the min-groupBy as `old` (NULL on neighbor rows)
        labels = labels.select("node", "component")
        nbr = e.join(labels.withColumnRenamed("node", "dst"), "dst").select(
            F.col("src").alias("node"), "component",
            F.lit(None).cast("string").alias("old"),
        )
        new_labels = (
            labels.withColumn("old", F.col("component"))
            .unionByName(nbr)
            .groupBy("node")
            .agg(F.min("component").alias("component"), F.max("old").alias("old"))
        )
        # path halving: component <- label(component)
        parent = new_labels.select(
            F.col("node").alias("component"), F.col("component").alias("grand")
        )
        return new_labels.join(parent, "component", "left").select(
            "node", F.coalesce("grand", "component").alias("component"), "old"
        )

    labels = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .union(edges.where(F.col("src") == F.col("dst")).select(F.col("src").alias("node")))
        .distinct()
        .withColumn("component", F.col("node"))
    )
    return fixpoint(
        labels, step, F.col("component") != F.col("old"), "connected_components"
    ).select("node", "component")


def cc_incremental(
    assignment: DataFrame,
    new_edges: DataFrame,
    **cc_kwargs,
) -> DataFrame:
    """Incremental connected-components maintenance: fold a batch of NEW
    edges into an existing [node, component] assignment without
    recomputing untouched components.

    This is the cross-batch canonicalization story at 10^12 turns: a new
    day of transcripts yields new alias edges; re-running CC over the
    full historical edge set is O(|E_total|) per batch, while the merge
    only needs O(|delta| + |affected components|):

      1. affected = components containing any endpoint of a new edge
         (two semi-join-shaped hops on the assignment — never the raw
         edge history);
      2. the existing assignment is replayed as STAR edges
         (component -> node) for the affected components only — an
         equivalence-preserving compression of all historical edges
         that converges in ~1 propagation round;
      3. connected_components runs over (affected stars UNION new
         edges); untouched rows pass through verbatim.

    Label semantics and stability: `component` must be a member node of
    its component (connected_components' min-node labels satisfy this).
    Untouched components keep their labels BYTE-IDENTICAL — downstream
    tables keyed on canonical ids don't churn when unrelated entities
    arrive.  Merged components relabel to the min over (old labels +
    new nodes), which equals the min member when the input labels are
    canonical min-nodes — so incremental == full recompute, which is
    exactly what q_cc_incremental's DuckDB oracle (full recompute over
    both batches) hash-checks, and what the pytest asserts against
    connected_components on the unioned edge set.

    cc_kwargs forward to connected_components (e.g. small_graph_edges=0
    to force the distributed loop)."""
    assignment = assignment.localCheckpointCut()
    new_edges = new_edges.localCheckpointCut()
    touched = (
        new_edges.select(F.col("src").alias("node"))
        .unionByName(new_edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    touched_comps = (
        assignment.join(touched, "node", "left_semi")
        .select("component")
        .distinct()
    )
    affected = assignment.join(
        touched_comps, "component", "left_semi"
    ).localCheckpointCut()
    untouched = assignment.join(touched_comps, "component", "left_anti")

    stars = affected.select(
        F.col("component").alias("src"), F.col("node").alias("dst")
    )
    merged = connected_components(
        stars.unionByName(new_edges.select("src", "dst")), **cc_kwargs
    )
    return untouched.unionByName(merged)


def same_as_triples(components: DataFrame) -> DataFrame:
    """node != component representative -> (node, sameAs, component)."""
    return components.where(F.col("node") != F.col("component")).select(
        F.col("node").alias("subj"),
        F.lit("sameAs").alias("pred"),
        F.col("component").alias("obj"),
    )
