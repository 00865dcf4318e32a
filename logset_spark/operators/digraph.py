"""Directed-graph structure operators: strongly connected components
and topological levels (Kahn peel with cycle detection).

Why the engine needs them: the KG the pipeline builds is DIRECTED
(followedBy, partOf, usedTool, sameAs-canonicalized mention edges), and
two recurring questions over a directed warehouse are "which nodes form
mutually-reachable clusters" (SCC — cyclic tool-call loops, circular
partOf contamination, alias cycles that undirected CC would over-merge)
and "what is a valid dependency order / where are the cycles" (topo
levels over partOf/followedBy DAGs).  The reference's rdflib graphs
answer both by in-memory traversal; at 10^12 edges they are iterative
DataFrame problems with the same two scale traps the closure/CC loops
already solve: Catalyst lineage blowup and driver-side convergence
decisions — both loops run on ckpt.fixpoint (one origin-cut checkpoint
action per round that also reads the changed count, never a data
collect).

SCC algorithm — block refinement with min-label propagation:
  maintain a partition of the unassigned nodes into BLOCKS (initially
  one block).  Each outer round, within every block in parallel:
    fwd(v) = min node id that reaches v on a path inside the block
    bwd(v) = min node id v reaches on a path inside the block
  both computed by ONE tagged min-label propagation (tag 0 along the
  edges, tag 1 along them reversed — the tagged-state shape of
  _frontier_bfs in graph.py) with POINTER HALVING (lab <- min(lab,
  lab[lab]), as in cc.py), so an outer round runs one fixpoint loop
  and no driver threads.  Halving helps only when labels point at
  nodes that already hold smaller labels; a chain whose minimum sits
  at its tail still moves that label one hop per round, so a
  propagation may take up to n rounds over n nodes — the cap, taken
  from the (tag, node) row count, never trips.
  Every node with fwd(v) == bwd(v) == m is assigned scc = m (m reaches
  v and v reaches m, so v is in SCC(m) — sound unconditionally).  The
  survivors re-block on the key (block, fwd, bwd): nodes of one SCC
  always share that key (members have identical inside-block reach
  sets — any u~v path inside an SCC stays inside the SCC), so an SCC
  is never split; a block whose nodes all share the key yet is NOT a
  single SCC cannot exist at fixpoint (the block's min node m always
  carries (m, m) — if every node shares that key, every node both
  reaches and is reached by m, i.e. the block IS SCC(m)).  Cross-block
  edges can never join two nodes of one SCC again and are dropped, so
  the edge set shrinks every round.  Outer rounds needed = refinement
  depth of the condensation — 1 for any DAG whose (min-ancestor,
  min-descendant) pairs are distinct (e.g. every monotone chain), and
  small in practice for condensations that arise from entity graphs;
  max_rounds is a loud backstop, never a silent truncation.

Oracle discipline: q_scc / q_topo replay the exact semantics in DuckDB
via WITH RECURSIVE reachability on fixture-scale graphs, value-hashing
the whole assignment.
"""

from __future__ import annotations

import itertools

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..ckpt import fixpoint  # also registers df.localCheckpointCut
from ..session import local_frame
from .cc import SMALL_GRAPH_EDGES


# --------------------------------------------------------------------------
# driver-side exact algorithms for small graphs
# --------------------------------------------------------------------------


def _driver_side_scc(edges: DataFrame) -> DataFrame:
    """Iterative Tarjan (explicit stack — no recursion limit) over a
    collected edge list; scc label = lexicographic min node of the SCC,
    matching the distributed loop's semantics exactly."""
    adj: dict[str, list[str]] = {}
    nodes: set[str] = set()
    for row in edges.collect():
        s, d = row[0], row[1]
        nodes.add(s)
        nodes.add(d)
        if s != d:
            adj.setdefault(s, []).append(d)

    index: dict[str, int] = {}
    low: dict[str, int] = {}
    on_stack: set[str] = set()
    stack: list[str] = []
    comp: dict[str, str] = {}
    counter = 0

    for root in sorted(nodes):
        if root in index:
            continue
        # (node, iterator position) work stack
        work: list[tuple[str, int]] = [(root, 0)]
        while work:
            v, pi = work.pop()
            if pi == 0:
                index[v] = low[v] = counter
                counter += 1
                stack.append(v)
                on_stack.add(v)
            recurse = False
            succ = adj.get(v, ())
            for i in range(pi, len(succ)):
                w = succ[i]
                if w not in index:
                    work.append((v, i + 1))
                    work.append((w, 0))
                    recurse = True
                    break
                if w in on_stack:
                    low[v] = min(low[v], index[w])
            if recurse:
                continue
            if low[v] == index[v]:
                members = []
                while True:
                    w = stack.pop()
                    on_stack.discard(w)
                    members.append(w)
                    if w == v:
                        break
                label = min(members)
                for w in members:
                    comp[w] = label
            if work:
                parent = work[-1][0]
                low[parent] = min(low[parent], low[v])
    return local_frame(
        edges.sparkSession, sorted(comp.items()), "node string, scc string"
    )


def _driver_side_topo(
    edges: list[tuple[str, str]], on_cycle: str
) -> list[tuple[str, int | None]]:
    """Kahn peel on the driver: level = longest path from any root."""
    indeg: dict[str, int] = {}
    adj: dict[str, list[str]] = {}
    for s, d in edges:
        indeg.setdefault(s, 0)
        indeg[d] = indeg.get(d, 0) + 1
        adj.setdefault(s, []).append(d)
    level: dict[str, int] = {}
    frontier = sorted(n for n, k in indeg.items() if k == 0)
    lvl = 0
    while frontier:
        nxt = []
        for n in frontier:
            level[n] = lvl
            for w in adj.get(n, ()):
                indeg[w] -= 1
                if indeg[w] == 0:
                    nxt.append(w)
        frontier = sorted(nxt)
        lvl += 1
    leftover = [n for n in indeg if n not in level]
    if leftover and on_cycle == "raise":
        raise ValueError(
            f"cycle detected: {len(leftover)} nodes on or downstream of a "
            f"cycle (e.g. {sorted(leftover)[:3]})"
        )
    return sorted(
        [(n, lvl) for n, lvl in level.items()]
        + [(n, None) for n in leftover]
    )


# --------------------------------------------------------------------------
# distributed SCC
# --------------------------------------------------------------------------


def _min_reach_labels(e: DataFrame, nodes: DataFrame) -> DataFrame:
    """Tagged min-label propagation to fixpoint along e (src -> dst),
    with pointer halving.  nodes: DataFrame[tag, node]; e:
    DataFrame[tag, src, dst], every endpoint present in nodes under the
    edge's tag, all edges inside one refinement block by construction.
    Returns DataFrame[tag, node, lab] where lab = min node id with a
    directed path to `node` (reflexive) over the edges of that tag.
    Tags never mix: every join and groupBy keys on the tag, so one loop
    runs independent propagations side by side and stops when all of
    them have settled.

    Invariant that makes halving sound: lab(v) is always an ancestor of
    v inside the block (init self; adoption moves labels one edge
    forward; lab(lab(v)) is an ancestor of an ancestor).  Halving never
    slows the plain one-hop-per-round propagation, which settles within
    (longest shortest path to the minimum ancestor) + 1 <= n rounds, so
    the fixpoint's row-count cap is never hit — though a chain whose
    minimum sits at its tail still needs one round per hop.

    One Spark action per round: the old label rides the union+groupBy
    as `olab` (each (tag, node) occurs exactly once in `labels`, so
    max(olab) recovers it; neighbor rows contribute NULL) and the
    changed count is read by the round's own checkpoint
    (ckpt.fixpoint)."""

    def step(labels: DataFrame) -> DataFrame:
        labels = labels.select("tag", "node", "lab")
        nbr = e.join(
            labels.select("tag", F.col("node").alias("src"), "lab"),
            ["tag", "src"],
        ).select(
            "tag",
            F.col("dst").alias("node"),
            "lab",
            F.lit(None).cast("string").alias("olab"),
        )
        stepped = (
            labels.select("tag", "node", "lab", F.col("lab").alias("olab"))
            .unionByName(nbr)
            .groupBy("tag", "node")
            .agg(F.min("lab").alias("lab"), F.max("olab").alias("olab"))
        )
        parent = labels.select(
            "tag", F.col("node").alias("lab"), F.col("lab").alias("grand")
        )
        return stepped.join(parent, ["tag", "lab"], "left").select(
            "tag", "node",
            F.least(F.col("lab"), F.coalesce("grand", "lab")).alias("lab"),
            "olab",
        )

    return fixpoint(
        nodes.withColumn("lab", F.col("node")), step,
        ~F.col("lab").eqNullSafe(F.col("olab")), "SCC label propagation",
    ).select("tag", "node", "lab")


def scc(
    edges: DataFrame,
    max_rounds: int = 30,
    small_graph_edges: int | None = None,
) -> DataFrame:
    """edges: DataFrame[src:string, dst:string] directed ->
    DataFrame[node:string, scc:string]; scc = lexicographic min node of
    the strongly connected component.  Nodes appear iff present as an
    edge endpoint (singleton SCCs included).  See module docstring for
    the block-refinement algorithm and its soundness argument."""
    edges = edges.localCheckpointCut()
    limit = (
        SMALL_GRAPH_EDGES if small_graph_edges is None else small_graph_edges
    )
    if edges.limit(limit + 1).count() <= limit:
        return _driver_side_scc(edges)

    # tag 0 carries the edges forward (fwd labels), tag 1 reversed (bwd)
    fwd = (
        edges.select("src", "dst")
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )
    e = (
        fwd.select(F.lit(0).alias("tag"), "src", "dst")
        .unionByName(fwd.select(F.lit(1).alias("tag"),
                                F.col("dst").alias("src"),
                                F.col("src").alias("dst")))
        .localCheckpointCut()
    )
    refined = itertools.count()

    def refine(state: DataFrame) -> DataFrame:
        # state [node, blk, scc]: scc is set once a node is assigned;
        # unassigned nodes carry their refinement block key
        nonlocal e
        live = state.where(F.col("scc").isNull())
        if next(refined):  # blocks exist from the second round on
            # Edges whose endpoints landed in different blocks (or touch
            # an assigned node) can never witness an SCC again.
            blk = live.select("node", "blk")
            e = (
                e.join(blk.select(F.col("node").alias("src"),
                                  F.col("blk").alias("sblk")), "src")
                .join(blk.select(F.col("node").alias("dst"),
                                 F.col("blk").alias("dblk")), "dst")
                .where(F.col("sblk") == F.col("dblk"))
                .select("tag", "src", "dst")
                .localCheckpointCut()
            )
        labs = _min_reach_labels(e, live.select(
            F.explode(F.array(F.lit(0), F.lit(1))).alias("tag"), "node"))
        both = labs.groupBy("node").agg(
            F.max(F.when(F.col("tag") == 0, F.col("lab"))).alias("lab"),
            F.max(F.when(F.col("tag") == 1, F.col("lab"))).alias("blab"),
        )
        # re-block on (fwd, bwd); the old block is implied — edges never
        # cross blocks, so refining by the per-block labels refines the
        # old partition
        return state.where(F.col("scc").isNotNull()).unionByName(both.select(
            "node",
            F.concat_ws("\x1f", "lab", "blab").alias("blk"),
            F.when(F.col("lab") == F.col("blab"), F.col("lab")).alias("scc"),
        ))

    init = (
        edges.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col("dst").alias("node")))
        .distinct()
        .select("node", F.lit("").alias("blk"),
                F.lit(None).cast("string").alias("scc"))
    )
    out = fixpoint(init, refine, F.col("scc").isNull(),
                   "SCC block refinement", max_rounds=max_rounds)
    return out.select("node", "scc")


# --------------------------------------------------------------------------
# distributed topological levels
# --------------------------------------------------------------------------


def topo_levels(
    edges: DataFrame,
    max_rounds: int = 10_000,
    on_cycle: str = "raise",
    small_graph_edges: int | None = None,
) -> DataFrame:
    """edges: DataFrame[src:string, dst:string] directed ->
    DataFrame[node:string, level:int]; level = length of the LONGEST
    path from any root (in-degree-0 node) — the Kahn peel round at
    which the node's last prerequisite clears, i.e. the earliest
    schedulable wave in a dependency execution.  Deterministic (no
    tie-breaking needed: the level is a graph property).

    on_cycle='raise': any node on or downstream of a directed cycle
    (never peelable) raises loudly.  on_cycle='mark': those nodes are
    returned with level NULL — "no finite longest-path-from-root", and
    exactly the rows a cycle report wants.

    Scale shape: one ckpt.fixpoint round per peel level.  The state is
    every node with its level (NULL until peeled) and a `ready` flag —
    unpeeled with no edge from an unpeeled node — so a round assigns
    this level to the ready nodes and re-derives `ready`; the loop ends
    when none is ready: everything peeled, or only cycles (self-loops
    included) and their downstream remain.  Rounds = DAG depth — right
    for the shallow dependency DAGs (partOf/followedBy hierarchies) this
    engine stores; for path-shaped graphs of depth ~|V| use
    transitive_closure/bfs machinery instead (documented, not silently
    slow)."""
    if on_cycle not in ("raise", "mark"):
        raise ValueError("on_cycle must be 'raise' or 'mark'")
    edges = edges.localCheckpointCut()
    limit = (
        SMALL_GRAPH_EDGES if small_graph_edges is None else small_graph_edges
    )
    if edges.limit(limit + 1).count() <= limit:
        rows = [(r[0], r[1]) for r in edges.collect()]
        return local_frame(edges.sparkSession,
                           _driver_side_topo(rows, on_cycle),
                           "node string, level int")

    # self-loops stay in: a self-loop node blocks itself forever
    e = edges.select("src", "dst").distinct().localCheckpointCut()
    levels = itertools.count()

    def mark_ready(s: DataFrame) -> DataFrame:
        unpeeled = s.where(F.col("level").isNull()).select(
            F.col("node").alias("src"))
        blocked = (
            e.join(unpeeled, "src", "left_semi")
            .select(F.col("dst").alias("node"), F.lit(True).alias("blocked"))
            .distinct()
        )
        return s.join(blocked, "node", "left").select(
            "node", "level",
            (F.col("level").isNull() & F.col("blocked").isNull()).alias("ready"),
        )

    def peel(s: DataFrame) -> DataFrame:
        lvl = next(levels)
        return mark_ready(s.select(
            "node",
            F.when(F.col("ready"), F.lit(lvl)).otherwise(F.col("level")).alias("level"),
        ))

    nodes = (
        edges.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col("dst").alias("node")))
        .distinct()
        .withColumn("level", F.lit(None).cast("int"))
    )
    out = fixpoint(mark_ready(nodes), peel, F.col("ready"), "topo_levels",
                   max_rounds=max_rounds).select("node", "level")
    if on_cycle == "raise":
        sample = [r[0] for r in out.where(F.col("level").isNull()).limit(3).collect()]
        if sample:
            raise ValueError(
                f"cycle detected: nodes on or downstream of a directed "
                f"cycle (e.g. {sample})"
            )
    return out
