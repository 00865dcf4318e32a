"""Blank-node skolemization via distributed color refinement.

Blank node labels are GRAPH-LOCAL: parsing the same catalog twice
yields `_:anon-1` vs `_:anon-57` for the same `[ ... ]` node, so a
union of the two loads carries every bnode structure twice and
`distinct()` can't see it.  rdflib exposes `Graph.skolemize()` for
exactly this; at warehouse scale the relabeling must be a DataFrame
job.

The canonical label is a Weisfeiler-Leman (1-WL) color: start every
node at a color derived from its own term (bnodes all start alike —
their label carries no information by definition), then refine for k
rounds, each round hashing the sorted multiset of (direction,
predicate, neighbor color) edge signatures around the node.  After k
rounds two bnodes share a color iff their k-hop neighborhoods are
indistinguishable — structurally identical parse products (nested
property lists, rdf collections) collapse to the same skolem IRI while
structurally different nodes separate (w.h.p. under md5).

Plan shape per round: explode each triple into two directed
half-edges, join neighbor colors (equi-join on the node key), then ONE
groupBy per node with collect_list -> array_sort -> md5 — all
JVM-side, linear in |E| per round, k rounds total (k=2 covers the
nesting depth real catalog bnodes have; deeper structures just need a
bigger k, it never needs to reach graph diameter because only
bnode-to-bnode chains propagate ambiguity).  The rounds run on
ckpt.fixpoint, one origin-cut checkpoint each.

Fixed rounds are SEMANTICS here (the k-hop guarantee), so the oracle
(q_skolem) unrolls the same k rounds in SQL — same signature strings,
same sort, same md5 — and hash-matches exactly.

Two modes, because collapsing is not always wanted:

* dedup=False (DEFAULT) — rdflib `Graph.skolemize()` parity: every
  bnode gets a unique IRI (color + original-label hash), stable within
  one load, no collapsing ever.  The default matches the parity
  target: rdflib never merges, so a single load's COUNT results are
  unchanged by skolemization.
* dedup=True — the explicit reload-dedup mode: structurally identical
  bnodes map to the SAME skolem IRI, so union-of-reloads dedups with a
  plain distinct().  This also merges identical bnodes WITHIN one load
  (two identical anonymous line items under one order collapse), which
  changes COUNTs — opt in only on the reload path.  Caveat, documented
  honestly: 1-WL cannot distinguish certain regular bnode-only
  structures (two disjoint equal-length cycles over one predicate
  refine identically), and those would conflate.  Real catalog bnodes
  are trees/lists (`[ ... ]` property lists, `( ... )` collections),
  where k-round WL is exact for nesting depth <= k.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..ckpt import fixpoint

SKOLEM_NS = "sk:"


def _is_bnode(col):
    return col.startswith("_:")


def _term_kind(col):
    """iri | literal | bnode, by this engine's term shapes (the same
    classification shacl's sh:nodeKind uses)."""
    is_bnode = _is_bnode(col)
    is_iri = col.rlike(r"^[A-Za-z][A-Za-z0-9_-]*:[^\s]+$") & ~is_bnode
    return (
        F.when(is_bnode, "bnode").when(is_iri, "iri").otherwise("literal")
    )


def wl_colors(
    triples: DataFrame, rounds: int = 2, structural: bool = False
) -> DataFrame:
    """DataFrame[node, color] for every term in subj/obj position.

    structural=False (skolemization): non-bnode terms are their own
    color (md5 of the term — stable across graphs); ONLY bnodes start
    uniform and differentiate through their neighborhoods over
    `rounds` refinement rounds.

    structural=True (summarization): EVERY node starts from its term
    KIND only (iri/literal/bnode) and refines structurally — two IRIs
    with the same k-hop neighborhood shape share a color regardless of
    their names.
    """
    if rounds < 1:
        raise ValueError("rounds must be >= 1")
    t = triples.select("subj", "pred", "obj")
    nodes = (
        t.select(F.col("subj").alias("node"))
        .unionByName(t.select(F.col("obj").alias("node")))
        .distinct()
    )
    init = (
        _term_kind(F.col("node"))
        if structural
        else F.when(_is_bnode(F.col("node")), F.lit("__bnode__")).otherwise(
            F.col("node")
        )
    )
    colors = nodes.select("node", F.md5(init).alias("color"))
    refinable = (
        F.lit(True) if structural else _is_bnode(F.col("node"))
    )
    # two directed half-edges per triple: the node sees (dir, pred, peer)
    out_half = t.select(
        F.col("subj").alias("node"), F.lit("o").alias("dir"),
        "pred", F.col("obj").alias("peer"),
    )
    in_half = t.select(
        F.col("obj").alias("node"), F.lit("i").alias("dir"),
        "pred", F.col("subj").alias("peer"),
    )
    half = out_half.unionByName(in_half)

    def refine(colors: DataFrame) -> DataFrame:
        peer_colors = colors.select(
            F.col("node").alias("peer"), F.col("color").alias("peer_color")
        )
        sigs = (
            half.join(peer_colors, "peer")
            .select(
                "node",
                F.concat_ws("|", "dir", "pred", "peer_color").alias("sig"),
            )
            .groupBy("node")
            .agg(
                F.md5(
                    F.array_join(F.array_sort(F.collect_list("sig")), ",")
                ).alias("sig_color")
            )
        )
        # isolated nodes (no edges) keep their previous color
        return colors.join(sigs, "node", "left").select(
            "node",
            F.when(
                refinable & F.col("sig_color").isNotNull(),
                F.col("sig_color"),
            )
            .otherwise(F.col("color"))
            .alias("color"),
        )

    return fixpoint(colors, refine, F.lit(True), "wl_colors",
                    max_rounds=rounds, truncate=True)


def skolemize(
    triples: DataFrame, rounds: int = 2, dedup: bool = False
) -> DataFrame:
    """Relabel every `_:` node to a deterministic skolem IRI.

    dedup=False (default): rdflib parity, `sk:<color>-<md5(label)>` —
    unique per original label, never collapses.  dedup=True: the
    explicit reload-dedup mode, `sk:<color>` — structurally identical
    bnodes collapse, within a load as well as across loads (see module
    docstring for the 1-WL caveat).  Non-bnode terms pass through
    untouched.
    """
    colors = wl_colors(triples, rounds)
    bn = colors.where(_is_bnode(F.col("node")))
    sk = (
        F.concat(F.lit(SKOLEM_NS), F.col("color"))
        if dedup
        else F.concat(
            F.lit(SKOLEM_NS), F.col("color"), F.lit("-"), F.md5(F.col("node"))
        )
    )
    mapping = bn.select("node", sk.alias("sk"))
    t = triples.select("subj", "pred", "obj")

    s_map = mapping.select(F.col("node").alias("subj"), F.col("sk").alias("s_sk"))
    o_map = mapping.select(F.col("node").alias("obj"), F.col("sk").alias("o_sk"))
    return (
        t.join(s_map, "subj", "left")
        .join(o_map, "obj", "left")
        .select(
            F.coalesce("s_sk", "subj").alias("subj"),
            "pred",
            F.coalesce("o_sk", "obj").alias("obj"),
        )
    )


def summarize_graph(triples: DataFrame, rounds: int = 1) -> DataFrame:
    """WL-bisimulation graph summary: the quotient graph over color
    classes — DataFrame[src_color, pred, dst_color, n_edges,
    n_src_nodes, n_dst_nodes].

    Schema discovery over a schemaless triple warehouse: nodes that
    play the same structural role (same k-hop neighborhood shape)
    collapse into one summary node, and the summary edge says "N
    class-A nodes point via p at class-B nodes".  At rounds=1 classes
    are (in/out predicate-multiset) roles — the classic characteristic-
    set summary; higher rounds refine toward full bisimulation.  The
    summary is ontology-scale output from one linear pass over the
    edges (wl_colors structural mode) plus ONE groupBy — safe to
    collect, feed to ANALYZE-style planners, or diff between dataset
    versions.
    """
    colors = wl_colors(triples, rounds, structural=True)
    t = triples.select("subj", "pred", "obj")
    s_col = colors.select(
        F.col("node").alias("subj"), F.col("color").alias("src_color")
    )
    o_col = colors.select(
        F.col("node").alias("obj"), F.col("color").alias("dst_color")
    )
    return (
        t.join(s_col, "subj")
        .join(o_col, "obj")
        .groupBy("src_color", "pred", "dst_color")
        .agg(
            F.count("*").alias("n_edges"),
            F.countDistinct("subj").alias("n_src_nodes"),
            F.countDistinct("obj").alias("n_dst_nodes"),
        )
    )
