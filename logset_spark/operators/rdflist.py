"""Distributed RDF collection (rdf:List) expansion and emission.

The Turtle parser (sources/turtle.py) expands `( e1 e2 ... )` into the
standard rdf:first/rdf:rest/rdf:nil chain, and rdflib users read those
chains back with its Collection helper — one Python object at a time.
At warehouse scale the chains live inside a triples TABLE, so the
recovery must be a DataFrame job:

* list_expand — (head, pos, member) for every chain, via POINTER
  DOUBLING over the rest-links.  rdf:rest is functional (one successor
  per cell), so the jump table J_k = {(a, b): b is exactly 2^k rest
  steps from a} stays LINEAR in the number of cells every round (the
  self-join square of a functional relation is functional), and the
  reach table R grows only toward the true output size.  O(log L)
  shuffle rounds for the longest list L — a 10^6-element list costs 20
  equi-join rounds, never a 10^6-round sequential walk and never an
  O(L^2) closure.  Runs to convergence on ckpt.fixpoint, raising past
  `max_rounds` (a fixed `rounds` mode exists for the unrolled SQL
  oracle, same discipline as kcore_peel).
* list_emit — the inverse: (head, pos, member) rows -> chain triples,
  minting cell URIs deterministically as `<head>/cell-<pos>` (pos 0
  reuses the head term itself so emitted chains start at their head,
  round-tripping list_expand).  Pure column ops + one lead() window
  per head partition; no Python.

Heads are cells that are not the object of any rdf:rest triple —
i.e. list entry points; interior cells a malformed graph leaves
unreachable are NOT silently promoted (a cell that IS referenced by
rest stays interior even if its referrer lacks rdf:first).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..ckpt import fixpoint  # also registers df.localCheckpointCut

FIRST, REST, NIL = "rdf:first", "rdf:rest", "rdf:nil"


def list_expand(
    triples: DataFrame,
    rounds: int | None = None,
    max_rounds: int = 30,
    heads_filter: DataFrame | None = None,
) -> DataFrame:
    """triples[subj, pred, obj] -> DataFrame[head, pos:int, member].

    pos is 0-based order within the list.  rounds=None (production)
    runs pointer doubling to convergence and raises if a list is still
    growing after `max_rounds` doublings; an explicit `rounds` replays
    exactly that many doublings — the oracle-facing mode (covers lists
    up to 2^rounds cells).

    `heads_filter`: optional one-column DataFrame of head terms; only
    those lists expand.  The consumers that want a handful of
    ontology-scale lists out of a graph full of DATA lists (property
    chains, hasKey) pass their axiom objects here so the reach table —
    and, under convergence mode, the ROUND COUNT, which is tied to the
    longest *selected* list — never scale with
    unrelated instance lists.
    """
    # accept both the verbatim short form and the full-IRI spelling a
    # declared @prefix rdf: produces; cell/member terms stay RAW so the
    # caller's byte-level expectations survive.
    pcanon = vocab_canon(F.col("pred"))
    cells = triples.where(pcanon == FIRST).select(
        F.col("subj").alias("cell"), F.col("obj").alias("member")
    )
    rest = triples.where(
        (pcanon == REST) & (vocab_canon(F.col("obj")) != NIL)
    ).select(F.col("subj").alias("a"), F.col("obj").alias("b"))

    heads = cells.join(
        rest.select(F.col("b").alias("cell")), "cell", "left_anti"
    ).select("cell")
    if heads_filter is not None:
        want = heads_filter.select(
            F.col(heads_filter.columns[0]).alias("cell")
        ).distinct()
        heads = heads.join(F.broadcast(want), "cell", "left_semi")

    # R: head reaches `cell` in `pos` rest-steps; J: exact 2^k jumps.
    j = rest.select("a", "b", F.lit(1).alias("step")).localCheckpointCut()

    def double(r: DataFrame) -> DataFrame:
        nonlocal j
        stepped = r.join(j, r["cell"] == j["a"]).select(
            "head",
            F.col("b").alias("cell"),
            (F.col("pos") + F.col("step")).alias("pos"),
            F.lit(True).alias("new"),
        )
        # square the jump table: 2^k + 2^k = 2^(k+1); functional, so
        # this stays <= one row per cell and SHRINKS as chains end.
        j = (
            j.alias("x")
            .join(j.alias("y"), F.col("x.b") == F.col("y.a"))
            .select(
                F.col("x.a").alias("a"),
                F.col("y.b").alias("b"),
                (F.col("x.step") + F.col("y.step")).alias("step"),
            )
            .localCheckpointCut()
        )
        return r.withColumn("new", F.lit(False)).unionByName(stepped)

    # converged once no head extends any further.  (A rest-cycle
    # unreachable from any head keeps j nonempty forever but never feeds
    # R, so the loop still terminates.)
    r = fixpoint(
        heads.select(F.col("cell").alias("head"), "cell", F.lit(0).alias("pos")),
        double, F.col("new"), "list_expand",
        max_rounds=max_rounds if rounds is None else rounds,
        truncate=rounds is not None,
    )
    return (
        r.join(cells, "cell")
        .select("head", F.col("pos").cast("int").alias("pos"), "member")
    )


def list_emit(members: DataFrame, head_col: str = "head",
              pos_col: str = "pos", member_col: str = "member") -> DataFrame:
    """(head, pos, member) -> chain triples [subj, pred, obj].

    Cell terms: the head term itself at pos 0, `<head>/cell-<pos>`
    after — deterministic, so emit is idempotent and
    list_expand(list_emit(x)) == x (pytest round-trip).  Lists must be
    dense 0..n-1 per head; gaps raise at action time via an ANSI
    assertion column rather than silently mis-chaining.
    """
    base = members.select(
        F.col(head_col).alias("head"),
        F.col(pos_col).cast("int").alias("pos"),
        F.col(member_col).alias("member"),
    )
    w = Window.partitionBy("head").orderBy("pos")
    # the density assertion lives INSIDE the subj expression so column
    # pruning can never optimize the check away: any emitted triple for
    # a gapped list raises instead of silently mis-chaining.
    cell = F.when(
        F.col("pos") == F.row_number().over(w) - 1,
        F.when(F.col("pos") == 0, F.col("head")).otherwise(
            F.concat(F.col("head"), F.lit("/cell-"), F.col("pos").cast("string"))
        ),
    ).otherwise(
        F.raise_error(
            F.concat(F.lit("non-dense list positions for head "), F.col("head"))
        )
    )
    cur = base.select(
        "head", "pos", "member", cell.alias("cell")
    ).withColumn("next_cell", F.lead("cell").over(w))
    firsts = cur.select(
        F.col("cell").alias("subj"), F.lit(FIRST).alias("pred"),
        F.col("member").alias("obj"),
    )
    rests = cur.select(
        F.col("cell").alias("subj"), F.lit(REST).alias("pred"),
        F.coalesce(F.col("next_cell"), F.lit(NIL)).alias("obj"),
    )
    return firsts.unionByName(rests)


# Well-known vocabulary namespaces.  The Turtle loader expands DECLARED
# prefixes to full IRIs and passes undeclared prefixed names through
# verbatim, so the same ontology arrives as `owl:sameAs` from one
# catalog and `http://www.w3.org/2002/07/owl#sameAs` from another.
# Rule engines match the canonical short form; vocab_canon folds the
# full-IRI spelling onto it so a catalog that properly declares
# @prefix owl:/rdf:/rdfs: is not silently inert (the repo rule:
# silent misinterpretation is worse than rejection).
WELL_KNOWN_NS = {
    "rdf:": "http://www.w3.org/1999/02/22-rdf-syntax-ns#",
    "rdfs:": "http://www.w3.org/2000/01/rdf-schema#",
    "owl:": "http://www.w3.org/2002/07/owl#",
}


def vocab_canon(col):
    """Column: terms under a well-known namespace -> canonical prefixed
    form (`http://...owl#sameAs` -> `owl:sameAs`); every other term
    passes through unchanged.  Namespaces are mutually exclusive
    prefixes, so the chained whens are order-independent."""
    out = col
    for short, full in WELL_KNOWN_NS.items():
        out = F.when(
            out.startswith(full),
            F.concat(F.lit(short), F.substring(out, len(full) + 1, 1 << 20)),
        ).otherwise(out)
    return out


def vocab_canon_triples(triples: DataFrame) -> DataFrame:
    """Normalize all three positions of a triple frame.  Used at rule-
    engine entry points; note the ASSERTED rows also come out in
    canonical spelling — one graph, one spelling per vocab term."""
    return triples.select(
        vocab_canon(F.col("subj")).alias("subj"),
        vocab_canon(F.col("pred")).alias("pred"),
        vocab_canon(F.col("obj")).alias("obj"),
    )
