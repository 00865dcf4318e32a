"""Vocabulary: the logset:/dcat:-style ontology recast over transcripts.

The reference binds RDF namespaces and an ontology of LogSet / ConcreteLog /
LogSeries classes with describedBy / partOf relations (PK:src/graph.py,
PK:etc/logset#.ttl — see SURVEY.md §0 for the citation scheme).  Per the
north rule those become conv -> turn -> tool -> entity edges.  There is no
runtime schema machinery: the vocabulary is a static module of predicate
constants plus native-Column URI minting helpers (whole-stage codegen'd,
never Python-side).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# --- namespaces (string prefixes standing in for rdflib Namespace bindings) --
NS_CONV = "conv:"     # a conversation  (~ logset:LogSet, a dcat:Dataset)
NS_TURN = "turn:"     # a single turn   (~ logset:ConcreteLog, a dcat:Distribution)
NS_TOOL = "tool:"     # a tool          (~ logset:LogSeries — the abstract series)
NS_ENT = "ent:"       # a canonical entity URI (linking target)
NS_MENTION = "m:"     # an unlinked surface-form mention
NS_ROLE = "role:"

# --- predicates ---------------------------------------------------------------
HAS_TURN = "hasTurn"          # conv -> turn           (~ dcat:distribution)
PART_OF = "partOf"            # turn -> conv           (~ logset:partOf containment)
HAS_ROLE = "hasRole"          # turn -> role:<r>
AT_TIME = "atTime"            # turn -> ISO-8601 ts    (~ temporal extent dates)
USED_TOOL = "usedTool"        # turn -> tool:<t>       (~ logset:isInstanceOf / describedBy)
MENTIONS = "mentions"         # turn -> ent:/m:<e>
FOLLOWED_BY = "followedBy"    # turn -> next turn in the same conv
SAME_AS = "sameAs"            # ent -> canonical ent (canonicalization output)
IN_SESSION = "inSession"      # turn -> session:<conv>/<k>
REFERS_TO = "refersTo"        # anaphoric turn -> its resolved antecedent entity

STRUCTURAL_PREDS = (HAS_TURN, PART_OF, HAS_ROLE, AT_TIME, USED_TOOL, FOLLOWED_BY)

# Compact predicate codes for the stage-1 checkpoint: a tinyint in flight
# beats a repeated 7-9 byte string across the 10^12-row shuffles; the full
# string is reconstructed only after the final layout shuffle.  subj is
# likewise derivable: every stage-1 triple's subject is the turn URI except
# hasTurn (conv URI); sameAs (ent->ent) never passes through the slim path.
PRED_CODES = {
    HAS_TURN: 1, PART_OF: 2, HAS_ROLE: 3, AT_TIME: 4,
    USED_TOOL: 5, MENTIONS: 6, FOLLOWED_BY: 7, IN_SESSION: 8,
    REFERS_TO: 9,
}
_CODE_TO_PRED = [p for p, _ in sorted(PRED_CODES.items(), key=lambda kv: kv[1])]
# element_at below indexes a dense array literal, so codes MUST be exactly
# 1..N — a gap would silently shift every predicate above it and corrupt
# reconstructed triples.  Fail at import time instead.
assert sorted(PRED_CODES.values()) == list(range(1, len(PRED_CODES) + 1)), (
    "PRED_CODES must be contiguous 1..N for the element_at lookup"
)


def pred_from_code(code) -> Column:
    """tinyint code -> predicate string, as a native array-literal lookup."""
    c = F.col(code) if isinstance(code, str) else code
    return F.element_at(F.array(*[F.lit(p) for p in _CODE_TO_PRED]), c.cast("int"))

# Triple-table schema (§1.2): provenance columns ride along for partition
# pruning + lineage; conf carries the linking score.
TRIPLE_COLS = ("subj", "pred", "obj", "conv_id", "turn_idx", "ts", "conf")


def conv_uri(conv_id: Column | str) -> Column:
    return F.concat(F.lit(NS_CONV), F.col(conv_id) if isinstance(conv_id, str) else conv_id)


def turn_uri(conv_id: Column | str, turn_idx: Column | str) -> Column:
    c = F.col(conv_id) if isinstance(conv_id, str) else conv_id
    t = F.col(turn_idx) if isinstance(turn_idx, str) else turn_idx
    return F.concat_ws("/", F.concat(F.lit(NS_TURN), c), t.cast("string"))


def tool_uri(tool: Column | str) -> Column:
    t = F.col(tool) if isinstance(tool, str) else tool
    return F.concat(F.lit(NS_TOOL), F.lower(F.trim(t)))


def role_uri(role: Column | str) -> Column:
    r = F.col(role) if isinstance(role, str) else role
    return F.concat(F.lit(NS_ROLE), F.lower(F.trim(r)))


def mention_uri(form: Column) -> Column:
    return F.concat(F.lit(NS_MENTION), form)


def iso_ts(ts: Column | str) -> Column:
    """xsd:dateTime-style literal: ISO-8601 with a T separator, UTC."""
    t = F.col(ts) if isinstance(ts, str) else ts
    return F.date_format(t, "yyyy-MM-dd'T'HH:mm:ss")
