"""Stage 1 — triple extraction from transcripts.

The reference emits triples from hand-coded Python entity classes looping
over files one at a time (PK:src/handcoded.py; SURVEY §1.1).  Here:

* **structural triples** are pure native column expressions — URI minting
  via concat, next-turn edges via a lag/lead window.  Whole-stage codegen,
  zero Python.
* **mention detection** is a native column expression too: a
  regexp_extract_all tokenizer, a higher-order filter keeping candidate
  tokens, and an ISO-timestamp regexp_extract_all, returning
  array<struct<kind,form>> that explodes natively afterwards.  No Python
  worker runs anywhere in stage 1.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import vocab as V

MENTION_TYPE = T.ArrayType(
    T.StructType(
        [
            T.StructField("kind", T.StringType()),
            T.StructField("form", T.StringType()),
        ]
    )
)


def structural_triples(transcripts: DataFrame) -> DataFrame:
    """conv->hasTurn->turn, turn->partOf->conv, hasRole, atTime, usedTool,
    followedBy.  Mirrors ConcreteLog/LogSeries/partOf emission
    (PK:src/handcoded.py).

    Plan shape: ONE input scan + one conv_id window (for followedBy) ->
    array-of-(subj,pred,obj)-structs -> explode.  A naive per-predicate
    union would scan the transcript table once per predicate (6x I/O at
    10^12 turns); the explode form is a single narrow pass."""
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    next_u = F.lead(V.turn_uri("conv_id", "turn_idx")).over(w)
    return _structural_rows(transcripts, next_u).withColumn(
        "conf", F.lit(1.0))


def _structural_rows(transcripts: DataFrame, next_u) -> DataFrame:
    """Per-turn structural triples as (subj, pred, obj, conv_id, turn_idx,
    ts): one array of (subj,pred,obj) structs per turn, exploded, entries
    with a null obj dropped (no tool; `next_u` null = no followedBy — the
    stream passes a null column, having no cross-row state)."""
    t = transcripts.select(
        "conv_id",
        "turn_idx",
        "ts",
        V.conv_uri("conv_id").alias("conv_u"),
        V.turn_uri("conv_id", "turn_idx").alias("turn_u"),
        V.role_uri("role").alias("role_u"),
        V.iso_ts("ts").alias("iso"),
        V.tool_uri("tool").alias("tool_u"),
        next_u.alias("next_u"),
    )

    def e(subj, pred, obj):
        return F.struct(
            subj.alias("subj"), F.lit(pred).alias("pred"), obj.alias("obj")
        )

    entries = F.array(
        e(F.col("conv_u"), V.HAS_TURN, F.col("turn_u")),
        e(F.col("turn_u"), V.PART_OF, F.col("conv_u")),
        e(F.col("turn_u"), V.HAS_ROLE, F.col("role_u")),
        e(F.col("turn_u"), V.AT_TIME, F.col("iso")),
        e(F.col("turn_u"), V.USED_TOOL, F.col("tool_u")),  # null obj if no tool
        e(F.col("turn_u"), V.FOLLOWED_BY, F.col("next_u")),  # null obj if last
    )
    return t.select(
        "conv_id",
        "turn_idx",
        "ts",
        F.explode(F.filter(entries, lambda x: x["obj"].isNotNull())).alias("tr"),
    ).select(
        F.col("tr.subj").alias("subj"),
        F.col("tr.pred").alias("pred"),
        F.col("tr.obj").alias("obj"),
        "conv_id",
        "turn_idx",
        "ts",
    )


# Candidate-detector grammar: tokens are lowercase word chars with _ or -
# separators (entity/tool surfaces), matched on the LOWERED text; ISO
# timestamps are matched on the raw text with Python-re semantics: (?U)
# makes \d any Unicode decimal digit, and the word boundary is spelled out
# as Python's word class [\p{L}\p{N}_] — Java's (?U)\b would also count
# combining marks and connector punctuation as word chars, but not '²'.
TOKEN_SQL = r"([a-z][a-z0-9_-]*)"
ISO_SQL = (
    r"(?U)(?<![\p{L}\p{N}_])"
    r"(\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2})"
    r"(?![\p{L}\p{N}_])"
)
NAMELIKE_SQL = r"^[a-z]+[_-][a-z0-9_-]+$"

# Cap on the auxiliary surface set the candidate detector keeps: only
# dictionary surfaces the name-shape regex can NOT recognize (bare single
# words like "mainframe") need to reach the detector at all — typically a
# tiny fraction of the dictionary.  The set is inlined into the stage-1
# plan as an `isin` literal, so it is planned on the driver and shipped in
# every task.  On a 50,000-turn input (local[2], 4-vCPU host) 10,000
# twelve-letter surfaces cost no measurable time; 100,000 made the detect
# pass 2.5x slower (1.4 -> 3.5 s).
# Above the cap we stop collecting and fall back to emitting every token,
# letting the broadcast join classify (same rows, wider hits arrays
# through the stage-1 shuffle).
NON_NAMELIKE_CAP = 10_000


def non_namelike_surfaces(dictionary: DataFrame):
    """Normalized dictionary surfaces that the name-shape heuristic would
    miss.  Returns a set (usually small), or None when it exceeds
    NON_NAMELIKE_CAP — the caller must then run the detector in emit-all
    mode.  The driver never materializes more than the cap no matter how
    large the dictionary is."""
    from . import link as L

    cap = NON_NAMELIKE_CAP  # read at call time so tests can shrink it
    rows = (
        dictionary.select(L.normalize_form(F.col("surface")).alias("s"))
        .where(~F.col("s").rlike(NAMELIKE_SQL))
        .distinct()
        .limit(cap + 1)
        .collect()
    )
    if len(rows) > cap:
        return None
    return {r["s"] for r in rows if r["s"]}


def make_candidate_detector(spark, extra_surfaces: set[str] | None):
    """Vocabulary-light detector: a function text Column -> MENTION_TYPE
    Column holding every name-like token ('cand'), every token in
    `extra_surfaces` (non-name-like dictionary surfaces), then the ISO
    timestamps ('ts'), each list distinct in first-occurrence order.
    Entity-vs-unknown classification is decided downstream by the
    broadcast dictionary join (unified_stage1) — the join hit IS the
    membership test, so the full dictionary never crosses to the driver.

    One native expression: a regexp_extract_all per grammar regex, a
    higher-order filter for the keep rule — no Python worker runs.
    `extra_surfaces=None` = emit-ALL-tokens mode (dictionary had more
    non-name-like surfaces than NON_NAMELIKE_CAP); pair it with
    unified_stage1(prefiltered=False) so the join-side filter drops
    tokens that neither hit the dictionary nor look name-like.

    The keep rule tests the NORMALIZED token (stripping outer '_'/'-' is
    link.normalize_form restricted to the token charset) against the same
    name-shape regex the emit-all join-side filter applies to norm_form,
    and `extra_surfaces` holds normalized surfaces — so the two modes
    keep exactly the same tokens (parity asserted in
    tests/test_pipeline.py::test_detector_modes_agree).  Deciding on the
    raw token would diverge: 'mainframe-' normalizes to a dictionary
    surface but matches neither the raw-shape regex nor the set."""
    # sorted: the same set gives the same plan in every process
    extra = sorted(extra_surfaces) if extra_surfaces is not None else None

    def keep(tok):
        norm = F.regexp_replace(tok, r"^[_-]+|[_-]+$", "")
        namelike = norm.rlike(NAMELIKE_SQL)
        return namelike | norm.isin(extra) if extra else namelike

    def tagged(kind, forms):
        return F.transform(
            forms, lambda f: F.struct(F.lit(kind).alias("kind"), f.alias("form"))
        )

    def detect(text):
        text = F.coalesce(text, F.lit(""))  # null text -> no hits
        toks = F.array_distinct(
            F.regexp_extract_all(F.lower(text), F.lit(TOKEN_SQL), 1)
        )
        if extra is not None:
            toks = F.filter(toks, keep)
        isos = F.array_distinct(F.regexp_extract_all(text, F.lit(ISO_SQL), 1))
        return F.concat(tagged("cand", toks), tagged("ts", isos)).cast(
            MENTION_TYPE
        )

    return detect


def mentions(transcripts: DataFrame, detector) -> DataFrame:
    """Apply the detector and explode: (conv_id, turn_idx, ts, kind, form).

    Native end to end: the scan reads only text + keys, and the detector
    expression and the explode run in the same codegen'd task."""
    hits = transcripts.select(
        "conv_id", "turn_idx", "ts", detector(F.col("text")).alias("hits")
    )
    m = hits.select(
        "conv_id",
        "turn_idx",
        "ts",
        F.explode("hits").alias("hit"),
    )
    return m.select(
        "conv_id",
        "turn_idx",
        "ts",
        F.col("hit.kind").alias("kind"),
        F.col("hit.form").alias("form"),
    )


# followedBy skew bound: a window partitioned by conv_id alone sends a
# whole conversation to ONE sort task — a 10^7-turn agent transcript (the
# hot conv_ids the north rule calls out) becomes a straggler.  Chunking
# turn_idx bounds any conversation's contribution to a single task at
# TURN_CHUNK rows; the cross-chunk boundary edges come from a per-chunk
# summary table that is |turns|/TURN_CHUNK small.
TURN_CHUNK = 4096

# predicate-code value marking the PACKED per-turn checkpoint row (all six
# structural triples derive from it post-layout-shuffle); real predicate
# codes start at 1 (vocab.PRED_CODES)
TURN_PC = 0


def with_next_turn(
    base: DataFrame,
    chunk: int | None = None,
    col: str = "turn_u",
    out: str = "next_u",
) -> DataFrame:
    """Attach `out` = the next turn's `col` value within the conversation,
    without unbounded per-conv_id skew.  The pipeline leads the (4-byte)
    turn_idx itself (col="turn_idx", out="next_idx") so only ints ride the
    shuffle; the URI form is reconstructed post-layout-shuffle.

    Plan shape: ONE shuffle on (conv_id, chunk) — the window, the per-chunk
    boundary aggregate, and the boundary join all reuse that partitioning
    (Catalyst emits a single Exchange for the big side); the chunk-summary
    side is tiny.  Handles gaps in turn_idx (empty chunks) because the
    boundary lead() runs over chunks that actually exist."""
    if chunk is None:
        chunk = TURN_CHUNK  # read at call time so tests can shrink it
    w = Window.partitionBy("conv_id", "_chunk").orderBy("turn_idx")
    chunked = base.withColumn(
        "_chunk", F.floor(F.col("turn_idx") / chunk).cast("int")
    ).withColumn(out, F.lead(col).over(w))

    wb = Window.partitionBy("conv_id").orderBy("_chunk")
    bounds = (
        chunked.groupBy("conv_id", "_chunk")
        .agg(
            F.min_by(col, "turn_idx").alias("_first_v"),
            F.max("turn_idx").alias("_last_idx"),
        )
        .withColumn("_next_first_v", F.lead("_first_v").over(wb))
        .select("conv_id", "_chunk", "_next_first_v", "_last_idx")
    )
    return (
        chunked.join(bounds, ["conv_id", "_chunk"], "left")
        .withColumn(
            out,
            F.coalesce(
                out,
                F.when(F.col("turn_idx") == F.col("_last_idx"), F.col("_next_first_v")),
            ),
        )
        .drop("_chunk", "_next_first_v", "_last_idx")
    )


def unified_stage1(
    transcripts: DataFrame, detector, dictionary: DataFrame,
    prefiltered: bool = True, temporal: bool = False,
) -> DataFrame:
    """Single-pass stage 1: structural + exact-linked mention triples from
    ONE scan of the transcript table.

    Plan shape (the production path — SURVEY §3.2 stage 1):
      scan (text + keys only)
        -> native detector expression map-side (text never crosses a
           shuffle)
        -> ONE narrow shuffle: conv_id window for followedBy (rows carry
           keys + the small hits array, not text)
        -> array-of-(subj,pred,obj,kind,form) structs -> explode
        -> broadcast dictionary join (link.exact_link / _temporal)
    A two-leg union (structural_triples ∪ mentions) would scan the input
    twice — measured 2x slower at 32 cores.

    Output is the PACKED checkpoint row set:
      * ONE turn row per input turn (pc=TURN_PC): conv_id, turn_idx, ts,
        role, tool, next_idx — all six structural triples are functionally
        determined by these and are exploded only AFTER the final layout
        shuffle (pipeline._finisher), so neither the checkpoint write nor
        the dedup/layout shuffles ever carry the 6x structural row
        explosion or any URI strings;
      * one mention row per linked/unlinked mention (pc=MENTIONS): obj is
        the canonical URI / m:<form> / ts:<iso> literal, conf the link
        score, form_key (normalized surface) non-null marks mentions the
        fuzzy stage may still rewrite.
    On a memory-bandwidth-bound host this ~3x byte reduction through the
    hot write/shuffle paths is what moves N->4N scaling efficiency: the
    explode work it defers is pure codegen'd CPU, which scales with
    cores (scripts/hw_probe.py: cpu eff 0.93 vs mem eff 0.31)."""
    from . import link as L
    from .coref import anaphor_rlike

    base = transcripts.select(
        "conv_id",
        "turn_idx",
        "ts",
        "role",
        "tool",
        detector(F.col("text")).alias("hits"),
        # Anaphor flag for the opt-in coref stage (pipeline._coref_rows):
        # computed HERE because stage 1 is the only pass that sees text.
        # Native rlike (whole-stage codegen, no second UDF), one boolean
        # through the window shuffle and the checkpoint — always present
        # so the checkpoint schema never varies with pipeline flags.
        F.lower(F.col("text")).rlike(anaphor_rlike()).alias("is_anaphor"),
    )
    # lead the 4-byte turn_idx, not a turn URI: ints through the shuffle
    base = with_next_turn(base, col="turn_idx", out="next_idx")

    C = V.PRED_CODES
    turn_marker = F.array(
        F.struct(
            F.lit(TURN_PC).cast("tinyint").alias("pc"),
            F.lit(None).cast("string").alias("obj"),
            F.lit(None).cast("string").alias("form"),
        )
    )
    mention = F.transform(
        "hits",
        lambda h: F.struct(
            F.lit(C[V.MENTIONS]).cast("tinyint").alias("pc"),
            F.when(h["kind"] == "ts", F.concat(F.lit("ts:"), h["form"]))
            .otherwise(F.lit(None).cast("string"))
            .alias("obj"),
            F.when(h["kind"] != "ts", h["form"]).alias("form"),
        ),
    )
    entries = F.concat(turn_marker, mention)
    is_turn = F.col("tr.pc") == TURN_PC
    exploded = base.select(
        "conv_id", "turn_idx", "ts", "role", "tool", "next_idx", "is_anaphor",
        F.explode(entries).alias("tr"),
    ).select(
        "conv_id", "turn_idx", "ts",
        F.col("tr.pc").alias("pc"),
        F.col("tr.obj").alias("obj"),
        F.col("tr.form").alias("form"),
        # per-turn attributes ride ONLY the turn row (columnar nulls are
        # ~free on the mention rows)
        F.when(is_turn, F.col("role")).alias("role"),
        F.when(is_turn, F.col("tool")).alias("tool"),
        F.when(is_turn, F.col("next_idx")).alias("next_idx"),
        F.when(is_turn, F.col("is_anaphor")).alias("is_anaphor"),
    )
    # exact link: a broadcast dictionary join on the normalized surface
    # (time-valid aliases join with the validity interval as the residual;
    # mentions before a surface's first valid_from stay unlinked and flow
    # to the fuzzy stage).  keep_norm: norm_form becomes form_key below.
    link_exact = L.exact_link_temporal if temporal else L.exact_link
    joined = link_exact(exploded, dictionary, keep_norm=True)
    hit = F.col("canon_uri").isNotNull()
    if not prefiltered:
        # emit-all detector mode: the join is the membership test — drop
        # tokens that neither hit the dictionary nor look name-like
        # (exactly what the prefiltering detector drops in the normal mode).
        joined = joined.where(
            F.col("form").isNull() | hit | F.col("norm_form").rlike(NAMELIKE_SQL)
        )
    return joined.select(
        "conv_id",
        "turn_idx",
        "ts",
        "pc",
        F.coalesce("obj", "canon_uri", V.mention_uri(F.col("form"))).alias("obj"),
        F.when(F.col("form").isNull(), F.lit(1.0))
        .when(hit, F.col("score"))
        .otherwise(F.lit(0.0))
        .cast("float")
        .alias("conf"),
        F.when(F.col("form").isNotNull() & ~hit, F.col("norm_form")).alias("form_key"),
        "role",
        "tool",
        "next_idx",
        "is_anaphor",
    )

