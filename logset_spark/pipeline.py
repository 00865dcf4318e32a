"""End-to-end KG build: transcripts -> triples table, resumable.

Orchestrates SURVEY §3.2 lifecycle 1/2 as FOUR checkpointed stages, each
landing its output in the warehouse (no executor-memory persist anywhere —
at 10^12 turns the intermediate does not fit in cluster memory, and in the
sandbox the block-manager cache was the measured scaling bottleneck:
32 threads contending on cache writes + GC made local[32] *slower* than
local[8]).  Stage outputs double as the north rule's "checkpointed stage
manifests": a killed run resumes from the last completed stage, and within
stage 1 / stage 4 from the last completed partition.

  stage 1  extract+exact-link: ONE pass over transcripts
           (structural triples natively; native regex detector + explode +
           broadcast dictionary join for mentions) -> stage_triples,
           partitioned by conv_bucket, written mapper-direct (NO shuffle
           except the narrow followedBy window).
  stage 2  fuzzy: distinct unlinked forms (column-pruned read of
           stage_triples) -> MinHash-LSH vs dictionary -> links (tiny).
  stage 3  canonicalize: CC over dictionary ∪ fuzzy alias edges (the
           distinct-surface-form domain, orders of magnitude smaller than
           the transcript table) -> sameAs triples.
  stage 4  finalize: read stage_triples, rewrite unlinked mentions via a
           broadcast of links, union sameAs, dedup groupBy(s,p,o),
           repartition to (ts_day, conv_bucket) layout -> triples.

Wide ops on full-size data: the followedBy window (narrow cols), the
dedup groupBy, and the layout repartition — everything quadratic-ish
(fuzzy, CC) runs on the distinct-surface-form domain.
"""

from __future__ import annotations

import time
import uuid

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from . import vocab as V
from .operators import cc, extract, link, materialize
from .sources import tableio
from .sources.tableio import TableIO

STAGE_TRIPLES = "stage_triples"
STAGE1 = "extract_link"


def _stage_name(run_id: str) -> str:
    """Run-scoped checkpoint table name.  Scoping by run_id means a fresh
    run can never pick up stale buckets left by a previous run whose input
    no longer covers them (dynamic overwrite only replaces buckets present
    in the CURRENT input); resume-with-same-run_id still finds its own
    checkpoint.  The dir is removed on successful completion."""
    return f"{STAGE_TRIPLES}/run={run_id}"


def _write_stage1(io: TableIO, run_id: str, df: DataFrame) -> None:
    """Mapper-direct bucket-partitioned write: each scan task writes its
    rows straight into conv_bucket=N dirs — zero shuffle, full scan-side
    parallelism.  Dynamic partition overwrite keeps re-runs idempotent
    per bucket."""
    (
        df.withColumn(
            "conv_bucket",
            F.pmod(F.xxhash64(F.col("conv_id")), F.lit(io.n_buckets)).cast("int"),
        )
        .write.mode("overwrite")
        .partitionBy("conv_bucket")
        .parquet(io.path(_stage_name(run_id)))
    )


def _ambiguous_dict(dictionary: DataFrame) -> DataFrame:
    """Normalized dictionary rows whose surface maps to >1 canonical URI:
    (surface, cand, weight) with duplicate (surface, uri) collapsed to
    max weight.  Dimension-scale throughout."""
    norm = dictionary.select(
        link.normalize_form(F.col("surface")).alias("surface"),
        "canon_uri",
        "weight",
    )
    collapsed = norm.groupBy("surface", "canon_uri").agg(
        F.max("weight").alias("weight")
    )
    ncand = collapsed.groupBy("surface").agg(F.count("*").alias("n"))
    return collapsed.join(
        F.broadcast(ncand.where("n > 1")), "surface"
    ).select("surface", F.col("canon_uri").alias("cand"), "weight")


def _apply_disambiguation(stage1: DataFrame, amb_dict: DataFrame) -> DataFrame:
    """Stage 1.5: resolve ambiguous-surface mentions by conversation
    context (operators/disambig.py).  `stage1` is the packed row set with
    the ambiguous surfaces still UNLINKED (form_key set, obj = m:<form>);
    `amb_dict` the (surface, cand, weight) rows _ambiguous_dict built.

    Evidence = entities this conv linked through unambiguous surfaces
    (form_key null, obj an entity URI — not a turn row, not a ts:
    literal).  Winners rewrite obj/conf and clear form_key so the fuzzy
    stage never sees these forms.  All joins are conv-co-partitioned or
    dimension-broadcast; output schema is byte-identical to stage1's."""
    from .operators import disambig

    ev = stage1.where(
        F.col("form_key").isNull()
        & F.col("obj").isNotNull()
        & (F.col("conf") > 0)
        & ~F.col("obj").startswith("ts:")
    ).select("conv_id", F.col("obj").alias("entity"))
    ambm = (
        stage1.where(F.col("form_key").isNotNull())
        .select("conv_id", F.col("form_key").alias("surface"))
        .distinct()
        .join(F.broadcast(amb_dict), "surface")
    )
    won = disambig.conv_winners(ev, ambm)
    w = won.select(
        "conv_id",
        F.col("surface").alias("form_key"),
        F.col("canon_uri").alias("_dis_uri"),
        F.col("weight").alias("_dis_conf"),
    )
    # NOT broadcast: winners are (conv, surface)-scale — they grow with
    # the corpus.  The join shuffles on (conv_id, form_key), which AQE
    # plans against stage1's existing conv_bucket layout.
    out = stage1.join(w, ["conv_id", "form_key"], "left")
    hit = F.col("_dis_uri").isNotNull()
    return out.select(
        "conv_id",
        "turn_idx",
        "ts",
        "pc",
        F.when(hit, F.col("_dis_uri")).otherwise(F.col("obj")).alias("obj"),
        F.when(hit, F.col("_dis_conf").cast("float"))
        .otherwise(F.col("conf"))
        .alias("conf"),
        F.when(hit, F.lit(None).cast("string"))
        .otherwise(F.col("form_key"))
        .alias("form_key"),
        "role",
        "tool",
        "next_idx",
        "is_anaphor",
    )


def _fuzzy_links(
    spark: SparkSession, io: TableIO, run_id: str, dictionary: DataFrame,
    threshold: float, temporal: bool = False,
) -> DataFrame:
    """Stage 2 over the checkpoint: the stage_triples read is column-pruned
    to (form_key) + the null filter, so this scan ships two columns.

    With a temporal dictionary, forms that exactly equal a dictionary
    surface were left unlinked DELIBERATELY (the mention predates the
    alias) — fuzzy would instantly relink them at Jaccard 1.0, so they
    are anti-joined out of the candidate forms (fuzzy is a typo
    recoverer, not a validity override)."""
    forms = (
        io.read(spark, _stage_name(run_id))
        .where(F.col("form_key").isNotNull())
        .select(F.col("form_key").alias("form"))
        .distinct()
    )
    if temporal:
        surfaces = dictionary.select(
            link.normalize_form(F.col("surface")).alias("form")
        ).distinct()
        forms = forms.join(F.broadcast(surfaces), "form", "left_anti")
    return link.fuzzy_link(forms, dictionary, threshold=threshold)


def _same_as_triples(
    spark: SparkSession, links: DataFrame, dictionary: DataFrame
) -> DataFrame:
    """Stage 3: alias graph = dictionary (surface -> canon) ∪ fuzzy links
    (form -> canon); CC merges transitive aliases into ent->ent sameAs
    edges.  Exact-linked mentions contribute no extra edges (their
    (surface, canon) pairs are already dictionary rows), so the graph is
    bounded by |dictionary| + |distinct fuzzy forms| — never scans the
    transcript-scale tables.  A sort-marker prefix makes ent: URIs win the
    min-label election so the representative is never a surface form.

    Surfaces enter the graph NORMALIZED — the same normalize_form the
    exact/fuzzy linkers apply (fuzzy form_keys already are).  Raw surfaces
    would split one linked surface across several nodes: dictionary rows
    ('GitHub' -> ent:A, 'github' -> ent:B) both exact-link to the elected
    winner, so sameAs(B, A) must be emitted — which only happens if both
    rows collapse to one 'github' node here."""
    pairs = (
        dictionary.select(
            link.normalize_form(F.col("surface")).alias("src"),
            F.col("canon_uri").alias("dst"),
        )
        .union(links.select(F.col("form").alias("src"), F.col("canon_uri").alias("dst")))
        .distinct()
    )
    comps = cc.connected_components(_mark_alias_pairs(pairs))
    return _assignment_to_sameas(comps)


def _mark_alias_pairs(pairs: DataFrame) -> DataFrame:
    """(src=surface form, dst=canon ent URI) -> marked CC edges: the
    '1#'/'0#' sort-marker prefixes make ent: URIs win the min-label
    election so a component representative is never a surface form."""
    return pairs.select(
        F.concat(F.lit("1#"), "src").alias("src"),
        F.concat(F.lit("0#"), "dst").alias("dst"),
    )


def _assignment_to_sameas(comps: DataFrame) -> DataFrame:
    """[node, component] over marked alias nodes -> ent->ent sameAs
    triple rows in the pipeline's 7-column schema."""
    return (
        cc.same_as_triples(comps)
        .where(F.col("subj").startswith("0#"))  # ent->ent merges only
        .select(
            F.expr("substring(subj, 3)").alias("subj"),
            F.lit(V.SAME_AS).alias("pred"),
            F.expr("substring(obj, 3)").alias("obj"),
        )
        .withColumn("conv_id", F.lit(None).cast("string"))
        .withColumn("turn_idx", F.lit(None).cast("int"))
        .withColumn("ts", F.lit(None).cast("timestamp"))
        .withColumn("conf", F.lit(1.0))
    )


def _alias_state_latest(spark: SparkSession, state_path: str):
    """-> (version:int, assignment DataFrame) of the newest COMPLETE
    epoch under state_path, or (0, None).  Epochs are zero-padded
    `v=NNNNNN` dirs; only dirs whose write finished (_SUCCESS present)
    are eligible, so a crash mid-write leaves the previous epoch
    authoritative."""
    sc = spark.sparkContext
    hconf = sc._jsc.hadoopConfiguration()
    jvm = sc._jvm
    path = jvm.org.apache.hadoop.fs.Path(state_path)
    fs = path.getFileSystem(hconf)
    if not fs.exists(path):
        return 0, None
    best = 0
    for st in fs.listStatus(path):
        name = st.getPath().getName()
        if not (st.isDirectory() and name.startswith("v=")):
            continue
        try:
            v = int(name[2:])
        except ValueError:
            continue
        if v > best and fs.exists(
            jvm.org.apache.hadoop.fs.Path(st.getPath(), "_SUCCESS")
        ):
            best = v
    if best == 0:
        return 0, None
    return best, spark.read.parquet(f"{state_path}/v={best:06d}")


def merge_aliases_incremental(
    spark: SparkSession,
    new_pairs: DataFrame,
    state_path: str,
    keep_epochs: int = 2,
    **cc_kwargs,
) -> DataFrame:
    """Fold NEW alias pairs (surface, canon_uri) into a persistent
    canonicalization assignment WITHOUT recomputing the historical alias
    graph — the dictionary-growth twin of the batch pipeline's stage 3.

    At 10^9-entity dictionary scale a daily alias drop is tiny next to
    the accumulated graph; cc.cc_incremental confines the merge to the
    components the new pairs actually touch (star edges + delta), so
    per-drop cost is O(|delta| + |affected components|), and untouched
    canonical ids are BYTE-STABLE across drops — downstream tables keyed
    on them never churn for unrelated entities.  The state is an
    epoch-versioned [node, component] parquet (newest _SUCCESS-complete
    `v=NNNNNN` wins, previous epoch kept as the crash fallback; the
    state is also always re-derivable by a full stage-3 run, so losing
    it degrades to a recompute, never to wrong answers).

    Returns the FULL refreshed sameAs triple set (7-column pipeline
    schema) — a superset-or-equal of the previous epoch's, since alias
    additions only ever merge components.  cc_kwargs forward to the
    underlying connected_components (tests force the distributed
    loop)."""
    pairs = new_pairs.select(
        link.normalize_form(F.col("surface")).alias("src"),
        F.col("canon_uri").alias("dst"),
    ).distinct()
    version, state = _alias_state_latest(spark, state_path)
    marked = _mark_alias_pairs(pairs)
    if state is None:
        merged = cc.connected_components(marked, **cc_kwargs)
    else:
        # only genuinely new pairs enter the delta: a re-submitted drop
        # (at-least-once upstream) must be a no-op
        known = state.select(
            F.col("node").alias("src"), F.col("component").alias("dst")
        )
        delta = marked.join(
            state.select(F.col("node").alias("src")), "src", "left_anti"
        ).unionByName(
            marked.join(known.select("src"), "src", "left_semi").join(
                known, ["src", "dst"], "left_anti"
            )
        )
        merged = cc.cc_incremental(state, delta, **cc_kwargs)
    merged = merged.localCheckpoint(eager=True)
    merged.write.mode("overwrite").parquet(f"{state_path}/v={version + 1:06d}")
    # prune epochs older than the fallback window
    sc = spark.sparkContext
    jvm = sc._jvm
    root = jvm.org.apache.hadoop.fs.Path(state_path)
    fs = root.getFileSystem(sc._jsc.hadoopConfiguration())
    versions = sorted(
        int(st.getPath().getName()[2:])
        for st in fs.listStatus(root)
        if st.isDirectory() and st.getPath().getName().startswith("v=")
    )
    for v in versions[: max(0, len(versions) - keep_epochs)]:
        fs.delete(jvm.org.apache.hadoop.fs.Path(f"{state_path}/v={v:06d}"), True)
    return _assignment_to_sameas(merged)


def _finalize(
    spark: SparkSession,
    io: TableIO,
    run_id: str,
    links: DataFrame,
    pending_final: DataFrame | None,
) -> DataFrame:
    """Stage 4 plan over PACKED rows: checkpointed stage_triples + fuzzy
    rewrite.  Returns packed rows — one row per turn (pc=TURN_PC,
    carrying role/tool/next_idx) plus one row per mention — so the ONE
    layout exchange (which also hosts the mention dedup, `_dedup_rows`)
    moves packed rows and zero URI strings; the 6x structural explosion
    and all URI minting happen after that shuffle in `_finisher`.  Valid
    because every triple of a turn shares the turn's (ts_day,
    conv_bucket) partition: layout placement is decided by the packed
    row.

    The links side is tiny (distinct fuzzy forms) -> broadcast left join;
    rows with null form_key pass through untouched."""
    staged = io.read(spark, _stage_name(run_id)).drop("conv_bucket")
    if pending_final is not None:
        staged = materialize.filter_to_pending(staged, pending_final, io.n_buckets)
    # Map-side broadcast rewrite only; NO dedup shuffle here.  Mention
    # dedup (two surface forms in one turn resolving to one canonical
    # URI) runs inside the write stage via `_dedup_rows`, keyed on a
    # superset of the layout partitioning so it reuses the layout
    # exchange instead of adding its own — see io.write(pre_sort=...).
    # Turn rows pass through the join untouched (null form_key never
    # matches) and are unique by construction, so the shared aggregate
    # is a no-op for them.
    return rewrite_packed(staged, links)


def rewrite_packed(staged: DataFrame, links: DataFrame) -> DataFrame:
    """Broadcast fuzzy-link rewrite of packed rows: mention rows whose
    form_key matched a fuzzy link get the canonical URI + score; every
    other row passes through untouched (null form_key never matches).
    Shared by batch stage 4 and the streaming per-micro-batch path."""
    lk = links.select(
        F.col("form").alias("form_key"),
        F.col("canon_uri").alias("f_canon"),
        F.col("score").cast("float").alias("f_score"),
    )
    return staged.join(F.broadcast(lk), "form_key", "left").select(
        "conv_id",
        "turn_idx",
        "ts",
        "pc",
        F.coalesce("f_canon", "obj").alias("obj"),
        F.coalesce("f_score", "conf").alias("conf"),
        "role",
        "tool",
        "next_idx",
    )


def _coref_rows(
    spark: SparkSession,
    io: TableIO,
    run_id: str,
    links: DataFrame,
    pending_final: DataFrame | None,
) -> DataFrame:
    """Stage 3.5 (opt-in): conversation-scoped anaphora resolution
    (operators/coref.py) — an anaphoric turn (stage 1 flagged it with a
    native rlike while text was in scope) gains a refersTo triple to the
    most recently LINKED entity of a strictly earlier turn in the same
    conversation.

    Plan shape: pruned checkpoint scan keeping only entity-bearing
    mention rows and anaphoric turn rows (narrow columns, a small
    fraction of the packed set) -> ONE exchange on conv_id; both the
    per-turn entity election (groupBy conv_id, turn_idx) and the
    antecedent window (partitionBy conv_id) are satisfied by that
    partitioning, so neither adds a shuffle.  Fuzzy-linked mentions
    count as antecedents: the same broadcast rewrite stage 4 applies is
    applied here first.

    Resume correctness: reads the FULL checkpoint, never the
    pending-filtered subset — an antecedent may live in an
    already-written partition, and filtering the INPUT would make a
    resumed run resolve differently than a fresh one.  Idempotence is
    restored by filtering the OUTPUT rows to the pending partitions
    (each refersTo row's placement is decided by its own conv_id/ts)."""
    from .operators import coref

    staged = io.read(spark, _stage_name(run_id)).drop("conv_bucket")
    lk = links.select(
        F.col("form").alias("form_key"),
        F.col("canon_uri").alias("f_canon"),
    )
    is_turn = F.col("pc") == extract.TURN_PC
    ent = F.when(
        F.col("pc") == V.PRED_CODES[V.MENTIONS],
        F.coalesce("f_canon", "obj"),
    )
    pruned = (
        staged.join(F.broadcast(lk), "form_key", "left")
        .select(
            "conv_id",
            "turn_idx",
            "ts",
            F.when(ent.startswith(V.NS_ENT), ent).alias("ent"),
            F.coalesce(F.when(is_turn, F.col("is_anaphor")), F.lit(False))
            .alias("is_anaphor"),
        )
        .where(F.col("ent").isNotNull() | F.col("is_anaphor"))
    )
    elected = (
        pruned.repartition("conv_id")
        .groupBy("conv_id", "turn_idx")
        .agg(
            F.min("ent").alias("ent"),
            F.min("ts").alias("ts"),
            F.max("is_anaphor").alias("is_anaphor"),
        )
    )
    resolved = coref.resolve_anaphora(elected)
    refers = resolved.where(F.col("antecedent").isNotNull()).select(
        "conv_id",
        "turn_idx",
        "ts",
        F.lit(V.PRED_CODES[V.REFERS_TO]).cast("tinyint").alias("pc"),
        F.col("antecedent").alias("obj"),
        F.lit(coref.COREF_CONF).cast("float").alias("conf"),
        F.lit(None).cast("string").alias("role"),
        F.lit(None).cast("string").alias("tool"),
        F.lit(None).cast("int").alias("next_idx"),
    )
    if pending_final is not None:
        refers = materialize.filter_to_pending(refers, pending_final, io.n_buckets)
    return refers


def _dedup_rows(df: DataFrame) -> DataFrame:
    """Packed-row dedup, run AFTER the layout repartition (io.write
    pre_sort hook).  The grouping key is a SUPERSET of the layout
    partitioning (ts_day, conv_bucket) — and the extra keys don't split
    groups, because ts_day/conv_bucket are functions of (conv_id, ts)
    and ts is constant within a turn — so Catalyst reuses the layout
    exchange and the whole aggregate is partition-local: the old
    standalone dedup shuffle (a second full pass of every packed row
    over the wire) disappears.  The dedup key (conv_id, turn_idx, pc,
    obj) is equivalent to (subj, pred, obj): subj is a function of
    (pc, conv_id, turn_idx).  When TableIO salted the exchange
    (n_write_salts > 1) the transient salt column joins the grouping
    keys: it is a function of (conv_id, turn_idx) so it splits nothing,
    and without it the grouping would no longer be a superset of the
    (salted) partitioning — Catalyst would insert the very shuffle this
    hook exists to avoid."""
    extra = ["ts_day", "conv_bucket"]
    if tableio.WRITE_SALT in df.columns:
        extra.append(tableio.WRITE_SALT)
    return dedup_packed(df, extra_keys=extra)


def dedup_packed(df: DataFrame, extra_keys=()) -> DataFrame:
    """Packed-row dedup on (conv_id, turn_idx, pc, obj) — equivalent to
    (subj, pred, obj) because subj is a function of (pc, conv_id,
    turn_idx).  `extra_keys` lets the batch write path add its layout
    columns so the aggregate is satisfied by the layout exchange (see
    _dedup_rows); the streaming path calls it bare per micro-batch."""
    keys = [*extra_keys, "conv_id", "turn_idx", "pc", "obj"]
    return (
        df.groupBy(*keys)
        .agg(
            F.min("ts").alias("ts"),
            F.max("conf").alias("conf"),
            # exactly one turn row per group carries these; mention
            # groups are all-null for them
            F.any_value("role", True).alias("role"),
            F.any_value("tool", True).alias("tool"),
            F.any_value("next_idx", True).alias("next_idx"),
        )
    )


def _finisher(df: DataFrame) -> DataFrame:
    """Post-layout-shuffle explode + projection: packed rows -> full
    triple rows.  Runs inside the write stage AFTER the exchange, so the
    6x structural fan-out and every URI string are produced by codegen'd
    CPU local to the writer task — they never cross a shuffle."""
    return packed_to_triples(df, passthrough=("ts_day", "conv_bucket"))


def packed_to_triples(df: DataFrame, passthrough=()) -> DataFrame:
    """Packed rows -> full triple rows: the 6x structural fan-out plus
    one row per mention/refersTo, with every URI minted natively.
    `passthrough` columns ride along unchanged (the batch write path
    threads its layout columns; the streaming path passes none)."""
    conv_u = V.conv_uri("conv_id")
    turn_u = V.turn_uri("conv_id", "turn_idx")

    def e(subj, pred, obj):
        return F.struct(
            subj.alias("subj"), F.lit(pred).alias("pred"), obj.alias("obj")
        )

    structural = F.filter(
        F.array(
            e(conv_u, V.HAS_TURN, turn_u),
            e(turn_u, V.PART_OF, conv_u),
            e(turn_u, V.HAS_ROLE, V.role_uri("role")),
            e(turn_u, V.AT_TIME, V.iso_ts("ts")),
            e(turn_u, V.USED_TOOL, V.tool_uri("tool")),  # null obj if no tool
            e(
                turn_u,
                V.FOLLOWED_BY,
                # concat_ws skips nulls, so guard explicitly: no successor
                # -> null obj -> filtered
                F.when(
                    F.col("next_idx").isNotNull(),
                    V.turn_uri("conv_id", "next_idx"),
                ),
            ),
        ),
        lambda x: x["obj"].isNotNull(),
    )
    single = F.array(e(turn_u, None, F.col("obj")))  # pred patched below
    entries = F.when(F.col("pc") == extract.TURN_PC, structural).otherwise(single)
    return df.select(
        F.explode(entries).alias("tr"),
        "pc", "conv_id", "turn_idx", "ts", "conf", *passthrough,
    ).select(
        F.col("tr.subj").alias("subj"),
        F.coalesce(F.col("tr.pred"), V.pred_from_code("pc")).alias("pred"),
        F.col("tr.obj").alias("obj"),
        "conv_id",
        "turn_idx",
        "ts",
        F.col("conf").cast("double").alias("conf"),
        *passthrough,
    )


def _obs_count(obs: Observation) -> int:
    """Observation metric, robust to the empty-write quirk: a dynamic-
    partition-overwrite of ZERO rows completes without materializing the
    CollectMetrics row (schema-less row -> JVM AssertionError in toPyRow),
    so an empty pass legitimately reads as 0.  Only THAT failure shape is
    swallowed — anything else would silently zero the lineage counts and
    is re-raised."""
    try:
        return int(obs.get["n"])
    except (KeyError, AssertionError):
        # metrics row absent / python-side empty-row assertion
        return 0
    except Exception as exc:
        # Py4J wraps the JVM toPyRow AssertionError; classify by the JVM
        # exception CLASS, never by substring over str(exc) — that string
        # carries the full Java stack trace, and any unrelated failure
        # whose trace merely mentions AssertionError would be swallowed.
        jexc = getattr(exc, "java_exception", None)
        jcls = jexc.getClass().getName() if jexc is not None else ""
        if jcls.endswith("AssertionError"):
            return 0
        raise


def auto_write_salts(
    transcripts: DataFrame,
    n_buckets: int,
    target_rows: int = 2_000_000,
    cap: int = 32,
) -> int:
    """Measured skew decision: how many write salts does THIS input
    need?  The layout exchange keys on (ts_day, conv_bucket); a hot day
    x bucket (one mega-conversation, a traffic spike) funnels into one
    writer task however many executors exist.  n_write_salts spreads
    each partition over N tasks — but the right N is a property of the
    DATA, so measure it: one column-pruned aggregation over the layout
    keys (partial-aggregated map-side; output <= days x buckets rows),
    a 1-row max collect, and salts = ceil(hottest_turns / target_rows)
    clamped to [1, cap].  `target_rows` is in TURNS (packed rows are a
    small constant factor above turns); the default aims a writer task
    at ~2M turns — minutes of work, comfortably memory-resident."""
    hottest = (
        transcripts.groupBy(
            F.to_date("ts").alias("d"),
            F.pmod(F.xxhash64("conv_id"), F.lit(n_buckets)).alias("b"),
        )
        .count()
        .agg(F.max("count").alias("m"))
        .first()["m"]
    )
    if not hottest:
        return 1
    return max(1, min(cap, -(-int(hottest) // target_rows)))


def build_graph(
    spark: SparkSession,
    transcripts: DataFrame,
    dictionary: DataFrame,
    io: TableIO,
    run_id: str | None = None,
    fuzzy_threshold: float = 0.55,
    timings: dict | None = None,
    gc_stale_checkpoints: bool = False,
    disambiguate: bool = False,
    temporal_dictionary: bool = False,
    coref: bool = False,
    auto_salt: bool = False,
    auto_salt_target: int = 2_000_000,
) -> dict:
    """Run the full pipeline; returns {run_id, rows_in, triples, wall_ms}.

    Idempotent per (run_id, partition): stage 1 skips conv_buckets its
    manifest marks done, the final write skips (ts_day, conv_bucket)
    partitions marked done, and both writes are dynamic partition
    overwrites so re-runs replace rather than duplicate.  `timings`
    (optional dict) collects per-stage wall seconds.

    A COMPLETED run removes its own stage-1 checkpoint; a crashed or
    abandoned run_id intentionally keeps its (dataset-sized) checkpoint
    so resume-with-the-same-run_id stays cheap.  `gc_stale_checkpoints`
    reclaims that space: before starting, drop every other run_id's
    checkpoint under this warehouse — opt-in because it forfeits resume
    for those runs (their manifests would point at deleted data, so a
    later resume of a GC'd run_id must use a fresh run_id instead).
    """
    run_id = run_id or uuid.uuid4().hex[:12]
    if auto_salt and io.n_write_salts <= 1:
        # explicit --write-salts wins; the probe is one cheap aggregate
        io.n_write_salts = auto_write_salts(
            transcripts, io.n_buckets, target_rows=auto_salt_target
        )
    t0_wall = time.time()  # for mtime-scoping this run's sink partitions
    if gc_stale_checkpoints:
        for stale in io.list_runs(STAGE_TRIPLES):
            if stale != run_id:
                io.remove(_stage_name(stale))
    t0 = time.monotonic()
    marks: list[tuple[str, float]] = []

    def _mark(stage: str) -> None:
        marks.append((stage, time.monotonic()))
        if timings is not None:
            prev = marks[-2][1] if len(marks) > 1 else t0
            timings[stage] = round(marks[-1][1] - prev, 2)

    # Fresh run (no manifest yet): every partition is pending, so skip the
    # planned-vs-done reconciliation entirely — it costs a full input scan
    # + distinct before any real work.  Resume runs (manifest present) pay
    # for it because they need the anti-joins.
    pending_final = None
    s1_todo: DataFrame | None = transcripts
    s1_pending = list(range(io.n_buckets))
    if materialize.manifest_exists(io):
        pending_final = materialize.pending_partitions(
            spark, io, run_id, transcripts, stage="materialize"
        )
        pending_final.persist()
        if pending_final.count() == 0:
            pending_final.unpersist()
            return {"run_id": run_id, "rows_in": 0, "triples": 0, "wall_ms": 0,
                    "skipped": True}
        # A RESUMED write covers only the pending partitions; publishing it
        # as a table-replacing commit would drop the partitions this same
        # run already landed.  The first (fresh) attempt's commit already
        # did the table replace, so the resume completes it partition-wise.
        # A manifest from OTHER runs doesn't make this run a resume — only
        # progress recorded under THIS run_id does.
        if getattr(io, "full_refresh", False):
            this_run_done = materialize.completed_partitions(
                spark, io, run_id, "materialize"
            )
            if this_run_done.limit(1).count() > 0:
                io.full_refresh = False
        s1_done = materialize.completed_buckets(spark, io, run_id, STAGE1)
        s1_pending = sorted(set(range(io.n_buckets)) - s1_done)
        if not s1_pending:
            s1_todo = None
        elif s1_done:
            s1_todo = transcripts.where(
                F.pmod(F.xxhash64(F.col("conv_id")), F.lit(io.n_buckets))
                .cast("int")
                .isin(s1_pending)
            )
    _mark("plan_pending")

    # Stage 1: extract + exact link -> checkpointed stage_triples.  The
    # detector never sees the full dictionary: only the (small) set of
    # non-name-like surfaces is inlined into it; entity-vs-unknown is
    # decided by the broadcast dictionary join inside unified_stage1, so
    # nothing dictionary-scale is ever collected to the driver.
    rows_in = 0
    if s1_todo is not None:
        obs_in = Observation("rows_in")
        s1_todo = s1_todo.observe(obs_in, F.count(F.lit(1)).alias("n"))
        extra = extract.non_namelike_surfaces(dictionary)
        detector = extract.make_candidate_detector(spark, extra)
        # Disambiguation (opt-in): ambiguous surfaces are withheld from
        # the exact-link dictionary (its global per-surface election
        # would pick one winner corpus-wide), left unlinked by stage 1,
        # then resolved per conversation by context in stage 1.5.  The
        # ambiguous-surface list is dictionary-scale (same class of
        # driver collect as non_namelike_surfaces); empty -> normal path.
        amb_dict = _ambiguous_dict(dictionary) if disambiguate else None
        amb_surfaces = (
            [r["surface"] for r in
             amb_dict.select("surface").distinct().collect()]
            if amb_dict is not None else []
        )
        link_dict = dictionary
        if amb_surfaces:
            link_dict = dictionary.where(
                ~link.normalize_form(F.col("surface")).isin(amb_surfaces)
            )
        s1 = extract.unified_stage1(s1_todo, detector, link_dict,
                                    prefiltered=extra is not None,
                                    temporal=temporal_dictionary)
        if amb_surfaces:
            s1 = _apply_disambiguation(s1, amb_dict)
        _write_stage1(io, run_id, s1)
        rows_in = _obs_count(obs_in)
        # Mark every PLANNED bucket done, not just the sink dirs that
        # materialized: a bucket with no conversations produces no dir,
        # and leaving it "pending" forever would re-scan the full input
        # on every resume (an empty-result full pass at 10^12 rows).
        materialize.mark_buckets_done(io, run_id, STAGE1, s1_pending)
    _mark("extract_link")

    # Stage 2: fuzzy linking over distinct unlinked forms (tiny domain)
    links = _fuzzy_links(spark, io, run_id, dictionary, fuzzy_threshold,
                         temporal=temporal_dictionary)
    links = links.persist()  # tiny: distinct fuzzy forms only
    links.count()
    _mark("fuzzy")

    # Stage 3: canonicalize over the alias graph (tiny domain)
    same_as = _same_as_triples(spark, links, dictionary)
    _mark("canonicalize")

    # Stage 3.5 (opt-in): anaphora resolution -> refersTo packed rows,
    # unioned into the finalize stream so they ride the same dedup +
    # layout write (idempotent like every other packed row).
    refers = (
        _coref_rows(spark, io, run_id, links, pending_final)
        if coref
        else None
    )
    _mark("coref")

    # Stage 4: rewrite + dedup + layout write + manifest.  The main slim
    # stream and the tiny sameAs set land as two dynamic-overwrite writes
    # into DISJOINT partitions (sameAs rows have null ts -> the
    # __HIVE_DEFAULT_PARTITION__ pseudo-day), so both stay idempotent.
    final = _finalize(spark, io, run_id, links, pending_final)
    if refers is not None:
        final = final.unionByName(refers)
    io.write(final, materialize.TRIPLES, finisher=_finisher,
             pre_sort=_dedup_rows)
    n_same = same_as.count()
    if n_same:
        io.write(same_as, materialize.TRIPLES)
    _mark("materialize")
    done_pairs = materialize.mark_done(
        spark, io, run_id, "materialize", pending_final, since_mtime=t0_wall
    )
    _mark("mark_done")

    # rows_out from parquet footer metadata, scoped to the partitions THIS
    # run landed: exact, free (no data read), and it keeps CollectMetrics
    # out of the 10^x-row write path.  On a shared warehouse / resume,
    # partition_row_counts lists every sink partition, and crediting
    # earlier runs' partitions to this run_id would corrupt lineage-based
    # verification — null-ts pseudo-days (sameAs rows) are regenerated
    # every run, so they are this run's exactly when it wrote sameAs rows
    # (n_same > 0); otherwise any __ dirs are a prior run's leftovers.
    this_run = {(d, b) for d, b in done_pairs}
    counts = [
        c for c in materialize.partition_row_counts(io, materialize.TRIPLES)
        if (c[0], c[1]) in this_run or (n_same and c[0].startswith("__"))
    ]
    rows_out = sum(c[2] for c in counts)

    wall_ms = int((time.monotonic() - t0) * 1000)
    materialize.append_lineage(
        spark, io, run_id, "build_graph", rows_in, rows_out, wall_ms
    )
    materialize.append_partition_lineage(io, run_id, "materialize", counts)
    # Successful completion: the run-scoped stage-1 checkpoint is dead
    # weight now (resume consults the manifest and skips before reading
    # it) — drop it so stale buckets can never leak into a later run.
    io.remove(_stage_name(run_id))
    _mark("finalize")
    links.unpersist()
    if pending_final is not None:
        pending_final.unpersist()
    return {
        "run_id": run_id,
        "rows_in": rows_in,
        "triples": rows_out,
        "wall_ms": wall_ms,
        "skipped": False,
    }
