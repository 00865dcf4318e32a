"""Streaming-shaped capabilities (SURVEY.md §2.10).

The north rule requires *resumable batch* (manifest-driven, see
operators/materialize.py); the reference itself is strictly batch — a
crawl-then-serialize CLI (PK:logset `create`, SURVEY §3.1).  This module
maps the same incremental-ingest semantics onto Structured Streaming for
deployments that prefer a streaming runtime:

* `stream_transcripts`   — file-source readStream over the transcript
  directory with `trigger(availableNow=True)`: processes exactly the
  not-yet-seen files recorded in the stream checkpoint, then stops — the
  streaming twin of the manifest left-anti join (X1).
* `structural_triples_stream` — batch extract.structural_triples' own
  struct array (one helper builds both) with a null next-turn column:
  no cross-turn edges (those need per-conv state, below).
* `snapshot_batch_sink` / `run_available_now_snapshot` — each micro-batch
  as a batch-id-stamped append snapshot.  The replay check that makes it
  exactly-once lives in `snapshot_batch_sink` only; the linked sink
  commits through it too.  The resulting warehouse
  (`jobs/stream_graph.py --snapshots`) is read like a built one, through
  `sources.snapshots.open_warehouse`.
* `linked_triples_batch` / `run_linked_available_now` — the FULL
  extraction+linking pipeline per micro-batch via foreachBatch, through
  the operators batch stage 4 itself uses (pipeline.rewrite_packed /
  dedup_packed / packed_to_triples), so batch and stream cannot drift;
  `jobs/stream_graph.py --dict` is the CLI surface and
  `queries.q_stream_linked` the DuckDB oracle row.
* `followed_by_stream`  — the cross-turn followedBy edges as a CUSTOM
  STATEFUL operator via applyInPandasWithState: O(1) state per live
  conversation, micro-batch-boundary bridging, batch-parity-tested.
* `windowed_tool_counts` — watermarked sliding/tumbling windowed agg (X2/
  X4): late turns beyond the watermark are dropped, state is bounded.
* `session_counts`       — session_window gap sessionization (X3).
* `streaming_dedup`      — dropDuplicatesWithinWatermark on triple keys
  (X5), the streaming twin of batch A2 dedup.

Everything is expressed on the *streaming* DataFrame API so the identical
plan runs on a socket/kafka source in production; tests drive it with the
file source + availableNow and assert parity against the batch operators.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.synth import TRANSCRIPT_SCHEMA


def stream_transcripts(spark: SparkSession, path: str) -> DataFrame:
    """Incremental file-source ingest of transcript parquet.  Schema is
    pinned (streaming sources don't infer); maxFilesPerTrigger bounds a
    micro-batch so one bad burst can't OOM an executor."""
    return (
        spark.readStream.schema(TRANSCRIPT_SCHEMA)
        .option("maxFilesPerTrigger", 16)
        .parquet(path)
    )


def structural_triples_stream(transcripts: DataFrame) -> DataFrame:
    """Per-turn structural triples on a streaming DataFrame — batch
    extract.structural_triples' own struct array, with a null next-turn
    column in place of its conv_id window, so no followedBy edge (cross-
    row state; see module docstring) and no conf column."""
    from ..operators.extract import _structural_rows

    return _structural_rows(transcripts, F.lit(None).cast("string"))


def windowed_tool_counts(
    transcripts: DataFrame, window: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Tumbling-window tool-usage counts with a watermark bound on state:
    turns later than `watermark` behind the max seen ts are dropped."""
    return (
        transcripts.withWatermark("ts", watermark)
        .where(F.col("tool").isNotNull())
        .groupBy(F.window("ts", window).alias("w"), "tool")
        .agg(F.count("*").alias("n_calls"))
        .select(F.col("w.start").alias("win_start"), "tool", "n_calls")
    )


def session_counts(
    transcripts: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours"
) -> DataFrame:
    """Gap-based sessionization via session_window — the streaming twin of
    the batch lag/cumsum idiom (queries.q_session)."""
    return (
        transcripts.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "conv_id")
        .agg(F.count("*").alias("n_turns"))
        .select(
            "conv_id",
            F.col("w.start").alias("sess_start"),
            F.col("w.end").alias("sess_end"),
            "n_turns",
        )
    )


def streaming_dedup(triples: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """At-least-once sources re-deliver rows; dropDuplicatesWithinWatermark
    keeps (subj,pred,obj) state only inside the watermark horizon so state
    size is bounded (the streaming twin of batch pipeline.dedup_packed)."""
    return triples.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["subj", "pred", "obj"]
    )


FOLLOWED_BY_SCHEMA = (
    "subj string, pred string, obj string, conv_id string, "
    "turn_idx int, ts timestamp"
)
_FB_STATE_SCHEMA = "last_idx int, last_ts timestamp"


def followed_by_stream(
    transcripts: DataFrame,
    watermark: str = "2 hours",
    conv_timeout_ms: int = 0,
) -> DataFrame:
    """Cross-turn followedBy edges on a STREAM via applyInPandasWithState —
    the custom stateful operator the batch path expresses with a window
    (extract.with_next_turn).  State per conv_id is two scalars (the last
    seen turn_idx + its event time), so state size is O(live
    conversations), never O(turns).  Within a micro-batch turns are sorted
    by turn_idx and chained; across micro-batches the state row bridges
    the boundary (edge last-turn-of-batch-k -> first-turn-of-batch-k+1).
    Turns that arrive out of order ACROSS batches are a stream-semantics
    gap batch backfill repairs — same contract as every log-stream
    sessionizer.

    `conv_timeout_ms > 0` expires idle conversations' state via a
    processing-time timeout — for LONG-RUNNING deployments only: with a
    timeout armed, `trigger(availableNow)` stays alive until every timer
    fires ("no new data but cleaning up state"), so drain-and-stop runs
    must keep the default 0 (NoTimeout)."""
    import pandas as pd

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from .. import vocab as V

    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout
        if conv_timeout_ms > 0
        else GroupStateTimeout.NoTimeout
    )

    def chain(key, pdfs, state: GroupState):
        conv_id = key[0]
        if state.hasTimedOut:
            state.remove()
            return
        batch = pd.concat(list(pdfs), ignore_index=True)
        if len(batch) == 0:
            return
        # dedup within the batch: an at-least-once source can redeliver a
        # turn, and a duplicated idx would chain a turn->itself self-loop
        batch = (
            batch.sort_values("turn_idx", ignore_index=True)
            .drop_duplicates("turn_idx", ignore_index=True)
        )
        idxs = batch["turn_idx"].tolist()
        tss = batch["ts"].tolist()
        prev = state.get if state.exists else None
        src_idx, src_ts = [], []
        dst_idx = []
        # bridge only FORWARD: a redelivered last-seen turn (idxs[0] ==
        # prev) would self-loop, and a late out-of-order turn (idxs[0] <
        # prev) would mint a backward edge — both worse than the missing
        # edge batch backfill repairs
        if prev is not None and idxs[0] > int(prev[0]):
            src_idx.append(int(prev[0]))
            src_ts.append(prev[1])
            dst_idx.append(idxs[0])
        src_idx += idxs[:-1]
        src_ts += tss[:-1]
        dst_idx += idxs[1:]
        if prev is None or int(idxs[-1]) > int(prev[0]):
            state.update((int(idxs[-1]), tss[-1]))
        if conv_timeout_ms > 0:
            state.setTimeoutDuration(conv_timeout_ms)
        if not src_idx:
            return
        yield pd.DataFrame(
            {
                "subj": [f"turn:{conv_id}/{i}" for i in src_idx],
                "pred": V.FOLLOWED_BY,
                "obj": [f"turn:{conv_id}/{i}" for i in dst_idx],
                "conv_id": conv_id,
                "turn_idx": pd.array(src_idx, dtype="int32"),
                "ts": src_ts,
            }
        )

    return (
        transcripts.withWatermark("ts", watermark)
        .select("conv_id", "turn_idx", "ts")
        .groupBy("conv_id")
        .applyInPandasWithState(
            chain,
            FOLLOWED_BY_SCHEMA,
            _FB_STATE_SCHEMA,
            "append",
            timeout,
        )
    )


def snapshot_batch_sink(store):
    """foreachBatch closure committing each micro-batch as an APPEND
    snapshot, stamped with the batch id — EXACTLY-ONCE on an
    at-least-once runtime: Structured Streaming replays a micro-batch
    (same batch_id) when a crash lands between the sink call and the
    checkpoint offset commit, and the replay is skipped because the
    snapshot metadata already records that id (the same commit-dedup
    handshake Iceberg's streaming sink uses).  A crash mid-commit leaves
    an unpublished commit dir, which the replay's commit clears."""

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        last = store.last_batch_id()
        if last is not None and batch_id <= last:
            return  # replayed micro-batch: already durably committed
        store.commit(batch_df, mode="append", batch_id=batch_id)

    return _sink


def run_available_now_snapshot(
    stream_df: DataFrame, checkpoint: str, store
) -> None:
    """Drain-and-stop ingest landing every micro-batch as an atomic,
    time-travelable snapshot commit (the streaming producer for
    SnapshotTableIO; compaction via jobs/maintain_table.py heals the
    per-batch small-file fragmentation this accumulates)."""
    q = (
        stream_df.writeStream.foreachBatch(snapshot_batch_sink(store))
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def linked_triples_batch(
    batch: DataFrame,
    detector,
    dictionary: DataFrame,
    fuzzy_threshold: float = 0.55,
    prefiltered: bool = True,
) -> DataFrame:
    """One micro-batch through the batch pipeline's extraction + linking:
    unified_stage1 (structural + exact-linked mentions, one scan), fuzzy
    linking over THIS batch's distinct unlinked forms (per-form
    deterministic against a fixed dictionary, so per-batch fuzzy equals
    corpus-wide fuzzy), broadcast rewrite, packed-row dedup, and the
    native URI explode — all the shared batch operators
    (pipeline.rewrite_packed/dedup_packed/packed_to_triples), so batch
    and stream cannot drift.  followedBy edges are minted within the
    batch; a conversation split ACROSS micro-batches misses the seam
    edge — the same documented contract as followed_by_stream's
    NoTimeout mode, repaired by batch backfill (or avoided by writing
    whole conversations per file)."""
    from .. import pipeline as P
    from ..operators import extract, link

    s1 = extract.unified_stage1(
        batch, detector, dictionary, prefiltered=prefiltered
    )
    forms = (
        s1.where(F.col("form_key").isNotNull())
        .select(F.col("form_key").alias("form"))
        .distinct()
    )
    links = link.fuzzy_link(forms, dictionary, threshold=fuzzy_threshold)
    packed = P.dedup_packed(P.rewrite_packed(s1, links))
    return P.packed_to_triples(packed)


def linked_triples_sink(
    spark: SparkSession,
    dictionary: DataFrame,
    fuzzy_threshold: float = 0.55,
    out_path: str | None = None,
    store=None,
):
    """foreachBatch closure running the FULL extraction+linking pipeline
    per micro-batch — the streaming twin of build_graph (minus sameAs
    canonicalization, whose alias graph is corpus-global by definition:
    run jobs/build_graph.py periodically, or owl_materialize over the
    accumulated table, for the merge pass).  The detector is built once,
    driver-side, outside the stream (dictionary-scale).  With `store`,
    commits go through snapshot_batch_sink (batch-id-deduped append
    snapshots, exactly-once); with `out_path`, plain parquet appends
    (at-least-once)."""

    if store is not None:
        commit = snapshot_batch_sink(store)
    else:
        def commit(triples: DataFrame, _batch_id: int) -> None:
            triples.write.mode("append").parquet(out_path)

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        commit(linked_triples_batch(
            batch_df, _detector, dictionary, fuzzy_threshold, _prefiltered
        ), batch_id)

    from ..operators import extract

    _extra = extract.non_namelike_surfaces(dictionary)
    _detector = extract.make_candidate_detector(spark, _extra)
    _prefiltered = _extra is not None
    return _sink


def run_linked_available_now(
    stream_df: DataFrame,
    checkpoint: str,
    spark: SparkSession,
    dictionary: DataFrame,
    out_path: str | None = None,
    store=None,
    fuzzy_threshold: float = 0.55,
) -> None:
    """Drain-and-stop incremental KG build WITH entity linking: each
    micro-batch of raw transcripts runs the shared extraction+linking
    operators and lands as linked triples."""
    q = (
        stream_df.writeStream.foreachBatch(
            linked_triples_sink(
                spark, dictionary, fuzzy_threshold,
                out_path=out_path, store=store,
            )
        )
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def run_available_now(
    stream_df: DataFrame, checkpoint: str, out_path: str, mode: str = "append"
) -> None:
    """Drain everything currently available, then stop — the streaming
    equivalent of one idempotent batch run: re-invoking with the same
    checkpoint processes only files not yet recorded there."""
    q = (
        stream_df.writeStream.format("parquet")
        .option("checkpointLocation", checkpoint)
        .option("path", out_path)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def tool_reply_join_stream(
    transcripts: DataFrame,
    watermark: str = "2 hours",
    max_delay: str = "30 minutes",
) -> DataFrame:
    """Watermarked STREAM-STREAM interval join: each user turn matched
    to the tool turns that answer it — same conversation, later
    turn_idx, event time within (user_ts, user_ts + max_delay].

    This is the join shape Structured Streaming can only run when BOTH
    sides are watermarked and the join condition carries an event-time
    bound: the bound tells the state store exactly how long a buffered
    user turn can still find a partner, so per-side state is
    O(rows inside the watermark+delay horizon) — bounded regardless of
    stream length, the requirement at 10^12 turns.  (Spark ACCEPTS an
    inner equi-join without the bound, but then join state can only
    grow — the silent way a long-running ingest OOMs months in; the
    bound is load-bearing here even though the planner doesn't force
    it.)

    Emits answeredBy triples `turn:<conv>/<user_idx> -> tool:<name>`
    with (conv_id, turn_idx, ts) provenance of the USER turn, matching
    the batch twin `tool_reply_join_batch` row for row once both
    streams drain (pytest parity via availableNow).
    """
    from .. import vocab as V

    users = (
        transcripts.where(F.col("role") == "user")
        .select(
            "conv_id",
            F.col("turn_idx").alias("u_idx"),
            F.col("ts").alias("u_ts"),
        )
        .withWatermark("u_ts", watermark)
    )
    tools = (
        transcripts.where(
            (F.col("role") == "tool") & F.col("tool").isNotNull()
        )
        .select(
            F.col("conv_id").alias("t_conv"),
            F.col("turn_idx").alias("t_idx"),
            "tool",
            F.col("ts").alias("t_ts"),
        )
        .withWatermark("t_ts", watermark)
    )
    joined = users.join(
        tools,
        F.expr(
            "conv_id = t_conv AND t_idx > u_idx "
            f"AND t_ts > u_ts AND t_ts <= u_ts + interval {max_delay}"
        ),
    )
    return joined.select(
        V.turn_uri("conv_id", "u_idx").alias("subj"),
        F.lit("answeredBy").alias("pred"),
        V.tool_uri("tool").alias("obj"),
        "conv_id",
        F.col("u_idx").alias("turn_idx"),
        F.col("u_ts").alias("ts"),
    )


def tool_reply_join_batch(
    transcripts: DataFrame, max_delay: str = "30 minutes"
) -> DataFrame:
    """Batch twin of tool_reply_join_stream (no watermarks; identical
    join predicate and output) — the parity oracle for the stream."""
    from .. import vocab as V

    users = transcripts.where(F.col("role") == "user").select(
        "conv_id", F.col("turn_idx").alias("u_idx"), F.col("ts").alias("u_ts")
    )
    tools = transcripts.where(
        (F.col("role") == "tool") & F.col("tool").isNotNull()
    ).select(
        F.col("conv_id").alias("t_conv"),
        F.col("turn_idx").alias("t_idx"),
        "tool",
        F.col("ts").alias("t_ts"),
    )
    joined = users.join(
        tools,
        F.expr(
            "conv_id = t_conv AND t_idx > u_idx "
            f"AND t_ts > u_ts AND t_ts <= u_ts + interval {max_delay}"
        ),
    )
    return joined.select(
        V.turn_uri("conv_id", "u_idx").alias("subj"),
        F.lit("answeredBy").alias("pred"),
        V.tool_uri("tool").alias("obj"),
        "conv_id",
        F.col("u_idx").alias("turn_idx"),
        F.col("u_ts").alias("ts"),
    )
