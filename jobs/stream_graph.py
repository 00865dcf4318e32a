"""Incremental KG build via Structured Streaming — run via spark-submit
(the streaming twin of build_graph.py's manifest-driven batch resume;
SURVEY §2.10 X1):

    zip -r kgpipe.zip logset_spark
    spark-submit --py-files kgpipe.zip jobs/stream_graph.py \
        --input /path/transcripts_dir --out /path/wh_stream

Each invocation drains EXACTLY the transcript parquet files not yet
recorded in the stream checkpoint (trigger(availableNow=True)), extracts
per-turn structural triples with the same URI minting as the batch
pipeline, appends them to the output parquet, then exits — so a cron of
this job is an at-least-once incremental ingest with no manual file
bookkeeping.  Re-running with nothing new appended processes zero files.

Prints ONE JSON line: rows appended this run + total rows in the sink.
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description="Incremental streaming KG build")
    p.add_argument("--input", required=True, help="transcript parquet dir (growing)")
    p.add_argument("--out", required=True, help="output root (triples + checkpoint)")
    p.add_argument("--dict", dest="dict_path", default=None,
                   help="entity dictionary parquet (surface, canon_uri, "
                        "weight): switches the stream from structural-only "
                        "to FULL extraction+linking per micro-batch — "
                        "mention detection, exact + fuzzy linking, the same "
                        "shared operators the batch pipeline runs")
    p.add_argument("--fuzzy-threshold", type=float, default=0.55)
    p.add_argument("--snapshots", action="store_true",
                   help="land each micro-batch as an atomic snapshot commit "
                        "(exactly-once via batch-id commit dedup; time travel "
                        "with query_graph --as-of; compaction via "
                        "maintain_table.py)")
    p.add_argument("--cpus", type=int, default=None)
    args = p.parse_args(argv)

    from logset_spark.session import get_spark
    from logset_spark.streaming.incremental import (
        run_available_now, run_available_now_snapshot, run_linked_available_now,
        stream_transcripts, structural_triples_stream,
    )

    spark = get_spark("stream_graph", cpus=args.cpus)
    sink = f"{args.out}/triples_stream"
    checkpoint = f"{args.out}/_checkpoint"

    # one counting + reporting path for all four mode combinations: the
    # sinks differ, the accounting must not.  Both counters tolerate the
    # not-yet-created sink (first run, or a drain that produced zero
    # micro-batches — foreachBatch never fires, so the linked path
    # creates no directory at all).
    def _store_count(store) -> int:
        try:
            return store.read(spark).count()
        except ValueError:  # empty table (no snapshot yet)
            return 0

    def _parquet_count(path: str) -> int:
        try:
            return spark.read.parquet(path).count()
        except Exception:  # noqa: BLE001 - sink not created yet
            return 0

    store = None
    if args.snapshots:
        from logset_spark.sources.snapshots import SnapshotTriplesIO

        store = SnapshotTriplesIO(root=args.out).store
        count, report_sink = (lambda: _store_count(store)), f"{args.out}/triples"
    else:
        count, report_sink = (lambda: _parquet_count(sink)), sink

    before = count()
    if args.dict_path:
        dictionary = spark.read.parquet(args.dict_path)
        run_linked_available_now(
            stream_transcripts(spark, args.input), checkpoint, spark,
            dictionary, fuzzy_threshold=args.fuzzy_threshold,
            **({"store": store} if store is not None else {"out_path": sink}),
        )
    else:
        stream = structural_triples_stream(
            stream_transcripts(spark, args.input))
        if store is not None:
            # snapshot layout needs (conv_id, ts) for bucket/day partition
            run_available_now_snapshot(
                stream.select("subj", "pred", "obj",
                              "conv_id", "turn_idx", "ts"),
                checkpoint, store,
            )
        else:
            run_available_now(
                stream.select("subj", "pred", "obj", "conv_id"),
                checkpoint, sink)
    after = count()

    out = {
        "rows_appended": after - before,
        "rows_total": after,
        "sink": report_sink,
    }
    if store is not None:
        out["snapshot_version"] = store.current_version()
    if args.dict_path:
        out["linked"] = True
    print(json.dumps(out))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
