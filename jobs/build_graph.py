"""KG build job — the spark-submit entry point (BASELINE.json:14 launch form):

    zip -r kgpipe.zip logset_spark
    spark-submit --py-files kgpipe.zip jobs/build_graph.py \
        --input /path/transcripts_parquet --dict /path/dictionary_parquet \
        --out /path/warehouse --run-id R1

With --synth-convs N the job generates the deterministic synthetic
transcript+dictionary fixtures instead of reading --input/--dict (used for
benchmarking; no external data).  Prints ONE JSON summary line to stdout.
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description="Build the transcript knowledge graph")
    p.add_argument("--input", help="transcripts parquet/iceberg path")
    p.add_argument("--dict", dest="dict_path", help="entity dictionary parquet path")
    p.add_argument("--out", required=True, help="warehouse root for triples/manifest/lineage")
    p.add_argument("--run-id", default=None)
    p.add_argument("--synth-convs", type=int, default=0,
                   help="generate N synthetic conversations instead of --input")
    p.add_argument("--buckets", type=int, default=16)
    p.add_argument("--write-salts", type=int, default=1,
                   help=">1 spreads each output partition over N writer tasks "
                        "(skew valve for hot days/buckets)")
    p.add_argument("--auto-salt", action="store_true",
                   help="measure the hottest (day, bucket) write partition "
                        "with one cheap aggregate and pick the salt count "
                        "from the data (ceil(hottest/2M turns), capped at "
                        "32); an explicit --write-salts > 1 wins")
    p.add_argument("--cpus", type=int, default=None)
    p.add_argument("--fuzzy-threshold", type=float, default=0.55)
    p.add_argument("--disambiguate", action="store_true",
                   help="resolve AMBIGUOUS dictionary surfaces (one surface, "
                        "several canonical URIs) per conversation by context "
                        "scoring against entity co-mention profiles, instead "
                        "of the global per-surface election")
    p.add_argument("--temporal-dict", action="store_true",
                   help="honor the dictionary's valid_from: a mention links "
                        "only to the alias winner whose validity interval "
                        "covers the mention timestamp; earlier mentions stay "
                        "unlinked (and are fenced from fuzzy relinking)")
    p.add_argument("--coref", action="store_true",
                   help="resolve conversation-scoped anaphora: a turn "
                        "containing a third-person anaphor (it/they/this/"
                        "that) gains a refersTo triple to the most recently "
                        "linked entity of an earlier turn in the same "
                        "conversation (recency heuristic, one window over "
                        "the conv_id exchange)")
    p.add_argument("--gc-stale-checkpoints", action="store_true",
                   help="before starting, drop stage-1 checkpoints left by "
                        "OTHER run_ids under this warehouse (crashed/abandoned "
                        "runs); forfeits resume for those run_ids")
    p.add_argument("--snapshots", action="store_true",
                   help="land triples as a snapshot-versioned (Iceberg-"
                        "semantics) table: immutable commits, time travel "
                        "across runs, atomic publish; query with "
                        "query_graph --as-of N")
    p.add_argument("--full-refresh", action="store_true",
                   dest="full_refresh",
                   help="with --snapshots: publish this build as a FULL "
                        "table replace (commit mode overwrite_table) — "
                        "partitions the new input no longer produces are "
                        "dropped from the snapshot instead of surviving a "
                        "dynamic overwrite; prior versions stay readable "
                        "via --as-of.  Use when rebuilding from changed "
                        "upstream data whose rows moved across partitions")
    args = p.parse_args(argv)

    from logset_spark.pipeline import build_graph
    from logset_spark.session import get_spark
    from logset_spark.sources import synth
    from logset_spark.sources.snapshots import SnapshotTriplesIO
    from logset_spark.sources.tableio import TableIO

    spark = get_spark("build_graph", cpus=args.cpus)
    if args.synth_convs:
        transcripts = synth.transcripts_df(spark, n_convs=args.synth_convs)
        dictionary = synth.dictionary_df(spark)
    else:
        if not args.input or not args.dict_path:
            p.error("--input and --dict are required unless --synth-convs is set")
        transcripts = spark.read.parquet(args.input)
        dictionary = spark.read.parquet(args.dict_path)

    if args.full_refresh and not args.snapshots:
        p.error("--full-refresh needs --snapshots")
    io_cls = SnapshotTriplesIO if args.snapshots else TableIO
    io = io_cls(args.out, n_buckets=args.buckets, n_write_salts=args.write_salts)
    if args.full_refresh:
        io.full_refresh = True
    if args.snapshots:
        try:
            io.check_buckets()
        except ValueError as exc:
            p.error(str(exc))
    timings: dict = {}
    result = build_graph(
        spark, transcripts, dictionary, io,
        run_id=args.run_id, fuzzy_threshold=args.fuzzy_threshold,
        timings=timings, gc_stale_checkpoints=args.gc_stale_checkpoints,
        disambiguate=args.disambiguate,
        temporal_dictionary=args.temporal_dict,
        coref=args.coref,
        auto_salt=args.auto_salt,
    )
    if args.auto_salt:
        result["write_salts"] = io.n_write_salts
    result["stage_s"] = timings
    if args.snapshots:
        result["snapshot_version"] = io.store.current_version()
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
