"""Snapshot-table maintenance job — the Iceberg table-services surface
(rewriteDataFiles / expireSnapshots / history) for a warehouse built with
`build_graph.py --snapshots`:

    spark-submit --py-files kgpipe.zip jobs/maintain_table.py \
        --warehouse /path/wh --compact --expire-keep-from 3

Run it on a schedule next to an incremental/append producer: appends
fragment logical partitions into per-commit file sets; --compact rewrites
only the fragmented slice into one fresh commit (row-preserving, older
snapshots untouched), and --expire-keep-from reclaims files no retained
snapshot references.  Prints ONE JSON line.
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description="Maintain a snapshot triples table")
    p.add_argument("--warehouse", required=True,
                   help="warehouse root (build_graph --out, built with --snapshots)")
    p.add_argument("--compact", action="store_true",
                   help="rewrite partitions fragmented across >= --min-commits "
                        "commits into one fresh commit")
    p.add_argument("--min-commits", type=int, default=2)
    p.add_argument("--delete-where", default=None, metavar="PREDICATE",
                   help="copy-on-write DELETE: rewrite the partitions "
                        "containing rows matching this Spark SQL predicate "
                        "without them (rows with a NULL predicate are kept; "
                        "fully-emptied partitions leave the snapshot)")
    p.add_argument("--expire-keep-from", type=int, default=None,
                   help="drop snapshot metadata older than this version and GC "
                        "commit dirs no retained snapshot references")
    p.add_argument("--history", action="store_true",
                   help="include the snapshot history table in the output")
    p.add_argument("--diff", nargs=2, type=int, default=None,
                   metavar=("FROM", "TO"),
                   help="row-level changelog between two snapshot versions "
                        "(op '+'/'-'): reads only partitions whose file "
                        "mapping changed; requires --diff-out")
    p.add_argument("--diff-out", default=None,
                   help="write the --diff changelog parquet here")
    p.add_argument("--tag", nargs="+", default=None,
                   metavar=("NAME", "VERSION"),
                   help="pin an immutable named ref to a version (default: "
                        "current); tagged snapshots survive expiration")
    p.add_argument("--branch", nargs="+", default=None,
                   metavar=("NAME", "VERSION"),
                   help="create a writable branch head (default: at "
                        "current); commit to it via the API, publish with "
                        "--fast-forward")
    p.add_argument("--drop-ref", default=None, metavar="NAME",
                   help="delete a tag or branch")
    p.add_argument("--fast-forward", default=None, metavar="BRANCH",
                   help="advance main to this branch's head (requires main "
                        "to be an ancestor)")
    p.add_argument("--refs", action="store_true",
                   help="include the named-refs table in the output")
    p.add_argument("--refresh-view", default=None, metavar="VIEW_ROOT",
                   help="incrementally refresh an aggregate materialized "
                        "view at this root to the table's current snapshot "
                        "(first run builds it full; later runs apply only "
                        "the changelog since the view's base version)")
    p.add_argument("--view-group-cols", default="pred",
                   help="comma-separated view grouping keys (default: pred "
                        "— maintained per-predicate KG stats)")
    p.add_argument("--view-sum-cols", default="",
                   help="comma-separated exact-numeric columns to sum")
    p.add_argument("--analyze", action="store_true",
                   help="compute per-predicate statistics (count + "
                        "approx distinct subj/obj) in one pass and "
                        "persist them under <warehouse>/_stats — the "
                        "ANALYZE TABLE pattern: query_graph --analyze "
                        "then reuses the persisted rows instead of "
                        "scanning per query; re-run on the compaction "
                        "cadence (stats only steer join order, so "
                        "staleness can mis-order but never mis-answer)")
    p.add_argument("--cpus", type=int, default=None)
    args = p.parse_args(argv)

    from logset_spark.session import get_spark
    from logset_spark.sources.snapshots import (
        SnapshotTriplesIO, open_warehouse)

    io = open_warehouse(args.warehouse)
    if not isinstance(io, SnapshotTriplesIO):
        p.error("--warehouse must be snapshot-versioned (build_graph "
                "--snapshots): table maintenance commits atomically "
                "through the snapshot store")
    spark = get_spark("maintain_table", cpus=args.cpus)
    store = io.store
    out: dict = {"warehouse": args.warehouse,
                 "version_before": store.current_version()}
    if args.delete_where:
        out["deleted_to_version"] = store.delete_where(spark, args.delete_where)
    if args.compact:
        out["compacted_to_version"] = store.compact(
            spark, min_commits=args.min_commits)
    if args.expire_keep_from is not None:
        out["removed_commits"] = store.expire_snapshots(args.expire_keep_from)
    if args.diff:
        if not args.diff_out:
            p.error("--diff requires --diff-out")
        chg = store.diff(spark, args.diff[0], to_version=args.diff[1])
        chg.write.mode("overwrite").parquet(args.diff_out)
        import pyspark.sql.functions as F

        counts = {
            r["op"]: r["n"]
            for r in spark.read.parquet(args.diff_out)
            .groupBy("op").agg(F.count("*").alias("n")).collect()
        }
        out["diff"] = {"from": args.diff[0], "to": args.diff[1],
                       "added": counts.get("+", 0),
                       "removed": counts.get("-", 0),
                       "out": args.diff_out}
    if args.tag:
        v = int(args.tag[1]) if len(args.tag) > 1 else None
        out["tagged"] = {"name": args.tag[0],
                         "version": store.tag(args.tag[0], v)}
    if args.branch:
        v = int(args.branch[1]) if len(args.branch) > 1 else None
        out["branched"] = {"name": args.branch[0],
                           "version": store.branch(args.branch[0], v)}
    if args.drop_ref:
        store.drop_ref(args.drop_ref)
        out["dropped_ref"] = args.drop_ref
    if args.fast_forward:
        out["fast_forwarded_to"] = store.fast_forward(args.fast_forward)
    if args.refresh_view:
        from logset_spark.operators.matview import IncrementalAggView

        view = IncrementalAggView(
            args.refresh_view,
            group_cols=[c for c in args.view_group_cols.split(",") if c],
            sum_cols=[c for c in args.view_sum_cols.split(",") if c],
        )
        out["view_refresh"] = view.refresh(spark, store)
    if args.analyze:
        import os

        from logset_spark.operators.sparql import analyze, save_stats

        st = analyze(store.read(spark).select("subj", "pred", "obj"))
        save_stats(
            st, spark, os.path.join(args.warehouse, "_stats", "pred_stats")
        )
        out["analyze"] = {"preds": len(st.pred_counts), "total": st.total}
    out["version_after"] = store.current_version()
    if args.refs:
        out["refs"] = [r.asDict() for r in store.refs(spark).collect()]
    if args.history:
        out["history"] = [r.asDict() for r in store.history(spark).collect()]
    print(json.dumps(out))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
