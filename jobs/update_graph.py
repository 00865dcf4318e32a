"""SPARQL Update job — mutate a built triples warehouse via
spark-submit (the write-side counterpart of query_graph.py; rdflib's
`Graph.update()` lifecycle as a distributed copy-on-write commit):

    zip -r kgpipe.zip logset_spark
    spark-submit --py-files kgpipe.zip jobs/update_graph.py \
        --warehouse /path/warehouse \
        --update "DELETE { ?c hasTurn ?t } INSERT { ?c hadTurn ?t }
                  WHERE { ?c hasTurn ?t . FILTER(regex(?c, 'c1$')) }"

Accepts every form operators/sparql_update.py compiles (INSERT DATA /
DELETE DATA / DELETE WHERE / DELETE-INSERT-WHERE).  Snapshot warehouses
(build_graph --snapshots) get the full Iceberg-CoW treatment: ONE atomic
commit rewriting only the touched (ts_day, conv_bucket) partitions, the
pre-update graph queryable via query_graph --as-of.  Plain warehouses
are rejected — an in-place rewrite without snapshot isolation could not
be made crash-atomic, and silent partial mutation of a graph store is
the one failure mode this engine never allows.

Prints ONE JSON line: {"version":..., "deleted":..., "inserted":...,
"wall_ms":...}.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main(argv=None) -> int:
    p = argparse.ArgumentParser(
        description="Apply a SPARQL Update to the knowledge graph")
    p.add_argument("--warehouse", required=True,
                   help="warehouse root (build_graph --out --snapshots)")
    p.add_argument("--update", help="SPARQL Update text")
    p.add_argument("--update-file", help="file containing the update")
    p.add_argument("--insert-ts", default="1970-01-01 00:00:00",
                   help="timestamp inserted triples are filed under "
                        "(partition layout; default epoch)")
    p.add_argument("--cpus", type=int, default=None)
    args = p.parse_args(argv)

    if not args.update and not args.update_file:
        p.error("one of --update / --update-file is required")
    update = args.update or open(args.update_file).read()

    from logset_spark.operators.sparql_update import (
        apply_update, is_graph_management)
    from logset_spark.session import get_spark

    if is_graph_management(update):
        p.error("graph-management forms (CLEAR/DROP/CREATE/COPY/MOVE/ADD/"
                "LOAD) operate on quads frames — use operators."
                "sparql_update.graph_update over a named-graph source; "
                "the warehouse triples table is a single default graph")

    from logset_spark.sources.snapshots import (
        SnapshotTriplesIO, open_warehouse)

    io = open_warehouse(args.warehouse)
    if not isinstance(io, SnapshotTriplesIO):
        p.error("--warehouse must be snapshot-versioned (build_graph "
                "--snapshots): SPARQL Update commits atomically through "
                "the snapshot store")
    spark = get_spark("update_graph", cpus=args.cpus)
    store = io.store
    t0 = time.monotonic()
    version, n_del, n_ins = apply_update(
        store, spark, update, insert_ts=args.insert_ts)
    print(json.dumps({
        "version": version, "deleted": n_del, "inserted": n_ins,
        "wall_ms": int((time.monotonic() - t0) * 1000),
    }))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
