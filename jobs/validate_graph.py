"""SHACL validation job — check a built triples warehouse (or a .ttl
catalog) against a shapes file via spark-submit:

    zip -r kgpipe.zip logset_spark
    spark-submit --py-files kgpipe.zip jobs/validate_graph.py \
        --warehouse /path/warehouse --shapes shapes.ttl \
        [--out /path/violations_parquet] [--show 20]

The shapes file is Turtle (this engine's parser handles the anonymous
property shapes and sh:in collections SHACL is written with); the
supported constraint subset is documented in operators/shacl.py.
Exit code 0 = conformant, 3 = violations found (so CI can gate a graph
build on its shape contract); prints ONE summary JSON line either way.
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv=None) -> int:
    p = argparse.ArgumentParser(
        description="Validate the knowledge graph against SHACL shapes")
    src = p.add_mutually_exclusive_group(required=True)
    src.add_argument("--warehouse", help="warehouse root (build_graph --out)")
    src.add_argument("--catalog", help=".ttl catalog file to validate")
    p.add_argument("--shapes", required=True, help="shapes .ttl file")
    p.add_argument("--follow-links", action="store_true",
                   help="with --catalog: follow catalog links")
    p.add_argument("--as-of", type=int, default=None, dest="as_of",
                   help="validate the snapshot at this version")
    p.add_argument("--changed-since", type=int, default=None,
                   dest="changed_since",
                   help="incremental: re-check only nodes touched by "
                        "triples added after this snapshot version "
                        "(each against the FULL graph, so counts are "
                        "true cardinalities)")
    p.add_argument("--out", help="write violations parquet here")
    p.add_argument("--show", type=int, default=20,
                   help="max violations to print without --out")
    p.add_argument("--cpus", type=int, default=None)
    args = p.parse_args(argv)

    from logset_spark.operators.shacl import compile_shapes, validate
    from logset_spark.session import get_spark
    from logset_spark.sources.snapshots import (
        SnapshotTriplesIO, open_warehouse)
    from logset_spark.sources.turtle import load_catalog, parse_turtle

    with open(args.shapes, encoding="utf-8") as fh:
        shape_triples, _ = parse_turtle(fh.read())
    shapes = compile_shapes(shape_triples)

    spark = get_spark("validate_graph", cpus=args.cpus)
    focus_scope = None
    if args.catalog:
        if args.changed_since is not None:
            p.error("--changed-since needs a snapshot --warehouse")
        triples = load_catalog(spark, args.catalog,
                               follow_links=args.follow_links)
    else:
        io = open_warehouse(args.warehouse)
        if args.as_of is None and args.changed_since is None:
            triples = io.read(spark, "triples")
        elif not isinstance(io, SnapshotTriplesIO):
            p.error("--as-of/--changed-since need a --warehouse built "
                    "with --snapshots")
        else:
            triples = io.read_version(spark, args.as_of)
            if args.changed_since is not None:
                focus_scope = io.store.incremental_read(
                    spark, args.changed_since, to_version=args.as_of
                ).select("subj")

    violations = validate(
        triples.select("subj", "pred", "obj"), shapes,
        focus_scope=focus_scope)
    if args.out:
        violations.write.mode("overwrite").parquet(args.out)
        n = spark.read.parquet(args.out).count()
    else:
        rows = violations.limit(args.show).collect()
        for r in rows:
            print(json.dumps(r.asDict(), default=str))
        n = violations.count()
    print(json.dumps({
        "violations": n, "shapes": len(shapes),
        "conformant": n == 0,
        **({"changed_since": args.changed_since}
           if args.changed_since is not None else {}),
        **({"out": args.out} if args.out else {}),
    }))
    spark.stop()
    return 0 if n == 0 else 3


if __name__ == "__main__":
    sys.exit(main())
