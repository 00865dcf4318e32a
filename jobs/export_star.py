"""Turtle-star export job — serialize a built triples warehouse WITH its
statement-level provenance (link confidence + originating turn) as
RDF-star, via spark-submit:

    zip -r kgpipe.zip logset_spark
    spark-submit --py-files kgpipe.zip jobs/export_star.py \
        --warehouse /path/warehouse --out /path/star_ttl \
        [--min-conf 0.8] [--no-provenance]

The reference keeps extraction metadata implicit in rdflib node
attributes; here the pipeline's provenance columns (conf, conv_id,
turn_idx — threaded through every stage precisely so they survive to
the table) are re-expressed as Turtle-star annotations:

    <conv:c1/5> <kg:mentions> <ent:grep> .
    << <conv:c1/5> <kg:mentions> <ent:grep> >> <kg:confidence> "0.9750" .
    << <conv:c1/5> <kg:mentions> <ent:grep> >> <kg:derivedFrom> <turn:c1/5> .

The export is a pure column-pruned scan + projection (no joins, no
Python in the row path — operators/star.py graph_star_annotations and
the native save_turtle_star sink), so it scales like the write it
mirrors.  Prints ONE summary JSON line.
"""

from __future__ import annotations

import argparse
import json


def main(argv=None) -> int:
    p = argparse.ArgumentParser(
        description="Export the knowledge graph as Turtle-star with "
                    "confidence/provenance annotations")
    p.add_argument("--warehouse", required=True,
                   help="warehouse root (build_graph --out)")
    p.add_argument("--out", required=True,
                   help="output directory for .ttl-star text shards")
    p.add_argument("--min-conf", type=float, default=None,
                   help="export only triples with conf >= this "
                        "(unlinked structural rows always pass)")
    p.add_argument("--no-provenance", action="store_true",
                   help="emit kg:confidence only, no kg:derivedFrom")
    p.add_argument("--cpus", type=int, default=None)
    args = p.parse_args(argv)

    from pyspark.sql import functions as F

    from logset_spark.operators.star import (
        annotate_confidence,
        graph_star_annotations,
    )
    from logset_spark.session import get_spark
    from logset_spark.sources.snapshots import open_warehouse
    from logset_spark.sources.turtle import save_turtle_star

    spark = get_spark("export_star", cpus=args.cpus)
    graph = open_warehouse(args.warehouse).read(spark, "triples")
    if args.min_conf is not None:
        graph = graph.where(
            F.col("conf").isNull() | (F.col("conf") >= args.min_conf))

    if args.no_provenance:
        anns = annotate_confidence(graph, score_col="conf")
    else:
        anns = graph_star_annotations(graph)

    triples = graph.select("subj", "pred", "obj").distinct()
    save_turtle_star(triples, anns, args.out)

    # one conditional aggregation over ONE scan of the written shards —
    # a full-warehouse export is big; don't read it twice for a summary
    counts = spark.read.text(args.out).agg(
        F.sum(F.when(F.col("value").startswith("<< "), 0)
              .otherwise(1)).alias("n_t"),
        F.sum(F.when(F.col("value").startswith("<< "), 1)
              .otherwise(0)).alias("n_a"),
    ).first()
    print(json.dumps({"out": args.out, "triples": counts["n_t"] or 0,
                      "annotations": counts["n_a"] or 0}))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
