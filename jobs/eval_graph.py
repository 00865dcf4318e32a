"""Evaluate a built warehouse against a golden triple set: P/R on
distinct (subj, pred, obj), the north rule's triple-agreement metric.

    spark-submit --py-files pkg.zip jobs/eval_graph.py \
        --warehouse /path/wh --golden /path/golden_triples_parquet \
        [--pred mentions ...] [--min-precision 0.95 --min-recall 0.95]

The golden side is any parquet with subj/pred/obj columns (tests
materialize theirs from the pandas oracle; a reference Turtle graph
flattens to the same shape through sources/turtle.py).  Prints ONE JSON
line {tp, emitted, golden, precision, recall, ok}; exit code 1 when a
--min-* bar is set and missed, so CI can gate on it.
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description="P/R of a warehouse vs golden")
    p.add_argument("--warehouse", required=True)
    p.add_argument("--golden", required=True,
                   help="parquet (or .ttl) of golden subj/pred/obj triples")
    p.add_argument("--pred", nargs="*", default=None,
                   help="restrict the comparison to these predicates")
    p.add_argument("--min-precision", type=float, default=None)
    p.add_argument("--min-recall", type=float, default=None)
    p.add_argument("--cpus", type=int, default=None)
    args = p.parse_args(argv)

    from pyspark.sql import functions as F

    from logset_spark.operators.metrics import precision_recall
    from logset_spark.session import get_spark
    from logset_spark.sources.snapshots import open_warehouse

    spark = get_spark("eval_graph", cpus=args.cpus)
    emitted = open_warehouse(args.warehouse).read(spark, "triples")
    if args.golden.endswith(".ttl"):
        from logset_spark.sources.turtle import from_turtle

        with open(args.golden) as fh:
            golden = spark.createDataFrame(from_turtle(fh.read()))
    else:
        golden = spark.read.parquet(args.golden)
    if args.pred:
        emitted = emitted.where(F.col("pred").isin(args.pred))
        golden = golden.where(F.col("pred").isin(args.pred))

    pr = precision_recall(emitted, golden)
    ok = (args.min_precision is None or pr["precision"] >= args.min_precision) \
        and (args.min_recall is None or pr["recall"] >= args.min_recall)
    pr["ok"] = ok
    print(json.dumps(pr))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
