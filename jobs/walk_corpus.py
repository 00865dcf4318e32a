"""Embedding-corpus job — DeepWalk over the knowledge graph via
spark-submit: deterministic walks on the conv↔entity co-mention graph,
expanded to skip-gram (center, context) pairs, landed as parquet.

    zip -r kgpipe.zip logset_spark
    spark-submit --py-files kgpipe.zip jobs/walk_corpus.py \
        --warehouse /path/wh --out /path/corpus \
        --steps 8 --window 2 --walks-per-node 4

Graph: conv --mentions--> entity edges derived from the triples table
(turn partOf conv ⋈ turn mentions entity), symmetrized so walks
alternate conv/entity hops — the bipartite DeepWalk setup whose
skip-gram pairs co-embed conversations with the entities they discuss.

Everything is deterministic (hash-argmin sampling, salt reseeds): a
re-run emits a byte-identical corpus, so downstream embedding training
is reproducible and a resumed job never shifts the pair distribution.
Scale: the walk loop is O(steps) frontier joins (frontier = all walks,
bounded by walks_per_node * |nodes|), the pair expansion one exchange;
nothing driver-side beyond the manifest read.

Prints ONE JSON line: {"nodes":..., "walks":..., "pairs":..., "out":...,
"wall_ms":...}.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main(argv=None) -> int:
    p = argparse.ArgumentParser(
        description="DeepWalk skip-gram corpus from a triples warehouse")
    p.add_argument("--warehouse", required=True,
                   help="warehouse root (build_graph --out)")
    p.add_argument("--out", required=True, help="corpus parquet dir")
    p.add_argument("--steps", type=int, default=8,
                   help="walk length in steps (default 8)")
    p.add_argument("--window", type=int, default=2,
                   help="skip-gram context window (default 2)")
    p.add_argument("--walks-per-node", type=int, default=4,
                   help="independent walks started per node (default 4)")
    p.add_argument("--salt", default="w",
                   help="corpus seed: a different salt draws a fresh "
                        "deterministic corpus")
    p.add_argument("--negatives", type=int, default=0, metavar="K",
                   help="also draw K deterministic unigram^0.75 negatives "
                        "per pair (written to <out>_negatives)")
    p.add_argument("--cpus", type=int, default=None)
    args = p.parse_args(argv)

    import pyspark.sql.functions as F

    from logset_spark.operators.graph import (
        deterministic_walks,
        skipgram_pairs,
    )
    from logset_spark.session import get_spark
    from logset_spark.sources.snapshots import open_warehouse

    spark = get_spark("walk_corpus", cpus=args.cpus)
    t0 = time.monotonic()
    triples = open_warehouse(args.warehouse).read(spark, "triples")

    part_of = triples.where(F.col("pred") == "partOf").select(
        F.col("subj").alias("turn"), F.col("obj").alias("conv"))
    mentions = triples.where(F.col("pred") == "mentions").select(
        F.col("subj").alias("turn"), F.col("obj").alias("entity"))
    ce = (
        part_of.join(mentions, "turn")
        .select("conv", "entity").distinct()
    )
    edges = ce.select(F.col("conv").alias("src"), F.col("entity").alias("dst")) \
        .unionByName(
            ce.select(F.col("entity").alias("src"), F.col("conv").alias("dst")))
    nodes = edges.select(F.col("src").alias("node")).distinct()
    starts = (
        nodes.crossJoin(
            spark.range(args.walks_per_node).select(
                F.col("id").cast("string").alias("i"))
        ).select(
            F.concat_ws("#", "node", "i").alias("walk_id"), "node")
    )
    walks = deterministic_walks(edges, starts, args.steps, salt=args.salt)
    # center==context pairs (a bipartite walk returns to its node at
    # distance 2 constantly) carry no embedding signal — drop them here,
    # not in the operator, whose contract is the plain window definition
    pairs = skipgram_pairs(walks, window=args.window).where(
        F.col("center") != F.col("context"))
    pairs.write.mode("overwrite").parquet(args.out)

    n_neg = 0
    if args.negatives > 0:
        from logset_spark.operators.graph import negative_samples

        # vocab = node visit frequencies from THIS corpus's walks — the
        # word2vec convention (negatives drawn from the data distribution)
        vocab = walks.groupBy(F.col("node")).agg(
            F.count(F.lit(1)).alias("freq"))
        neg = negative_samples(
            spark.read.parquet(args.out), vocab, k=args.negatives,
            salt=args.salt + ":neg")
        neg.write.mode("overwrite").parquet(args.out + "_negatives")
        n_neg = spark.read.parquet(args.out + "_negatives").count()

    n_pairs = spark.read.parquet(args.out).count()
    print(json.dumps({
        "nodes": nodes.count(),
        "walks": starts.count(),
        "pairs": n_pairs,
        "negatives": n_neg,
        "out": args.out,
        "wall_ms": int((time.monotonic() - t0) * 1000),
    }))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
