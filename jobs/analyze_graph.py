"""Graph analytics over a built warehouse — run via spark-submit (the
analytics twin of query_graph's SPARQL surface: same triple loading,
but the question is structural, not a BGP):

    zip -r kgpipe.zip logset_spark
    spark-submit --py-files kgpipe.zip jobs/analyze_graph.py \
        --warehouse /path/wh --metric pagerank --pred mentions \
        --out /path/scores --top 5

Edges are the (subj, obj) pairs of the selected predicates (default:
every predicate).  Metrics and their operators (all the iterative ones
run their convergence-probed production modes):

    pagerank     fixed-point integer PageRank (graph.pagerank_fixedpoint)
    cc           connected components (cc.connected_components)
    scc          strongly connected components (digraph.scc)
    topo         Kahn levels, cycles marked NULL (digraph.topo_levels)
    triangle     per-node triangle counts (graph.triangle_count)
    clustering   local clustering coefficient (graph.clustering_coefficient)
    kcore        k-core survivors, --k (graph.kcore_peel, convergence)
    ktruss       k-truss edges, --k (graph.ktruss_peel, convergence)
    betweenness  sampled Brandes, --sources a,b,... (graph.betweenness_approx)
    ego          k-hop ego net, --seeds a,b --hops n (graph.ego_network)
    sample       deterministic neighbor sample, --k (graph.neighbor_sample)
    modularity   LPA partition + integer modularity decomposition
                 (graph.label_propagation + modularity_parts; the JSON
                 line carries scalar Q)

Prints ONE JSON line (metric, edge/row counts, top rows by score where
the metric has one); --out lands the full result as parquet.
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description="Warehouse graph analytics")
    p.add_argument("--warehouse", required=True)
    p.add_argument("--metric", required=True,
                   choices=["pagerank", "cc", "scc", "topo", "triangle",
                            "clustering", "kcore", "ktruss", "betweenness",
                            "ego", "sample", "modularity", "summary"])
    p.add_argument("--pred", action="append", default=[],
                   help="edge predicate(s); repeatable; default all")
    p.add_argument("--k", type=int, default=None,
                   help="k for kcore/ktruss/sample")
    p.add_argument("--iters", type=int, default=3,
                   help="iterations for pagerank/modularity's LPA")
    p.add_argument("--sources", default=None,
                   help="comma-separated source nodes (betweenness)")
    p.add_argument("--seeds", default=None,
                   help="comma-separated seed nodes (ego)")
    p.add_argument("--hops", type=int, default=2)
    p.add_argument("--rounds", type=int, default=1,
                   help="WL refinement rounds for --metric summary")
    p.add_argument("--top", type=int, default=5,
                   help="top rows to embed in the JSON line")
    p.add_argument("--out", default=None, help="parquet output path")
    p.add_argument("--cpus", type=int, default=None)
    args = p.parse_args(argv)

    from pyspark.sql import functions as F

    from logset_spark.session import get_spark
    from logset_spark.sources.snapshots import open_warehouse

    spark = get_spark("analyze_graph", cpus=args.cpus)
    triples = open_warehouse(args.warehouse).read(spark, "triples")
    if args.pred:
        triples = triples.where(F.col("pred").isin(args.pred))
    edges = triples.select(
        F.col("subj").alias("src"), F.col("obj").alias("dst")
    ).distinct().localCheckpoint(eager=True)
    n_edges = edges.count()

    from logset_spark.operators import graph as G

    extra: dict = {}
    order_col = None
    m = args.metric
    if m == "pagerank":
        result = G.pagerank_fixedpoint(edges, n_iter=args.iters)
        order_col = "rank"
    elif m == "cc":
        from logset_spark.operators.cc import connected_components

        result = connected_components(edges)
    elif m == "scc":
        from logset_spark.operators.digraph import scc

        result = scc(edges)
    elif m == "topo":
        from logset_spark.operators.digraph import topo_levels

        result = topo_levels(edges, on_cycle="mark")
        order_col = "level"
    elif m == "triangle":
        result = G.triangle_count(
            edges.select(F.col("src").alias("a"), F.col("dst").alias("b"))
        )
        order_col = "n_tri"
    elif m == "clustering":
        result = G.clustering_coefficient(
            edges.select(F.col("src").alias("a"), F.col("dst").alias("b"))
        )
        order_col = "coef"
    elif m == "kcore":
        if args.k is None:
            p.error("--metric kcore needs --k")
        result = G.kcore_peel(
            edges.select(F.col("src").alias("a"), F.col("dst").alias("b")),
            k=args.k,
        )
        order_col = "deg"
    elif m == "ktruss":
        if args.k is None:
            p.error("--metric ktruss needs --k")
        result = G.ktruss_peel(
            edges.select(F.col("src").alias("a"), F.col("dst").alias("b")),
            k=args.k,
        )
        order_col = "support"
    elif m == "betweenness":
        if not args.sources:
            p.error("--metric betweenness needs --sources")
        srcs = spark.createDataFrame(
            [(s,) for s in args.sources.split(",")], "node string"
        )
        result = G.betweenness_approx(edges, srcs)
        order_col = "score"
    elif m == "ego":
        if not args.seeds:
            p.error("--metric ego needs --seeds")
        seeds = spark.createDataFrame(
            [(s,) for s in args.seeds.split(",")], "node string"
        )
        result = G.ego_network(edges, seeds, hops=args.hops)
    elif m == "sample":
        if args.k is None:
            p.error("--metric sample needs --k")
        result = G.neighbor_sample(edges, k=args.k)
    elif m == "summary":
        from logset_spark.operators.skolem import summarize_graph

        result = summarize_graph(triples, rounds=args.rounds)
        order_col = "n_edges"
    else:  # modularity
        und = edges.select(F.col("src").alias("a"), F.col("dst").alias("b"))
        labels = G.label_propagation(und, n_iter=args.iters)
        result = G.modularity_parts(und, labels)
        order_col = "q_num"
        extra["modularity_q"] = G.modularity_score(und, labels)

    result = result.localCheckpoint(eager=True)
    if args.out:
        result.write.mode("overwrite").parquet(args.out)
    out = {
        "metric": m,
        "edges": n_edges,
        "rows": result.count(),
        **extra,
    }
    if order_col is not None and args.top:
        out["top"] = [
            r.asDict()
            for r in result.orderBy(
                F.col(order_col).desc_nulls_last(), *result.columns[:1]
            ).limit(args.top).collect()
        ]
    if args.out:
        out["out"] = args.out
    print(json.dumps(out))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
