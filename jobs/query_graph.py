"""SPARQL query job — run a query against a built triples warehouse via
spark-submit (the read-side counterpart of build_graph.py; together they
replace the reference's create/query CLI lifecycles):

    zip -r kgpipe.zip logset_spark
    spark-submit --py-files kgpipe.zip jobs/query_graph.py \
        --warehouse /path/warehouse \
        --query "SELECT ?conv (COUNT(?turn) AS ?n) WHERE { ?conv hasTurn ?turn }" \
        [--out /path/result_parquet] [--show 20]

Accepts every form operators/sparql.py compiles (SELECT with
FILTER/OPTIONAL/UNION/aggregates/property paths, ASK, CONSTRUCT,
DESCRIBE).  Without --out, prints up to --show rows as JSON lines plus
ONE summary JSON line; with --out, writes the full result as parquet
(distributed write — the driver never collects the result set).
"""

from __future__ import annotations

import argparse
import json
import os
import sys


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description="Query the transcript knowledge graph")
    src = p.add_mutually_exclusive_group(required=True)
    src.add_argument("--warehouse", help="warehouse root (build_graph --out)")
    src.add_argument("--catalog", help="entry .ttl catalog file to query instead"
                                       " of a parquet warehouse")
    src.add_argument("--catalog-bulk",
                     help="ONE large .ttl file parsed DISTRIBUTED "
                          "(sources/turtle.py load_turtle_bulk: native "
                          "statement splitting + per-statement parse in "
                          "Arrow batches) — the path for a multi-GB "
                          "Turtle dump the driver-side --catalog parser "
                          "should not hold in memory; header-only "
                          "directives, no link following")
    src.add_argument("--nquads", help=".nq file or directory to query "
                                      "directly — the distributed quad "
                                      "source (sources/ntriples.py): GRAPH "
                                      "patterns see each statement's named "
                                      "graph, default-graph rows merge into "
                                      "the default graph; malformed lines "
                                      "reject loudly")
    src.add_argument("--encoded", help="term-encoded store root "
                                       "(jobs/encode_graph.py --out): BGP "
                                       "SELECT queries (COUNT aggregates "
                                       "included) join and count on bigint "
                                       "ids, decoding only projected vars/"
                                       "group keys; anything outside that "
                                       "subset is rejected with a pointer "
                                       "at the string warehouse")
    p.add_argument("--follow-links", action="store_true",
                   help="with --catalog: follow rdfs:seeAlso/dcat:catalog links"
                        " to linked .ttl files (cycle-safe) and query the union")
    p.add_argument("--named-graphs", action="store_true",
                   dest="named_graphs",
                   help="with --catalog: load QUADS — each triple's named "
                        "graph is the .ttl file it came from, so "
                        "GRAPH ?g { ... } answers provenance and "
                        "GRAPH <file://...> confines a query to one file")
    p.add_argument("--query", help="SPARQL query text")
    p.add_argument("--query-file", help="file containing the query")
    p.add_argument("--out", help="write full result parquet here instead of printing")
    p.add_argument("--out-ttl", help="write the result as Turtle text shards"
                                     " (CONSTRUCT/DESCRIBE results, or any"
                                     " subj/pred/obj-shaped result)")
    p.add_argument("--out-nt", help="write the result as N-Triples text "
                                    "shards (distributed line format — the "
                                    "bulk-export twin of --out-ttl)")
    p.add_argument("--show", type=int, default=20, help="max rows to print without --out")
    p.add_argument("--as-of", default=None, dest="as_of",
                   type=lambda s: int(s) if s.isdigit() else s,
                   help="time-travel: query the triples snapshot at this "
                        "version number OR named ref (tag/branch created "
                        "via maintain_table --tag/--branch; warehouse "
                        "built with build_graph --snapshots; default = "
                        "latest)")
    p.add_argument("--changed-since", type=int, default=None,
                   dest="changed_since",
                   help="incremental scan: query ONLY triples added after "
                        "this snapshot version (reads just the new commits' "
                        "files — the polling-consumer mode)")
    p.add_argument("--provenance", action="store_true",
                   help="with --warehouse: union PROV-O quads derived from "
                        "the lineage/manifest control tables (one named "
                        "graph per run, prov:run/<id>) with the data "
                        "triples (named graph kg:data), so SPARQL answers "
                        "'which run generated partition X, when, with how "
                        "many rows' next to the data itself")
    p.add_argument("--star", action="store_true",
                   help="with --warehouse: SPARQL-star — quoted-triple "
                        "patterns (<< ?s ?p ?o >> kg:confidence ?c) "
                        "evaluated against statement-level annotations "
                        "derived from the graph's provenance columns "
                        "(conf -> kg:confidence, conv/turn -> "
                        "kg:derivedFrom) via the reification mapping "
                        "(operators/star.py)")
    p.add_argument("--rdfs", action="store_true",
                   help="query under RDFS entailment: materialize "
                        "subClassOf/subPropertyOf/domain/range inferences "
                        "(operators/inference.py) before evaluating")
    p.add_argument("--owl", action="store_true",
                   help="query under OWL entailment: inverse/symmetric/"
                        "transitive property expansion plus sameAs entity "
                        "canonicalization (FP/IFP merges, distributed-CC "
                        "rewrite; operators/inference.py owl_materialize) "
                        "before evaluating; composes with --rdfs (RDFS "
                        "first, then OWL)")
    p.add_argument("--skolemize", action="store_true",
                   help="relabel blank nodes to deterministic skolem "
                        "IRIs (2-round WL refinement, operators/"
                        "skolem.py) before evaluating — rdflib-parity "
                        "unique mode by default (never merges; COUNTs "
                        "unchanged); runs before any entailment flag")
    p.add_argument("--skolem-dedup", action="store_true",
                   help="with --skolemize: collapse structurally "
                        "identical blank nodes to ONE sk:<wl-color> IRI "
                        "so unioned re-loads of the same catalog dedup "
                        "(also merges identical bnodes within a load — "
                        "changes COUNTs; opt-in by design)")
    p.add_argument("--chains", type=int, nargs="?", const=1, default=0,
                   metavar="PASSES",
                   help="materialize owl:propertyChainAxiom entailment "
                        "(prp-spo2) before evaluating; optional value = "
                        "number of fixpoint passes (default 1); runs "
                        "before --keys/--owl so derived edges feed them")
    p.add_argument("--keys", action="store_true",
                   help="materialize owl:hasKey composite-key identity "
                        "(prp-key) before evaluating; emits candidate "
                        "owl:sameAs rows — combine with --owl to close "
                        "them into canonical entity classes")
    p.add_argument("--explain", action="store_true",
                   help="print the compiled Catalyst physical plan "
                        "(explain formatted) instead of executing — the "
                        "pushed-down filters / join strategies / exchanges "
                        "a SPARQL query lowers to")
    p.add_argument("--analyze", action="store_true",
                   help="collect per-predicate statistics first (one "
                        "aggregation) and order BGP joins by estimated "
                        "cardinality instead of the constant-count "
                        "heuristic")
    p.add_argument("--service", action="append", default=[],
                   metavar="IRI=PATH",
                   help="register a federation endpoint for SERVICE "
                        "groups: IRI (as written in the query, sans "
                        "brackets) = a second warehouse root or .ttl "
                        "catalog; repeatable")
    p.add_argument("--cpus", type=int, default=None)
    args = p.parse_args(argv)

    if not args.query and not args.query_file:
        p.error("one of --query / --query-file is required")
    query = args.query or open(args.query_file).read()

    from logset_spark.operators.sparql import sparql
    from logset_spark.session import get_spark
    from logset_spark.sources.snapshots import (
        SnapshotTriplesIO, open_warehouse)
    from logset_spark.sources.turtle import load_catalog

    if args.named_graphs and not args.catalog:
        p.error("--named-graphs needs --catalog (file-provenance quads)")
    if args.skolem_dedup and not args.skolemize:
        p.error("--skolem-dedup is a mode of --skolemize")
    if args.nquads and (args.rdfs or args.owl or args.chains or args.keys
                        or args.skolemize):
        p.error("--nquads cannot combine with --rdfs/--owl/--chains/"
                "--keys/--skolemize (entailment is defined over the "
                "merged default graph; quad attribution would be lost)")
    if args.named_graphs and (args.rdfs or args.owl or args.chains or args.keys or args.skolemize):
        p.error("--named-graphs cannot combine with --rdfs/--owl/--chains/--keys/--skolemize "
                "(entailment is defined over the merged default graph; "
                "materialized inferences have no single source file)")
    if args.provenance and not args.warehouse:
        p.error("--provenance needs a --warehouse (control tables)")
    if args.provenance and (args.rdfs or args.owl or args.chains or args.keys or args.skolemize):
        p.error("--provenance cannot combine with --rdfs/--owl/--chains/--keys/--skolemize "
                "(entailment is defined over the merged default graph; "
                "provenance quads are per-run named graphs)")
    spark = get_spark("query_graph", cpus=args.cpus)
    snap_flags = args.as_of is not None or args.changed_since is not None
    if args.encoded:
        for flag, name in (
            (args.rdfs, "--rdfs"), (args.owl, "--owl"),
            (args.chains, "--chains"), (args.keys, "--keys"),
            (args.skolemize, "--skolemize"), (args.out_nt, "--out-nt"),
            (args.provenance, "--provenance"), (snap_flags, "--as-of/"
             "--changed-since"), (args.analyze, "--analyze"),
            (args.service, "--service"), (args.out_ttl, "--out-ttl"),
        ):
            if flag:
                p.error(f"{name} needs the string warehouse, not --encoded")
        from logset_spark.operators.encode import sparql_encoded

        enc = spark.read.parquet(os.path.join(args.encoded, "triples"))
        dic = spark.read.parquet(os.path.join(args.encoded, "terms"))
        return _emit(p, args, spark, sparql_encoded(enc, dic, query))
    io = open_warehouse(args.warehouse) if args.warehouse else None
    if snap_flags and not isinstance(io, SnapshotTriplesIO):
        p.error("--as-of/--changed-since need a --warehouse built "
                "with --snapshots")
    if args.catalog:
        triples = load_catalog(spark, args.catalog,
                               follow_links=args.follow_links,
                               named_graphs=args.named_graphs)
    elif args.catalog_bulk:
        if args.follow_links or args.named_graphs:
            p.error("--catalog-bulk parses one self-contained document "
                    "(no link following / named graphs); use --catalog")
        from logset_spark.sources.turtle import load_turtle_bulk

        triples = load_turtle_bulk(spark, args.catalog_bulk)
    elif args.nquads:
        from pyspark.sql import functions as F

        from logset_spark.sources.ntriples import from_nquads

        q_good, q_bad = from_nquads(spark, args.nquads)
        nbad = q_bad.count()
        if nbad:
            p.error(f"--nquads {args.nquads}: {nbad} malformed line(s) "
                    "(fix or strip them; the reader quarantines, the "
                    "query surface is strict)")
        # source marks the default graph '' ; the evaluator's quads
        # convention is NULL (same boundary mapping as LOAD .nq)
        triples = q_good.withColumn(
            "graph",
            F.when(F.col("graph") == "", F.lit(None).cast("string"))
            .otherwise(F.col("graph")),
        )
    elif args.changed_since is not None:
        triples = io.store.incremental_read(
            spark, args.changed_since, to_version=args.as_of)
    elif args.as_of is not None:
        triples = io.read_version(spark, args.as_of)
    else:
        triples = io.read(spark, "triples")
    if args.provenance:
        from logset_spark.operators.provenance import (
            provenance_quads,
            with_provenance,
        )

        triples = with_provenance(
            triples, provenance_quads(spark, io))
    if args.skolemize:
        from logset_spark.operators.skolem import skolemize

        triples = skolemize(
            triples.select("subj", "pred", "obj"),
            dedup=args.skolem_dedup,
        )
        if args.skolem_dedup:
            triples = triples.distinct()
    if args.rdfs:
        from logset_spark.operators.inference import rdfs_materialize

        triples = rdfs_materialize(triples.select("subj", "pred", "obj"))
    if args.chains:
        from logset_spark.operators.inference import property_chains_materialize

        triples = property_chains_materialize(
            triples.select("subj", "pred", "obj"), passes=args.chains
        )
    if args.keys:
        from logset_spark.operators.inference import owl_keys_materialize

        triples = owl_keys_materialize(triples.select("subj", "pred", "obj"))
    if args.owl:
        from logset_spark.operators.inference import owl_materialize

        triples = owl_materialize(triples.select("subj", "pred", "obj"))
    services = {}
    for spec in args.service:
        if "=" not in spec:
            p.error(f"--service expects IRI=PATH, got {spec!r}")
        iri, path = spec.split("=", 1)
        if path.endswith(".ttl") or path.endswith(".trig"):
            services[iri] = load_catalog(spark, path,
                                         follow_links=args.follow_links)
        else:
            services[iri] = open_warehouse(path).read(spark, "triples")
    stats = None
    if args.analyze and not args.star:
        from logset_spark.operators.sparql import analyze, load_stats

        stats_path = (
            os.path.join(args.warehouse, "_stats", "pred_stats")
            if args.warehouse else None
        )
        if (
            stats_path
            and os.path.isdir(stats_path)
            # persisted stats describe the BASE graph only — under
            # entailment/provenance expansion the per-pred counts
            # differ, so fall back to a fresh scan of the expanded set
            and not (args.rdfs or args.owl or args.chains or args.keys or args.skolemize or args.provenance)
        ):
            stats = load_stats(spark, stats_path)
        else:
            stats = analyze(triples)
    if args.star:
        if not args.warehouse:
            p.error("--star needs a --warehouse (annotations derive "
                    "from the triple table's provenance columns)")
        for flag, name in ((args.rdfs, "--rdfs"), (args.owl, "--owl"),
                           (args.chains, "--chains"), (args.keys, "--keys"),
                           (args.skolemize, "--skolemize"),
                           (args.provenance, "--provenance")):
            if flag:
                p.error(f"--star cannot combine with {name} (inferred/"
                        "provenance rows carry no per-statement conf)")
        from logset_spark.operators.star import (
            graph_star_annotations,
            sparql_star,
        )

        anns = graph_star_annotations(triples)
        if args.analyze:
            # --star evaluates over triples UNION reify(annotations);
            # base-graph stats (persisted or fresh) would tell the join
            # orderer the reification predicates are empty — analyze
            # the ACTUAL expanded dataset instead
            from logset_spark.operators.sparql import analyze
            from logset_spark.operators.star import reify

            stats = analyze(
                triples.select("subj", "pred", "obj").unionByName(
                    reify(anns)))
        result = sparql_star(triples, anns, query,
                             services=services or None, stats=stats)
    else:
        result = sparql(triples, query, services=services or None,
                        stats=stats)

    return _emit(p, args, spark, result)


def _emit(p, args, spark, result) -> int:
    """Shared result emission for every source mode (warehouse, catalog,
    encoded): --explain / --out-ttl / --out / printed rows."""
    if args.explain:
        result.explain("formatted")
        spark.stop()
        return 0

    if args.out_ttl:
        from logset_spark.sources.turtle import save_turtle

        if result.columns != ["subj", "pred", "obj"]:
            p.error("--out-ttl needs a (subj, pred, obj) result "
                    "(CONSTRUCT / DESCRIBE queries)")
        save_turtle(result, args.out_ttl)
        n = spark.read.text(args.out_ttl).count()
        print(json.dumps({"rows": n, "out_ttl": args.out_ttl,
                          "columns": result.columns}))
    elif args.out_nt:
        from logset_spark.sources.ntriples import to_ntriples

        if result.columns != ["subj", "pred", "obj"]:
            p.error("--out-nt needs a (subj, pred, obj) result "
                    "(CONSTRUCT / DESCRIBE queries)")
        to_ntriples(result, args.out_nt)
        n = spark.read.text(args.out_nt).count()
        print(json.dumps({"rows": n, "out_nt": args.out_nt,
                          "columns": result.columns}))
    elif args.out:
        result.write.mode("overwrite").parquet(args.out)
        n = spark.read.parquet(args.out).count()
        print(json.dumps({"rows": n, "out": args.out,
                          "columns": result.columns}))
    else:
        rows = result.limit(args.show).collect()
        for r in rows:
            print(json.dumps(r.asDict(), default=str))
        print(json.dumps({"rows_shown": len(rows), "columns": result.columns}))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
