"""Bulk term-encoding job — build the node dictionary and the
integer-encoded triple table for a built warehouse (the RDF-3X/TDB
node-table load step; operators/encode.py):

    zip -r kgpipe.zip logset_spark
    spark-submit --py-files kgpipe.zip jobs/encode_graph.py \
        --warehouse /path/warehouse --out /path/encoded

Writes two parquet tables under --out:
  * terms/    (term string, tid bigint)  — ids contiguous from 1 in
              global term sort order (deterministic; namespace prefixes
              get contiguous id ranges)
  * triples/  (s_id, p_id, o_id bigint)  — sorted by (p_id, s_id, o_id)
              within partitions so parquet delta/dictionary encoding
              compresses the id columns hard and a predicate probe
              row-group-prunes on p_id min/max

Prints ONE JSON line with row counts and the measured on-disk bytes of
the string vs encoded triple tables — the claim this design makes
(fixed-width ids shrink every downstream scan/shuffle) as a number, not
an assertion.
"""

from __future__ import annotations

import argparse
import json
import os
import sys


def _du(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if not f.startswith(("_", ".")):
                total += os.path.getsize(os.path.join(root, f))
    return total


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description="Term-encode a triples warehouse")
    p.add_argument("--warehouse", required=True,
                   help="warehouse root (build_graph --out)")
    p.add_argument("--out", required=True, help="output root for terms/ + triples/")
    p.add_argument("--extend", action="store_true",
                   help="reuse an existing terms table under --out: "
                        "existing terms keep their ids (downstream "
                        "consumers' ids stay valid), genuinely-new terms "
                        "get ids above the current max, and the triples "
                        "table is re-encoded against the grown dictionary")
    p.add_argument("--measure-string-baseline", action="store_true",
                   help="also write the (subj, pred, obj) string columns "
                        "alone, sorted the same way, and report their "
                        "bytes — the like-for-like size comparison (the "
                        "warehouse table carries provenance columns that "
                        "would overstate the string side)")
    p.add_argument("--cpus", type=int, default=None)
    args = p.parse_args(argv)

    from logset_spark.operators.encode import (
        build_term_dictionary, encode_triples,
    )
    from logset_spark.session import get_spark
    from logset_spark.sources.snapshots import open_warehouse

    spark = get_spark("encode_graph", cpus=args.cpus)
    tri = open_warehouse(args.warehouse).read(spark, "triples").select(
        "subj", "pred", "obj")

    terms_path = f"{args.out}/terms"
    if args.extend and os.path.isdir(terms_path):
        from logset_spark.operators.encode import extend_term_dictionary

        dic0 = spark.read.parquet(terms_path)
        extend_term_dictionary(dic0, tri).write.mode("append").parquet(
            terms_path
        )
    else:
        build_term_dictionary(tri).write.mode("overwrite").parquet(terms_path)
    dic = spark.read.parquet(terms_path)  # cut the lineage: one build

    enc = encode_triples(tri, dic)
    (
        enc.sortWithinPartitions("p_id", "s_id", "o_id")
        .write.mode("overwrite")
        .parquet(f"{args.out}/triples")
    )

    out = {
        "terms": dic.count(),
        "triples": spark.read.parquet(f"{args.out}/triples").count(),
        "warehouse_triples_bytes": _du(os.path.join(args.warehouse, "triples")),
        "encoded_triples_bytes": _du(os.path.join(args.out, "triples")),
        "terms_bytes": _du(os.path.join(args.out, "terms")),
        "out": args.out,
    }
    if args.measure_string_baseline:
        base = f"{args.out}/_string_baseline"
        (
            tri.sortWithinPartitions("pred", "subj", "obj")
            .write.mode("overwrite").parquet(base)
        )
        out["string_spo_bytes"] = _du(base)
    print(json.dumps(out))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
