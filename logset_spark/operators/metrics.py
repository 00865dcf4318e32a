"""Stage 5 — graph metrics & P/R verification.

P/R against golden triples (the reference's emitted Turtle, SURVEY §5.1)
is set arithmetic: TP = emitted ∩ golden, computed as an inner join on
(subj, pred, obj) — never a collect.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def precision_recall(emitted: DataFrame, golden: DataFrame) -> dict[str, float]:
    """ONE aggregation pass supplies tp AND both side counts (tp = keys
    seen on both sides; side count = keys whose side-set contains that
    side) — no separate count() jobs re-scanning either table."""
    key = ["subj", "pred", "obj"]
    e = emitted.select(*key).distinct()
    g = golden.select(*key).distinct()
    counts = (
        e.withColumn("_side", F.lit("e"))
        .unionByName(g.withColumn("_side", F.lit("g")))
        .groupBy(*key)
        .agg(F.collect_set("_side").alias("sides"))
        .agg(
            F.sum(F.when(F.size("sides") == 2, 1).otherwise(0)).alias("tp"),
            F.sum(F.when(F.array_contains("sides", "e"), 1).otherwise(0)).alias("n_e"),
            F.sum(F.when(F.array_contains("sides", "g"), 1).otherwise(0)).alias("n_g"),
        )
        .first()
    )
    tp = counts["tp"] or 0
    n_e = counts["n_e"] or 0
    n_g = counts["n_g"] or 0
    return {
        "tp": float(tp),
        "emitted": float(n_e),
        "golden": float(n_g),
        "precision": tp / n_e if n_e else 1.0,
        "recall": tp / n_g if n_g else 1.0,
    }
