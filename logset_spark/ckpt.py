"""Origin-cut local checkpointing for round-chained iterative operators.

``Dataset.localCheckpoint`` truncates the *execution* lineage, but the
resulting ``LogicalRDD`` still carries ``originStats`` /
``originConstraints`` rewritten from the checkpointed plan (Spark
``sql/core`` ExistingRDD.scala, ``LogicalRDD.fromDataset`` /
``rewriteStatsAndConstraints``).  In an iterative operator each round's
plan references the previous round's LogicalRDD several times (neighbor
join + union branch + pointer-halving parent join), and Catalyst
analysis / AQE re-planning walks those origin structures as a TREE, so
driver-side planning cost DOUBLES per round once the checkpoint chain
gets deep enough.

Measured on q_scc at sf0.1 (130-node fixture, local[32]): rounds 5-8 of
the second block-refinement pass went 0.4 -> 0.7 -> 1.3 -> 3.1 s wall
with a CONSTANT 1037-char optimized plan, constant 7 jobs / 14 tasks per
round — pure driver planning blow-up, reproduced deterministically and
eliminated by cutting the origin chain (flat 0.2 s/round after).
``spark.sql.constraintPropagation.enabled=false`` does NOT fix it.

``checkpoint_cut`` rewraps the checkpointed InternalRow RDD in a fresh
``LogicalRDD`` with no origin links:

* stats degrade to size-only defaults — irrelevant for loop-state frames
  whose joins are re-planned by AQE from runtime shuffle statistics;
* the physical-partitioning metadata is dropped (UnknownPartitioning) —
  also fine for loop state, which the next round re-shuffles anyway
  (groupBy on a different key than the stored partitioning).

Do NOT reach for this on one-shot checkpoints feeding partitioning-
sensitive consumers (e.g. a frame checkpointed pre-sorted for a merge
join): there the retained metadata is load-bearing and plain
``localCheckpoint`` is correct.

``internalCreateDataFrame`` is ``private[sql]`` in Scala, which compiles
to a public method in bytecode, so py4j can call it; if the internal API
moves in a future Spark, the helper degrades to the plain checkpoint
(correctness unaffected, the planning tax returns).

``fixpoint`` is the one driver every iterative graph operator runs
through: ``state <- cut(step(state))`` until no row of the new state
matches the caller's ``changed`` predicate.  The changed count rides the
round's checkpoint action as an ``observe`` metric, so a round is one
action, never a checkpoint plus a separate probe job.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F


def checkpoint_cut(df: DataFrame) -> DataFrame:
    """Eager localCheckpoint + Catalyst origin-chain cut (see module doc)."""
    ck = df.localCheckpoint(eager=True)
    try:
        jdf = ck._jdf
        j2 = ck.sparkSession._jsparkSession.internalCreateDataFrame(
            jdf.queryExecution().toRdd(), jdf.schema(), False
        )
        return DataFrame(j2, ck.sparkSession)
    except Exception:  # pragma: no cover — internal-API drift fallback
        return ck


def fixpoint(
    state: DataFrame,
    step: Callable[[DataFrame], DataFrame],
    changed: Column,
    name: str,
    max_rounds: int | None = None,
    truncate: bool = False,
) -> DataFrame:
    """Iterate ``state <- cut(step(state))`` to a fixpoint; return the
    final (checkpointed) state.

    ``state`` is checkpointed once up front, its row count observed in
    that same action.  Each round then runs ``step`` on the checkpointed
    state and checkpoints the result, reading ``coalesce(sum(changed),
    0)`` over the new rows in the same action; a zero count ends the
    loop (the coalesce keeps an empty state from reading as NULL and
    spinning).  ``max_rounds=None`` caps the loop at the initial row
    count (at least 1): label propagation over n nodes settles within
    n rounds, so that cap never trips on correct code.

    Past the cap the loop raises ``RuntimeError("<name> did not converge
    in N rounds")`` — unless ``truncate``: then the cap is part of the
    answer (a hop or step budget, an oracle's fixed round count) and the
    state after N rounds is returned.  ``changed=F.lit(True)`` with
    ``truncate`` is the fixed-round idiom: exactly ``max_rounds`` rounds,
    fewer only if a round yields no rows."""
    rows = Observation()
    state = checkpoint_cut(state.observe(rows, F.count(F.lit(1)).alias("n")))
    cap = max(rows.get["n"], 1) if max_rounds is None else max_rounds
    for _ in range(cap):
        obs = Observation()
        state = checkpoint_cut(step(state).observe(
            obs, F.coalesce(F.sum(changed.cast("long")), F.lit(0)).alias("n")
        ))
        if obs.get["n"] == 0:
            return state
    if truncate:
        return state
    raise RuntimeError(f"{name} did not converge in {cap} rounds")


def _install() -> None:
    """Expose as ``df.localCheckpointCut()`` so round-loop call sites stay
    method-chained (the shape every operator in this repo already uses)."""
    if not hasattr(DataFrame, "localCheckpointCut"):
        DataFrame.localCheckpointCut = checkpoint_cut


_install()
