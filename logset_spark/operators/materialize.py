"""Stage 4 — materialize: dedup, partitioned write, manifests, lineage,
idempotent resume.

The reference serializes the whole in-memory graph to one Turtle file
(PK:src/graph.py); a 10^12-turn graph must instead land as partitioned
tables written *per partition, idempotently*:

* dedup: rdflib Graph is a set — here `groupBy(s,p,o).max(conf)` keeps the
  best-scored witness per triple (map-side partial agg; no row explosion).
* write: TableIO (conv-bucketed, ts-day partitioned) with dynamic
  partition overwrite, so re-running a partition replaces exactly itself.
* manifest: one row per (run_id, stage, ts_day, conv_bucket) marked done.
  Resume = planned-partitions LEFT ANTI manifest -> only pending partitions
  flow through the pipeline again (SURVEY §2 S4/J6).
* lineage: per-stage row counts captured via Observation (same action as
  the write — no second pass over the data).
"""

from __future__ import annotations

import glob
import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import local_frame
from ..sources.tableio import TableIO, with_layout

MANIFEST = "manifest"
LINEAGE = "lineage"
TRIPLES = "triples"


def manifest_exists(io: TableIO) -> bool:
    """Cheap FS probe — lets a fresh run skip the whole pending-partition
    machinery (one full input scan + distinct) that only resume needs."""
    return bool(glob.glob(f"{io.path(MANIFEST)}/*.parquet"))


def _append_control_rows(io: TableIO, name: str, table) -> None:
    """Control tables (manifest, lineage) are a handful of rows per run;
    writing them through a Spark job costs 1-2s of scheduling for zero
    parallelism benefit.  Write a parquet part file directly from the
    driver (pyarrow) — append = new uniquely-named file, atomic via
    rename, same directory layout Spark reads back.  On object stores the
    TableIO seam swaps this for the catalog's own commit."""
    import pyarrow.parquet as pq

    path = io.path(name)
    os.makedirs(path, exist_ok=True)
    tmp = f"{path}/.part-{uuid.uuid4().hex}.parquet.tmp"
    final = f"{path}/part-{uuid.uuid4().hex}.parquet"
    pq.write_table(table, tmp)
    os.replace(tmp, final)


def sink_partitions(
    io: TableIO, name: str = TRIPLES, since_mtime: float | None = None
) -> list[tuple[str, int]]:
    """(ts_day, conv_bucket) pairs actually present in the written sink,
    from the partition directory names — an FS listing, not a Spark job
    (Iceberg path: the `.partitions` metadata table).

    `since_mtime` (unix seconds) keeps only partition dirs touched at or
    after that time: a dynamic-overwrite replaces files inside the dirs
    it writes, bumping their mtime, so "dirs touched since run start" =
    "partitions THIS run landed" even on a reused warehouse whose sink
    holds partitions from earlier manifest-less writers."""
    out = set()
    for d in io.partition_dirs(name):
        bucket_dir, day_dir = d, os.path.dirname(d)
        day = os.path.basename(day_dir).split("=", 1)[1]
        if day.startswith("__"):  # null-ts pseudo-partition (global sameAs
            continue              # rows) — regenerated idempotently, not
        if since_mtime is not None and os.path.getmtime(d) < since_mtime:
            continue
        # a snapshot store may map one logical partition to SEVERAL
        # physical dirs (append commits) — set semantics dedup them
        out.add((day, int(os.path.basename(bucket_dir).split("=", 1)[1])))
    return sorted(out)


def planned_partitions(transcripts: DataFrame, n_buckets: int) -> DataFrame:
    return with_layout(transcripts, n_buckets).select("ts_day", "conv_bucket").distinct()


def _manifest_or_none(spark: SparkSession, io: TableIO):
    """Read the manifest table, returning None ONLY when it does not
    exist yet (fresh warehouse).  Any other failure — corrupt footer
    from a killed writer, permissions, storage hiccup — re-raises:
    swallowing it would silently discard resume state and replay the
    full 10^x-row pipeline while appending duplicate manifest rows."""
    try:
        return io.read(spark, MANIFEST)
    except Exception as exc:  # narrow: missing-path only
        from pyspark.errors import AnalysisException

        if isinstance(exc, AnalysisException) and (
            "PATH_NOT_FOUND" in str(exc) or "UNABLE_TO_INFER_SCHEMA"
            in str(exc)
        ):
            return None
        raise


def completed_partitions(
    spark: SparkSession, io: TableIO, run_id: str, stage: str = "materialize"
) -> DataFrame:
    m = _manifest_or_none(spark, io)
    if m is None:
        return local_frame(spark, [], "ts_day date, conv_bucket int")
    return (
        m.where(
            (F.col("run_id") == run_id)
            & (F.col("status") == "done")
            & (F.col("stage") == stage)
        )
        .select("ts_day", "conv_bucket")
        .distinct()
    )


def pending_partitions(
    spark: SparkSession,
    io: TableIO,
    run_id: str,
    transcripts: DataFrame,
    stage: str = "materialize",
) -> DataFrame:
    planned = planned_partitions(transcripts, io.n_buckets)
    done = completed_partitions(spark, io, run_id, stage)
    return planned.join(done, ["ts_day", "conv_bucket"], "left_anti")


def completed_buckets(
    spark: SparkSession, io: TableIO, run_id: str, stage: str
) -> set[int]:
    """Buckets marked done for a bucket-granular stage (stage1 extraction
    checkpoints partition on conv_bucket only — ts_day is null there)."""
    m = _manifest_or_none(spark, io)
    if m is None:
        return set()
    rows = (
        m.where(
            (F.col("run_id") == run_id)
            & (F.col("status") == "done")
            & (F.col("stage") == stage)
        )
        .select("conv_bucket")
        .distinct()
        .collect()
    )
    return {r["conv_bucket"] for r in rows}


def mark_buckets_done(
    io: TableIO, run_id: str, stage: str, buckets: list[int]
) -> None:
    """Bucket-granular manifest rows (ts_day null): stage1's checkpoint."""
    import pyarrow as pa

    table = pa.table(
        {
            "run_id": [run_id] * len(buckets),
            "stage": [stage] * len(buckets),
            "ts_day": pa.array([None] * len(buckets), pa.date32()),
            "conv_bucket": pa.array(buckets, pa.int32()),
            "status": ["done"] * len(buckets),
        }
    )
    _append_control_rows(io, MANIFEST, table)


def sink_buckets(io: TableIO, name: str) -> list[int]:
    """conv_bucket values present in a bucket-partitioned sink (FS listing)."""
    out = set()
    for d in glob.glob(f"{io.path(name)}/conv_bucket=*"):
        out.add(int(os.path.basename(d).split("=", 1)[1]))
    return sorted(out)


def partition_row_counts(io: TableIO, name: str = TRIPLES) -> list[tuple[str, int, int]]:
    """(ts_day, conv_bucket, rows) per sink partition from parquet footer
    metadata only — no Spark job, no data read.  This is the per-partition
    lineage source; on Iceberg the same numbers come from the
    `.partitions` metadata table."""
    import pyarrow.parquet as pq

    acc: dict[tuple[str, int], int] = {}
    for d in io.partition_dirs(name):
        day = os.path.basename(os.path.dirname(d)).split("=", 1)[1]
        bucket = int(os.path.basename(d).split("=", 1)[1])
        n = 0
        for f in glob.glob(f"{d}/*.parquet"):
            n += pq.ParquetFile(f).metadata.num_rows
        # append-commit snapshots split one logical partition over
        # several physical dirs — sum them
        acc[(day, bucket)] = acc.get((day, bucket), 0) + n
    return sorted((d, b, n) for (d, b), n in acc.items())


def filter_to_pending(
    transcripts: DataFrame, pending: DataFrame, n_buckets: int
) -> DataFrame:
    """Restrict input to not-yet-done partitions. The pending set is tiny
    (bounded by days x buckets) so it broadcasts: a semi join that costs
    no shuffle on the fact side."""
    return (
        with_layout(transcripts, n_buckets)
        .join(F.broadcast(pending), ["ts_day", "conv_bucket"], "left_semi")
        .drop("ts_day", "conv_bucket")
    )


def mark_done(
    spark: SparkSession,
    io: TableIO,
    run_id: str,
    stage: str,
    parts: DataFrame | None,
    since_mtime: float | None = None,
) -> list[tuple[str, int]]:
    """parts=None (fresh full run): the done set is whatever landed in the
    sink, read from its partition directories — no Spark job.  Returns the
    (ts_day, conv_bucket) pairs marked, so the caller can scope lineage to
    exactly the partitions THIS run landed.  Pass the run's start time as
    `since_mtime` so a reused warehouse's pre-existing partitions (from an
    earlier manifest-less writer) are neither marked done for this run_id
    nor credited to its lineage."""
    import pyarrow as pa

    if parts is None:
        pairs = sink_partitions(io, since_mtime=since_mtime)
    else:
        pairs = [(str(r["ts_day"]), r["conv_bucket"]) for r in parts.collect()]
    table = pa.table(
        {
            "run_id": [run_id] * len(pairs),
            "stage": [stage] * len(pairs),
            "ts_day": pa.array([p[0] for p in pairs], pa.string()).cast(pa.date32()),
            "conv_bucket": pa.array([p[1] for p in pairs], pa.int32()),
            "status": ["done"] * len(pairs),
        }
    )
    _append_control_rows(io, MANIFEST, table)
    return pairs


def append_lineage(
    spark: SparkSession,
    io: TableIO,
    run_id: str,
    stage: str,
    rows_in: int,
    rows_out: int,
    wall_ms: int,
    input_fp: str = "",
) -> None:
    import pyarrow as pa

    table = pa.table(
        {
            "run_id": [run_id],
            "stage": [stage],
            "rows_in": pa.array([rows_in], pa.int64()),
            "rows_out": pa.array([rows_out], pa.int64()),
            "wall_ms": pa.array([wall_ms], pa.int64()),
            "input_fp": [input_fp],
            "wall_clock_ms": pa.array([int(time.time() * 1000)], pa.int64()),
        }
    )
    _append_control_rows(io, LINEAGE, table)


def append_partition_lineage(
    io: TableIO, run_id: str, stage: str, counts: list[tuple[str, int, int]]
) -> None:
    """Per-partition lineage rows (north rule: 'per-partition lineage +
    metrics'): one row per (ts_day, conv_bucket) with its landed row count.
    Input comes from partition_row_counts — parquet footer metadata, so
    appending lineage costs zero data reads."""
    import pyarrow as pa

    table = pa.table(
        {
            "run_id": [run_id] * len(counts),
            "stage": [stage] * len(counts),
            "ts_day": pa.array([c[0] for c in counts], pa.string()),
            "conv_bucket": pa.array([c[1] for c in counts], pa.int32()),
            "rows": pa.array([c[2] for c in counts], pa.int64()),
            "wall_clock_ms": pa.array(
                [int(time.time() * 1000)] * len(counts), pa.int64()
            ),
        }
    )
    _append_control_rows(io, "lineage_parts", table)


def input_fingerprint(df: DataFrame, cols: list[str]) -> str:
    """Order-insensitive content hash: xor/sum of per-row xxhash64 over the
    key columns — one aggregate, no sort, no collect of data."""
    # decimal(38) sum: overflow-proof under ANSI mode (Spark 4 default)
    h = df.select(F.xxhash64(*cols).cast("decimal(38,0)").alias("h")).agg(
        F.sum("h").alias("s"), F.count("*").alias("n")
    ).first()
    return f"{h['s']}:{h['n']}"
