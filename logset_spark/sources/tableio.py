"""TableIO — the Iceberg/parquet seam (SURVEY.md §1.3).

The north rule materializes triples as Iceberg tables bucketed by conv_id
and partitioned by days(ts).  This sandbox has no Iceberg runtime jar, so
the parquet path emulates the identical *logical* layout with derived
columns:

    ts_day      = date_trunc('day', ts)          -- days(ts) partition
    conv_bucket = pmod(xxhash64(conv_id), N)     -- bucket(N, conv_id)

Everything downstream (partition pruning, resume manifests, lineage keys,
dynamic partition overwrite) keys on (ts_day, conv_bucket), so swapping in
`writeTo(tbl).partitionedBy(bucket(N, conv_id), days(ts))` on a real
cluster changes only this module.  The reference's equivalent surface is
Turtle file load/serialize (PK:src/graph.py Graph.parse/serialize).
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

DEFAULT_BUCKETS = 16

# Name of the transient write-salt column TableIO.write adds when
# n_write_salts > 1; pre_sort hooks that aggregate must include it in
# their grouping keys (when present) so the salted layout exchange is
# reused.  Dropped before the rows reach the files.
WRITE_SALT = "_wsalt"


def with_layout(df: DataFrame, n_buckets: int = DEFAULT_BUCKETS) -> DataFrame:
    """Attach the partition/bucket columns. Cheap native exprs; codegen'd."""
    return df.withColumn("ts_day", F.to_date(F.date_trunc("day", F.col("ts")))) \
             .withColumn(
                 "conv_bucket",
                 F.pmod(F.xxhash64(F.col("conv_id")), F.lit(n_buckets)).cast("int"),
             )


@dataclass
class TableIO:
    """Read/write triple-shaped tables with the bucketed+day layout."""

    root: str
    n_buckets: int = DEFAULT_BUCKETS
    catalog: str = "parquet"  # "iceberg" on a real cluster (needs runtime jar)
    # >1 spreads each (ts_day, conv_bucket) output partition over this many
    # writer tasks (extra repartition salt on subj) — the skew valve for a
    # hot day/bucket at cluster scale.  Costs n_write_salts files per
    # partition dir, so keep 1 unless a partition outgrows one task.
    n_write_salts: int = 1

    def path(self, name: str) -> str:
        return f"{self.root}/{name}"

    def write(self, df: DataFrame, name: str, mode: str = "overwrite",
              finisher=None, pre_sort=None) -> None:
        """Partitioned write. `mode=overwrite` + dynamic partitionOverwriteMode
        (set in session.py) means only the partitions present in `df` are
        replaced — the idempotent-resume primitive (SURVEY §2 S4).

        `pre_sort(df) -> df` runs AFTER the layout repartition and BEFORE
        the local sort: a groupBy keyed on a superset of (ts_day,
        conv_bucket) placed here reuses the layout exchange (Catalyst's
        subset rule for ClusteredDistribution) — partition-local dedup
        with no shuffle of its own.

        `finisher(df) -> df` runs AFTER the layout repartition AND the
        local sort: reconstruction of wide derived columns (subject URIs,
        predicate strings, the packed-row 6x structural explode) goes
        there so only the slim/packed representation crosses the shuffle
        *and* the sort.  Ordering survives the finisher — GenerateExec and
        Project preserve child output ordering for pass-through columns —
        so FileFormatWriter sees its required partition-column ordering
        already satisfied and inserts no second sort (asserted in
        tests/test_plans.py::test_write_sorts_packed_rows_once)."""
        if self.catalog == "iceberg":  # pragma: no cover - needs runtime jar
            out = with_layout(df, self.n_buckets)
            # pre_sort carries engine-independent semantics (the mention
            # dedup), not just a physical hint — skipping it here would
            # write duplicate rows on the iceberg path
            out = pre_sort(out) if pre_sort else out
            out = finisher(out) if finisher else out
            (out.writeTo(self.path(name)).using("iceberg")
             .partitionedBy(F.bucket(self.n_buckets, "conv_id"), F.days("ts"))
             .createOrReplace())
            return
        (
            self.prepare(df, finisher=finisher, pre_sort=pre_sort)
            .write.mode(mode)
            .partitionBy("ts_day", "conv_bucket")
            .parquet(self.path(name))
        )

    def prepare(self, df: DataFrame, finisher=None, pre_sort=None) -> DataFrame:
        """The parquet write plan minus the write itself (exposed so plan
        tests can assert exchange reuse): layout cols -> (salted) layout
        repartition -> pre_sort -> local sort -> finisher."""
        out = with_layout(df, self.n_buckets)
        if self.n_write_salts > 1:
            # Materialize the salt as a NAMED column: pre_sort aggregates
            # group on it too (it is a function of (conv_id, turn_idx), so
            # it never splits a dedup group), which keeps the grouping a
            # superset of the partitioning — Catalyst reuses this exchange
            # instead of inserting a second full shuffle on the unsalted
            # keys, and the writers keep the salt spread for hot
            # partitions.  An inline salt EXPRESSION in repartition() would
            # defeat both (the aggregate can't prove the dependency).
            out = out.withColumn(
                WRITE_SALT,
                F.pmod(F.xxhash64("conv_id", "turn_idx"),
                       F.lit(self.n_write_salts)).cast("int"),
            ).repartition(F.col("ts_day"), F.col("conv_bucket"),
                          F.col(WRITE_SALT))
        else:
            out = out.repartition(F.col("ts_day"), F.col("conv_bucket"))
        if pre_sort:
            out = pre_sort(out)
        # prefix the partition cols so FileFormatWriter's required
        # ordering is already satisfied — ONE local sort instead of
        # ours + the writer's hidden partition-col sort; sorting the
        # PACKED rows (pre-finisher) moves ~3x fewer bytes than
        # sorting the exploded triples would
        out = out.sortWithinPartitions(
            "ts_day", "conv_bucket", "conv_id", "turn_idx"
        )
        if finisher:
            out = finisher(out)
        if WRITE_SALT in out.columns:
            out = out.drop(WRITE_SALT)
        return out

    def read(self, spark: SparkSession, name: str) -> DataFrame:
        if self.catalog == "iceberg":  # pragma: no cover
            return spark.table(self.path(name))
        from .snapshots import is_versioned

        if is_versioned(self.path(name)):
            # a plain read of a versioned table returns every commit
            # ever written (superseded and deleted rows included)
            raise ValueError(
                f"{self.path(name)} is a snapshot-versioned table; open "
                "its warehouse with sources.snapshots.open_warehouse")
        return spark.read.parquet(self.path(name))

    def partition_dirs(self, name: str) -> list[str]:
        """Physical (ts_day=*, conv_bucket=*) leaf directories that make up
        the CURRENT state of a partitioned table — the FS stand-in for
        Iceberg's `.partitions` metadata table.  Manifest/lineage helpers
        key off this instead of globbing directly so a snapshot-versioned
        store (sources/snapshots.py) can answer from its manifest: there
        the current state is a subset of the files on disk."""
        import glob

        return sorted(glob.glob(f"{self.path(name)}/ts_day=*/conv_bucket=*"))

    def remove(self, name: str, spark: SparkSession | None = None) -> None:
        """Drop a table/directory (checkpoint GC).  The parquet catalog is
        a filesystem tree; iceberg needs a catalog DROP through a session."""
        if self.catalog == "iceberg":  # pragma: no cover - needs runtime jar
            if spark is not None:
                spark.sql(f"DROP TABLE IF EXISTS {self.path(name)}")
            return
        shutil.rmtree(self.path(name), ignore_errors=True)

    def list_runs(self, name: str) -> list[str]:
        """Run ids that own a `name/run=<id>` checkpoint subdir."""
        base = self.path(name)
        if not os.path.isdir(base):
            return []
        return sorted(
            d.split("=", 1)[1] for d in os.listdir(base) if d.startswith("run=")
        )

    def write_small(self, df: DataFrame, name: str, mode: str = "overwrite") -> None:
        """Unpartitioned sink for tiny control tables (manifest, lineage)."""
        df.coalesce(1).write.mode(mode).parquet(self.path(name))
