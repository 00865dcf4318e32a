"""SnapshotTableIO — Iceberg-style snapshot isolation over the TableIO
parquet layout (SURVEY.md §1.3 / §2 S3-S5).

The north rule lands the graph in *Iceberg* triple tables; Iceberg's
defining behaviors beyond a partitioned parquet dir are (a) immutable
data files tracked by snapshot manifests, (b) time-travel reads at any
retained snapshot, (c) atomic commits (readers never see a half-written
table), and (d) rollback as a new snapshot, never a destructive edit.
No Iceberg runtime jar exists in this sandbox (documented in SURVEY
§1.3), so this module emulates exactly those semantics on the filesystem
the same way Iceberg's own metadata layer does — file-set bookkeeping,
not data rewriting:

    <root>/data/commit=<c>/ts_day=<d>/conv_bucket=<b>/part-*.parquet
    <root>/_meta/v<NNNNNN>.json   snapshot: version, operation, parent,
                                  mapping {"<ts_day>|<bucket>": [commits]}
    <root>/_meta/current          version-hint pointer (atomic os.replace)

Every commit writes its files under a fresh `commit=<c>` prefix — data
files are IMMUTABLE, so older snapshots stay readable until explicitly
expired (Iceberg's `expireSnapshots`).  A snapshot's manifest maps each
logical partition (ts_day, conv_bucket) to the list of commits whose
files constitute it; dynamic partition-overwrite repoints only the keys
present in the incoming frame, append extends their commit lists, and
rollback copies an older mapping forward as a NEW snapshot.

Scale notes (100 TB): the manifest is partition-level, not file-level —
its size is O(days x buckets), thousands of entries, driver-trivial, and
`read()` hands Spark a list of partition *directories* so file listing
stays distributed.  Commit atomicity is last-writer-wins via the
`current` pointer (os.replace); real Iceberg adds optimistic-concurrency
CAS on the catalog — single-writer pipelines (ours: one driver per run,
resume via manifests) never race it.  Swapping in a real catalog changes
this module only: `commit` -> writeTo().overwritePartitions(), `read(v)`
-> VERSION AS OF, `rollback` -> rollback_to_snapshot.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from .tableio import DEFAULT_BUCKETS, TableIO

# Snapshot metadata dir under a versioned table's root; its presence is
# what marks the table as versioned (see is_versioned / open_warehouse).
META_DIR = "_meta"


class ConcurrentCommitError(RuntimeError):
    """Another writer advanced the head between this commit's
    read-version and its publish.  The store is single-writer by design
    (SURVEY §1.3: real Iceberg swaps in catalog CAS here); this guard
    makes a misconfigured double-run fail LOUDLY instead of silently
    clobbering the other writer's snapshot — the losing commit's data
    files stay on disk but are unreachable (pointer never moved), same
    as a crash before publish."""


def _key(day: str, bucket: str) -> str:
    return f"{day}|{bucket}"


# Spark's directory spelling for a null partition value.  Rows carry
# None; directory/mapping keys carry this string — every touched-set
# computed from DataFrame rows MUST normalize through _part_val or
# null-day partitions (the pipeline's sameAs rows) silently fail to
# match their mapping keys: CoW ops would then drop or skip them.
_NULL_PART = "__HIVE_DEFAULT_PARTITION__"


def _part_val(v) -> str:
    return _NULL_PART if v is None else str(v)


def _enc_stat(v):
    """JSON-portable encoding for a manifest stat value: datetime/date
    -> ISO string (lexicographic == chronological at fixed format);
    numerics/strings pass through."""
    import datetime

    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat(sep=" ") if isinstance(v, datetime.datetime) \
            else v.isoformat()
    return v


def _stat_overlaps(mn, mx, lo, hi) -> bool:
    """[mn, mx] intersects [lo, hi] (None = unbounded; None stats =
    unknown = conservatively included)."""
    if mn is None or mx is None:
        return True
    if lo is not None and _enc_stat(mx) < _enc_stat(lo):
        return False
    if hi is not None and _enc_stat(mn) > _enc_stat(hi):
        return False
    return True


@dataclass
class SnapshotTableIO:
    """Versioned (snapshot-isolated) single-table store."""

    root: str
    n_buckets: int = DEFAULT_BUCKETS
    n_write_salts: int = 1  # hot-partition writer spread, as in TableIO

    # ---- metadata plumbing -------------------------------------------------

    @property
    def _meta(self) -> str:
        return os.path.join(self.root, META_DIR)

    @property
    def _data(self) -> str:
        return os.path.join(self.root, "data")

    def current_version(self) -> int:
        """Latest committed version; 0 = empty table."""
        hint = os.path.join(self._meta, "current")
        if not os.path.exists(hint):
            return 0
        with open(hint) as f:
            return int(f.read().strip())

    def _snap_path(self, version: int) -> str:
        return os.path.join(self._meta, f"v{version:06d}.json")

    def _load_snapshot(self, version: int) -> dict:
        path = self._snap_path(version)
        if not os.path.exists(path):
            raise ValueError(
                f"snapshot v{version} does not exist or was expired "
                f"(current={self.current_version()})"
            )
        with open(path) as f:
            return json.load(f)

    def _publish(self, snap: dict, branch: str | None = None) -> None:
        """Write the snapshot file, then atomically advance the pointer.
        A reader that races the commit sees either the old or the new
        version — never a torn state — because data files for the new
        commit are fully written before the pointer moves.  With
        `branch`, the BRANCH head advances instead of `current` (main):
        main readers never see branch commits until fast_forward.

        Optimistic-concurrency guard (VERDICT r03 item 7): immediately
        before advancing, the head is RE-READ and must still equal the
        parent this snapshot was built from; a foreign commit in between
        raises ConcurrentCommitError and the pointer is left alone.
        This narrows the single-writer assumption's failure mode from
        silent-clobber to loud-refuse; it is last-check-then-replace,
        not a true CAS (the documented Iceberg-catalog swap-in point)."""
        os.makedirs(self._meta, exist_ok=True)
        # guard FIRST: a losing writer must leave its reserved
        # placeholder untouched, so an unpublished snapshot is never
        # addressable as real data by version-pinned reads
        expected_parent = snap.get("parent")
        refs = self._load_refs() if branch is not None else None
        head = (refs["branches"][branch] if branch is not None
                else self.current_version())
        if expected_parent is not None and head != expected_parent:
            where = f"branch {branch!r}" if branch is not None else "table head"
            raise ConcurrentCommitError(
                f"{where} moved {expected_parent} -> {head} during "
                f"commit v{snap['version']}; refusing to clobber"
            )
        with open(self._snap_path(snap["version"]), "w") as f:
            json.dump(snap, f, sort_keys=True)
        if branch is not None:
            refs["branches"][branch] = snap["version"]
            self._save_refs(refs)
            return
        fd, tmp = tempfile.mkstemp(dir=self._meta)
        with os.fdopen(fd, "w") as f:
            f.write(str(snap["version"]))
        os.replace(tmp, os.path.join(self._meta, "current"))

    def _next_version(self) -> int:
        """Next free GLOBAL version number.  `current + 1` is only right
        on a branchless table: branch commits allocate from the same
        sequence (Iceberg snapshot ids are likewise table-global), so the
        allocator scans retained snapshot files, never just the main
        pointer."""
        best = self.current_version()
        if os.path.isdir(self._meta):
            for fname in os.listdir(self._meta):
                if fname.startswith("v") and fname.endswith(".json"):
                    best = max(best, int(fname[1:-5]))
        return best + 1

    def _reserve_version(self) -> int:
        """Atomically RESERVE the next version number by O_EXCL-creating
        its snapshot file as a placeholder (overwritten with the real
        snapshot at publish).  Two concurrent writers can therefore never
        share a version — and so never share a `commit=N` data directory
        or clobber each other's snapshot metadata; the loser of the
        subsequent head check (_publish) fails loudly with its files
        unreachable (VERDICT r03 item 7).  A crashed run leaves its
        placeholder behind: unreachable from every head, shown in
        history() as operation='reserved', reclaimed by
        expire_snapshots."""
        os.makedirs(self._meta, exist_ok=True)
        while True:
            candidate = self._next_version()
            try:
                fd = os.open(
                    self._snap_path(candidate),
                    os.O_CREAT | os.O_EXCL | os.O_WRONLY,
                )
            except FileExistsError:
                continue  # another writer took it; scan again
            with os.fdopen(fd, "w") as f:
                json.dump(
                    {"version": candidate, "parent": None,
                     "operation": "reserved", "mapping": {}},
                    f, sort_keys=True,
                )
            return candidate

    # ---- named refs (tags & branches) ---------------------------------------

    @property
    def _refs_path(self) -> str:
        return os.path.join(self._meta, "refs.json")

    def _load_refs(self) -> dict:
        if not os.path.exists(self._refs_path):
            return {"tags": {}, "branches": {}}
        with open(self._refs_path) as f:
            return json.load(f)

    def _save_refs(self, refs: dict) -> None:
        os.makedirs(self._meta, exist_ok=True)
        fd, tmp = tempfile.mkstemp(dir=self._meta)
        with os.fdopen(fd, "w") as f:
            json.dump(refs, f, sort_keys=True)
        os.replace(tmp, self._refs_path)

    def tag(self, name: str, version: int | None = None,
            force: bool = False) -> int:
        """Pin `name` to a snapshot (default: current) — an immutable
        named ref (Iceberg tag).  Tagged snapshots survive
        `expire_snapshots`; re-pointing an existing tag needs `force`."""
        v = self.current_version() if version is None else version
        self._load_snapshot(v)  # must exist
        refs = self._load_refs()
        if name == "main" or name in refs["branches"]:
            raise ValueError(f"ref {name!r} already names a branch")
        if name in refs["tags"] and refs["tags"][name] != v and not force:
            raise ValueError(
                f"tag {name!r} already points at v{refs['tags'][name]}; "
                "pass force=True to move it")
        refs["tags"][name] = v
        self._save_refs(refs)
        return v

    def branch(self, name: str, from_version: int | None = None) -> int:
        """Create a writable branch head at `from_version` (default:
        current).  `commit(..., branch=name)` then advances the branch
        without touching main; `fast_forward` publishes it."""
        v = self.current_version() if from_version is None else from_version
        if v:
            self._load_snapshot(v)
        refs = self._load_refs()
        if name == "main" or name in refs["tags"] or name in refs["branches"]:
            raise ValueError(f"ref {name!r} already exists")
        refs["branches"][name] = v
        self._save_refs(refs)
        return v

    def drop_ref(self, name: str) -> None:
        refs = self._load_refs()
        for kind in ("tags", "branches"):
            if name in refs[kind]:
                del refs[kind][name]
                self._save_refs(refs)
                return
        raise ValueError(f"unknown ref {name!r}")

    def ref_version(self, name: str) -> int:
        """Resolve a ref name (tag, branch, or 'main') to its version."""
        if name == "main":
            return self.current_version()
        refs = self._load_refs()
        for kind in ("tags", "branches"):
            if name in refs[kind]:
                return refs[kind][name]
        raise ValueError(
            f"unknown ref {name!r} (tags: {sorted(refs['tags'])}, "
            f"branches: {sorted(refs['branches'])})")

    def refs(self, spark: SparkSession) -> DataFrame:
        """One row per named ref (+ main): name, kind, version."""
        refs = self._load_refs()
        rows = [("main", "branch", self.current_version())]
        rows += [(n, "tag", v) for n, v in sorted(refs["tags"].items())]
        rows += [(n, "branch", v) for n, v in sorted(refs["branches"].items())]
        return spark.createDataFrame(
            rows, "name string, kind string, version int")

    def _is_ancestor(self, anc: int, desc: int) -> bool:
        """True when `anc` is on `desc`'s parent chain (or equal)."""
        v = desc
        while v > 0:
            if v == anc:
                return True
            v = self._load_snapshot(v)["parent"]
        return anc == 0

    def fast_forward(self, name: str) -> int:
        """Advance main to branch `name`'s head (Iceberg
        fastForwardBranch).  Requires main to be an ancestor of the head
        — a diverged main must merge through data ops, never a pointer
        jump that would silently drop its commits."""
        head = self.ref_version(name)
        cur = self.current_version()
        if not self._is_ancestor(cur, head):
            raise ValueError(
                f"main (v{cur}) is not an ancestor of {name!r} (v{head}); "
                "fast-forward would drop main's commits")
        fd, tmp = tempfile.mkstemp(dir=self._meta)
        with os.fdopen(fd, "w") as f:
            f.write(str(head))
        # same foreign-commit guard as _publish: the ancestry check was
        # against `cur`, so a head that moved since must be re-validated,
        # not silently jumped over
        if self.current_version() != cur:
            os.remove(tmp)
            raise ConcurrentCommitError(
                f"table head moved v{cur} -> v{self.current_version()} "
                f"during fast_forward to {name!r}; re-run to re-validate"
            )
        os.replace(tmp, os.path.join(self._meta, "current"))
        return head

    # ---- write path --------------------------------------------------------

    def _written_partitions(self, commit: int) -> list[tuple[str, str]]:
        """(ts_day, conv_bucket) dirs the commit created.  Directory-level
        listing: O(days x buckets) entries, never per-file."""
        base = os.path.join(self._data, f"commit={commit}")
        out = []
        for day_dir in sorted(os.listdir(base)):
            if not day_dir.startswith("ts_day="):
                continue
            day = day_dir.split("=", 1)[1]
            for b_dir in sorted(os.listdir(os.path.join(base, day_dir))):
                if b_dir.startswith("conv_bucket="):
                    out.append((day, b_dir.split("=", 1)[1]))
        return out

    def commit(
        self,
        df: DataFrame,
        mode: str = "overwrite_partitions",
        finisher=None,
        pre_sort=None,
        batch_id: int | None = None,
        replaced_partitions=None,
        stats_cols: list[str] | None = None,
        operation: str | None = None,
        branch: str | None = None,
    ) -> int:
        """Write `df` as a new immutable commit and publish the snapshot.

        mode="overwrite_partitions": Iceberg dynamic overwrite — partitions
            present in `df` are repointed to this commit; absent partitions
            keep their prior files (the idempotent-resume primitive, S4).
        mode="append": this commit's files are ADDED to each partition's
            file set (Iceberg fast-append).
        mode="overwrite_table": FULL replace — the new mapping holds only
            this commit's partitions; prior partitions whose (day, bucket)
            the new data no longer produces are dropped from the snapshot
            (still readable via time travel).  The full-rebuild mode: a
            dynamic overwrite after upstream data moved rows ACROSS
            partitions would leave the old partitions' stale rows live —
            correct Iceberg semantics, but not what "rebuild the table"
            means.

        `finisher`/`pre_sort` are TableIO.prepare's plan hooks (exchange-
        fused dedup, post-sort wide-column reconstruction) so the KG
        pipeline's single-exchange write plan carries over unchanged when
        the triples sink is snapshot-versioned.

        `batch_id` stamps the snapshot with a streaming micro-batch id —
        the exactly-once handshake for foreachBatch sinks (see
        `last_batch_id`; same device as Iceberg's commit dedup on
        spark.sql.streaming checkpoint batchId).

        `replaced_partitions`: logical (ts_day, conv_bucket) pairs this
        commit REPLACES even when it wrote no files for them — the
        fully-emptied-partition case of DELETE (a dynamic overwrite
        repoints only partitions present in the frame, so without this
        an all-rows-deleted partition would silently keep its old files).

        `stats_cols`: columns to record per-partition [min, max] for in
        the snapshot manifest (Iceberg's manifest-level column stats) —
        one column-pruned scan of the just-written files, O(partitions)
        metadata; `read_pruned` then skips whole partition dirs from
        metadata alone.

        `operation`: snapshot-history label override (defaults to the
        mode); `delete` commits use it so the incremental append scan
        knows no NEW rows were added.

        `branch`: commit onto a named branch (created with `branch()`)
        instead of main — parent is the BRANCH head and only the branch
        pointer advances (Iceberg write-to-branch / WAP); main readers
        are isolated until `fast_forward`.

        Returns the new version number."""
        if mode not in ("overwrite_partitions", "append", "overwrite_table"):
            raise ValueError(f"unknown commit mode {mode!r}")
        if branch is not None and branch not in self._load_refs()["branches"]:
            raise ValueError(f"{branch!r} is not a branch")
        parent = (self.ref_version(branch) if branch is not None
                  else self.current_version())
        version = self._reserve_version()
        commit_dir = os.path.join(self._data, f"commit={version}")
        if os.path.isdir(commit_dir):
            # a crashed earlier attempt wrote data but never published —
            # unreachable from every snapshot (the pointer never moved), so
            # clearing it is safe and makes resume re-runs possible
            shutil.rmtree(commit_dir)
        prepared = TableIO(
            root=self.root, n_buckets=self.n_buckets,
            n_write_salts=self.n_write_salts,
        ).prepare(df, finisher=finisher, pre_sort=pre_sort)
        (
            prepared.write.mode("errorifexists")
            .partitionBy("ts_day", "conv_bucket")
            .parquet(commit_dir)
        )
        mapping: dict[str, list[int]] = (
            dict(self._load_snapshot(parent)["mapping"])
            if parent and mode != "overwrite_table" else {}
        )
        written = self._written_partitions(version)
        written_keys = set()
        for day, bucket in written:
            k = _key(day, bucket)
            written_keys.add(k)
            if mode == "append" and k in mapping:
                mapping[k] = mapping[k] + [version]
            else:
                mapping[k] = [version]
        if replaced_partitions:
            for day, bucket in replaced_partitions:
                k = _key(str(day), str(bucket))
                if k in mapping and k not in written_keys:
                    del mapping[k]  # partition fully emptied by this commit
        snap = {
            "version": version,
            "parent": parent,
            "operation": operation or mode,
            "mapping": mapping,
            # the commit's DATA columns (partition cols excluded): schema
            # evolution bookkeeping, so reads can decide from metadata
            # alone whether a parquet schema merge is needed
            "columns": [
                c for c in prepared.schema.fieldNames()
                if c not in ("ts_day", "conv_bucket")
            ],
        }
        if batch_id is not None:
            snap["batch_id"] = batch_id
        if stats_cols:
            snap["stats"] = self._partition_stats(
                df.sparkSession, commit_dir, stats_cols
            )
        self._publish(snap, branch=branch)
        return version

    def _partition_stats(
        self, spark: SparkSession, commit_dir: str, stats_cols: list[str]
    ) -> dict:
        """Per-(ts_day, conv_bucket) [min, max] for `stats_cols`, computed
        by ONE column-pruned scan of the just-written commit files (never
        a recomputation of the producing plan).  Timestamps/dates encode
        as ISO strings — lexicographic order equals chronological order
        at fixed format, so pruning compares stay engine-portable."""
        sdf = spark.read.parquet(commit_dir)
        aggs = []
        from pyspark.sql import functions as F

        for c in stats_cols:
            aggs += [F.min(c).alias(f"__mn_{c}"), F.max(c).alias(f"__mx_{c}")]
        rows = sdf.groupBy("ts_day", "conv_bucket").agg(*aggs).collect()
        return {
            _key(str(r["ts_day"]), str(r["conv_bucket"])): {
                c: [_enc_stat(r[f"__mn_{c}"]), _enc_stat(r[f"__mx_{c}"])]
                for c in stats_cols
            }
            for r in rows
        }

    def _commit_columns(self, commits: set[int]) -> list[list[str]]:
        """Distinct data-column lists across a set of commits, from
        snapshot metadata only.  A commit predating the schema-evolution
        bookkeeping (no "columns" key) reports None and forces the
        conservative merge path."""
        seen: list[list[str] | None] = []
        for c in sorted(commits):
            path = self._snap_path(c)
            if os.path.exists(path):
                with open(path) as f:
                    cols = json.load(f).get("columns")
            else:
                # the commit's own snapshot metadata was expired while a
                # later retained snapshot still references its files —
                # schema unknown, degrade to the conservative merge
                cols = None
            if cols not in seen:
                seen.append(cols)
        return seen

    def _needs_merge(self, commits: set[int]) -> bool:
        """True when a read spanning `commits` must merge parquet schemas:
        the recorded column lists differ, or any spanned commit's schema
        is unknown (expired metadata) alongside others."""
        variants = self._commit_columns(commits)
        return len(variants) > 1 or (None in variants and len(commits) > 1)

    def _read_mapping_slice(
        self, spark: SparkSession, mapping: dict,
        keys: set[str] | None = None,
    ) -> DataFrame | None:
        """Read the partitions a mapping describes (all of them, or the
        `keys` subset): builds the commit/ts_day/conv_bucket path list,
        decides schema-merge from snapshot metadata, reads with the
        shared basePath so partition columns come back, drops the
        transient commit level.  Returns None when the slice is empty.
        THE one read idiom for every CoW/diff/compact/read path — the
        null-day bug class (and any future path-spelling change) has a
        single home."""
        sel = (sorted(mapping) if keys is None
               else sorted(set(keys) & set(mapping)))
        paths = [
            os.path.join(self._data, f"commit={c}",
                         f"ts_day={day}", f"conv_bucket={bucket}")
            for k in sel
            for day, bucket in [k.split("|", 1)]
            for c in mapping[k]
        ]
        if not paths:
            return None
        commits = {c for k in sel for c in mapping[k]}
        reader = spark.read.option("basePath", self._data)
        if self._needs_merge(commits):
            reader = reader.option("mergeSchema", "true")
        return reader.parquet(*paths).drop("commit")

    def merge_upsert(
        self, spark: SparkSession, updates: DataFrame, keys: list[str]
    ) -> int:
        """Copy-on-write MERGE (Iceberg MERGE INTO, partition-granular):
        rows in `updates` REPLACE current rows with equal `keys`; new keys
        INSERT.  Only the partitions the updates land in are read and
        rewritten — the partition-pruned read + anti-join + one
        overwrite-partitions commit is exactly Iceberg's copy-on-write
        plan, so cost scales with the touched slice, never the table.

        Constraint (same as any partition-granular CoW without a global
        index): a key's partition columns must be stable across the merge
        — an update that moves a row's (ts day, conv bucket) leaves the
        old copy in its old partition.  The transcript vocabulary's keys
        (conv_id, turn_idx) are partition-stable by construction.

        Empty-table case: degenerates to a plain insert commit.

        Schema evolution: the KEPT side keeps the CURRENT table schema
        (an updates frame predating an add-column must not strip the
        evolved column from rows it never touched); a replacement row
        lacking an evolved column sets it null — the update frame IS
        the row's new state — and a column new to `updates` surfaces
        null on kept rows, both via allowMissingColumns."""
        if self.current_version() == 0:
            return self.commit(updates)
        from pyspark.sql import functions as F

        from .tableio import with_layout

        # pin: the updates plan is evaluated twice (touched discovery +
        # the commit write) and may embed reads of this very store; an
        # unpinned non-deterministic frame could land rows in partitions
        # outside `touched`, repointing them WITHOUT carrying their
        # current rows (cow_update pins for the same reason).  Bounded
        # by the update set, never the table.
        updates = with_layout(updates, self.n_buckets).localCheckpoint()
        # touched partitions: bounded by days x buckets, driver-tiny
        touched = {
            (_part_val(r["ts_day"]), _part_val(r["conv_bucket"]))
            for r in updates.select("ts_day", "conv_bucket")
            .distinct().collect()
        }
        snap = self._load_snapshot(self.current_version())
        current = self._read_mapping_slice(
            spark, snap["mapping"], {_key(d, b) for d, b in touched}
        )
        upd_cols = [c for c in updates.columns
                    if c not in ("ts_day", "conv_bucket")]
        if current is not None:
            data_cols = [c for c in current.columns
                         if c not in ("ts_day", "conv_bucket")]
            # keep current rows whose key is NOT updated; updates are the
            # small side of the anti join -> broadcast
            kept = current.select(*data_cols).join(
                F.broadcast(updates.select(*keys).distinct()),
                on=keys, how="left_anti",
            )
            merged = kept.unionByName(
                updates.select(*upd_cols), allowMissingColumns=True
            )
        else:
            merged = updates.select(*upd_cols)
        return self.commit(merged)

    def delete_where(
        self, spark: SparkSession, predicate,
        stats_cols: list[str] | None = None,
    ) -> int:
        """Copy-on-write DELETE FROM ... WHERE (Iceberg CoW delete,
        partition-granular): partitions containing at least one matching
        row are rewritten WITHOUT those rows in one fresh commit;
        untouched partitions keep their files.  A partition whose every
        row matches is dropped from the mapping outright
        (`replaced_partitions`) — the case a plain dynamic overwrite
        cannot express.

        SQL DELETE null semantics: rows where the predicate is NULL are
        KEPT (only TRUE deletes), hence the coalesce below — `~cond`
        alone would silently delete null-predicate rows.

        The matching-partition discovery is one filtered, column-pruned
        scan (the same scan Iceberg's CoW plan does); the rewrite cost is
        proportional to the touched slice.  The snapshot's operation is
        labeled 'delete' so the incremental append scan skips it — a
        delete adds no new rows.  Returns the new version (or the current
        one unchanged when nothing matches)."""
        from pyspark.sql import functions as F

        cond = F.expr(predicate) if isinstance(predicate, str) else predicate
        cur = self.current_version()
        if cur == 0:
            raise ValueError("cannot delete from an empty table")
        touched = {
            (_part_val(r["ts_day"]), _part_val(r["conv_bucket"]))
            for r in self.read(spark).where(cond)
            .select("ts_day", "conv_bucket").distinct().collect()
        }
        if not touched:
            return cur
        snap = self._load_snapshot(cur)
        current = self._read_mapping_slice(
            spark, snap["mapping"], {_key(d, b) for d, b in touched}
        )
        kept = current.where(~F.coalesce(cond, F.lit(False)))
        data_cols = [c for c in current.columns
                     if c not in ("ts_day", "conv_bucket")]
        return self.commit(
            kept.select(*data_cols),
            mode="overwrite_partitions",
            replaced_partitions=touched,
            stats_cols=stats_cols,
            operation="delete",
        )

    def cow_update(
        self, spark: SparkSession,
        deletes: DataFrame | None = None,
        on: list[str] | None = None,
        inserts: DataFrame | None = None,
        stats_cols: list[str] | None = None,
    ) -> tuple[int, int, int]:
        """Combined copy-on-write DELETE-matching + INSERT as ONE atomic
        commit (the Iceberg MERGE shape SPARQL Update lowers to):
        current rows whose `on`-key appears in `deletes` are removed,
        `inserts` rows (full data-column schema) are added, and only the
        partitions holding a deleted row OR receiving an insert are
        rewritten — an insert-only partition's EXISTING rows ride along
        in the rewrite (a dynamic overwrite repoints whole partitions,
        so appending into one without carrying its current rows would
        drop them).  Everything else keeps its files; the pre-update
        state stays readable via time travel.

        Unlike delete_where's predicate, the delete condition here is
        membership in a DataFrame — one anti-join on `on` (broadcast
        when the delete set is small), which is how a join-scoped SQL
        DELETE/MERGE plans on Iceberg too.

        Returns (version, n_deleted, n_inserted); version is unchanged
        when the whole request is a no-op."""
        from .tableio import with_layout

        cur = self.current_version()
        if inserts is not None:
            # layout + pin: the insert frame is read three times (touched
            # partitions, count, commit) and may embed anti-joins against
            # the store itself — pin it so all three see one state.
            # Bounded by the insert set, not the table.
            inserts = with_layout(inserts, self.n_buckets).localCheckpoint()
        if cur == 0:
            if inserts is None:
                raise ValueError("cannot update an empty table")
            n_ins = inserts.count()
            data_cols = [c for c in inserts.columns
                         if c not in ("ts_day", "conv_bucket")]
            return (self.commit(inserts.select(*data_cols),
                                stats_cols=stats_cols, operation="update"),
                    0, n_ins)
        touched: set[tuple[str, str]] = set()
        n_del = 0
        if deletes is not None:
            if on is None:
                on = list(deletes.columns)
            hits = (
                self.read(spark).join(deletes.distinct(), on=on,
                                      how="left_semi")
                .groupBy("ts_day", "conv_bucket").count().collect()
            )
            touched |= {(_part_val(r["ts_day"]), _part_val(r["conv_bucket"]))
                        for r in hits}
            n_del = sum(r["count"] for r in hits)
        n_ins = 0
        if inserts is not None:
            n_ins = inserts.count()
            touched |= {
                (_part_val(r["ts_day"]), _part_val(r["conv_bucket"]))
                for r in inserts.select("ts_day", "conv_bucket")
                .distinct().collect()
            }
        if not touched:
            return cur, 0, 0
        snap = self._load_snapshot(cur)
        current = self._read_mapping_slice(
            spark, snap["mapping"], {_key(d, b) for d, b in touched}
        )
        merged = None
        if current is not None:
            kept = current
            if deletes is not None and n_del:
                kept = current.join(deletes.distinct(), on=on,
                                    how="left_anti")
            data_cols = [c for c in current.columns
                         if c not in ("ts_day", "conv_bucket")]
            merged = kept.select(*data_cols)
        if inserts is not None and n_ins:
            data_cols = [c for c in inserts.columns
                         if c not in ("ts_day", "conv_bucket")]
            ins = inserts.select(*data_cols)
            merged = ins if merged is None else merged.unionByName(ins)
        return (
            self.commit(
                merged,
                mode="overwrite_partitions",
                replaced_partitions=touched,
                stats_cols=stats_cols,
                operation="update",
            ),
            n_del, n_ins,
        )

    def pruned_partition_dirs(
        self, col: str, lo=None, hi=None, version: int | None = None,
    ) -> tuple[list[str], set[int]]:
        """The (paths, commits) a stats-pruned read touches — the
        metadata-only half of read_pruned, exposed so tests (and
        operators sizing a scan) can observe how many dirs the stats
        actually skipped."""
        v = self.current_version() if version is None else version
        snap = self._load_snapshot(v)
        stats_cache: dict[int, dict] = {}

        def commit_stats(c: int) -> dict:
            if c not in stats_cache:
                path = self._snap_path(c)
                if os.path.exists(path):
                    with open(path) as f:
                        stats_cache[c] = json.load(f).get("stats", {})
                else:
                    stats_cache[c] = {}
            return stats_cache[c]

        paths: list[str] = []
        kept_commits: set[int] = set()
        for k, commits in sorted(snap["mapping"].items()):
            day, bucket = k.split("|", 1)
            for c in commits:
                st = commit_stats(c).get(k, {}).get(col)
                if st is None or _stat_overlaps(st[0], st[1], lo, hi):
                    kept_commits.add(c)
                    paths.append(
                        os.path.join(self._data, f"commit={c}",
                                     f"ts_day={day}", f"conv_bucket={bucket}")
                    )
        return paths, kept_commits

    def read_pruned(
        self, spark: SparkSession, col: str, lo=None, hi=None,
        version: int | None = None,
    ) -> DataFrame:
        """Read with MANIFEST-LEVEL column-stats pruning (Iceberg's
        min/max file skipping at partition-dir granularity): only
        partition dirs whose recorded [min, max] for `col` intersects
        [lo, hi] are handed to Spark at all — dirs pruned here are never
        listed, their footers never read.  Partitions without recorded
        stats for `col` (commit predating stats, or stats_cols not
        requested) are conservatively included.  The residual row filter
        is applied on top, so the result EQUALS read().where(lo <= col
        <= hi) — pruning is a pure physical optimization (that equality
        is this feature's oracle).  Bounds: None = unbounded on that
        side; pass lo == hi for equality."""
        v = self.current_version() if version is None else version
        paths, kept_commits = self.pruned_partition_dirs(col, lo, hi, v)
        if not paths:
            return self.read(spark, v).limit(0)
        reader = spark.read.option("basePath", self._data)
        if self._needs_merge(kept_commits):
            reader = reader.option("mergeSchema", "true")
        out = reader.parquet(*paths).drop("commit")
        from pyspark.sql import functions as F

        if lo is not None:
            out = out.where(F.col(col) >= F.lit(lo))
        if hi is not None:
            out = out.where(F.col(col) <= F.lit(hi))
        return out

    def last_batch_id(self) -> int | None:
        """Highest streaming micro-batch id among snapshots REACHABLE
        from main or a named ref (None = no streaming commits).

        Reachability matters for exactly-once: a crash inside _publish —
        after the v*.json write, before the pointer os.replace — leaves
        an ORPHAN snapshot whose batch never became visible.  Counting
        it (a plain directory scan would) makes the replayed micro-batch
        skip itself and lose the batch permanently; walking the parent
        chains from the published heads counts only batches a reader can
        actually see.  Metadata-scale: one tiny JSON per retained
        snapshot on the chains."""
        if not os.path.isdir(self._meta):
            return None
        refs = self._load_refs()
        heads = ({self.current_version()}
                 | set(refs["tags"].values())
                 | set(refs["branches"].values()))
        best = None
        seen: set[int] = set()
        for head in heads:
            v = head
            while v > 0 and v not in seen:
                seen.add(v)
                path = self._snap_path(v)
                if not os.path.exists(path):
                    break  # expired tail: its batches are long surpassed
                with open(path) as f:
                    snap = json.load(f)
                b = snap.get("batch_id")
                if b is not None and (best is None or b > best):
                    best = b
                v = snap["parent"]
        return best

    def rollback(self, to_version: int) -> int:
        """Publish a NEW snapshot whose file set equals `to_version`'s.
        Nothing is deleted — the rolled-back-over versions stay readable
        (Iceberg rollback semantics)."""
        old = self._load_snapshot(to_version)
        version = self._reserve_version()
        self._publish({
            "version": version,
            "parent": self.current_version(),
            "operation": f"rollback_to_{to_version}",
            "mapping": old["mapping"],
        })
        return version

    # ---- read path ---------------------------------------------------------

    def _resolve(self, version) -> int:
        """None -> current, ref name -> its version, int -> itself."""
        if version is None:
            return self.current_version()
        if isinstance(version, str):
            return self.ref_version(version)
        return version

    def partition_dirs(self, version: int | str | None = None) -> list[str]:
        """Physical (ts_day, conv_bucket) leaf dirs constituting a snapshot
        (default: latest) — the manifest answer to TableIO.partition_dirs.
        One logical partition may map to several dirs (append commits).
        `version` also takes a ref name (tag/branch/'main')."""
        v = self._resolve(version)
        snap = self._load_snapshot(v)
        return [
            os.path.join(self._data, f"commit={c}",
                         f"ts_day={day}", f"conv_bucket={bucket}")
            for k, commits in sorted(snap["mapping"].items())
            for c in commits
            for day, bucket in [k.split("|", 1)]
        ]

    def read(
        self, spark: SparkSession, version: int | str | None = None
    ) -> DataFrame:
        """Read the table as of `version` (default: latest).  Hands Spark
        the snapshot's partition directories with a shared basePath so
        ts_day/conv_bucket come back as partition columns and partition
        pruning still works; the transient commit= level is dropped.

        Schema evolution (Iceberg add-column): when the snapshot's
        constituent commits recorded DIFFERENT data columns, the read
        merges parquet schemas — rows from pre-evolution commits surface
        the new columns as null.  The decision comes from snapshot
        metadata alone; the common single-schema case never pays the
        footer-scan cost of mergeSchema.  `version` also takes a ref
        name (tag/branch/'main')."""
        v = self._resolve(version)
        snap = self._load_snapshot(v)
        out = self._read_mapping_slice(spark, snap["mapping"])
        if out is not None:
            return out
        # an EMPTY snapshot is a legitimate state (delete_where removed
        # every row; overwrite_table with an empty frame): serve a 0-row
        # frame with the nearest data-bearing ancestor's schema instead
        # of failing — reads of an empty table must compose (diff,
        # read_pruned, downstream joins)
        p = snap.get("parent", 0)
        while p:
            s2 = self._load_snapshot(p)
            if s2["mapping"]:
                return self.read(spark, p).limit(0)
            p = s2.get("parent", 0)
        raise ValueError(
            f"snapshot v{v} is empty and no ancestor ever held data "
            "(no schema to serve)")

    def incremental_read(
        self, spark: SparkSession, from_version: int,
        to_version: int | str | None = None,
    ) -> DataFrame:
        """Rows ADDED between two snapshots (Iceberg's incremental append
        scan — the CDC primitive downstream consumers poll instead of
        rescanning the table): the union of the file sets the versions in
        (from_version, to_version] wrote, for versions whose operation
        added data.  An append contributes exactly its new rows; a
        dynamic overwrite or table replace contributes its replacement
        rows (rewriting a partition IS the change); compactions and
        rollbacks contribute nothing (a rewrite of old rows is not new data — Iceberg likewise
        skips replace operations).  Commit dirs are immutable, so this
        stays exact even when a LATER compaction folded the appended
        files into a new commit.  Cost is proportional to what changed,
        never to the table — the property that makes a 100 TB table
        consumable by an every-5-minutes reader.  `from_version=0` = all
        rows ever added up to `to_version` (default: latest; also takes a
        ref name).

        Needs the in-range snapshot metadata (and commit dirs) to still
        be retained: scanning across an expired boundary raises instead
        of silently under-reporting changes."""
        to_v = self._resolve(to_version)
        if from_version > to_v:
            raise ValueError(
                f"from_version {from_version} is newer than {to_v}"
            )
        # walk the PARENT CHAIN down from to_v, not a numeric range:
        # version numbers are table-global, so with branches in play a
        # number in (from, to] can belong to another branch's history
        chain = []
        v = to_v
        while v > from_version:
            snap = self._load_snapshot(v)  # raises if expired
            chain.append((v, snap["operation"]))
            v = snap["parent"]
            if v < from_version:
                raise ValueError(
                    f"v{from_version} is not an ancestor of v{to_v} "
                    "(different branch lineage)")
        paths = []
        data_commits = set()
        for v, op in reversed(chain):
            # 'update' (cow_update / SPARQL INSERT+DELETE) both rewrites
            # partitions AND adds rows — by the "rewriting a partition IS
            # the change" rule it must contribute, or CDC consumers
            # silently miss every SPARQL-inserted row.  Only 'delete',
            # compactions, and rollbacks (no new rows by construction)
            # are skippable.
            if op in ("append", "overwrite_partitions", "overwrite_table",
                      "update"):
                commit_dir = os.path.join(self._data, f"commit={v}")
                if not os.path.isdir(commit_dir):
                    raise ValueError(
                        f"commit {v} was expired; incremental read from "
                        f"{from_version} is no longer answerable"
                    )
                data_commits.add(v)
                paths.extend(
                    os.path.join(commit_dir, f"ts_day={day}",
                                 f"conv_bucket={bucket}")
                    for day, bucket in self._written_partitions(v)
                )
        if not paths:
            return self.read(spark, to_v).limit(0)
        reader = spark.read.option("basePath", self._data)
        if self._needs_merge(data_commits):
            reader = reader.option("mergeSchema", "true")
        return reader.parquet(*paths).drop("commit")

    def diff(
        self, spark: SparkSession, from_version: int,
        to_version: int | None = None,
    ) -> DataFrame:
        """Row-level changelog between two snapshots: DataFrame[op, ...]
        with op '+' for rows present in `to` but not `from` and '-' for
        the reverse (the changelog view a CDC consumer that also needs
        DELETES reads; `incremental_read` is the cheaper adds-only
        scan).

        Cost is proportional to what CHANGED, never to the table: the
        two snapshots' partition→file mappings are compared as metadata
        (driver-side, partition-count-scale), and only partitions whose
        file set differs are read on either side — an untouched
        partition contributes no IO.  Within the changed partitions the
        diff is two exceptAll anti-aggregations (multiset semantics, so
        duplicate-row multiplicity changes surface too)."""
        to_v = self.current_version() if to_version is None else to_version
        if from_version > to_v:
            raise ValueError(
                f"from_version {from_version} is newer than {to_v}")
        m_from = (
            dict(self._load_snapshot(from_version)["mapping"])
            if from_version else {}
        )
        m_to = dict(self._load_snapshot(to_v)["mapping"])

        changed = {
            k for k in set(m_from) | set(m_to)
            if m_from.get(k) != m_to.get(k)
        }
        empty = self.read(spark, to_v).limit(0)

        def _side(mapping):
            out = self._read_mapping_slice(spark, mapping, changed)
            return empty if out is None else out

        old, new = _side(m_from), _side(m_to)
        from pyspark.sql import functions as F

        # schema evolution across the range: align the old side to the
        # new schema (add-column only — pre-evolution rows surface the
        # new columns as null, same rule as read())
        for name, dtype in new.dtypes:
            if name not in old.columns:
                old = old.withColumn(name, F.lit(None).cast(dtype))
        old = old.select(*new.columns)
        return (
            new.exceptAll(old).withColumn("op", F.lit("+"))
            .unionByName(old.exceptAll(new).withColumn("op", F.lit("-")))
            .select("op", *new.columns)
        )

    def history(self, spark: SparkSession) -> DataFrame:
        """One row per retained snapshot: version, parent, operation,
        n_partitions — the `table.history()` metadata surface."""
        rows = []
        meta_files = (sorted(os.listdir(self._meta))
                      if os.path.isdir(self._meta) else [])
        for fname in meta_files:
            if fname.startswith("v") and fname.endswith(".json"):
                with open(os.path.join(self._meta, fname)) as f:
                    s = json.load(f)
                rows.append((s["version"], s["parent"], s["operation"],
                             len(s["mapping"])))
        return spark.createDataFrame(
            rows, "version int, parent int, operation string, n_partitions int"
        )

    # ---- maintenance -------------------------------------------------------

    def compact(self, spark: SparkSession, min_commits: int = 2) -> int | None:
        """Iceberg rewriteDataFiles: logical partitions whose current file
        set spans >= `min_commits` commits (append-chain fragmentation —
        the streaming small-file problem) are rewritten into ONE fresh
        commit and the snapshot repointed.  Strictly row-preserving: no
        dedup, no reorder semantics — compaction is physical maintenance.
        Unfragmented partitions keep their existing files untouched, so
        the rewrite cost is proportional to the fragmented slice, not the
        table.  Older snapshots still read the pre-compaction files until
        `expire_snapshots` reclaims them.  Returns the new version, or
        None when nothing is fragmented."""
        current = self.current_version()
        if current == 0:
            return None
        snap = self._load_snapshot(current)
        targets = {k: v for k, v in snap["mapping"].items()
                   if len(v) >= min_commits}
        if not targets:
            return None
        version = self._reserve_version()
        commit_dir = os.path.join(self._data, f"commit={version}")
        if os.path.isdir(commit_dir):  # crashed earlier attempt
            shutil.rmtree(commit_dir)
        df = self._read_mapping_slice(spark, snap["mapping"], set(targets))
        # rows already carry their layout columns from the read; restore
        # the within-partition clustering when the sort keys survived into
        # this table's schema
        out = df.repartition("ts_day", "conv_bucket")
        sort_keys = [c for c in ("conv_id", "turn_idx") if c in df.columns]
        out = out.sortWithinPartitions("ts_day", "conv_bucket", *sort_keys)
        (
            out.write.mode("errorifexists")
            .partitionBy("ts_day", "conv_bucket")
            .parquet(commit_dir)
        )
        mapping = dict(snap["mapping"])
        for k in targets:
            mapping[k] = [version]
        new_snap = {
            "version": version,
            "parent": current,
            "operation": f"compact_{len(targets)}_partitions",
            "mapping": mapping,
            "columns": [c for c in df.schema.fieldNames()
                        if c not in ("ts_day", "conv_bucket")],
        }
        # stats preservation: routine maintenance must not degrade
        # read_pruned — recompute [min, max] for every column the folded
        # commits carried stats for (one column-pruned scan of the fresh
        # commit; without this each compacted partition silently falls
        # back to conservative full inclusion forever)
        frag_commits = {c for v in targets.values() for c in v}
        stat_cols: set[str] = set()
        for c in frag_commits:
            path = self._snap_path(c)
            if os.path.exists(path):
                with open(path) as f:
                    for per_part in json.load(f).get("stats", {}).values():
                        stat_cols.update(per_part)
        if stat_cols:
            new_snap["stats"] = self._partition_stats(
                spark, commit_dir, sorted(stat_cols)
            )
        self._publish(new_snap)
        return version

    def expire_snapshots(
        self, keep_from: int, reclaim_reserved_older_than_s: float = 86400.0
    ) -> list[int]:
        """Drop snapshot metadata older than `keep_from` and GC commit
        directories no retained snapshot references (Iceberg
        expireSnapshots + orphan-file cleanup).  Snapshots a tag or
        branch points at are retained regardless of age (Iceberg ref
        retention) — drop the ref first to let them expire.  Returns
        removed commits.

        Crashed-writer placeholders (operation='reserved',
        _reserve_version) sit ABOVE the published head, so the
        keep_from clamp alone can never remove them (ADVICE r04);
        they are reclaimed here explicitly — but only when older than
        `reclaim_reserved_older_than_s` (Iceberg's orphan-TTL
        discipline: a LIVE concurrent writer also holds a reserved
        placeholder, and removing it mid-write would let another
        writer reuse the version).  Their commit dirs are unreferenced
        and fall to the orphan GC below."""
        current = self.current_version()
        if not os.path.isdir(self._meta):
            return []  # fresh table: nothing committed, nothing to expire
        keep_from = min(keep_from, current)
        refs = self._load_refs()
        ref_pinned = set(refs["tags"].values()) | set(
            refs["branches"].values())
        retained_commits: set[int] = set()
        now = time.time()
        for fname in list(os.listdir(self._meta)):
            if not (fname.startswith("v") and fname.endswith(".json")):
                continue
            v = int(fname[1:-5])
            if v < keep_from and v not in ref_pinned:
                os.remove(os.path.join(self._meta, fname))
                continue
            snap = self._load_snapshot(v)
            if (
                snap.get("operation") == "reserved"
                and v != current
                and v not in ref_pinned
                and now - os.path.getmtime(self._snap_path(v))
                >= reclaim_reserved_older_than_s
            ):
                os.remove(self._snap_path(v))
                continue
            for commits in snap["mapping"].values():
                retained_commits.update(commits)
        removed = []
        if os.path.isdir(self._data):
            for d in sorted(os.listdir(self._data)):
                if not d.startswith("commit="):
                    continue
                c = int(d.split("=", 1)[1])
                if c not in retained_commits:
                    shutil.rmtree(os.path.join(self._data, d))
                    removed.append(c)
        return removed


@dataclass
class SnapshotTriplesIO(TableIO):
    """TableIO whose `triples` table is snapshot-versioned — the Iceberg-
    shaped drop-in sink the north rule describes ("the materialized graph
    lands as partitioned Iceberg triple tables").

    Control tables (manifest, lineage, stage checkpoints) stay plain
    parquet through the base class; only the triples sink is routed
    through SnapshotTableIO, so the whole KG pipeline (build_graph) runs
    UNCHANGED against it:

    * each `write(..., "triples")` becomes an immutable commit + atomic
      snapshot publish — a run that crashes mid-write leaves the previous
      snapshot readable (its commit dir is unpublished garbage, cleared on
      the resume's next commit);
    * dynamic partition overwrite keeps its resume semantics at the
      METADATA level (repointing, never deleting), so every earlier run's
      graph stays queryable via time travel (`read_version`);
    * `partition_dirs("triples")` answers from the current snapshot's
      manifest, which keeps mark_done/lineage row counts correct even
      though superseded files remain on disk.
    """

    snapshot_table: str = "triples"
    # True routes the pipeline's "overwrite" through commit
    # mode="overwrite_table" (full rebuild) instead of the dynamic
    # partition overwrite (idempotent resume).  Set it only for a
    # from-scratch rebuild: it defeats partition-wise resume (a resumed
    # partial write would PUBLISH only the resumed partitions).
    full_refresh: bool = False

    @property
    def store(self) -> SnapshotTableIO:
        return SnapshotTableIO(
            root=self.path(self.snapshot_table),
            n_buckets=self.n_buckets,
            n_write_salts=self.n_write_salts,
        )

    def write(self, df: DataFrame, name: str, mode: str = "overwrite",
              finisher=None, pre_sort=None) -> None:
        if name != self.snapshot_table:
            return super().write(df, name, mode, finisher=finisher,
                                 pre_sort=pre_sort)
        if mode == "append":
            cmode = "append"
        elif self.full_refresh:
            cmode = "overwrite_table"
        else:
            cmode = "overwrite_partitions"
        self.store.commit(df, mode=cmode, finisher=finisher,
                          pre_sort=pre_sort)

    def read(self, spark: SparkSession, name: str) -> DataFrame:
        if name != self.snapshot_table:
            return super().read(spark, name)
        return self.store.read(spark)

    def read_version(self, spark: SparkSession,
                     version: int | str) -> DataFrame:
        """Time-travel read of the triples table (VERSION AS OF a version
        number or ref name)."""
        return self.store.read(spark, version=version)

    def partition_dirs(self, name: str) -> list[str]:
        if name != self.snapshot_table:
            return super().partition_dirs(name)
        if self.store.current_version() == 0:
            return []
        return self.store.partition_dirs()


def is_versioned(table_path: str) -> bool:
    """True when the table at `table_path` is snapshot-versioned: its
    files on disk are every commit ever written, and only the snapshot
    manifest says which of them are current."""
    return os.path.isdir(os.path.join(table_path, META_DIR))


def open_warehouse(root: str) -> TableIO:
    """The one opener for a built warehouse (build_graph / stream_graph
    --out): a SnapshotTriplesIO when its triples table is snapshot-
    versioned, a plain TableIO otherwise.  Either way
    `io.read(spark, "triples")` returns the CURRENT triples; time travel
    (`io.store`, `io.read_version`) exists on the snapshot kind only."""
    if is_versioned(os.path.join(root, "triples")):
        return SnapshotTriplesIO(root=root)
    return TableIO(root=root)
