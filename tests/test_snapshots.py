"""SnapshotTableIO — Iceberg-semantics tests: immutable commits,
time travel, dynamic partition overwrite, append, rollback, expiry."""

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from logset_spark.sources.snapshots import SnapshotTableIO


@pytest.fixture()
def store():
    root = tempfile.mkdtemp(prefix="logset_snap_")
    yield SnapshotTableIO(root=root, n_buckets=4)
    shutil.rmtree(root, ignore_errors=True)


def _frame(spark, rows):
    return spark.createDataFrame(
        rows, "conv_id string, turn_idx int, ts string, etype string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))


def _base_rows():
    # two days x several convs so both partitions levels get exercised
    return [
        (f"c{i}", t, f"2024-03-0{1 + i % 2} 0{t}:00:00", "msg")
        for i in range(6)
        for t in range(3)
    ]


def test_roundtrip_and_versioning(spark, store):
    df = _frame(spark, _base_rows())
    v = store.commit(df)
    assert v == 1 and store.current_version() == 1
    back = store.read(spark)
    assert back.count() == df.count()
    # layout columns came back as partition columns
    assert {"ts_day", "conv_bucket"} <= set(back.columns)
    assert "commit" not in back.columns


def test_time_travel_after_partition_overwrite(spark, store):
    df = _frame(spark, _base_rows())
    store.commit(df)
    # overwrite ONLY day 2024-03-02: every bucket of that day is present
    # in the update, so the day is exactly replaced
    upd = df.filter(F.to_date("ts") == "2024-03-02") \
            .withColumn("etype", F.lit("edited"))
    v2 = store.commit(upd)
    assert v2 == 2
    # v1 is untouched (immutable files)
    v1_read = store.read(spark, version=1)
    assert v1_read.filter(F.col("etype") == "edited").count() == 0
    assert v1_read.count() == df.count()
    # latest sees the overwrite, day-1 rows survive
    latest = store.read(spark)
    assert latest.count() == df.count()
    assert latest.filter(F.col("etype") == "edited").count() == upd.count()
    assert latest.filter(
        (F.col("ts_day") == "2024-03-01") & (F.col("etype") != "msg")
    ).count() == 0


def test_append_mode_accumulates(spark, store):
    df = _frame(spark, _base_rows())
    store.commit(df)
    extra = df.limit(4).withColumn("etype", F.lit("extra"))
    store.commit(extra, mode="append")
    latest = store.read(spark)
    assert latest.count() == df.count() + 4
    # time travel still sees only the original rows
    assert store.read(spark, version=1).count() == df.count()


def test_rollback_is_nondestructive(spark, store):
    df = _frame(spark, _base_rows())
    store.commit(df)
    store.commit(df.withColumn("etype", F.lit("v2")))
    v3 = store.rollback(1)
    assert v3 == 3
    assert store.read(spark).filter(F.col("etype") == "v2").count() == 0
    # the rolled-over version is still readable
    assert store.read(spark, version=2) \
                .filter(F.col("etype") == "v2").count() == df.count()
    hist = store.history(spark)
    ops = {r["version"]: r["operation"] for r in hist.collect()}
    assert ops == {1: "overwrite_partitions", 2: "overwrite_partitions",
                   3: "rollback_to_1"}
    # driver rows come back as an Arrow-built LocalRelation (no Python worker)
    assert hist._jdf.queryExecution().optimizedPlan().toString() \
        .startswith("LocalRelation")


def test_expire_gc_and_retained_reads(spark, store):
    df = _frame(spark, _base_rows())
    store.commit(df)                                        # v1 (commit 1)
    store.commit(df.withColumn("etype", F.lit("v2")))       # v2 (commit 2)
    removed = store.expire_snapshots(keep_from=2)
    # v1's commit files are referenced by NO retained snapshot -> GC'd
    assert removed == [1]
    assert not os.path.isdir(os.path.join(store.root, "data", "commit=1"))
    # latest still reads fine
    assert store.read(spark).count() == df.count()
    # expired version now raises loudly instead of returning wrong data
    with pytest.raises(ValueError, match="expired"):
        store.read(spark, version=1)


def test_expire_keeps_shared_commits(spark, store):
    """Append chains share commits across snapshots: expiring v1 must NOT
    GC commit 1 while v2 (append) still references its files."""
    df = _frame(spark, _base_rows())
    store.commit(df)                                        # v1
    store.commit(df.limit(2), mode="append")                # v2 references c1+c2
    removed = store.expire_snapshots(keep_from=2)
    assert removed == []
    assert store.read(spark).count() == df.count() + 2


def test_partition_pruning_survives_time_travel(spark, store):
    """A ts_day filter over a snapshot read must prune to that day's
    directories (partition columns are recovered via basePath)."""
    df = _frame(spark, _base_rows())
    store.commit(df)
    plan = store.read(spark).filter(F.col("ts_day") == "2024-03-01") \
                ._jdf.queryExecution().executedPlan().toString()
    assert "ts_day=2024-03-01" in plan or "PartitionFilters" in plan


# ---- SnapshotTriplesIO: the pipeline's Iceberg-shaped triples sink ------

def _synth_frames(spark, n_convs=8):
    from logset_spark.sources import synth

    tdf = spark.createDataFrame(
        synth.transcripts_pdf(n_convs=n_convs), schema=synth.TRANSCRIPT_SCHEMA)
    ddf = spark.createDataFrame(
        synth.entity_dictionary_pdf(), schema=synth.DICT_SCHEMA)
    return tdf, ddf


def test_pipeline_on_snapshot_sink_matches_plain(spark, tmp_path):
    """build_graph against SnapshotTriplesIO must emit the exact triple
    set the plain TableIO sink emits — snapshotting is metadata, never
    data — and each run must be time-travelable afterwards."""
    from logset_spark.pipeline import build_graph
    from logset_spark.sources.snapshots import SnapshotTriplesIO
    from logset_spark.sources.tableio import TableIO

    tdf, ddf = _synth_frames(spark)
    io_plain = TableIO(str(tmp_path / "wh_plain"), n_buckets=4)
    build_graph(spark, tdf, ddf, io_plain, run_id="p1")
    io_snap = SnapshotTriplesIO(str(tmp_path / "wh_snap"), n_buckets=4)
    res = build_graph(spark, tdf, ddf, io_snap, run_id="s1")
    assert res["triples"] > 0

    cols = ["subj", "pred", "obj"]
    plain = io_plain.read(spark, "triples").select(cols)
    snap = io_snap.read(spark, "triples").select(cols)
    assert plain.exceptAll(snap).count() == 0
    assert snap.exceptAll(plain).count() == 0

    v1 = io_snap.store.current_version()
    assert v1 >= 1

    # second run over EXTENDED input -> new snapshot; the old version
    # still answers with run-1's graph (time travel across runs)
    tdf2, _ = _synth_frames(spark, n_convs=12)
    res2 = build_graph(spark, tdf2, ddf, io_snap, run_id="s2")
    assert res2["triples"] > res["triples"]
    v2 = io_snap.store.current_version()
    assert v2 > v1
    old = io_snap.read_version(spark, v1).select(cols)
    assert old.exceptAll(plain).count() == 0
    assert old.exceptAll(snap.select(cols)).count() == 0
    latest = io_snap.read(spark, "triples").select(cols)
    assert latest.count() > old.count()


def test_snapshot_sink_resume_skips_done_run(spark, tmp_path):
    """Same run_id re-run on the snapshot sink -> manifest short-circuit,
    no new snapshot version published."""
    from logset_spark.pipeline import build_graph
    from logset_spark.sources.snapshots import SnapshotTriplesIO

    tdf, ddf = _synth_frames(spark)
    io = SnapshotTriplesIO(str(tmp_path / "wh"), n_buckets=4)
    build_graph(spark, tdf, ddf, io, run_id="r1")
    v = io.store.current_version()
    res = build_graph(spark, tdf, ddf, io, run_id="r1")
    assert res["skipped"] is True
    assert io.store.current_version() == v


def test_crashed_commit_dir_is_cleared_on_retry(spark, store):
    """An unpublished commit dir (crash between write and publish) must
    not block the next commit — it is unreachable garbage."""
    df = _frame(spark, _base_rows())
    # simulate the crash: data written for v1 but pointer never moved
    os.makedirs(os.path.join(store.root, "data", "commit=1", "ts_day=2024-03-01"))
    v = store.commit(df)
    assert v == 1
    assert store.read(spark).count() == df.count()


def test_compact_merges_append_chains(spark, store):
    """Three appends fragment each logical partition across three
    commits; compact() must rewrite them into one fresh commit with the
    row set EXACTLY preserved, leave older snapshots readable, and let
    expire_snapshots reclaim the superseded files."""
    df = _frame(spark, _base_rows())
    store.commit(df)                                   # v1
    store.commit(df.limit(5), mode="append")           # v2
    store.commit(df.limit(3), mode="append")           # v3
    before = store.read(spark)
    n_before = before.count()
    assert n_before == df.count() + 8
    frag_dirs = len(store.partition_dirs())

    v4 = store.compact(spark)
    assert v4 == 4
    after = store.read(spark)
    assert after.count() == n_before
    # row-set identity, not just counts
    cols = ["conv_id", "turn_idx", "ts", "etype"]
    assert before.select(cols).exceptAll(after.select(cols)).count() == 0
    assert after.select(cols).exceptAll(before.select(cols)).count() == 0
    # every fragmented partition now maps to exactly one dir
    assert len(store.partition_dirs()) < frag_dirs
    snap = store._load_snapshot(4)
    assert all(len(v) == 1 for v in snap["mapping"].values())
    # pre-compaction snapshot still answers
    assert store.read(spark, version=3).count() == n_before
    # expiring everything below v4 GCs the superseded append commits;
    # commit 1 SURVIVES because partitions the appends never touched
    # were not fragmented and still reference its files
    removed = store.expire_snapshots(keep_from=4)
    assert removed == [2, 3]
    assert store.read(spark).count() == n_before


def test_compact_noop_when_unfragmented(spark, store):
    df = _frame(spark, _base_rows())
    store.commit(df)
    assert store.compact(spark) is None
    assert store.current_version() == 1


def test_incremental_read_appends_and_overwrites(spark, store):
    """incremental_read(from, to) returns exactly the rows commits newer
    than `from` added: appended files only, full replacement for an
    overwritten partition, nothing for untouched partitions, and an
    empty frame when nothing changed."""
    df = _frame(spark, _base_rows())
    store.commit(df)                                        # v1
    extra = df.limit(4).withColumn("etype", F.lit("extra"))
    store.commit(extra, mode="append")                      # v2
    inc = store.incremental_read(spark, 1, 2)
    assert inc.count() == 4
    assert inc.filter(F.col("etype") != "extra").count() == 0

    upd = df.filter(F.to_date("ts") == "2024-03-02") \
            .withColumn("etype", F.lit("edited"))
    store.commit(upd)                                       # v3 overwrite
    inc13 = store.incremental_read(spark, 1)
    # = v2's 4 appended rows on day 1 + day 2's replacement (appends to
    # day-2 partitions were superseded by the overwrite)
    day1_extra = inc13.filter(F.col("etype") == "extra").count()
    assert inc13.filter(F.col("etype") == "edited").count() == upd.count()
    assert day1_extra + upd.count() == inc13.count()
    # nothing changed between a version and itself
    assert store.incremental_read(spark, 3, 3).count() == 0


def test_incremental_read_skips_compaction(spark, store):
    df = _frame(spark, _base_rows())
    store.commit(df)                                        # v1
    store.commit(df.limit(3), mode="append")                # v2
    store.compact(spark)                                    # v3 rewrite
    # the compaction rewrote v1+v2 rows, but none of them are NEW
    assert store.incremental_read(spark, 2).count() == 0
    # ...and v2's appended rows still count as changes since v1 even
    # though the compaction folded their partition into a new commit
    # (immutable commit dirs keep the per-version added set exact)
    assert store.incremental_read(spark, 1, 3).count() == 3
    store.commit(df.limit(2), mode="append")                # v4
    assert store.incremental_read(spark, 2).count() == 2
    # expiring the in-range metadata makes the scan raise, not lie
    store.expire_snapshots(keep_from=4)
    with pytest.raises(ValueError, match="expired"):
        store.incremental_read(spark, 2)


def test_crash_mid_materialize_leaves_previous_snapshot_readable(spark, tmp_path):
    """Atomic-commit semantics under the pipeline: a run that dies while
    WRITING its triples commit leaves the table at the previous version
    for every reader; the retry clears the orphaned commit dir and
    publishes normally, converging to the uninterrupted result."""
    from logset_spark.pipeline import build_graph
    from logset_spark.sources.snapshots import SnapshotTriplesIO

    tdf, ddf = _synth_frames(spark)
    io = SnapshotTriplesIO(str(tmp_path / "wh"), n_buckets=4)
    build_graph(spark, tdf, ddf, io, run_id="a")
    v1 = io.store.current_version()
    v1_rows = io.read(spark, "triples").count()

    # run "b" crashes mid-write: a half-written commit dir exists but the
    # version pointer never moved
    torn = os.path.join(io.store._data, f"commit={v1 + 1}",
                        "ts_day=2024-01-01", "conv_bucket=0")
    os.makedirs(torn)
    with open(os.path.join(torn, "part-torn.parquet"), "w") as f:
        f.write("not parquet")
    assert io.store.current_version() == v1
    assert io.read(spark, "triples").count() == v1_rows  # readers unharmed

    # retry of run "b" (same input) publishes over the torn dir; the
    # overwrite must converge to exactly run-a's graph (idempotent
    # replay, no duplicates, no leakage from the torn files)
    build_graph(spark, tdf, ddf, io, run_id="b")
    assert io.store.current_version() > v1
    got = io.read(spark, "triples").select("subj", "pred", "obj")
    want = io.read_version(spark, v1).select("subj", "pred", "obj")
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_schema_evolution_add_column(spark, store):
    """Iceberg add-column: a later commit carries a new column; reads
    spanning both schemas merge (old rows -> null), single-schema reads
    never pay the merge, and time travel sees the old schema."""
    df = _frame(spark, _base_rows())
    store.commit(df)                                        # v1: 4 cols
    evolved = df.limit(4).withColumn("etype", F.lit("extra")) \
                .withColumn("score", F.lit(0.5))
    store.commit(evolved, mode="append")                    # v2: +score
    latest = store.read(spark)
    assert "score" in latest.columns
    assert latest.filter(F.col("score").isNotNull()).count() == 4
    assert latest.count() == df.count() + 4
    # time travel: the pre-evolution snapshot has the old schema
    assert "score" not in store.read(spark, version=1).columns
    # incremental scan across the boundary sees only the evolved rows
    inc = store.incremental_read(spark, 1)
    assert inc.count() == 4 and "score" in inc.columns
    # compaction across the schema boundary preserves the merged schema
    v3 = store.compact(spark)
    assert v3 == 3
    after = store.read(spark)
    assert after.count() == df.count() + 4
    assert after.filter(F.col("score").isNotNull()).count() == 4


def test_merge_upsert_rewrites_only_touched_partitions(spark, store):
    """CoW MERGE: updates replace matching keys, inserts land as new
    rows, and partitions with no touched keys keep their ORIGINAL commit
    files (the rewrite is partition-pruned)."""
    df = _frame(spark, _base_rows())
    store.commit(df)                                        # v1
    # touch ONLY day 2024-03-01 (convs with even index): update one key,
    # insert one new key on that day
    upd = _frame(spark, [("c0", 1, "2024-03-01 01:00:00", "patched"),
                         ("c0", 99, "2024-03-01 05:00:00", "new")])
    v2 = store.merge_upsert(spark, upd, keys=["conv_id", "turn_idx"])
    assert v2 == 2
    latest = store.read(spark)
    assert latest.count() == df.count() + 1
    assert latest.filter(
        (F.col("conv_id") == "c0") & (F.col("turn_idx") == 1)
    ).select("etype").first()["etype"] == "patched"
    assert latest.filter(F.col("etype") == "new").count() == 1
    # untouched day-2 partitions still point at commit 1
    mapping = store._load_snapshot(2)["mapping"]
    day2 = {k: v for k, v in mapping.items() if k.startswith("2024-03-02")}
    assert day2 and all(v == [1] for v in day2.values())
    # time travel: pre-merge version unchanged
    assert store.read(spark, version=1).count() == df.count()
    assert store.read(spark, version=1) \
                .filter(F.col("etype") != "msg").count() == 0


def test_merge_upsert_on_empty_table_is_insert(spark, store):
    df = _frame(spark, _base_rows())
    v = store.merge_upsert(spark, df, keys=["conv_id", "turn_idx"])
    assert v == 1
    assert store.read(spark).count() == df.count()


def test_delete_where_rewrites_only_touched_partitions(spark, store):
    df = _frame(spark, _base_rows())
    v1 = store.commit(df)
    # delete ONE turn of one conv: its (day, bucket) partition rewrites
    # with the surviving rows; everything else keeps its commit-1 files
    v2 = store.delete_where(spark, "conv_id = 'c0' AND turn_idx = 0")
    assert v2 == v1 + 1
    back = store.read(spark)
    assert back.where("conv_id = 'c0' AND turn_idx = 0").count() == 0
    assert back.where("conv_id = 'c0'").count() == 2
    assert back.count() == df.count() - 1
    # v1 still reads the pre-delete rows (CoW: nothing destroyed)
    assert store.read(spark, version=v1).where("conv_id = 'c0'").count() == 3
    # untouched partitions kept their original commit-1 files
    snap_map = store._load_snapshot(v2)["mapping"]
    assert any(v == [1] for v in snap_map.values())
    assert any(v == [2] for v in snap_map.values())


def test_delete_where_null_predicate_rows_are_kept(spark, store):
    rows = [("c0", 0, "2024-03-01 00:00:00", "msg"),
            ("c0", 1, "2024-03-01 01:00:00", None),
            ("c0", 2, "2024-03-01 02:00:00", "drop")]
    store.commit(_frame(spark, rows))
    store.delete_where(spark, "etype = 'drop'")
    back = store.read(spark)
    # the NULL-etype row's predicate is NULL -> kept (SQL DELETE rule)
    assert back.count() == 2
    assert back.where("etype IS NULL").count() == 1


def test_delete_where_drops_fully_emptied_partition(spark, store):
    df = _frame(spark, _base_rows())
    store.commit(df)
    # every 2024-03-01 row goes: that day's partitions must leave the map
    v = store.delete_where(spark, "ts < timestamp'2024-03-02 00:00:00'")
    mapping = store._load_snapshot(v)["mapping"]
    assert all(k.split("|", 1)[0] != "2024-03-01" for k in mapping)
    back = store.read(spark)
    assert back.where("ts_day = '2024-03-01'").count() == 0
    assert back.count() == df.where("ts >= timestamp'2024-03-02 00:00:00'").count()


def test_delete_where_no_match_is_noop(spark, store):
    store.commit(_frame(spark, _base_rows()))
    v = store.delete_where(spark, "conv_id = 'nope'")
    assert v == store.current_version() == 1


def test_delete_skipped_by_incremental_read(spark, store):
    store.commit(_frame(spark, _base_rows()))
    v2 = store.delete_where(spark, "conv_id = 'c0'")
    # a delete adds no rows: the incremental append scan sees nothing
    assert store.incremental_read(spark, from_version=1, to_version=v2).count() == 0


def test_stats_pruning_skips_dirs_and_matches_plain_filter(spark, store):
    df = _frame(spark, _base_rows())
    store.commit(df, stats_cols=["turn_idx", "ts"])
    total_dirs = len(store.partition_dirs())
    paths, _ = store.pruned_partition_dirs("turn_idx", lo=99, hi=None)
    assert len(paths) == 0  # every partition's max turn_idx is 2
    # range hitting everything prunes nothing
    paths_all, _ = store.pruned_partition_dirs("turn_idx", lo=0, hi=99)
    assert len(paths_all) == total_dirs
    # pruned read == plain filtered read, exactly
    got = sorted(
        tuple(r) for r in store.read_pruned(
            spark, "turn_idx", lo=2, hi=2
        ).select("conv_id", "turn_idx").collect()
    )
    want = sorted(
        tuple(r) for r in store.read(spark).where("turn_idx = 2")
        .select("conv_id", "turn_idx").collect()
    )
    assert got == want and len(got) == 6


def test_stats_pruning_timestamp_bounds_and_statless_commits(spark, store):
    early = [("c0", 0, "2024-03-01 00:00:00", "msg")]
    late = [("c9", 0, "2024-03-05 00:00:00", "msg")]
    store.commit(_frame(spark, early), stats_cols=["ts"])
    store.commit(_frame(spark, late), mode="append", stats_cols=["ts"])
    import datetime

    lo = datetime.datetime(2024, 3, 4)
    paths, _ = store.pruned_partition_dirs("ts", lo=lo)
    assert len(paths) == 1 and "commit=2" in paths[0]
    assert store.read_pruned(spark, "ts", lo=lo).count() == 1
    # a commit WITHOUT stats is conservatively included, never skipped
    store.commit(_frame(spark, [("cZ", 0, "2024-03-01 05:00:00", "x")]),
                 mode="append")
    paths2, _ = store.pruned_partition_dirs("ts", lo=lo)
    assert any("commit=3" in p for p in paths2)
    assert store.read_pruned(spark, "ts", lo=lo).count() == 1


def test_overwrite_table_drops_moved_partitions(spark, store):
    """Rebuild semantics: when upstream rows MOVE across partitions, a
    dynamic overwrite leaves the old partitions' stale rows live (that
    is its contract); overwrite_table publishes only the new data, and
    the previous version stays time-travel readable."""
    df = _frame(spark, _base_rows())
    store.commit(df)
    # the rebuild shifts every row to day 2024-03-03 — all old
    # (day, bucket) partitions become stale
    moved = _frame(
        spark,
        [(c, t, f"2024-03-03 0{t}:00:00", "rebuilt")
         for c in (f"c{i}" for i in range(6)) for t in range(3)],
    )
    # dynamic overwrite: old days survive (correct, but not a rebuild)
    v2 = store.commit(moved)
    assert store.read(spark).count() == df.count() + moved.count()
    # table replace: only the new data is live
    v3 = store.commit(moved, mode="overwrite_table")
    latest = store.read(spark)
    assert latest.count() == moved.count()
    assert latest.filter(F.col("etype") != "rebuilt").count() == 0
    # prior versions still fully readable
    assert store.read(spark, version=v2).count() == df.count() + moved.count()
    assert store.read(spark, version=1).count() == df.count()
    assert v3 == 3


def test_overwrite_table_incremental_read_sees_only_new_commit(spark, store):
    df = _frame(spark, _base_rows())
    store.commit(df)
    moved = _frame(spark, [("cX", 0, "2024-03-04 00:00:00", "new")])
    v2 = store.commit(moved, mode="overwrite_table")
    inc = store.incremental_read(spark, 1, to_version=v2)
    assert inc.count() == 1
    assert inc.collect()[0]["etype"] == "new"


def test_diff_changelog_between_versions(spark, store):
    df = _frame(spark, _base_rows())
    store.commit(df)  # v1
    # v2: overwrite day 2 with edits + append a brand-new day
    upd = df.filter(F.to_date("ts") == "2024-03-02") \
            .withColumn("etype", F.lit("edited"))
    store.commit(upd)  # v2: day-2 partitions replaced
    store.commit(_frame(spark, [("cN", 0, "2024-03-09 00:00:00", "new")]),
                 mode="append")  # v3
    chg = store.diff(spark, 1)
    rows = [(r["op"], r["conv_id"], r["etype"]) for r in chg.collect()]
    adds = [r for r in rows if r[0] == "+"]
    drops = [r for r in rows if r[0] == "-"]
    # every day-2 row was replaced (old '-' / edited '+') plus 1 append
    n_day2 = upd.count()
    assert len(adds) == n_day2 + 1 and len(drops) == n_day2
    assert all(r[2] == "edited" for r in adds if r[1] != "cN")
    assert all(r[2] == "msg" for r in drops)
    # intermediate range: v2 -> v3 sees only the append
    chg23 = store.diff(spark, 2, to_version=3)
    assert [(r["op"], r["conv_id"]) for r in chg23.collect()] == [("+", "cN")]
    # identical versions: empty
    assert store.diff(spark, 3, to_version=3).count() == 0
    with pytest.raises(ValueError, match="newer"):
        store.diff(spark, 3, to_version=1)


def test_diff_reads_only_changed_partitions(spark, store):
    """The metadata prune: an untouched partition contributes no input
    files to the diff plan."""
    df = _frame(spark, _base_rows())
    store.commit(df)
    upd = df.filter(
        (F.to_date("ts") == "2024-03-02") & (F.col("conv_id") == "c1")
    ).withColumn("etype", F.lit("edited"))
    store.commit(upd)
    chg = store.diff(spark, 1)
    plan = chg._jdf.queryExecution().executedPlan().toString()
    import re as _re
    scanned = set(_re.findall(r"commit=\d+/ts_day=[^,\]\s]+", plan))
    # only partitions containing c1@day2 (old and new commit) are read
    assert scanned, "expected file-scan paths in the plan"
    assert all("2024-03-02" in s for s in scanned), scanned


def test_diff_after_delete_shows_removals(spark, store):
    df = _frame(spark, _base_rows())
    store.commit(df)
    store.delete_where(spark, "conv_id = 'c3'")
    chg = store.diff(spark, 1)
    assert {(r["op"], r["conv_id"]) for r in chg.collect()} == {("-", "c3")}


# ---------------------------------------------------------------------------
# named refs: tags & branches
# ---------------------------------------------------------------------------


def test_tag_pins_and_survives_expiry(spark, store):
    df = _frame(spark, _base_rows())
    store.commit(df)  # v1
    store.tag("prod")  # pin v1
    upd = df.withColumn("etype", F.lit("edited"))
    store.commit(upd)  # v2
    store.commit(upd)  # v3
    assert store.ref_version("prod") == 1
    # read by ref name
    assert store.read(spark, version="prod") \
                .filter(F.col("etype") == "edited").count() == 0
    # expire everything before v3: the tagged v1 (and its commit) is
    # retained anyway; the untagged v2's superseded commit is GC'd
    removed = store.expire_snapshots(3)
    assert store.read(spark, version="prod").count() == df.count()
    assert removed == [2]
    # re-pointing needs force (and expired versions can't be tagged)
    with pytest.raises(ValueError, match="force"):
        store.tag("prod", 3)
    assert store.tag("prod", 3, force=True) == 3
    with pytest.raises(ValueError, match="expired"):
        store.tag("gone", 2)
    with pytest.raises(ValueError, match="unknown ref"):
        store.ref_version("nope")
    store.drop_ref("prod")
    with pytest.raises(ValueError):
        store.ref_version("prod")


def test_branch_commits_isolate_main_until_fast_forward(spark, store):
    df = _frame(spark, _base_rows())
    store.commit(df)  # v1 (main)
    store.branch("audit")
    upd = df.filter(F.to_date("ts") == "2024-03-02") \
            .withColumn("etype", F.lit("branch-edit"))
    vb = store.commit(upd, branch="audit")  # v2, branch head
    assert vb == 2
    # main is untouched: pointer still v1, no branch rows visible
    assert store.current_version() == 1
    assert store.read(spark).filter(
        F.col("etype") == "branch-edit").count() == 0
    # branch read sees the edit
    br = store.read(spark, version="audit")
    assert br.filter(F.col("etype") == "branch-edit").count() == upd.count()
    # publish: fast-forward main to the branch head
    assert store.fast_forward("audit") == 2
    assert store.read(spark).filter(
        F.col("etype") == "branch-edit").count() == upd.count()
    # a commit on main now allocates PAST the branch's numbers
    v3 = store.commit(df.limit(1), mode="append")
    assert v3 == 3
    # refs table lists main + named refs
    refs = {(r["name"], r["kind"]): r["version"]
            for r in store.refs(spark).collect()}
    assert refs[("main", "branch")] == 3
    assert refs[("audit", "branch")] == 2


def test_fast_forward_rejects_diverged_main(spark, store):
    df = _frame(spark, _base_rows())
    store.commit(df)  # v1
    store.branch("wip")
    store.commit(df.withColumn("etype", F.lit("b")), branch="wip")  # v2
    store.commit(df.withColumn("etype", F.lit("m")))  # v3 on main: diverged
    with pytest.raises(ValueError, match="ancestor"):
        store.fast_forward("wip")
    # unknown branch on commit is rejected (typo guard)
    with pytest.raises(ValueError, match="not a branch"):
        store.commit(df, branch="typo")


def test_incremental_read_walks_lineage_not_numbers(spark, store):
    """With a branch interleaved in the global numbering, the
    incremental scan must follow parent pointers, never the numeric
    range (v2 below belongs to the branch, not main's history)."""
    df = _frame(spark, _base_rows())
    store.commit(df)  # v1 main
    store.branch("side")
    store.commit(
        _frame(spark, [("cB", 0, "2024-03-05 00:00:00", "branch-only")]),
        mode="append", branch="side")  # v2 branch
    store.commit(
        _frame(spark, [("cM", 0, "2024-03-06 00:00:00", "main-add")]),
        mode="append")  # v3 main (parent v1)
    inc = store.incremental_read(spark, 1)  # main lineage: v3 only
    assert [r["etype"] for r in inc.collect()] == ["main-add"]
    # the branch commit v2 is NOT on main's lineage: scanning main's
    # tip "since the branch head" must raise, not mix histories
    with pytest.raises(ValueError, match="ancestor"):
        store.incremental_read(spark, 2, to_version=3)


def _null_day_frame(spark, rows):
    """Rows with NULL ts (the pipeline's sameAs shape) land in the
    __HIVE_DEFAULT_PARTITION__ pseudo-day."""
    return spark.createDataFrame(
        rows, "conv_id string, turn_idx int, etype string"
    ).withColumn("ts", F.lit(None).cast("timestamp")).select(
        "conv_id", "turn_idx", "ts", "etype"
    )


def test_cow_ops_reach_null_day_partitions(spark, store):
    """Regression: touched-partition keys derived from rows spelled null
    ts_day as 'None' while mapping keys use Spark's
    __HIVE_DEFAULT_PARTITION__ — null-day rows were invisible to every
    CoW op (silent non-delete; inserts REPOINTING the pseudo-day and
    dropping its rows)."""
    base = _frame(spark, _base_rows())
    nulls = _null_day_frame(
        spark, [("same1", 0, "sameAs"), ("same2", 0, "sameAs")]
    )
    store.commit(base.unionByName(nulls))
    assert store.read(spark).where(F.col("ts").isNull()).count() == 2

    # delete_where matching ONLY null-day rows must remove them (was: a
    # zero-path crash, or a silent no-op when mixed)
    store.delete_where(spark, "etype = 'sameAs' AND conv_id = 'same2'")
    left = store.read(spark).where(F.col("ts").isNull())
    assert {r.conv_id for r in left.collect()} == {"same1"}

    # cow_update inserting MORE null-ts rows must carry the existing
    # null-day rows through the rewrite (was: repoint-and-drop)
    ins = _null_day_frame(spark, [("same3", 0, "sameAs")])
    store.cow_update(spark, inserts=ins)
    left = store.read(spark).where(F.col("ts").isNull())
    assert {r.conv_id for r in left.collect()} == {"same1", "same3"}
    # and the non-null days were never touched
    assert store.read(spark).where(F.col("ts").isNotNull()).count() == 18


def test_last_batch_id_ignores_unpublished_snapshot(spark, store):
    """Regression: a crash between the snapshot-file write and the
    pointer move leaves an orphan v*.json; counting its batch_id makes
    the streaming replay skip itself and lose the batch."""
    import json

    store.commit(_frame(spark, _base_rows()), mode="append", batch_id=7)
    assert store.last_batch_id() == 7
    # simulate the torn publish: snapshot file exists, pointer never moved
    orphan = {"version": 99, "parent": 1, "operation": "append",
              "mapping": {}, "batch_id": 8}
    with open(store._snap_path(99), "w") as f:
        json.dump(orphan, f)
    assert store.last_batch_id() == 7  # the orphan batch never published
    # the replayed batch 8 must therefore COMMIT, not skip
    v = store.commit(_frame(spark, _base_rows()[:3]), mode="append",
                     batch_id=8)
    assert store.current_version() == v
    assert store.last_batch_id() == 8


def test_incremental_read_sees_cow_update_inserts(spark, store):
    """Regression: 'update' commits were filtered out of the incremental
    scan, so SPARQL-inserted rows were invisible to CDC consumers."""
    store.commit(_frame(spark, _base_rows()))
    v1 = store.current_version()
    ins = _frame(spark, [("cNEW", 0, "2024-03-01 05:00:00", "ins")])
    v2, _, n_ins = store.cow_update(spark, inserts=ins)
    assert n_ins == 1
    inc = store.incremental_read(spark, v1, v2)
    assert inc.where(F.col("conv_id") == "cNEW").count() == 1


def test_merge_upsert_keeps_evolved_columns_on_kept_rows(spark, store):
    """Regression: kept rows in touched partitions were rewritten with
    only the updates frame's columns, permanently dropping evolved
    columns from rows the merge never touched."""
    store.commit(_frame(spark, _base_rows()))
    evolved = _frame(spark, [("c0", 9, "2024-03-01 09:00:00", "msg")]) \
        .withColumn("lang", F.lit("en"))
    store.commit(evolved, mode="append")
    # pre-evolution-shaped updates frame touches day 2024-03-01
    upd = _frame(spark, [("c0", 0, "2024-03-01 00:00:00", "patched")])
    store.merge_upsert(spark, upd, keys=["conv_id", "turn_idx"])
    now = store.read(spark)
    assert "lang" in now.columns
    # the evolved row was NOT part of the upsert: its lang survives
    assert now.where(
        (F.col("conv_id") == "c0") & (F.col("turn_idx") == 9)
    ).first()["lang"] == "en"
    # the patched row exists with lang null (its new state IS the update)
    assert now.where(F.col("etype") == "patched").count() == 1


def test_read_of_fully_emptied_table_is_empty_frame(spark, store):
    """Regression: delete_where removing every row produced a snapshot
    read() refused to serve (ValueError), breaking diff/read_pruned and
    any downstream reader of a legitimately empty state."""
    store.commit(_frame(spark, _base_rows()))
    store.delete_where(spark, "true")
    out = store.read(spark)
    assert out.count() == 0
    assert "conv_id" in out.columns  # ancestor schema served
    # diff across the delete shows pure removals and doesn't crash
    d = store.diff(spark, 1)
    assert d.where(F.col("op") == "+").count() == 0
    assert d.where(F.col("op") == "-").count() == 18


def test_expire_and_history_on_fresh_table(spark, store):
    assert store.expire_snapshots(keep_from=5) == []
    assert store.history(spark).count() == 0


def test_compact_preserves_manifest_stats(spark, store):
    """Regression: compaction published its snapshot without stats, so
    read_pruned silently degraded to full inclusion for every compacted
    partition forever after."""
    store.commit(_frame(spark, _base_rows()), stats_cols=["turn_idx"])
    store.commit(
        _frame(spark, [("c0", 50, "2024-03-01 10:00:00", "late")]),
        mode="append", stats_cols=["turn_idx"],
    )
    v = store.compact(spark)
    assert v is not None
    # pruning on turn_idx still skips dirs post-compaction
    paths_all, _ = store.pruned_partition_dirs("turn_idx", lo=None, hi=None)
    paths_hi, _ = store.pruned_partition_dirs("turn_idx", lo=40, hi=None)
    assert len(paths_hi) < len(paths_all)
    got = store.read_pruned(spark, "turn_idx", lo=40).collect()
    assert [r.etype for r in got] == ["late"]


def test_interleaved_committers_loser_raises(spark, store):
    """VERDICT r03 item 7: two writers read the same head; the first to
    publish wins, the second raises ConcurrentCommitError and the
    winner's snapshot is untouched.  Simulated by publishing a foreign
    commit between a commit's read-version and its publish via a
    _publish wrapper on a second store handle pointed at the same root."""
    from logset_spark.sources.snapshots import (
        ConcurrentCommitError,
        SnapshotTableIO,
    )

    v1 = store.commit(_frame(spark, _base_rows()))
    foreign = SnapshotTableIO(root=store.root, n_buckets=4)

    # wedge a foreign commit into the publish step: the slow writer has
    # already chosen parent=v1 when the fast writer lands v2
    orig_publish = store._publish
    fired = {"n": 0}

    def racing_publish(snap, branch=None):
        if fired["n"] == 0:
            fired["n"] = 1
            foreign.commit(
                _frame(spark, [("cF", 0, "2024-03-01 00:00:00", "msg")])
            )
        return orig_publish(snap, branch=branch)

    store._publish = racing_publish
    with pytest.raises(ConcurrentCommitError, match="refusing to clobber"):
        store.commit(_frame(spark, [("cS", 0, "2024-03-02 00:00:00", "msg")]))
    store._publish = orig_publish

    # the foreign writer's snapshot is the head; nothing was clobbered
    # (version RESERVATION means the two writers never even shared a
    # commit dir: slow reserved v2, foreign reserved v3 and won the head)
    head = foreign.current_version()
    assert head > v1
    assert foreign.read(spark).where("conv_id = 'cF'").count() == 1
    # the loser's data files are unreachable, and a RETRY from the fresh
    # head (the normal reaction to the error) succeeds
    assert store.read(spark).where("conv_id = 'cS'").count() == 0
    v_retry = store.commit(
        _frame(spark, [("cS", 0, "2024-03-02 00:00:00", "msg")]))
    assert v_retry > head
    assert store.read(spark).where("conv_id = 'cS'").count() == 1
    assert store.read(spark).where("conv_id = 'cF'").count() == 1
    # the abandoned reservation is visible in history as 'reserved'
    ops = {r["operation"] for r in store.history(spark).collect()}
    assert "reserved" in ops


def test_interleaved_branch_committers_loser_raises(spark, store):
    from logset_spark.sources.snapshots import (
        ConcurrentCommitError,
        SnapshotTableIO,
    )

    store.commit(_frame(spark, _base_rows()))
    store.branch("audit")
    foreign = SnapshotTableIO(root=store.root, n_buckets=4)

    orig_publish = store._publish
    fired = {"n": 0}

    def racing_publish(snap, branch=None):
        if fired["n"] == 0:
            fired["n"] = 1
            foreign.commit(
                _frame(spark, [("cF", 0, "2024-03-01 00:00:00", "msg")]),
                branch="audit",
            )
        return orig_publish(snap, branch=branch)

    store._publish = racing_publish
    with pytest.raises(ConcurrentCommitError, match="branch 'audit'"):
        store.commit(
            _frame(spark, [("cS", 0, "2024-03-02 00:00:00", "msg")]),
            branch="audit",
        )
    store._publish = orig_publish
    # the foreign branch commit is the branch head; main never moved
    assert foreign.ref_version("audit") > 1
    assert foreign.current_version() == 1
    assert foreign.read(spark, version="audit").where(
        "conv_id = 'cF'").count() == 1


def test_fast_forward_guards_foreign_commit(spark, store):
    from logset_spark.sources.snapshots import (
        ConcurrentCommitError,
        SnapshotTableIO,
    )

    store.commit(_frame(spark, _base_rows()))
    store.branch("wip")
    store.commit(_frame(spark, [("cW", 0, "2024-03-01 00:00:00", "msg")]),
                 branch="wip")
    foreign = SnapshotTableIO(root=store.root, n_buckets=4)

    orig_cv = store.current_version
    fired = {"n": 0}

    def racing_cv():
        v = orig_cv()
        if fired["n"] == 0:
            fired["n"] = 1
            foreign.commit(
                _frame(spark, [("cF", 0, "2024-03-02 00:00:00", "msg")]))
        return v

    store.current_version = racing_cv
    with pytest.raises(ConcurrentCommitError, match="fast_forward"):
        store.fast_forward("wip")
    store.current_version = orig_cv
    # the foreign commit survived as head; a fresh fast_forward now
    # correctly REJECTS on ancestry (main diverged from the branch)
    assert foreign.read(spark).where("conv_id = 'cF'").count() == 1
    with pytest.raises(ValueError, match="not an ancestor"):
        store.fast_forward("wip")


def test_expire_reclaims_crashed_reserved_placeholder(spark, store):
    """ADVICE r04: a crashed writer's reserved placeholder sits ABOVE
    the published head, so the keep_from clamp alone never removed it.
    expire_snapshots now reclaims reserved placeholders older than the
    TTL (0 here); a fresh placeholder (in-flight writer) survives the
    default TTL, and the current head is never touched."""
    v1 = store.commit(_frame(spark, _base_rows()))
    # simulate a crashed writer: reserve, then never publish
    ghost = store._reserve_version()
    assert ghost > v1
    hist = lambda: {r["version"]: r["operation"]
                    for r in store.history(spark).collect()}
    assert hist()[ghost] == "reserved"

    # default TTL: the placeholder is retained (could be in-flight)
    store.expire_snapshots(keep_from=v1)
    assert ghost in hist()

    # explicit maintenance with TTL 0: reclaimed
    store.expire_snapshots(keep_from=v1, reclaim_reserved_older_than_s=0)
    left = set(hist())
    assert ghost not in left and v1 in left
    # the table still reads and commits normally after reclamation
    v2 = store.commit(_frame(spark, _base_rows()))
    assert v2 > v1


def _triple_frame(spark, rows):
    """_frame rows as a triple store: one `t_<conv>_<turn> hasRole
    <etype>` triple per turn, layout columns alongside."""
    return _frame(spark, rows).select(
        F.concat_ws("_", F.lit("t"), "conv_id", "turn_idx").alias("subj"),
        F.lit("hasRole").alias("pred"), F.col("etype").alias("obj"),
        "conv_id", "turn_idx", "ts")


def test_delete_only_rewrite_is_a_delete(spark, tmp_path):
    """Regression: a delete-only cow_update (the SPARQL DELETE DATA path)
    was published as 'update', so incremental_read reported the
    rewritten partition's surviving rows as added.  Every delete-only
    rewrite is a 'delete', adds nothing, and leaves the same snapshot
    as delete_where on the same row."""
    from logset_spark.operators.sparql_update import apply_update

    stores = {k: SnapshotTableIO(root=str(tmp_path / k), n_buckets=4)
              for k in ("cow", "sparql", "where")}
    for st in stores.values():
        st.commit(_triple_frame(spark, _base_rows()))
    gone = spark.createDataFrame([("t_c0_0", "hasRole", "msg")],
                                 "subj string, pred string, obj string")
    assert stores["cow"].cow_update(spark, deletes=gone) == (2, 1, 0)
    assert apply_update(stores["sparql"], spark,
                        "DELETE DATA { t_c0_0 hasRole msg }") == (2, 1, 0)
    assert stores["where"].delete_where(spark, "subj = 't_c0_0'") == 2

    def rows(st):
        return sorted(tuple(r) for r in st.read(spark).collect())

    want = rows(stores["where"])
    assert len(want) == 17
    for st in stores.values():
        ops = {r["version"]: r["operation"]
               for r in st.history(spark).collect()}
        assert ops[2] == "delete"
        assert st.incremental_read(spark, 1, 2).count() == 0
        assert rows(st) == want


def test_table_keeps_its_bucket_count(spark, tmp_path):
    """Regression: the bucket count belonged to the handle, not the
    table.  A 5-bucket table opened through open_warehouse (default 16)
    re-bucketed the kept rows of a one-row delete by 16, and they
    overwrote untouched 5-bucket partitions: 104 of 120 rows survived.
    The first snapshot records the count and every later commit uses
    it; a pipeline write with another count must be a full refresh."""
    from logset_spark.sources.snapshots import (
        SnapshotTriplesIO, open_warehouse)

    rows = [(f"c{i}", t, f"2024-03-0{1 + i % 2} 0{t}:00:00", "msg")
            for i in range(40) for t in range(3)]
    df = _triple_frame(spark, rows)
    SnapshotTableIO(root=str(tmp_path / "triples"), n_buckets=5).commit(df)
    store = open_warehouse(str(tmp_path)).store
    store.delete_where(spark, "conv_id = 'c0' AND turn_idx = 0")
    assert store.read(spark).count() == 119
    assert store.n_buckets == 16 and store.recorded_buckets() == 5
    store.merge_upsert(spark, _triple_frame(spark, [
        ("c1", 7, "2024-03-02 07:00:00", "msg")]), keys=["conv_id", "turn_idx"])
    back = store.read(spark)
    assert back.count() == 120
    assert {r[0] for r in back.select("conv_bucket").distinct().collect()} \
        <= set(range(5))
    # a pipeline write planned with another count is refused ...
    io = SnapshotTriplesIO(str(tmp_path), n_buckets=16)
    with pytest.raises(ValueError, match="--full-refresh"):
        io.write(df, "triples")
    # ... unless it replaces the whole table, which records the new count
    io.full_refresh = True
    io.write(df, "triples")
    assert store.recorded_buckets() == 16
    assert store.read(spark).count() == 120
