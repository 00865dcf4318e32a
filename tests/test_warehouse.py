"""One warehouse opener (sources.snapshots.open_warehouse): every reader
of a built warehouse sees its CURRENT triples, whether the warehouse is
plain or snapshot-versioned.  A snapshot warehouse keeps superseded and
deleted rows on disk for time travel, so a plain parquet read of its
triples table would count them as emitted."""

import json
import os
import runpy

import pytest
from pyspark.sql import functions as F

JOBS = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "jobs")
KEY = ["subj", "pred", "obj"]


@pytest.fixture(scope="module")
def snap_wh(spark, tmp_path_factory):
    """A snapshot warehouse (build_graph on a SnapshotTriplesIO) with one
    hasRole triple then deleted by apply_update — the delete rewrites a
    partition into a new commit, leaving the old files on disk.  Shared
    by every test in this module: the build is the expensive part."""
    from logset_spark.operators.sparql_update import apply_update
    from logset_spark.pipeline import build_graph
    from logset_spark.sources import synth
    from logset_spark.sources.snapshots import SnapshotTriplesIO

    root = str(tmp_path_factory.mktemp("snap_wh"))
    tdf = spark.createDataFrame(
        synth.transcripts_pdf(n_convs=6), schema=synth.TRANSCRIPT_SCHEMA)
    ddf = spark.createDataFrame(
        synth.entity_dictionary_pdf(), schema=synth.DICT_SCHEMA)
    io = SnapshotTriplesIO(root, n_buckets=4)
    build_graph(spark, tdf, ddf, io, run_id="w1")
    victim = tuple(
        io.read(spark, "triples").where(F.col("pred") == "hasRole")
        .select(*KEY).orderBy(*KEY).first())
    s, p, o = victim
    _, n_del, _ = apply_update(
        io.store, spark, f"DELETE DATA {{ <{s}> {p} <{o}> }}")
    assert n_del == 1
    return root, victim


def test_open_warehouse_picks_the_reader(spark, snap_wh, tmp_path):
    from logset_spark.sources.snapshots import (
        SnapshotTriplesIO,
        open_warehouse,
    )
    from logset_spark.sources.tableio import TableIO

    root, victim = snap_wh
    io = open_warehouse(root)
    assert isinstance(io, SnapshotTriplesIO)
    current = io.read(spark, "triples").select(*KEY)
    assert current.where(
        (F.col("subj") == victim[0]) & (F.col("pred") == victim[1])
        & (F.col("obj") == victim[2])).count() == 0
    assert type(open_warehouse(str(tmp_path))) is TableIO

    # time travel takes a ref name wherever it takes a version
    store = io.store
    store.tag("built", 1)
    assert (store.incremental_read(spark, 0, to_version="built").count()
            == store.incremental_read(spark, 0, to_version=1).count())


def test_plain_read_of_snapshot_table_names_open_warehouse(spark, snap_wh):
    """A plain TableIO read of a versioned table would return every
    commit ever written: it must fail loudly instead."""
    from logset_spark.sources.tableio import TableIO

    root, _ = snap_wh
    with pytest.raises(ValueError, match="open_warehouse"):
        TableIO(root).read(spark, "triples")
    # control tables stay plain parquet and keep reading
    assert TableIO(root).read(spark, "manifest").count() > 0


def test_eval_graph_counts_only_the_current_snapshot(
        spark, snap_wh, tmp_path, capsys):
    """eval_graph against the current snapshot as the golden: precision
    is 1.0 only if the deleted triple is not counted as emitted.  Runs
    in-process (eval_graph does not stop the session; --cpus 4 keeps the
    test session's shuffle width)."""
    from logset_spark.sources.snapshots import SnapshotTriplesIO

    root, _ = snap_wh
    golden = str(tmp_path / "golden")
    SnapshotTriplesIO(root).read(spark, "triples").select(*KEY) \
        .write.parquet(golden)
    main = runpy.run_path(os.path.join(JOBS, "eval_graph.py"))["main"]
    assert main(["--warehouse", root, "--golden", golden,
                 "--cpus", "4"]) == 0
    pr = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert pr["precision"] == 1.0
    assert pr["recall"] == 1.0
