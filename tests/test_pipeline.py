"""End-to-end golden tests: pipeline output vs the pandas oracle
(stand-in for the reference's Turtle until /root/reference is populated)."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from logset_spark.operators import metrics
from logset_spark.pipeline import build_graph
from logset_spark.sources import synth
from logset_spark.sources.tableio import TableIO

from . import oracle


def _run(spark, tmp_path, n_convs, **synth_kw):
    tpdf = synth.transcripts_pdf(n_convs=n_convs, **synth_kw)
    dpdf = synth.entity_dictionary_pdf()
    tdf = spark.createDataFrame(tpdf, schema=synth.TRANSCRIPT_SCHEMA)
    ddf = spark.createDataFrame(dpdf, schema=synth.DICT_SCHEMA)
    io = TableIO(str(tmp_path / "wh"), n_buckets=4)
    res = build_graph(spark, tdf, ddf, io, run_id="t1")
    emitted = io.read(spark, "triples")
    golden = spark.createDataFrame(oracle.golden_triples(tpdf, dpdf))
    return res, emitted, golden


def test_toy_exact_match(spark, tmp_path):
    """No alias noise -> pipeline must reproduce the golden graph exactly
    (P=R=1.0), mirroring the reference's deterministic Turtle output."""
    res, emitted, golden = _run(
        spark, tmp_path, n_convs=3, alias_noise_rate=0.0, hot_rate=0.05
    )
    assert res["triples"] > 0
    pr = metrics.precision_recall(emitted, golden)
    assert pr["precision"] == 1.0, pr
    assert pr["recall"] == 1.0, pr


def test_noisy_pr_at_least_095(spark, tmp_path):
    """With typo aliases at 15%, fuzzy linking must keep P/R >= 0.95
    (BASELINE.json:2)."""
    res, emitted, golden = _run(spark, tmp_path, n_convs=40)
    pr = metrics.precision_recall(emitted, golden)
    assert pr["precision"] >= 0.95, pr
    assert pr["recall"] >= 0.95, pr


def test_golden_turtle_file(spark, tmp_path):
    """The reference is verified 'against its emitted Turtle
    serializations' (BASELINE.json north_star): the pipeline's toy graph,
    serialized through sources/turtle.py, must byte-match the CHECKED-IN
    golden .ttl — a frozen artifact, so semantic drift in either the
    pipeline or the live oracle is caught across rounds."""
    import os

    from logset_spark.sources import turtle

    _, emitted, _ = _run(
        spark, tmp_path, n_convs=3, alias_noise_rate=0.0, hot_rate=0.05
    )
    got = turtle.to_turtle(
        emitted.select("subj", "pred", "obj").toPandas()
    )
    golden_path = os.path.join(os.path.dirname(__file__), "golden_toy.ttl")
    with open(golden_path) as f:
        want = f.read()
    assert got == want


def test_per_turn_invariant(spark, tmp_path):
    """input_hint invariant: per-turn text equality under stable
    (conv_id, turn_idx) ordering — the pipeline must not perturb the
    transcript table it reads."""
    tpdf = synth.transcripts_pdf(n_convs=5)
    tdf = spark.createDataFrame(tpdf, schema=synth.TRANSCRIPT_SCHEMA)
    back = (
        tdf.orderBy("conv_id", "turn_idx")
        .select("conv_id", "turn_idx", "text")
        .toPandas()
    )
    exp = tpdf.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(
        back, exp[["conv_id", "turn_idx", "text"]].astype(back.dtypes.to_dict())
    )


def test_resume_after_stage1_kill(spark, tmp_path):
    """North-rule resume semantics: kill the job after stage k, re-run the
    same run_id, and the final output is identical to an uninterrupted
    run.  Simulated kill: run stage 1 only (checkpoint + its manifest
    land), 'crash' before fuzzy/canonicalize/materialize, then re-invoke
    build_graph — it must skip the done conv_buckets (rows_in == 0) and
    still produce the full graph."""
    from logset_spark import pipeline as P
    from logset_spark.operators import extract, materialize

    tpdf = synth.transcripts_pdf(n_convs=8)
    dpdf = synth.entity_dictionary_pdf()
    tdf = spark.createDataFrame(tpdf, schema=synth.TRANSCRIPT_SCHEMA)
    ddf = spark.createDataFrame(dpdf, schema=synth.DICT_SCHEMA)

    # uninterrupted reference run
    io_full = TableIO(str(tmp_path / "wh_full"), n_buckets=4)
    build_graph(spark, tdf, ddf, io_full, run_id="full")
    want = (
        io_full.read(spark, "triples")
        .select("subj", "pred", "obj")
        .toPandas()
        .sort_values(["subj", "pred", "obj"])
        .reset_index(drop=True)
    )

    # killed-after-stage-1 run: stage 1 + its manifest only
    io_kill = TableIO(str(tmp_path / "wh_kill"), n_buckets=4)
    det = extract.make_candidate_detector(
        spark, extract.non_namelike_surfaces(ddf)
    )
    P._write_stage1(io_kill, "crashy", extract.unified_stage1(tdf, det, ddf))
    materialize.mark_buckets_done(
        io_kill, "crashy", P.STAGE1,
        materialize.sink_buckets(io_kill, P._stage_name("crashy")),
    )
    # resume with the same run_id
    res = build_graph(spark, tdf, ddf, io_kill, run_id="crashy")
    assert res["skipped"] is False
    assert res["rows_in"] == 0  # stage 1 was NOT re-run
    got = (
        io_kill.read(spark, "triples")
        .select("subj", "pred", "obj")
        .toPandas()
        .sort_values(["subj", "pred", "obj"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, want)


def test_resume_partial_bucket_crash(spark, tmp_path):
    """Partition-granular resume: only SOME conv_buckets finished stage 1
    before the crash.  The resumed run must re-extract exactly the missing
    buckets and converge to the uninterrupted result."""
    from logset_spark import pipeline as P
    from logset_spark.operators import extract, materialize

    tpdf = synth.transcripts_pdf(n_convs=8)
    dpdf = synth.entity_dictionary_pdf()
    tdf = spark.createDataFrame(tpdf, schema=synth.TRANSCRIPT_SCHEMA)
    ddf = spark.createDataFrame(dpdf, schema=synth.DICT_SCHEMA)

    io_full = TableIO(str(tmp_path / "whf"), n_buckets=4)
    build_graph(spark, tdf, ddf, io_full, run_id="full")
    want = (
        io_full.read(spark, "triples")
        .select("subj", "pred", "obj")
        .toPandas()
        .sort_values(["subj", "pred", "obj"])
        .reset_index(drop=True)
    )

    io_kill = TableIO(str(tmp_path / "whk"), n_buckets=4)
    det = extract.make_candidate_detector(
        spark, extract.non_namelike_surfaces(ddf)
    )
    from pyspark.sql import functions as FF

    only = tdf.where(
        FF.pmod(FF.xxhash64("conv_id"), FF.lit(4)).cast("int").isin([0, 1])
    )
    P._write_stage1(io_kill, "crashy2", extract.unified_stage1(only, det, ddf))
    done = [
        b for b in materialize.sink_buckets(io_kill, P._stage_name("crashy2"))
        if b in (0, 1)
    ]
    materialize.mark_buckets_done(io_kill, "crashy2", P.STAGE1, done)

    res = build_graph(spark, tdf, ddf, io_kill, run_id="crashy2")
    assert res["skipped"] is False
    assert 0 < res["rows_in"] < len(tpdf)  # only missing buckets re-ran
    got = (
        io_kill.read(spark, "triples")
        .select("subj", "pred", "obj")
        .toPandas()
        .sort_values(["subj", "pred", "obj"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, want)


def test_hot_conversation_skew(spark, tmp_path):
    """North-rule skew case: one conversation orders of magnitude longer
    than the rest (a hot conv_id).  The chunked followedBy window must
    bound its contribution per task, and the output must still match the
    golden graph exactly at zero alias noise."""
    import numpy as np

    tpdf = synth.transcripts_pdf(n_convs=4, alias_noise_rate=0.0, hot_rate=0.0)
    n_hot = 3000  # >> TURN_CHUNK when chunk is shrunk below
    hot = pd.DataFrame(
        {
            "conv_id": ["conv-hot"] * n_hot,
            "turn_idx": np.arange(n_hot, dtype="int32"),
            "role": ["user", "assistant"] * (n_hot // 2),
            # plain words only: no name-like tokens, so the hot conv adds
            # exactly its structural triples to the golden set
            "text": [f"please run the usual query again {i}" for i in range(n_hot)],
            "tool": [None] * n_hot,
            "ts": pd.date_range("2025-01-03", periods=n_hot, freq="7s"),
        }
    )
    tpdf = pd.concat([tpdf, hot], ignore_index=True)
    dpdf = synth.entity_dictionary_pdf()
    tdf = spark.createDataFrame(tpdf, schema=synth.TRANSCRIPT_SCHEMA)
    ddf = spark.createDataFrame(dpdf, schema=synth.DICT_SCHEMA)

    from logset_spark.operators import extract as E

    old_chunk = E.TURN_CHUNK
    E.TURN_CHUNK = 256  # force the hot conv across many chunks
    try:
        io = TableIO(str(tmp_path / "wh"), n_buckets=4)
        res = build_graph(spark, tdf, ddf, io, run_id="hot")
    finally:
        E.TURN_CHUNK = old_chunk
    assert res["rows_in"] == len(tpdf)
    emitted = io.read(spark, "triples")
    golden = spark.createDataFrame(oracle.golden_triples(tpdf, dpdf))
    pr = metrics.precision_recall(emitted, golden)
    assert pr["precision"] == 1.0, pr
    assert pr["recall"] == 1.0, pr


def test_resume_idempotent(spark, tmp_path):
    """Re-running the same run_id over the same input is a no-op (manifest
    marks all partitions done) and leaves the triple table unchanged."""
    tpdf = synth.transcripts_pdf(n_convs=5)
    dpdf = synth.entity_dictionary_pdf()
    tdf = spark.createDataFrame(tpdf, schema=synth.TRANSCRIPT_SCHEMA)
    ddf = spark.createDataFrame(dpdf, schema=synth.DICT_SCHEMA)
    io = TableIO(str(tmp_path / "wh"), n_buckets=4)

    r1 = build_graph(spark, tdf, ddf, io, run_id="rr")
    fp1 = spark.read.parquet(io.path("triples")).select(
        F.xxhash64("subj", "pred", "obj").cast("decimal(38,0)").alias("h")
    ).agg(F.sum("h"), F.count("*")).first()

    r2 = build_graph(spark, tdf, ddf, io, run_id="rr")
    assert r2["skipped"] is True
    fp2 = spark.read.parquet(io.path("triples")).select(
        F.xxhash64("subj", "pred", "obj").cast("decimal(38,0)").alias("h")
    ).agg(F.sum("h"), F.count("*")).first()
    assert fp1 == fp2
    assert r1["triples"] > 0


def test_detector_modes_agree(spark):
    """Prefiltered (surface-set broadcast) and emit-all detector modes
    must produce the SAME stage-1 rows — including for tokens whose raw
    shape differs from their normalized form ('mainframe-' strips to a
    dictionary surface; 'a_-' strips to a bare letter the emit-all filter
    drops)."""
    from logset_spark.operators import extract

    ddf = spark.createDataFrame(
        pd.DataFrame({
            "canon_uri": ["ent:mainframe", "ent:data_mover"],
            "surface": ["mainframe", "data_mover"],
            "kind": ["tool", "tool"],
            "weight": [1.0, 1.0],
            "valid_from": pd.to_datetime(["2020-01-01"] * 2),
        }),
        schema=synth.DICT_SCHEMA,
    )
    tdf = spark.createDataFrame(
        pd.DataFrame({
            "conv_id": ["c1"] * 3,
            "turn_idx": [0, 1, 2],
            "role": ["user"] * 3,
            "text": [
                "deployed on mainframe- today",     # trailing '-': norm hits dict
                "ran data_mover then a_- happened", # 'a_-' norm 'a': both drop
                "plain words only here",
            ],
            "tool": [None, "data_mover", None],
            "ts": pd.to_datetime(["2024-01-01 00:00:00"] * 3),
        }),
        schema=synth.TRANSCRIPT_SCHEMA,
    )
    extra = extract.non_namelike_surfaces(ddf)
    assert extra == {"mainframe"}
    pre = extract.unified_stage1(
        tdf, extract.make_candidate_detector(spark, extra), ddf,
        prefiltered=True,
    )
    allmode = extract.unified_stage1(
        tdf, extract.make_candidate_detector(spark, None), ddf,
        prefiltered=False,
    )
    cols = ["conv_id", "turn_idx", "pc", "obj", "conf"]
    a = sorted(map(tuple, pre.select(*cols).collect()))
    b = sorted(map(tuple, allmode.select(*cols).collect()))
    assert a == b
    # and the normalized trailing-punct token actually linked
    assert any(r[3] == "ent:mainframe" for r in a)


def test_non_namelike_overflow_falls_back_to_emit_all(spark, tmp_path, monkeypatch):
    """More non-name-like surfaces than NON_NAMELIKE_CAP: the set is not
    collected (None), build_graph runs the detector in emit-all mode, and
    the triples it writes equal the prefiltered run's."""
    from logset_spark.operators import extract

    tdf = spark.createDataFrame(
        synth.transcripts_pdf(n_convs=8), schema=synth.TRANSCRIPT_SCHEMA
    )
    ddf = spark.createDataFrame(
        synth.entity_dictionary_pdf(), schema=synth.DICT_SCHEMA
    )

    def triples(run_id):
        io = TableIO(str(tmp_path / run_id), n_buckets=4)
        build_graph(spark, tdf, ddf, io, run_id=run_id)
        cols = ["subj", "pred", "obj", "conv_id", "turn_idx", "ts", "conf"]
        return (
            io.read(spark, "triples").select(*cols).toPandas()
            .sort_values(cols).reset_index(drop=True)
        )

    want = triples("pre")
    monkeypatch.setattr(extract, "NON_NAMELIKE_CAP", 0)
    assert extract.non_namelike_surfaces(ddf) is None
    pd.testing.assert_frame_equal(triples("all"), want)


def test_sparql_over_built_warehouse(spark, tmp_path):
    """Integration of the two halves: build a warehouse with the
    production pipeline, then answer catalog questions over it through
    the SPARQL compiler, cross-checking each answer against independent
    DataFrame computations and the recorded lineage."""
    from logset_spark.operators.sparql import sparql

    _res, emitted, _golden = _run(
        spark, tmp_path, n_convs=5, alias_noise_rate=0.0
    )

    # per-conversation turn counts via SPARQL == direct groupBy on triples
    got = {
        r["conv"]: r["n"]
        for r in sparql(
            emitted,
            "SELECT ?conv (COUNT(?t) AS ?n) WHERE { ?conv hasTurn ?t }",
        ).collect()
    }
    want = {
        r["subj"]: r["n"]
        for r in emitted.where(F.col("pred") == "hasTurn")
        .groupBy("subj").agg(F.count("*").alias("n")).collect()
    }
    assert got == want and len(got) == 5

    # every turn that mentions an entity also carries a role (schema
    # invariant of the extractor), checked as a SPARQL ASK of the
    # violation -> must be false
    violation = sparql(
        emitted,
        """ASK { ?t mentions ?e . ?t hasRole ?r . FILTER(?r = 'role:none') }""",
    ).collect()[0]["ask"]
    assert violation is False

    # DESCRIBE on a real conv URI returns exactly its hasTurn edges plus
    # any partOf backlinks — nonempty and closed over that URI
    conv = sorted(got)[0]
    desc = sparql(emitted, f"DESCRIBE {conv}").collect()
    assert desc and all(conv in (r["subj"], r["obj"]) for r in desc)


def test_auto_salt_measures_skew_and_output_unchanged(spark, tmp_path):
    """auto_write_salts picks the salt count from the data — 1 on a
    uniform small input, >1 when one (day, bucket) partition is hot —
    and salting stays a pure physical rewrite: the salted build's triple
    set equals the unsalted build's."""
    from logset_spark.pipeline import auto_write_salts

    tpdf = synth.transcripts_pdf(n_convs=8)
    tdf = spark.createDataFrame(tpdf, schema=synth.TRANSCRIPT_SCHEMA)
    # uniform, tiny: no salting needed
    assert auto_write_salts(tdf, n_buckets=4) == 1
    # a low target makes the real hottest partition "hot": the probe
    # must see it and scale the salt count, clamped to the cap
    hottest = (
        tdf.groupBy(
            F.to_date("ts"),
            F.pmod(F.xxhash64("conv_id"), F.lit(4)),
        ).count().agg(F.max("count")).first()[0]
    )
    want = min(32, -(-int(hottest) // 10))
    assert auto_write_salts(tdf, n_buckets=4, target_rows=10) == want

    ddf = spark.createDataFrame(
        synth.entity_dictionary_pdf(), schema=synth.DICT_SCHEMA
    )
    io_a = TableIO(str(tmp_path / "wh_auto"), n_buckets=4)
    build_graph(spark, tdf, ddf, io_a, run_id="as1",
                auto_salt=True, auto_salt_target=10)
    assert io_a.n_write_salts > 1  # the probe actually engaged
    io_b = TableIO(str(tmp_path / "wh_plain"), n_buckets=4)
    build_graph(spark, tdf, ddf, io_b, run_id="as2")
    a = io_a.read(spark, "triples").select("subj", "pred", "obj")
    b = io_b.read(spark, "triples").select("subj", "pred", "obj")
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0


def _sameas_set(df) -> set:
    return {(r["subj"], r["obj"]) for r in df.collect()}


def test_merge_aliases_incremental_two_drops_equal_full(spark, tmp_path):
    """Dictionary-growth canonicalization: two alias drops folded through
    pipeline.merge_aliases_incremental must yield the SAME sameAs set as
    one full stage-3 computation over the union — and untouched canonical
    ids must be byte-stable across drops."""
    from logset_spark.operators import cc
    from logset_spark.pipeline import (
        _assignment_to_sameas,
        _mark_alias_pairs,
        merge_aliases_incremental,
    )

    state = str(tmp_path / "alias_state")
    batch1 = spark.createDataFrame(
        [
            ("GitHub", "ent:github_a"),
            ("github", "ent:github_b"),   # same normalized form -> merge
            ("spark", "ent:spark"),
            ("flink", "ent:flink"),
        ],
        "surface string, canon_uri string",
    )
    s1 = merge_aliases_incremental(spark, batch1, state)
    assert _sameas_set(s1) == {("ent:github_b", "ent:github_a")}

    # drop 2: bridge spark<->flink via a shared alias; add a new entity
    batch2 = spark.createDataFrame(
        [
            ("sprk", "ent:spark"),
            ("sprk", "ent:flink"),
            ("duck", "ent:duckdb"),
        ],
        "surface string, canon_uri string",
    )
    s2 = merge_aliases_incremental(spark, batch2, state)

    from logset_spark.operators.link import normalize_form

    full_pairs = batch1.unionByName(batch2).select(
        normalize_form(F.col("surface")).alias("src"),
        F.col("canon_uri").alias("dst"),
    ).distinct()
    full = _assignment_to_sameas(
        cc.connected_components(_mark_alias_pairs(full_pairs))
    )
    assert _sameas_set(s2) == _sameas_set(full)
    # untouched github component unchanged across drops
    assert ("ent:github_b", "ent:github_a") in _sameas_set(s2)


def test_merge_aliases_incremental_resubmission_is_noop(spark, tmp_path):
    from logset_spark.pipeline import merge_aliases_incremental

    state = str(tmp_path / "alias_state")
    batch = spark.createDataFrame(
        [("GitHub", "ent:a"), ("github", "ent:b")],
        "surface string, canon_uri string",
    )
    s1 = _sameas_set(merge_aliases_incremental(spark, batch, state))
    s2 = _sameas_set(merge_aliases_incremental(spark, batch, state))
    assert s1 == s2 == {("ent:b", "ent:a")}


def test_merge_aliases_state_epochs_pruned_and_success_gated(
    spark, tmp_path
):
    import os

    from logset_spark.pipeline import (
        _alias_state_latest,
        merge_aliases_incremental,
    )

    state = str(tmp_path / "alias_state")
    for i in range(3):
        batch = spark.createDataFrame(
            [(f"alias{i}", f"ent:e{i}")], "surface string, canon_uri string"
        )
        merge_aliases_incremental(spark, batch, state, keep_epochs=2)
    epochs = sorted(d for d in os.listdir(state) if d.startswith("v="))
    assert epochs == ["v=000002", "v=000003"]
    # an incomplete (no _SUCCESS) newer epoch must NOT win the election
    os.makedirs(f"{state}/v=000009")
    v, df = _alias_state_latest(spark, state)
    assert v == 3 and df is not None


def test_all_optins_preserve_base_contract(spark, tmp_path):
    """VERDICT r03 item 8: one build with EVERY opt-in stage enabled
    (coref + disambiguate + temporal_dictionary) over the golden toy
    fixture.  The optional stages may only ADD triples (refersTo) or
    re-route mention links within their documented semantics — they must
    never perturb the base contract: structural triples P=R=1.0, the
    per-turn text/ordering invariant (B:15), and — under an all-valid
    dictionary at zero alias noise, where each opt-in is semantically a
    no-op on linking — the FULL golden graph exactly."""
    from logset_spark import vocab as V

    tpdf = synth.transcripts_pdf(n_convs=3, alias_noise_rate=0.0,
                                 hot_rate=0.05)
    dpdf = synth.entity_dictionary_pdf()
    # all-valid dictionary: every alias valid from the epoch, so the
    # temporal fence never unlinks and disambig sees a clean dictionary
    dpdf = dpdf.assign(valid_from=dpdf.valid_from.min())
    tdf = spark.createDataFrame(tpdf, schema=synth.TRANSCRIPT_SCHEMA)
    ddf = spark.createDataFrame(dpdf, schema=synth.DICT_SCHEMA)
    io = TableIO(str(tmp_path / "wh"), n_buckets=4)
    res = build_graph(
        spark, tdf, ddf, io, run_id="optins",
        coref=True, disambiguate=True, temporal_dictionary=True,
    )
    assert res["triples"] > 0
    emitted = io.read(spark, "triples")
    golden = spark.createDataFrame(oracle.golden_triples(tpdf, dpdf))

    # 1. structural subset: exact
    structural = emitted.where(F.col("pred").isin(*V.STRUCTURAL_PREDS))
    golden_structural = golden.where(F.col("pred").isin(*V.STRUCTURAL_PREDS))
    pr = metrics.precision_recall(structural, golden_structural)
    assert pr["precision"] == 1.0 and pr["recall"] == 1.0, pr

    # 2. full golden exactly, once the coref-only refersTo rows (the one
    # predicate outside the golden spec) are set aside
    base = emitted.where(F.col("pred") != V.REFERS_TO)
    pr_full = metrics.precision_recall(base, golden)
    assert pr_full["precision"] == 1.0 and pr_full["recall"] == 1.0, pr_full

    # 3. the per-turn invariant after the build (input table unperturbed)
    back = (
        tdf.orderBy("conv_id", "turn_idx")
        .select("conv_id", "turn_idx", "text")
        .toPandas()
    )
    exp = tpdf.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(
        back, exp[["conv_id", "turn_idx", "text"]].astype(back.dtypes.to_dict())
    )
