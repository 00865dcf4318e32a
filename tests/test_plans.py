"""Physical-plan regression tests (SURVEY.md §4): the optimizations we
rely on at 100 TB must be visible in the executed plan at any scale —
a silent regression to shuffle-join or full-scan is a perf bug even
though results stay correct.
"""

import pytest
from pyspark.sql import functions as F

from logset_spark.operators import extract
from logset_spark.queries import REGISTRY, derived_transcripts


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_filter_pushes_to_parquet(spark, sf_dir):
    fn, _ = REGISTRY["q_filter"]
    plan = _plan(fn(spark, sf_dir))
    assert "PushedFilters: [" in plan
    # at least one of our predicates reached the scan
    assert "IsNotNull(o_orderstatus)" in plan or "EqualTo(o_orderstatus,F)" in plan


def test_column_pruning_reaches_scan(spark, sf_dir):
    fn, _ = REGISTRY["q_project"]
    plan = _plan(fn(spark, sf_dir))
    # ReadSchema carries only the 3 needed columns, not all 16
    read = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "l_orderkey" in read and "l_extendedprice" in read
    assert "l_shipdate" not in read and "l_comment" not in read


def test_broadcast_join_is_broadcast(spark, sf_dir):
    fn, _ = REGISTRY["q_join_broadcast"]
    plan = _plan(fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_smj_hint_respected(spark, sf_dir):
    fn, _ = REGISTRY["q_join_smj"]
    plan = _plan(fn(spark, sf_dir))
    assert "SortMergeJoin" in plan


def test_structural_triples_no_python(spark, sf_dir):
    """Stage-1 structural extraction must stay entirely JVM-side:
    no ArrowEvalPython / BatchEvalPython anywhere in the plan."""
    tr = derived_transcripts(spark, sf_dir)
    df = extract.structural_triples(tr)
    assert "EvalPython" not in _plan(df)
    # AQE wraps stages lazily and hides codegen spans until runtime;
    # planning once with AQE off shows the fused WholeStageCodegen spans.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        plan = _plan(extract.structural_triples(derived_transcripts(spark, sf_dir)))
        # '*(N) ' prefixes mark WholeStageCodegen spans in plan toString
        assert "*(" in plan
        assert "EvalPython" not in plan
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_structural_triples_single_scan(spark, sf_dir):
    """The explode form reads the transcript input once — a per-predicate
    union would scan it 6x (extract.py docstring)."""
    tr = derived_transcripts(spark, sf_dir)
    plan = _plan(extract.structural_triples(tr))
    assert plan.count("FileScan parquet") == 1


def test_topk_uses_take_ordered(spark, sf_dir):
    fn, _ = REGISTRY["q_topk"]
    plan = _plan(fn(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan  # not a global sort


def test_stage1_runs_no_python(spark, sf_dir):
    """Stage 1 (detector, followedBy window, exact-link join) is native
    end to end in both detector modes: no Python eval node anywhere in
    the unified_stage1 plan, and each detector regex runs once."""
    from logset_spark.sources import synth

    # a file scan: a local relation would fold the detector away
    tdf = derived_transcripts(spark, sf_dir)
    ddf = spark.createDataFrame(
        synth.entity_dictionary_pdf(), schema=synth.DICT_SCHEMA
    )
    extra = extract.non_namelike_surfaces(ddf)
    for det_set, prefiltered in ((extra, True), (None, False)):
        s1 = extract.unified_stage1(
            tdf, extract.make_candidate_detector(spark, det_set), ddf,
            prefiltered=prefiltered,
        )
        plan = _plan(s1)
        assert "EvalPython" not in plan, prefiltered
        assert plan.count("regexp_extract_all") == 2, plan


def test_aqe_and_arrow_enabled(spark):
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    assert spark.conf.get("spark.sql.adaptive.skewJoin.enabled") == "true"
    assert (
        spark.conf.get("spark.sql.execution.arrow.pyspark.enabled") == "true"
    )
    assert spark.conf.get("spark.sql.sources.partitionOverwriteMode") == "dynamic"


def test_timerange_partition_filter_prunes(spark, tmp_path):
    """Filters on the layout columns (ts_day) show up as PartitionFilters
    on a partitioned table -> only matching directories are read."""
    from logset_spark.sources.tableio import TableIO
    from logset_spark.sources import synth

    pdf = synth.transcripts_pdf(n_convs=4)
    df = spark.createDataFrame(pdf, schema=synth.TRANSCRIPT_SCHEMA)
    io = TableIO(str(tmp_path / "wh"), n_buckets=4)
    io.write(
        df.select(
            F.lit("s").alias("subj"), F.lit("p").alias("pred"),
            F.lit("o").alias("obj"), "conv_id", "turn_idx", "ts",
            F.lit(1.0).alias("conf"),
        ),
        "triples",
    )
    t = io.read(spark, "triples")
    one_day = t.where(F.col("ts_day") == t.agg(F.min("ts_day")).first()[0])
    plan = _plan(one_day)
    assert "PartitionFilters: [" in plan
    assert "isnotnull(ts_day" in plan or "ts_day" in plan.split("PartitionFilters")[1][:200]


def test_write_sorts_packed_rows_once(spark, tmp_path):
    """TableIO.write sorts the PACKED rows and relies on Generate/Project
    preserving that ordering through the finisher explode: the plan that
    feeds the writer must contain exactly ONE Sort, below the Generate —
    a second sort above it would mean the writer re-sorted the exploded
    triples and the packed-sort optimization regressed."""
    from pyspark.sql import functions as F

    from logset_spark import pipeline as P
    from logset_spark.sources.tableio import with_layout

    df = spark.range(64).select(
        F.concat(F.lit("c"), F.col("id")).alias("conv_id"),
        F.col("id").cast("int").alias("turn_idx"),
        F.lit("2024-01-01 00:00:00").cast("timestamp").alias("ts"),
        F.lit(0).cast("tinyint").alias("pc"),
        F.lit(None).cast("string").alias("obj"),
        F.lit(1.0).cast("float").alias("conf"),
        F.lit("user").alias("role"),
        F.lit(None).cast("string").alias("tool"),
        (F.col("id") + 1).cast("int").alias("next_idx"),
    )
    out = (
        with_layout(df, 4)
        .repartition(F.col("ts_day"), F.col("conv_bucket"))
        .sortWithinPartitions("ts_day", "conv_bucket", "conv_id", "turn_idx")
    )
    finished = P._finisher(out)
    plan = finished._jdf.queryExecution().executedPlan().toString()
    assert plan.count("+- Sort") + plan.count("*- Sort") == 1 or plan.count("Sort ") == 1
    gen_pos = plan.find("Generate")
    sort_pos = plan.find("Sort")
    assert gen_pos != -1 and sort_pos != -1 and gen_pos < sort_pos, (
        "Generate must sit ABOVE the single Sort (explode after sort)"
    )
    # and the explode itself is correct: 64 turn rows -> 64*structural
    rows = finished.collect()
    assert all(r["pred"] in ("hasTurn", "partOf", "hasRole", "atTime",
                             "usedTool", "followedBy") for r in rows)
    assert len(rows) == 64 * 5  # tool null -> usedTool filtered


def test_detector_evaluated_once_under_explode(spark, sf_dir):
    """InferFiltersFromGenerate would clone explode(detect(text)) into an
    inferred size()>0 filter below the Generate, re-running the detector
    regexes — 2x detector cost on the extraction path.  The rule is
    excluded in session.py; assert the plan evaluates each detector regex
    exactly once and runs no Python."""
    fn, _ = REGISTRY["q_mentions"]
    plan = _plan(fn(spark, sf_dir))
    assert "EvalPython" not in plan, plan
    # one per detector regex: the token grammar and the ISO timestamp
    assert plan.count("regexp_extract_all") == 2, plan


def test_salted_write_reuses_exchange_for_dedup(spark):
    """With n_write_salts > 1 the fused dedup aggregate must still reuse
    the (salted) layout exchange: the salt rides as a named column in
    both the repartition and the grouping keys, so the prepared plan
    contains exactly ONE full-data Exchange — an inline salt expression
    would force Catalyst to add a second shuffle on the unsalted keys,
    silently undoing the fusion AND the skew spread."""
    from pyspark.sql import functions as F

    from logset_spark import pipeline as P
    from logset_spark.sources.tableio import TableIO, WRITE_SALT

    # every column derives from id (nothing foldable): constant-literal
    # columns would alias away under the aggregate and defeat Catalyst's
    # semantic partitioning match in a way real data never does
    df = spark.range(256).select(
        F.concat(F.lit("c"), (F.col("id") % 7)).alias("conv_id"),
        F.col("id").cast("int").alias("turn_idx"),
        F.timestamp_seconds(F.lit(1704067200) + F.col("id") % 3).alias("ts"),
        (F.col("id") % 2).cast("tinyint").alias("pc"),
        F.when(F.col("id") % 3 == 0, F.concat(F.lit("o"), "id")).alias("obj"),
        (F.col("id") % 5).cast("float").alias("conf"),
        F.concat(F.lit("r"), F.col("id") % 2).alias("role"),
        F.when(F.col("id") % 4 == 0, F.lit("t")).alias("tool"),
        (F.col("id") + 1).cast("int").alias("next_idx"),
    )
    io = TableIO("/tmp/unused_salt_plan", n_buckets=4, n_write_salts=4)
    out = io.prepare(df, pre_sort=P._dedup_rows)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan
    assert WRITE_SALT not in out.columns  # transient: dropped pre-write
    # behavior parity: salted prepare emits the same rows as unsalted
    io1 = TableIO("/tmp/unused_salt_plan", n_buckets=4, n_write_salts=1)
    ref = io1.prepare(df, pre_sort=P._dedup_rows)
    cols = sorted(set(out.columns) & set(ref.columns))
    assert sorted(map(tuple, out.select(*cols).collect())) == \
           sorted(map(tuple, ref.select(*cols).collect()))


def test_jsonl_quarantine_accounts_for_every_line(spark, tmp_path):
    """good + quarantined must cover EVERY input line: a syntactically
    valid row missing conv_id/turn_idx goes to the quarantine sink, never
    silently vanishes."""
    from logset_spark.sources.jsonl import read_transcripts_jsonl, split_quarantine

    lines = [
        '{"conv_id":"c1","turn_idx":0,"role":"user","text":"hi","tool":null,"ts":"2024-01-01T00:00:00"}',
        '{"turn_idx":1,"role":"user","text":"no conv id","tool":null,"ts":"2024-01-01T00:00:00"}',
        '{"conv_id":"c1","role":"user","text":"no turn idx","tool":null,"ts":"2024-01-01T00:00:00"}',
        'not json at all {{{',
    ]
    p = tmp_path / "t.jsonl"
    p.write_text("\n".join(lines) + "\n")
    good, bad = split_quarantine(read_transcripts_jsonl(spark, str(p)))
    assert good.count() == 1
    assert bad.count() == 3   # 1 malformed + 2 missing-key rows quarantined


def test_bucketed_join_no_exchange(spark, sf_dir):
    """Both sides bucketBy(8, join key): the sort-merge join must read
    bucket layout as the join distribution — zero shuffle Exchange on
    either side (the write-once shuffle is the whole point of bucketing
    at 100 TB).  merge hint pins SMJ so AQE can't broadcast the small
    side and hide the property being asserted."""
    from logset_spark.queries import bucketed_tables

    bo, bc = bucketed_tables(spark, sf_dir)
    j = bo.join(bc.hint("merge"), bo.o_custkey == bc.c_custkey)
    j.collect()
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan
    assert "Exchange hashpartitioning" not in plan and "ShuffleExchange" not in plan


def test_turtle_sink_plan_has_no_exchange(spark, tmp_path):
    """save_turtle is a projection + text write: the formatting is pure
    native column expressions, so the plan must contain NO Exchange (a
    shuffle in a serialize sink would be a scale bug) and no Python
    evaluation node."""
    from logset_spark.sources.turtle import save_turtle

    df = spark.createDataFrame(
        [("conv:1", "hasTurn", "turn:1/0")],
        "subj string, pred string, obj string",
    )
    out = str(tmp_path / "ttl")
    save_turtle(df, out)
    # re-derive the line projection the sink writes and inspect its plan
    from pyspark.sql import functions as F

    lines = spark.read.text(out)
    assert lines.count() == 1
    # plan check on the sink's own projection shape
    proj = df.select(F.concat("subj", F.lit(" "), "pred").alias("value"))
    plan = proj._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "Python" not in plan


def test_sparql_values_lowers_to_broadcast_join(spark):
    """VALUES inline data must arrive as a broadcast join of the tiny
    literal table — never a shuffle of the big side."""
    from logset_spark.operators.sparql import sparql

    tri = spark.createDataFrame(
        [("t1", "usedTool", "grep")], "subj string, pred string, obj string"
    )
    df = sparql(tri, """SELECT ?t ?tool WHERE { ?t usedTool ?tool .
                        VALUES ?tool { grep sed } }""")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_sparql_not_exists_lowers_to_left_anti(spark):
    from logset_spark.operators.sparql import sparql

    tri = spark.createDataFrame(
        [("c", "hasTurn", "t1"), ("t1", "usedTool", "grep")],
        "subj string, pred string, obj string",
    )
    df = sparql(tri, """SELECT ?turn WHERE { ?c hasTurn ?turn .
                        FILTER NOT EXISTS { ?turn usedTool ?x } }""")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LeftAnti" in plan


def test_sparql_exists_lowers_to_left_semi(spark):
    from logset_spark.operators.sparql import sparql

    tri = spark.createDataFrame(
        [("c", "hasTurn", "t1"), ("t1", "usedTool", "grep")],
        "subj string, pred string, obj string",
    )
    df = sparql(tri, """SELECT ?turn WHERE { ?c hasTurn ?turn .
                        FILTER EXISTS { ?turn usedTool ?x } }""")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in plan


def test_sparql_altpath_prunes_vertical_partitions(spark, tmp_path):
    """Each arm of a path alternation is a constant-pred scan: on the
    vertical (pred-partitioned) layout both arms must show partition
    filters, so only the two predicates' files are read."""
    from logset_spark.operators.sparql import sparql, write_vertical, read_vertical

    tri = spark.createDataFrame(
        [("t1", "usedTool", "grep"), ("t1", "hasRole", "tool"),
         ("c", "hasTurn", "t1")],
        "subj string, pred string, obj string",
    )
    path = str(tmp_path / "vtri")
    write_vertical(tri, path)
    stored = read_vertical(spark, path)
    df = sparql(stored, "SELECT ?s ?o WHERE { ?s usedTool|hasRole ?o }")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert "usedTool" in plan and "hasRole" in plan


def test_sparql_order_limit_uses_take_ordered(spark):
    """ORDER BY + LIMIT through the SPARQL compiler must plan as
    TakeOrderedAndProject (per-partition top-k + merge), never a global
    sort followed by a limit."""
    from logset_spark.operators.sparql import sparql

    tri = spark.createDataFrame(
        [(f"t{i}", "usedTool", f"tool{i % 3}") for i in range(20)],
        "subj string, pred string, obj string",
    )
    df = sparql(tri, "SELECT ?t ?tool WHERE { ?t usedTool ?tool } "
                     "ORDER BY ?tool DESC LIMIT 2")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_sparql_constant_graph_prunes_partitions(spark, tmp_path):
    """A constant GRAPH term over a graph-partitioned quads table must
    arrive as a partition filter — only that named graph's files are
    read; and a constant graph + constant pred both reach the scan."""
    from logset_spark.operators.sparql import sparql

    quads = spark.createDataFrame(
        [("s1", "p", "o1", "g1"), ("s2", "p", "o2", "g2"),
         ("s3", "q", "o3", "g1")],
        "subj string, pred string, obj string, graph string",
    )
    path = str(tmp_path / "quads")
    quads.write.partitionBy("graph").parquet(path)
    stored = spark.read.parquet(path)
    df = sparql(stored, "SELECT ?s ?o WHERE { GRAPH g1 { ?s p ?o } }")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert "g1" in plan.split("PartitionFilters")[1][:250]
    # the constant pred is a pushed data filter on the same scan
    assert "PushedFilters: [" in plan


def test_minhash_hashed_once_above_dedup(spark, tmp_path):
    """The native MinHash runs once per DISTINCT form: crc32 (the unit
    hash, the first step of the signature) appears exactly once in the
    plan, above the distinct aggregate.  band_signatures filters on a
    cheap "has units" test instead of `_sig IS NOT NULL`, because Catalyst
    pushes a deterministic filter through the aggregate to the scan side
    and would hash once per mention OCCURRENCE — measured 12x on the fuzzy
    stage at 20.9M turns.  fuzzy_link runs no Python at all."""
    from logset_spark.operators.link import band_signatures, fuzzy_link

    src = str(tmp_path / "forms_src")
    spark.createDataFrame(
        [("alpha",), ("alpha",), ("beta",), ("",), (None,)], "form_key string"
    ).write.parquet(src)
    forms = (
        spark.read.parquet(src)
        .where(F.col("form_key").isNotNull())
        .select(F.col("form_key").alias("form"))
        .distinct()
    )
    fb = band_signatures(forms, "form")
    lines = _optimized(fb).splitlines()
    crc = [i for i, ln in enumerate(lines) if "crc32(" in ln]
    agg = [i for i, ln in enumerate(lines) if "Aggregate [" in ln]
    assert len(crc) == 1 and "\n".join(lines).count("crc32(") == 1, lines
    assert agg and crc[0] <= agg[0], lines  # on or above the distinct
    assert fb.count() == 2 * 8  # 2 distinct forms x 8 bands, '' dropped

    dictionary = spark.createDataFrame(
        [("ent:alpha", "alpha", "tool", 1.0), ("ent:gamma", "gamma", "tool", 1.0)],
        "canon_uri string, surface string, kind string, weight double",
    )
    links = fuzzy_link(forms, dictionary, threshold=0.3)
    assert "EvalPython" not in _plan(links)
    assert ("alpha", "ent:alpha", 1.0) in {tuple(r) for r in links.collect()}


def test_coref_stage_single_data_exchange(spark, tmp_path):
    """The coref stage's scale claim (pipeline._coref_rows docstring):
    ONE hash exchange on conv_id serves the pruned scan, the per-turn
    election, AND the antecedent window — the groupBy and the window
    must both be satisfied by the repartition, never add their own
    shuffle.  Exchanges inside the dimension-scale links subtree
    (hashpartitioning on form) don't count."""
    import re

    from logset_spark import pipeline as P
    from logset_spark.sources import synth
    from logset_spark.sources.tableio import TableIO

    tdf = spark.createDataFrame(
        synth.transcripts_pdf(n_convs=4), schema=synth.TRANSCRIPT_SCHEMA
    )
    ddf = spark.createDataFrame(
        synth.entity_dictionary_pdf(), schema=synth.DICT_SCHEMA
    )
    io = TableIO(str(tmp_path / "wh"), n_buckets=4)
    run_id = "planprobe"
    detector = extract.make_candidate_detector(
        spark, extract.non_namelike_surfaces(ddf)
    )
    s1 = extract.unified_stage1(tdf, detector, ddf)
    P._write_stage1(io, run_id, s1)
    links = P._fuzzy_links(spark, io, run_id, ddf, 0.55).persist()
    links.count()
    plan = _plan(P._coref_rows(spark, io, run_id, links, None))
    conv_exchanges = re.findall(
        r"Exchange hashpartitioning\(conv_id", plan
    )
    assert len(conv_exchanges) == 1, plan[:2000]


def test_bgp_encoded_joins_on_bigint(spark, tmp_path):
    """bgp_encoded's scale claim: over a MATERIALIZED encoded store the
    pattern join keys are bigint ids — no string column ever reaches a
    join on the data-scale side."""
    from logset_spark.operators import encode

    tri = spark.createDataFrame(
        [("conv:a", "hasTurn", "turn:a/0"),
         ("turn:a/0", "usedTool", "tool:x")],
        "subj string, pred string, obj string",
    )
    dic_df = encode.build_term_dictionary(tri)
    enc_path = str(tmp_path / "enc")
    encode.encode_triples(tri, dic_df).write.parquet(enc_path + "/triples")
    dic_df.write.parquet(enc_path + "/terms")
    enc = spark.read.parquet(enc_path + "/triples")
    dic = spark.read.parquet(enc_path + "/terms")
    out = encode.bgp_encoded(
        enc, dic,
        [("?c", "hasTurn", "?t"), ("?t", "usedTool", "?x")],
        ["c", "x"],
    )
    plan = _plan(out)
    # the shared-variable join is on the bigint v_t key
    assert "v_t" in plan
    # no mid-plan join keyed on subj/pred/obj strings: decode joins key
    # on tid/v_* bigints; the only string-keyed exchange allowed is the
    # final SELECT-DISTINCT over the already-decoded projected vars
    # (result-scale, not corpus-scale)
    import re
    for m in re.finditer(r"hashpartitioning\(([a-z_]+)#", plan):
        assert m.group(1).startswith(("v_", "tid")) or m.group(1) in (
            "c", "x"
        ), m.group(0)
    for bad in ("subj#", "pred#", "obj#"):
        assert f"hashpartitioning({bad}" not in plan


def test_r2rml_where_pushes_to_scan(spark, sf_dir):
    """The TriplesMap where-filter must reach the parquet scan as a
    pushed filter — a mapping over 100 TB that scans everything to
    apply `o_orderkey % 17 = 0` post-scan is wrong."""
    fn, _ = REGISTRY["q_r2rml"]
    plan = _plan(fn(spark, sf_dir))
    assert "PushedFilters: [" in plan
    assert "IsNotNull(o_orderkey)" in plan
    assert "EvalPython" not in plan  # term minting stays codegen'd


def test_neighbor_sample_single_exchange(spark, sf_dir):
    """Deterministic neighbor sampling = distinct + one ranking window.
    The window must REUSE the distinct's hash partitioning on src where
    possible; the plan may carry at most the two exchanges those two
    operators need — a third means the rank recomputes a shuffle it
    already had."""
    fn, _ = REGISTRY["q_neighbor_sample"]
    plan = _plan(fn(spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") <= 2
    assert "EvalPython" not in plan


def test_void_statistics_is_one_aggregate_pass(spark, sf_dir):
    """Exact VoID stats: the multi-distinct lowers to expand +
    aggregate — but still ONE scan of the triple source (no
    self-union of scans)."""
    fn, _ = REGISTRY["q_void"]
    plan = _plan(fn(spark, sf_dir))
    assert plan.count("Scan parquet") <= 3  # the 3 projections of orders
    assert "EvalPython" not in plan
