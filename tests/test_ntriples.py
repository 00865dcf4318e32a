"""Distributed N-Triples/N-Quads source & sink (sources/ntriples.py).

Contracts: grammar + escape decoding against the committed fixture,
loud quarantine for all three malformed-line classes, write/read
round-trip identity (incl. newline/quote/backslash literals), quad
graph attribution, and Turtle-convention agreement (typed/lang
literals land as bare lexical forms, same as the .ttl loader).
"""

from logset_spark.queries import NT_FIXTURE
from logset_spark.sources.ntriples import (
    from_nquads,
    from_ntriples,
    to_nquads,
    to_ntriples,
)


def _rows(df):
    return {tuple(r) for r in df.collect()}


def test_fixture_parse_and_quarantine(spark):
    good, bad = from_ntriples(spark, NT_FIXTURE)
    g = _rows(good)
    assert ("http://example.org/s1", "http://example.org/p",
            "http://example.org/o1") in g
    # escape decoding
    assert ("http://example.org/s2", "http://example.org/name",
            'esc "q" and \\slash and \n line') in g
    # typed/lang literals -> bare lexical (turtle-loader convention)
    assert ("http://example.org/s3", "http://example.org/age", "41") in g
    assert ("http://example.org/s3", "http://example.org/label", "hallo") in g
    assert ("_:b1", "http://example.org/p", "bnode subject") in g
    reasons = sorted(r["reason"] for r in bad.collect())
    assert reasons == [
        "malformed_statement", "malformed_statement", "unsupported_escape"
    ]


def test_roundtrip_identity(spark, tmp_path):
    good, _ = from_ntriples(spark, NT_FIXTURE)
    out = str(tmp_path / "rt_nt")
    to_ntriples(good, out)
    back, bad = from_ntriples(spark, out)
    assert _rows(back) == _rows(good)
    assert bad.count() == 0


def test_nquads_graph_attribution(spark, tmp_path):
    p = tmp_path / "g.nq"
    p.write_text(
        '<ex:s> <ex:p> <ex:o> <ex:g1> .\n'
        '<ex:s> <ex:p> "default graph" .\n'
        '_:b <ex:p> "in g2" _:g2 .\n'
    )
    quads, bad = from_nquads(spark, str(p))
    assert bad.count() == 0
    got = _rows(quads)
    assert ("ex:s", "ex:p", "ex:o", "ex:g1") in got
    assert ("ex:s", "ex:p", "default graph", "") in got
    assert ("_:b", "ex:p", "in g2", "_:g2") in got
    # quad round-trip incl. default graph
    out = str(tmp_path / "rt_nq")
    to_nquads(quads, out)
    back, bad2 = from_nquads(spark, out)
    assert _rows(back) == got
    assert bad2.count() == 0


def test_sink_escapes_control_characters(spark, tmp_path):
    rows = [("ex:s", "ex:p", 'tricky "x"\nnew\tline\\end')]
    df = spark.createDataFrame(rows, "subj string, pred string, obj string")
    out = str(tmp_path / "esc_nt")
    to_ntriples(df, out)
    # every emitted statement is ONE line (escapes keep it so)
    lines = [l for l in spark.read.text(out).collect()]
    assert len(lines) == 1
    back, bad = from_ntriples(spark, out)
    assert bad.count() == 0
    assert _rows(back) == set(rows)


def test_no_python_in_parse_plan(spark):
    good, _ = from_ntriples(spark, NT_FIXTURE)
    plan = good._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_bare_predicates_bracketed_and_roundtrip(spark, tmp_path):
    """The engine's colon-free predicate tokens (usedTool) must emit as
    <usedTool> (a predicate is an IRI by definition), never as quoted
    literals, and round-trip back to the bare token."""
    rows = [("turn:c/1", "usedTool", "tool:compiler")]
    df = spark.createDataFrame(rows, "subj string, pred string, obj string")
    out = str(tmp_path / "barepred_nt")
    to_ntriples(df, out)
    line = spark.read.text(out).collect()[0]["value"]
    assert " <usedTool> " in line
    back, bad = from_ntriples(spark, out)
    assert bad.count() == 0
    assert _rows(back) == set(rows)


def test_nq_fixture_parse(spark):
    from logset_spark.queries import NQ_FIXTURE

    quads, bad = from_nquads(spark, NQ_FIXTURE)
    got = _rows(quads)
    assert ("http://example.org/s1", "http://example.org/p",
            "http://example.org/o1", "http://example.org/g1") in got
    assert ("http://example.org/s1", "http://example.org/name",
            "in default graph", "") in got
    assert ("http://example.org/s3", "http://example.org/label",
            "tag", "_:g3") in got
    assert sorted(r["reason"] for r in bad.collect()) == [
        "malformed_statement", "malformed_statement"
    ]


def test_iri_escape_sequences_quarantined(spark, tmp_path):
    """IRIREF positions allow UCHAR (\\uXXXX) per the N-Triples grammar;
    this decoder does not decode them, so any backslash inside a
    bracketed IRI term — in ANY position, not just the object literal —
    quarantines the line instead of storing the IRI raw (ADVICE r03)."""
    nt = tmp_path / "esc.nt"
    nt.write_text(
        '<http://x.org/a\\u00e9> <http://x.org/p> "v" .\n'
        '<http://x.org/s> <http://x.org/p\\U0001F600> "v" .\n'
        '<http://x.org/s> <http://x.org/p> <http://x.org/o\\u00e9> .\n'
        '<http://x.org/s> <http://x.org/p> "ok" .\n'
    )
    good, bad = from_ntriples(spark, str(nt))
    assert good.count() == 1
    assert {r["reason"] for r in bad.collect()} == {"unsupported_escape"}
    assert bad.count() == 3


def test_nq_graph_iri_escape_quarantined(spark, tmp_path):
    nq = tmp_path / "esc.nq"
    nq.write_text(
        '<http://x.org/s> <http://x.org/p> "v" <http://x.org/g\\u0041> .\n'
        '<http://x.org/s> <http://x.org/p> "v" <http://x.org/g> .\n'
    )
    good, bad = from_nquads(spark, str(nq))
    assert good.count() == 1
    assert [r["reason"] for r in bad.collect()] == ["unsupported_escape"]


def test_colon_shaped_literal_ambiguity(spark, tmp_path):
    """Pin the DOCUMENTED ambiguity (ADVICE r03, _encode_term docstring):
    the untyped bare-string term model cannot distinguish a literal
    "mailto:x" from the IRI mailto:x, so the sink emits it bracketed and
    it round-trips as an IRI.  This test is the alarm that fires if the
    term model ever gains provenance and the behavior changes."""
    rows = [("http://x.org/s", "http://x.org/p", "mailto:alice@x.org")]
    df = spark.createDataFrame(rows, "subj string, pred string, obj string")
    out = str(tmp_path / "colon_nt")
    to_ntriples(df, out)
    line = spark.read.text(out).collect()[0]["value"]
    assert "<mailto:alice@x.org>" in line  # emitted as IRI, by design
    back, bad = from_ntriples(spark, out)
    assert bad.count() == 0
    assert _rows(back) == set(rows)  # value survives; term-kind does not


def test_typed_literal_shadow_columns(spark, tmp_path):
    """typed=True keeps subj/pred/obj byte-identical to the untyped
    load and adds obj_dt/obj_num: numeric xsd datatypes try_cast to
    double (malformed lexical -> null, never a scan error), plain and
    lang-tagged literals carry null shadows."""
    from logset_spark.sources.ntriples import from_ntriples

    p = tmp_path / "t.nt"
    p.write_text(
        '<http://e/a> <http://e/p> "10"^^<http://www.w3.org/2001/XMLSchema#integer> .\n'
        '<http://e/b> <http://e/p> "2.5"^^<http://www.w3.org/2001/XMLSchema#decimal> .\n'
        '<http://e/c> <http://e/p> "oops"^^<http://www.w3.org/2001/XMLSchema#integer> .\n'
        '<http://e/d> <http://e/p> "plain" .\n'
        '<http://e/e> <http://e/p> "tagged"@en .\n'
        '<http://e/f> <http://e/p> "x"^^<http://e/custom> .\n'
    )
    typed, _ = from_ntriples(spark, str(p), typed=True)
    rows = {r["subj"]: (r["obj"], r["obj_dt"], r["obj_num"])
            for r in typed.collect()}
    assert rows["http://e/a"] == ("10", "xsd:integer", 10.0)
    assert rows["http://e/b"] == ("2.5", "xsd:decimal", 2.5)
    assert rows["http://e/c"] == ("oops", "xsd:integer", None)
    assert rows["http://e/d"] == ("plain", None, None)
    assert rows["http://e/e"] == ("tagged", None, None)
    assert rows["http://e/f"] == ("x", "http://e/custom", None)
    plain, _ = from_ntriples(spark, str(p))
    assert plain.columns == ["subj", "pred", "obj"]
    assert sorted(map(tuple, plain.collect())) == sorted(
        (s, "http://e/p", o) for s, (o, _d, _n) in rows.items())


def test_typed_filter_prefers_numeric_and_falls_back_lexically(spark, tmp_path):
    """SPARQL numeric FILTER over a typed frame compares the typed
    value ('10'^^xsd:integer > 9 matches; lexically '10' < '9'); plain
    literals are excluded under a numeric operator (SPARQL type-error
    semantics) but still compare as strings under string equality; an
    UNTYPED frame keeps the documented lexical behavior unchanged."""
    from logset_spark.operators.sparql import sparql
    from logset_spark.sources.ntriples import from_ntriples

    p = tmp_path / "t.nt"
    p.write_text(
        '<http://e/a> <http://e/s> "10"^^<http://www.w3.org/2001/XMLSchema#integer> .\n'
        '<http://e/b> <http://e/s> "9"^^<http://www.w3.org/2001/XMLSchema#integer> .\n'
        '<http://e/c> <http://e/s> "95" .\n'
    )
    typed, _ = from_ntriples(spark, str(p), typed=True)
    q = "SELECT ?s WHERE { ?s <http://e/s> ?v . FILTER(?v > 9) }"
    assert [r["s"] for r in sparql(typed, q).collect()] == ["http://e/a"]
    # string equality untouched by the typed rewrite
    qe = "SELECT ?s WHERE { ?s <http://e/s> ?v . FILTER(?v = '95') }"
    assert [r["s"] for r in sparql(typed, qe).collect()] == ["http://e/c"]
    # untyped frame: Spark coerces the string column numerically for a
    # numeric constant, so the PLAIN literal "95" also matches — the
    # documented divergence from rdflib (a plain literal under a
    # numeric operator is a type error there).  The typed path above is
    # the rdflib-faithful one; the untyped behavior stays unchanged.
    plain, _ = from_ntriples(spark, str(p))
    got = sorted(r["s"] for r in sparql(plain, q).collect())
    assert got == ["http://e/a", "http://e/c"]


def test_typed_shadow_stays_out_of_union_and_optional(spark, tmp_path):
    """The ?v__num typed shadow is FILTER plumbing, never a solution
    column: SELECT * over UNION arms or an OPTIONAL group that binds ?v
    at object position returns only ?s ?v (no v__num column, no
    ambiguous reference), and a numeric FILTER over a union still
    compares the typed value."""
    from logset_spark.operators.sparql import bgp, sparql
    from logset_spark.sources.ntriples import from_ntriples

    p = tmp_path / "t.nt"
    p.write_text(
        '<http://e/a> <http://e/p> "10"^^<http://www.w3.org/2001/XMLSchema#integer> .\n'
        '<http://e/b> <http://e/q> "9"^^<http://www.w3.org/2001/XMLSchema#integer> .\n'
        '<http://e/c> <http://e/p> "95" .\n'
    )
    typed, _ = from_ntriples(spark, str(p), typed=True)
    arms = "{ ?s <http://e/p> ?v } UNION { ?s <http://e/q> ?v }"
    union = sparql(typed, f"SELECT * WHERE {{ {arms} }}")
    assert union.columns == ["s", "v"]
    assert sorted(map(tuple, union.collect())) == [
        ("http://e/a", "10"), ("http://e/b", "9"), ("http://e/c", "95")]
    filtered = bgp(typed, [], filters=["?v > 9"], select=["s"], unions=[
        [("?s", "<http://e/p>", "?v")], [("?s", "<http://e/q>", "?v")]])
    assert [r["s"] for r in filtered.collect()] == ["http://e/a"]

    opt = sparql(typed, "SELECT * WHERE { ?s <http://e/p> ?v . "
                        "OPTIONAL { ?s <http://e/p> ?v } }")
    assert opt.columns == ["s", "v"]
    assert sorted(map(tuple, opt.collect())) == [
        ("http://e/a", "10"), ("http://e/c", "95")]
    opt_new = sparql(typed, "SELECT * WHERE { ?s <http://e/p> ?v . "
                            "OPTIONAL { ?s <http://e/q> ?w } }")
    assert opt_new.columns == ["s", "v", "w"]
