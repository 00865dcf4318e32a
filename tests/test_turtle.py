"""Real Turtle parser + catalog-link traversal (sources/turtle.py,
round 3 — VERDICT r02 items 2 and 6): rdflib-style syntax (@prefix,
prefixed names, ';'/',' lists, multi-line statements, typed/lang
literals), the emitter round-trip invariant, cycle-safe multi-catalog
loading, and SPARQL over a loaded .ttl catalog."""

from __future__ import annotations

import os

import pandas as pd
import pytest

from logset_spark.sources.turtle import (
    from_turtle, load_catalog, load_turtle, parse_turtle, to_turtle,
)

FIX = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures")


def test_prefixes_semicolons_commas_multiline():
    trips, prefixes = parse_turtle(
        open(os.path.join(FIX, "catalog_entry.ttl")).read()
    )
    assert prefixes["logset"] == "http://example.org/logset#"
    s = "http://example.org/logset#series_smw"
    # 'a' + ';' list + ',' object list + bareword integer, multi-line
    assert (s, "rdf:type", "http://example.org/logset#LogSeries") in trips
    assert (s, "http://example.org/logset#infoType",
            "http://example.org/logset#fault_info") in trips
    assert (s, "http://example.org/logset#infoType",
            "http://example.org/logset#env_info") in trips
    assert (s, "http://www.w3.org/ns/dcat#byteSize", "12345") in trips


def test_literal_hazard_chars_and_typed_lang_literals():
    trips_a, _ = parse_turtle(open(os.path.join(FIX, "catalog_a.ttl")).read())
    # '.' '&&' '!' inside a literal are inert; lang tag dropped
    assert any(o == "ERROR: disk.full && retry!" for _, _, o in trips_a)
    assert any(o == "Catalog A" for _, _, o in trips_a)
    trips_b, _ = parse_turtle(open(os.path.join(FIX, "catalog_b.ttl")).read())
    assert any(o == "42" for _, _, o in trips_b)  # ^^xsd:integer dropped


def test_unbound_prefix_kept_verbatim():
    trips, _ = parse_turtle("conv:1 hasTurn turn:1/0 .")
    assert trips == [("conv:1", "hasTurn", "turn:1/0")]


def test_escapes_and_long_strings():
    trips, _ = parse_turtle(
        'ex:a ex:b """line1\nline2 "q" end""" .\n'
        "ex:a ex:c 'tab\\there' .\n"
        'ex:a ex:d "u\\u0041" .'
    )
    objs = {o for _, _, o in trips}
    assert 'line1\nline2 "q" end' in objs
    assert "tab\there" in objs and "uA" in objs


def test_anonymous_blank_node_property_lists():
    t, _ = parse_turtle("ex:a ex:b [ ex:c ex:d ; ex:e ex:f, ex:g ] .")
    (b,) = {o for s, p, o in t if s == "ex:a"}
    assert b.startswith("_:anon-")
    assert set(t) == {
        ("ex:a", "ex:b", b), (b, "ex:c", "ex:d"),
        (b, "ex:e", "ex:f"), (b, "ex:e", "ex:g"),
    }
    # subject position, with and without a following predicate-object list
    t, _ = parse_turtle("[ ex:p ex:o ] ex:q ex:r .")
    (b,) = {s for s, p, o in t}
    assert set(t) == {(b, "ex:p", "ex:o"), (b, "ex:q", "ex:r")}
    t, _ = parse_turtle("[ ex:p ex:o ] .")
    assert len(t) == 1 and t[0][1:] == ("ex:p", "ex:o")
    # nested
    t, _ = parse_turtle("ex:a ex:b [ ex:c [ ex:d ex:e ] ] .")
    assert len(t) == 3 and len({s for s, _, _ in t}) == 3
    # explicit labels in the parser-reserved anon space are rejected
    with pytest.raises(ValueError):
        parse_turtle("_:anon-1 ex:p ex:o .")


def test_collections_expand_to_first_rest_chains():
    ttl = ('@prefix rdf: <http://www.w3.org/1999/02/22-rdf-syntax-ns#> .\n'
           'ex:a ex:list ("x" "y") .')
    t, _ = parse_turtle(ttl)
    # declared rdf: prefix canonicalizes to the short spelling — one
    # graph, one spelling per vocab term (turtle._canon_term)
    firsts = [(s, o) for s, p, o in t if p == "rdf:first"]
    rests = {s: o for s, p, o in t if p == "rdf:rest"}
    (head,) = {o for s, p, o in t if p == "ex:list"}
    assert dict(firsts)[head] == "x"
    assert dict(firsts)[rests[head]] == "y"
    assert rests[rests[head]] == "rdf:nil"
    # unbound rdf: prefix -> verbatim engine-style terms; () is rdf:nil
    t, _ = parse_turtle("ex:a ex:list () .")
    assert t == [("ex:a", "ex:list", "rdf:nil")]


def test_emitter_round_trip():
    pdf = pd.DataFrame(
        [("conv:1", "hasTurn", "turn:1/0"),
         ("turn:1/0", "hasText", 'a "q" b\nc . d && e')],
        columns=["subj", "pred", "obj"],
    )
    back = from_turtle(to_turtle(pdf))
    assert sorted(map(tuple, back.values.tolist())) == sorted(
        map(tuple, pdf.values.tolist()))


def test_load_turtle_into_spark(spark):
    df = load_turtle(spark, os.path.join(FIX, "catalog_b.ttl"))
    assert df.columns == ["subj", "pred", "obj"]
    assert df.count() == 2


def test_load_catalog_follows_links_cycle_safe(spark):
    # entry links a + b; a links BACK to entry (cycle) — visited set
    # must terminate and union all three exactly once
    df = load_catalog(spark, os.path.join(FIX, "catalog_entry.ttl"),
                      follow_links=True)
    assert df.count() == 15
    # without links: only the entry file's 8 triples
    solo = load_catalog(spark, os.path.join(FIX, "catalog_entry.ttl"),
                        follow_links=False)
    assert solo.count() == 8


def test_sparql_over_loaded_catalog(spark):
    from logset_spark.operators.sparql import sparql

    df = load_catalog(spark, os.path.join(FIX, "catalog_entry.ttl"))
    got = sparql(
        df,
        """SELECT DISTINCT ?s
           WHERE { ?s <http://example.org/logset#partOf> ?c }""",
    ).collect()
    assert sorted(r["s"] for r in got) == [
        "http://example.org/logset#series_console",
        "http://example.org/logset#series_messages",
    ]


def test_save_turtle_roundtrip_distributed(spark, tmp_path):
    from logset_spark.sources.turtle import load_turtle_dir, save_turtle

    rows = [
        ("conv:1", "hasTurn", "turn:1/0"),
        ("turn:1/0", "hasText", 'say "hi"\nnew\tline \\ backslash'),
        ("plain subject", "hasNote", "not a uri"),
    ]
    df = spark.createDataFrame(rows, "subj string, pred string, obj string")
    out = str(tmp_path / "ttl_out")
    save_turtle(df, out)
    got = sorted(tuple(r) for r in load_turtle_dir(spark, out).collect())
    assert got == sorted(rows)
    # the driver-side parser reads the shards too (same grammar)
    import glob

    text = "".join(open(f).read() for f in glob.glob(f"{out}/part-*"))
    assert sorted(map(tuple, from_turtle(text).values.tolist())) == sorted(rows)


def test_save_turtle_rejects_control_chars(spark, tmp_path):
    df = spark.createDataFrame(
        [("a", "b", "x\x07y")], "subj string, pred string, obj string")
    with pytest.raises(ValueError):
        from logset_spark.sources.turtle import save_turtle

        save_turtle(df, str(tmp_path / "bad"))


def test_load_catalog_named_graphs_provenance(spark):
    from logset_spark.operators.sparql import sparql

    quads = load_catalog(spark, os.path.join(FIX, "catalog_entry.ttl"),
                         follow_links=True, named_graphs=True)
    assert quads.columns == ["subj", "pred", "obj", "graph"]
    # per-file counts match the per-file loads
    per_g = {os.path.basename(r["g"]): r["n"] for r in sparql(
        quads,
        "SELECT ?g (COUNT(?s) AS ?n) WHERE { GRAPH ?g { ?s ?p ?o } }",
    ).collect()}
    assert per_g == {"catalog_entry.ttl": 8, "catalog_a.ttl": 5,
                     "catalog_b.ttl": 2}
    # constant graph confines to one source file; default-graph patterns
    # still match the union
    entry = os.path.join(FIX, "catalog_entry.ttl")
    one = sparql(
        quads,
        f"SELECT ?s ?p ?o WHERE {{ GRAPH <file://{entry}> "
        "{ ?s ?p ?o } }")
    assert one.count() == 8
    assert sparql(quads, "SELECT ?s ?p ?o WHERE { ?s ?p ?o }").count() == 15


# ---------------------------------------------------------------------------
# TriG (quads serialization)
# ---------------------------------------------------------------------------


def test_trig_parse_blocks_prefixes_and_default(spark):
    from logset_spark.sources.turtle import parse_trig

    quads, prefixes = parse_trig("""
        @prefix ex: <http://x.org/> .
        ex:top ex:p ex:o .                 # default graph, outside blocks
        GRAPH ex:g1 {
          ex:a ex:p ex:b ; ex:q "lit" .
          ex:c ex:p ex:d                   # final dot omitted
        }
        { ex:bare ex:p ex:o . }            # bare block = default graph
        GRAPH "g2" { ex:e ex:p ex:f . }
    """)
    assert prefixes == {"ex": "http://x.org/"}
    X = "http://x.org/"
    assert (f"{X}top", f"{X}p", f"{X}o", None) in quads
    assert (f"{X}a", f"{X}q", "lit", f"{X}g1") in quads
    assert (f"{X}c", f"{X}p", f"{X}d", f"{X}g1") in quads
    assert (f"{X}bare", f"{X}p", f"{X}o", None) in quads
    assert (f"{X}e", f"{X}p", f"{X}f", "g2") in quads
    # a SUBJECT literally named GRAPH still parses as a plain statement
    q2, _ = parse_trig("GRAPH ex:p ex:o .")
    assert q2 == [("GRAPH", "ex:p", "ex:o", None)]
    with pytest.raises(ValueError, match="unterminated"):
        parse_trig("GRAPH g { a b c .")


def test_trig_roundtrip_text_and_distributed(spark, tmp_path):
    import pandas as pd

    from logset_spark.sources.turtle import (
        from_trig, load_trig, load_trig_dir, save_trig, to_trig)

    pdf = pd.DataFrame(
        [("ent:a", "kg:p", "plain text", None),
         ("ent:a", "kg:p", "ent:b", "kg:g1"),
         ("ent:c", "kg:q", 'quo"te\nnl', "kg:g2")],
        columns=["subj", "pred", "obj", "graph"])
    # driver text round-trip
    back = from_trig(to_trig(pdf))
    assert sorted(map(tuple, back.itertuples(index=False))) == sorted(
        map(tuple, pdf.itertuples(index=False)))
    # distributed sink -> file -> parse round-trip
    df = spark.createDataFrame(
        pdf, "subj string, pred string, obj string, graph string")
    out = str(tmp_path / "q.trig")
    save_trig(df, out)
    got = load_trig_dir(spark, out)
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, pdf.itertuples(index=False)))
    # single-file load feeds the quads surfaces
    f = tmp_path / "one.trig"
    f.write_text(to_trig(pdf))
    tri = load_trig(spark, str(f))
    from logset_spark.operators.sparql import sparql

    r = sparql(tri, "SELECT ?s FROM kg:g1 WHERE { ?s kg:p ?o }")
    assert [t["s"] for t in r.collect()] == ["ent:a"]


def test_load_catalog_follows_trig_and_keeps_graphs(spark, tmp_path):
    from logset_spark.sources.turtle import load_catalog

    (tmp_path / "entry.ttl").write_text(
        "@prefix rdfs: <http://www.w3.org/2000/01/rdf-schema#> .\n"
        "cat:entry rdfs:seeAlso <linked.trig> .\n")
    (tmp_path / "linked.trig").write_text(
        "d1 p o1 .\nGRAPH run:A { d2 p o2 . }\n")
    # flattened union (RDF merge)
    tri = load_catalog(spark, str(tmp_path / "entry.ttl"))
    subs = {r["subj"] for r in tri.collect()}
    assert {"cat:entry", "d1", "d2"} <= subs
    # quads view: TriG graphs survive, default statements attribute to file
    q = load_catalog(spark, str(tmp_path / "entry.ttl"), named_graphs=True)
    gm = {(r["subj"], r["graph"]) for r in q.collect()}
    assert ("d2", "run:A") in gm
    assert any(s == "d1" and g.endswith("linked.trig") for s, g in gm)


def test_uri_lookalike_with_angle_round_trips_as_literal(spark, tmp_path):
    """A value that LOOKS URI-ish but contains '>' (e.g. 'a:b>c') must
    not be <>-framed — the loader could never re-parse it.  It goes
    the escaped-literal path and round-trips by VALUE, on both the
    plain and star sinks (review finding: previously it round-tripped
    to a corrupt all-empty row)."""
    from logset_spark.sources.turtle import (
        load_turtle_dir,
        load_turtle_star_dir,
        save_turtle,
        save_turtle_star,
    )

    rows = [("a:b>c", "hasNote", 'x:y"z'), ("conv:1", "hasTurn", "t:<1>")]
    df = spark.createDataFrame(rows, "subj string, pred string, obj string")
    out = str(tmp_path / "ttl")
    save_turtle(df, out)
    assert sorted(map(tuple, load_turtle_dir(spark, out).collect())) \
        == sorted(rows)

    anns = spark.createDataFrame(
        [("a:b>c", "mentions", "e:1", "kg:confidence", "0.9>0.8")],
        "subj string, pred string, obj string, a_pred string, a_obj string",
    )
    out2 = str(tmp_path / "ttls")
    save_turtle_star(df, anns, out2)
    t, a = load_turtle_star_dir(spark, out2)
    assert sorted(map(tuple, t.collect())) == sorted(rows)
    assert [tuple(r) for r in a.collect()] == [
        ("a:b>c", "mentions", "e:1", "kg:confidence", "0.9>0.8")
    ]


def test_sink_rejects_unframeable_pred(spark, tmp_path):
    from logset_spark.sources.turtle import save_turtle

    df = spark.createDataFrame(
        [("a:1", "has>turn", "b:2")], "subj string, pred string, obj string"
    )
    with pytest.raises(ValueError, match="refusing"):
        save_turtle(df, str(tmp_path / "bad"))


def test_canon_fold_is_term_kind_aware():
    """ADVICE r03 (turtle.py:503): the well-known-namespace fold applies
    only to terms that were IRIs at parse time.  A quoted literal whose
    string VALUE starts with the rdfs namespace IRI stays verbatim,
    while the same spelling as an <iri> token or via a declared prefix
    folds to the canonical short form."""
    ttl = (
        '@prefix ex: <http://example.org/> .\n'
        '@prefix schema: <http://www.w3.org/2000/01/rdf-schema#> .\n'
        'ex:a <http://www.w3.org/2000/01/rdf-schema#label> '
        '"http://www.w3.org/2000/01/rdf-schema#label" .\n'
        'ex:a schema:comment "c" .\n'
    )
    t, _ = parse_turtle(ttl)
    assert ("http://example.org/a", "rdfs:label",
            "http://www.w3.org/2000/01/rdf-schema#label") in t
    assert ("http://example.org/a", "rdfs:comment", "c") in t


def test_load_turtle_typed_shadow_columns(spark, tmp_path):
    """load_turtle(typed=True): the driver-side parser records datatypes
    of typed literals (first datatype wins under the engine's untyped
    conflation) and the loader attaches obj_dt/obj_num via a broadcast
    map join — rdflib-faithful numeric FILTERing over catalogs."""
    from logset_spark.operators.sparql import sparql
    from logset_spark.sources.turtle import load_turtle

    p = tmp_path / "c.ttl"
    p.write_text(
        "@prefix ex: <http://ex/> .\n"
        "@prefix xsd: <http://www.w3.org/2001/XMLSchema#> .\n"
        'ex:a ex:score "10"^^xsd:integer .\n'
        'ex:b ex:score "9"^^xsd:integer .\n'
        'ex:c ex:score "high" .\n'
    )
    tri = load_turtle(spark, str(p), typed=True)
    assert tri.columns == ["subj", "pred", "obj", "obj_dt", "obj_num"]
    got = sparql(
        tri,
        "SELECT ?s WHERE { ?s <http://ex/score> ?v . FILTER(?v > 9) }",
    ).collect()
    assert [r["s"] for r in got] == ["http://ex/a"]
    # untyped load unchanged
    assert load_turtle(spark, str(p)).columns == ["subj", "pred", "obj"]


def test_load_turtle_bulk_matches_driver_parse(spark, tmp_path):
    """load_turtle_bulk (distributed statement splitter, VERDICT r04
    §What's missing 4) must produce the driver parser's exact triple
    set — multi-line ;/, continuations, collections, bnode property
    lists, dots inside literals/IRIs, comments — modulo fresh-bnode
    label spelling (salted with the statement id for document
    uniqueness)."""
    import re

    from logset_spark.sources.turtle import load_turtle, load_turtle_bulk

    p = tmp_path / "doc.ttl"
    p.write_text(
        "@prefix ex: <http://ex/> .\n"
        "# comment\n"
        "ex:a ex:p ex:b .\n"
        'ex:a ex:q "lit with . dot" ;\n'
        '     ex:r "10" ,\n'
        '          "20" .\n'
        "ex:c ex:list ( ex:x ex:y ) .\n"
        "[ ex:inner ex:v ] ex:anon ex:w .\n"
        '<http://o.org/s.x> <http://o.org/p> "esc\\"q" .\n'
    )

    def canon(rows):
        # anon labels are fresh per loader (the bulk path salts them
        # with the statement id), so compare the triple MULTISET with
        # labels folded; exact row count + the big-file test pin the
        # structure
        c = lambda t: re.sub(r"_:anon-[\w-]+$", "_:ANON", t)
        return sorted(tuple(c(x) for x in r) for r in rows)

    bulk = canon(map(tuple, load_turtle_bulk(spark, str(p)).collect()))
    drv = canon(map(tuple, load_turtle(spark, str(p)).collect()))
    assert bulk == drv and len(bulk) == 12


def test_load_turtle_bulk_statements_span_split_boundaries(spark, tmp_path):
    """Statements straddling text-source split boundaries must
    reassemble via the global statement ids (distributed prefix sum) —
    forced here with a tiny maxPartitionBytes is not possible on a
    shared session, so use enough data that the id math is exercised
    across partitions of the grouped shuffle instead, and assert exact
    counts."""
    from logset_spark.sources.turtle import load_turtle_bulk

    p = tmp_path / "big.ttl"
    with open(p, "w") as f:
        f.write("@prefix ex: <http://ex/> .\n")
        for i in range(2000):
            f.write(f'ex:s{i} ex:p1 "v {i} ." ;\n')
            f.write(f"    ex:p2 ex:o{i} .\n")
    d = load_turtle_bulk(spark, str(p))
    assert d.count() == 4000
    assert d.where(d.subj == "http://ex/s1999").count() == 2


def test_load_turtle_bulk_rejects_are_loud(spark, tmp_path):
    """Subset violations must reject, never silently mis-parse: a
    mid-document @prefix (other statements' parsers would not see the
    binding) and a multi-line literal (unbalanced quote)."""
    import pytest

    from logset_spark.sources.turtle import load_turtle_bulk

    mid = tmp_path / "mid.ttl"
    mid.write_text(
        "@prefix ex: <http://ex/> .\n"
        "ex:a ex:p ex:b .\n"
        "@prefix zz: <http://zz/> .\n"
        "zz:c zz:q zz:d .\n"
    )
    with pytest.raises(Exception, match="mid-document"):
        load_turtle_bulk(spark, str(mid)).collect()

    ml = tmp_path / "ml.ttl"
    ml.write_text(
        "@prefix ex: <http://ex/> .\n"
        'ex:a ex:p "spans\n'
        'lines" .\n'
    )
    with pytest.raises(ValueError, match="multi-line"):
        load_turtle_bulk(spark, str(ml)).collect()


def test_load_turtle_bulk_rejects_rebound_prefix_and_mid_base(spark, tmp_path):
    """A body directive that RE-BINDS a header prefix (same name, new
    IRI) or sets @base mid-document must reject too: each statement
    parses against the header, so load_turtle_bulk would resolve `ex:s2`
    to http://a.example/s2 where load_turtle gives http://b.example/s2."""
    import pytest

    from logset_spark.sources.turtle import load_turtle, load_turtle_bulk

    rebound = tmp_path / "rebound.ttl"
    rebound.write_text(
        "@prefix ex: <http://a.example/> .\n"
        "ex:s1 ex:p ex:o .\n"
        "@prefix ex: <http://b.example/> .\n"
        "ex:s2 ex:p ex:o .\n"
    )
    assert "http://b.example/s2" in {
        r["subj"] for r in load_turtle(spark, str(rebound)).collect()}
    with pytest.raises(Exception, match="mid-document"):
        load_turtle_bulk(spark, str(rebound)).collect()

    based = tmp_path / "based.ttl"
    based.write_text(
        "@prefix ex: <http://a.example/> .\n"
        "<s1> ex:p ex:o .\n"
        "@base <http://b.example/> .\n"
        "<s2> ex:p ex:o .\n"
    )
    with pytest.raises(Exception, match="mid-document"):
        load_turtle_bulk(spark, str(based)).collect()

    # re-stating a header binding unchanged is not a re-bind
    same = tmp_path / "same.ttl"
    same.write_text(
        "@prefix ex: <http://a.example/> .\n"
        "ex:s1 ex:p ex:o .\n"
        "@prefix ex: <http://a.example/> .\n"
        "ex:s2 ex:p ex:o .\n"
    )
    assert {r["subj"] for r in load_turtle_bulk(spark, str(same)).collect()} == {
        "http://a.example/s1", "http://a.example/s2"}
