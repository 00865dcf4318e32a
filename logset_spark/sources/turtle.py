"""Turtle (.ttl) emitter + parser and the catalog loader.

The reference's catalog files are Turtle serialized by rdflib
(PK:src/graph.py Graph.serialize(format='turtle')) and its entry point
parses an entry .ttl PLUS the catalogs it links to into one Graph
(SURVEY S1 / §3.1).  At scale our graph lives in partitioned parquet
(tableio.py); Turtle exists at the EDGES of the system — catalog files
are metadata-scale (KBs), so parsing happens on the driver and the
resulting triples enter Spark via createDataFrame, after which the
SPARQL compiler and every triple operator work unchanged.

Emitter: one `subj pred obj .` statement per line, sorted — the
N-Triples-ish subset of Turtle, deterministic for golden files.

Parser: a real tokenizer-based Turtle subset parser (round 3 — VERDICT
r02 item 2) covering what actual rdflib-serialized catalogs use:

* `@prefix ns: <iri> .` and SPARQL-style `PREFIX ns: <iri>` directives,
  `@base <iri> .` / `BASE <iri>`;
* prefixed names (`logset:ConcreteLog`) expanded against the bound
  prefixes — an UNBOUND prefix is kept verbatim, because this engine's
  own URIs are prefixed strings (`conv:123`) with no prefix table;
* `;` predicate-object lists and `,` object lists, statements spanning
  any number of physical lines;
* `a` as a prefixed-name alias for rdf:type (expanded iff `rdf:` is
  bound, like any other pname);
* string literals in all four quote forms ("x", 'x', \"\"\"x\"\"\", '''x''')
  with \\-escapes incl. \\uXXXX/\\UXXXXXXXX; language tags and `^^`
  datatypes are parsed and DROPPED — the triple table is untyped
  strings (module docstring contract), the lexical form is the value;
* numeric / boolean barewords kept in lexical form; `_:label` blank
  nodes kept verbatim;
* comments anywhere outside quotes.

* RDF-star (Turtle-star subset): `<< s p o >>` quoted triples in
  SUBJECT position and `{| pred obj ; ... |}` annotation blocks after
  an object — both land on the parser's WIDE annotation list
  (subj, pred, obj, a_pred, a_obj), never as encoded string terms
  (operators/star.py holds the columnar reify/unreify lowerings).
  Outside the subset and rejected loudly: quoted triples in
  object/predicate position, nested quoted triples, anon bnodes or
  collections inside `<< >>`, and star syntax inside TriG blocks.
  `parse_turtle`/`parse_trig` keep their triple/quad-only contracts and
  reject star documents — use `parse_turtle_star`;

* anonymous blank nodes `[ pred obj ; ... ]` in subject/object position
  (fresh labels minted in the parser-reserved `_:anon-<n>` space —
  explicit `_:anon-*` labels in input are rejected to keep the space
  collision-free) and RDF collections `( e1 e2 ... )` expanded to the
  standard rdf:first/rdf:rest/rdf:nil chain (`()` is rdf:nil; the rdf:
  terms expand iff the prefix is bound, like `a`).
"""

from __future__ import annotations

import os
import re

import pandas as pd


_CTRL = re.compile("[\x00-\x1f\x7f\x85\u2028\u2029]")


# chars that may not appear in a <...>-framed term: they break either
# the <> framing itself or the tokenizer's IRI charset (which mirrors
# Turtle's IRIREF production).  A term that merely LOOKS URI-ish but
# contains one (e.g. `a:b>c`) is written as an escaped literal instead,
# so every VALUE still round-trips.
_URI_SHAPE = r'^[A-Za-z][\w-]*:[^\s<>"{}|^`\\]+$'


def _term(value: str) -> str:
    """URIs (contain a ':' prefix we mint) -> <uri>; else a quoted literal.
    Control/line-separator chars are \\uXXXX-escaped (N-Triples canon) so
    one statement is always exactly one physical line."""
    if re.match(_URI_SHAPE, value):
        return f"<{value}>"
    escaped = value.replace("\\", "\\\\").replace('"', '\\"')
    escaped = _CTRL.sub(lambda m: f"\\u{ord(m.group()):04X}", escaped)
    return f'"{escaped}"'


def to_turtle(triples: pd.DataFrame) -> str:
    """triples: DataFrame[subj, pred, obj] -> deterministic Turtle text."""
    rows = triples[["subj", "pred", "obj"]].drop_duplicates()
    rows = rows.sort_values(["subj", "pred", "obj"])
    lines = [
        f"{_term(s)} <{p}> {_term(o)} ."
        for s, p, o in rows.itertuples(index=False)
    ]
    return "\n".join(lines) + "\n"


_ESCAPE = re.compile(r'\\(U[0-9A-Fa-f]{8}|u[0-9A-Fa-f]{4}|[tbnrf"\'\\])')
_ESC_CHARS = {"t": "\t", "b": "\b", "n": "\n", "r": "\r", "f": "\f",
              '"': '"', "'": "'", "\\": "\\"}


def _unescape(lit: str) -> str:
    return _ESCAPE.sub(
        lambda m: chr(int(m.group(1)[1:], 16))
        if m.group(1)[0] in "uU"
        else _ESC_CHARS[m.group(1)],
        lit,
    )


# tokenizer: strings first (all four quote forms), IRIs, punctuation,
# then maximal barewords.  Comments run # -> EOL and cannot start inside
# a string because strings are matched first.
_TOKEN = re.compile(
    r"""
      (?P<ws>\s+)
    | (?P<comment>\#[^\n]*)
    | (?P<str>\"\"\"(?:[^"\\]|\\.|"(?!""))*\"\"\"
            | '''(?:[^'\\]|\\.|'(?!''))*'''
            | "(?:[^"\\\n]|\\.)*"
            | '(?:[^'\\\n]|\\.)*')
    | (?P<iri><[^<>"{}|^`\\\s]*>)
    | (?P<punct>\^\^|<<|>>|\{\||\|\}|[;,\[\](){}])
    | (?P<word>[^\s;,\[\](){}|"'<>]+)
    """,
    re.VERBOSE,
)


def _tokenize(text: str) -> list[tuple[str, str]]:
    """-> [(kind, value)]; kind in {str, iri, punct, word, dot}.
    A bareword's TRAILING dots are statement terminators (so `ex:v1.0`
    stays whole in `ex:a ex:b ex:v1.0 .` and in `...ex:v1.0.`)."""
    toks: list[tuple[str, str]] = []
    pos = 0
    for m in _TOKEN.finditer(text):
        if m.start() != pos:
            raise ValueError(f"unlexable turtle at offset {pos}: "
                             f"{text[pos:pos+40]!r}")
        pos = m.end()
        kind = m.lastgroup
        if kind in ("ws", "comment"):
            continue
        val = m.group()
        if kind == "word":
            n_dots = 0
            while val.endswith(".") and len(val) > 1:
                val = val[:-1]
                n_dots += 1
            if val == ".":
                val, n_dots = "", n_dots + 1
            if val:
                toks.append(("word", val))
            toks.extend([("dot", ".")] * n_dots)
        else:
            toks.append((kind, val))
    if pos != len(text):
        raise ValueError(f"unlexable turtle at offset {pos}: "
                         f"{text[pos:pos+40]!r}")
    return toks


def _strip_quotes(s: str) -> str:
    if s.startswith(('"""', "'''")):
        return s[3:-3]
    return s[1:-1]


class _Parser:
    def __init__(self, toks: list[tuple[str, str]], bnode_ns: str = ""):
        self.toks = toks
        self.i = 0
        # anonymous-bnode label namespace: the bulk loader parses each
        # statement in its own _Parser, so fresh labels are salted with
        # the statement id to stay document-unique (load_turtle_bulk)
        self._bnode_ns = bnode_ns
        self.prefixes: dict[str, str] = {}
        self.base: str | None = None
        self.triples: list[tuple[str, str, str]] = []
        # typed-literal capture (VERDICT r04 §What's missing 1
        # prototype): lexical form -> datatype short tag for TYPED
        # literals seen during the parse.  First datatype wins when one
        # lexical appears under several datatypes — consistent with the
        # engine-wide untyped conflation (module docstring); load_turtle
        # (typed=True) turns this into obj_dt/obj_num shadow columns.
        self.typed_lits: dict[str, str] = {}
        # RDF-star: (subj, pred, obj, a_pred, a_obj) — one row per
        # annotation on the quoted triple (subj, pred, obj)
        self.annotations: list[tuple[str, str, str, str, str]] = []
        self._anon = 0

    def _fresh_bnode(self) -> str:
        """Fresh label for an anonymous [] node.  `_:anon-` is the
        parser's reserved label space (documented in the module
        docstring); explicit `_:anon-*` labels in input would collide
        and are rejected in term()."""
        self._anon += 1
        return f"_:anon-{self._bnode_ns}{self._anon}"

    def peek(self):
        return self.toks[self.i] if self.i < len(self.toks) else (None, None)

    def next(self):
        t = self.peek()
        self.i += 1
        return t

    def expect(self, kind: str, value: str | None = None):
        k, v = self.next()
        if k != kind or (value is not None and v != value):
            raise ValueError(
                f"expected {value or kind}, got {v!r} (token {self.i - 1})")
        return v

    def _resolve_iri(self, raw: str) -> str:
        # The well-known-namespace fold happens HERE and in
        # _expand_pname — the two places a term is known to be an IRI
        # at parse time — never on parser output as a whole, so a
        # quoted literal whose string value starts with a well-known
        # namespace IRI is left untouched (ADVICE r03; matches
        # ntriples._decode_term's is_iri-gated behavior).
        iri = raw[1:-1]
        if self.base and ":" not in iri:
            iri = self.base + iri
        return _canon_term(iri)

    def _expand_pname(self, word: str) -> str:
        if word.startswith("_:"):
            if word.startswith("_:anon-"):
                raise ValueError(
                    f"blank node label {word!r} uses the parser's "
                    "reserved _:anon- space for [] nodes")
            return word  # blank node label, verbatim
        if ":" in word:
            ns, local = word.split(":", 1)
            if ns in self.prefixes:
                return _canon_term(self.prefixes[ns] + local)
            return word  # engine-style prefixed string, no binding
        return word  # bareword (number / boolean lexical form)

    def term(self, *, verb: bool = False) -> str:
        k, v = self.next()
        if k == "iri":
            return self._resolve_iri(v)
        if k == "str":
            if verb:
                raise ValueError("literal in predicate position")
            out = _unescape(_strip_quotes(v))
            nk, nv = self.peek()
            if nk == "punct" and nv == "^^":  # typed literal: the type is
                self.next()  # dropped from the TERM but recorded in
                dk, dv = self.next()  # typed_lits for shadow columns
                if dk not in ("iri", "word"):
                    raise ValueError(f"bad datatype after ^^: {dv!r}")
                dt = (self._resolve_iri(dv) if dk == "iri"
                      else self._expand_pname(dv))
                dt = re.sub(r"^http://www\.w3\.org/2001/XMLSchema#",
                            "xsd:", dt)
                self.typed_lits.setdefault(out, dt)
            elif nk == "word" and nv.startswith("@"):  # language tag: drop
                self.next()
            return out
        if k == "word":
            if v == "a":
                return self._expand_pname("rdf:type")
            if v.startswith("@"):
                raise ValueError(f"misplaced directive/tag {v!r}")
            return self._expand_pname(v)
        if k == "punct" and v == "[":
            if verb:
                raise ValueError("blank node in predicate position")
            node = self._fresh_bnode()
            if self.peek() == ("punct", "]"):  # bare []
                self.next()
                return node
            self._pred_obj_list(node, bracket=True)
            return node
        if k == "punct" and v == "<<":
            # A quoted triple reaching term() is in OBJECT / collection /
            # verb position — outside the supported subset (annotations
            # are subject-position by construction; see module note).
            raise ValueError(
                "quoted triple term only supported in subject position "
                "(<< s p o >> pred obj .) or via {| |} annotation syntax")
        if k == "punct" and v == "(":
            if verb:
                raise ValueError("collection in predicate position")
            items = []
            while self.peek() != ("punct", ")"):
                if self.peek()[0] is None:
                    raise ValueError("unterminated collection")
                items.append(self.term())
            self.next()
            if not items:
                return self._expand_pname("rdf:nil")
            first, rest, nil = (
                self._expand_pname(w)
                for w in ("rdf:first", "rdf:rest", "rdf:nil"))
            nodes = [self._fresh_bnode() for _ in items]
            for idx, (n, it) in enumerate(zip(nodes, items)):
                self.triples.append((n, first, it))
                self.triples.append(
                    (n, rest, nodes[idx + 1] if idx + 1 < len(nodes)
                     else nil))
            return nodes[0]
        raise ValueError(f"unexpected token {v!r} where a term was expected")

    def directive(self) -> bool:
        """Consume one @prefix/@base/PREFIX/BASE directive if present."""
        k, v = self.peek()
        if k != "word":
            return False
        lw = v.lower()
        if lw in ("@prefix", "prefix"):
            self.next()
            ns = self.expect("word")
            if not ns.endswith(":"):
                raise ValueError(f"@prefix needs 'ns:', got {ns!r}")
            k2, iri = self.next()
            if k2 != "iri":
                raise ValueError(f"@prefix needs an <iri>, got {iri!r}")
            self.prefixes[ns[:-1]] = self._resolve_iri(iri)
            if lw == "@prefix":
                self.expect("dot")
            elif self.peek() == ("dot", "."):
                self.next()  # tolerate SPARQL-style PREFIX with a dot
            return True
        if lw in ("@base", "base"):
            self.next()
            k2, iri = self.next()
            if k2 != "iri":
                raise ValueError(f"@base needs an <iri>, got {iri!r}")
            self.base = iri[1:-1]
            if lw == "@base":
                self.expect("dot")
            elif self.peek() == ("dot", "."):
                self.next()
            return True
        return False

    def _quoted_triple(self) -> tuple[str, str, str]:
        """`<< s p o >>` — quoted triple of PLAIN terms (iri / pname /
        blank label / literal).  Nested quoted triples, anonymous blank
        nodes and collections inside the quotes are rejected loudly:
        annotations-on-annotations are outside the supported subset, and
        a generating term would assert triples from an unasserted
        context."""
        self.expect("punct", "<<")
        parts = []
        for role, verb in (("subject", False), ("predicate", True),
                           ("object", False)):
            k, v = self.peek()
            if k == "punct" and v in ("<<", "[", "("):
                raise ValueError(
                    f"{v!r} not allowed as quoted-triple {role} "
                    "(plain terms only inside << >>)")
            parts.append(self.term(verb=verb))
        self.expect("punct", ">>")
        return tuple(parts)

    def _annotation_block(self, base: tuple[str, str, str]) -> None:
        """`{| pred obj (, obj)* (; ...)* |}` — predicate-object list
        about the quoted form of `base`, onto self.annotations."""
        self.expect("punct", "{|")
        while True:
            pred = self.term(verb=True)
            while True:
                self.annotations.append((*base, pred, self.term()))
                if self.peek() == ("punct", ","):
                    self.next()
                    continue
                break
            if self.peek() == ("punct", ";"):
                self.next()
                if self.peek() == ("punct", "|}"):  # trailing ';'
                    break
                continue
            break
        self.expect("punct", "|}")

    def _pred_obj_list(self, subj: str, *, bracket: bool) -> None:
        """`pred obj (, obj)* (; pred obj ...)*` onto self.triples.
        bracket=True: a [ ... ] property list — consumes the closing
        ']'; bracket=False: a top-level statement — the caller consumes
        the terminating '.'.  An object may carry a Turtle-star
        `{| ... |}` annotation block (the triple stays asserted; the
        annotation rows land on self.annotations)."""
        while True:
            pred = self.term(verb=True)
            while True:  # object list
                triple = (subj, pred, self.term())
                self.triples.append(triple)
                if self.peek() == ("punct", "{|"):
                    self._annotation_block(triple)
                if self.peek() == ("punct", ","):
                    self.next()
                    continue
                break
            if self.peek() == ("punct", ";"):
                self.next()
                # tolerate trailing ';' before the closer (rdflib emits it)
                if bracket and self.peek() == ("punct", "]"):
                    break
                if not bracket and self.peek()[0] == "dot":
                    break
                continue
            break
        if bracket:
            self.expect("punct", "]")

    def _star_statement(self) -> None:
        """`<< s p o >> pred obj (, obj)* (; ...)*` — the subject-
        position RDF-star form: the quoted triple is NOT asserted, the
        predicate-object list lands on self.annotations.  The caller
        consumes the terminating '.'."""
        base = self._quoted_triple()
        while True:
            pred = self.term(verb=True)
            while True:
                self.annotations.append((*base, pred, self.term()))
                if self.peek() == ("punct", ","):
                    self.next()
                    continue
                break
            if self.peek() == ("punct", ";"):
                self.next()
                if self.peek()[0] == "dot":  # trailing ';'
                    break
                continue
            break

    def statements(self) -> list[tuple[str, str, str]]:
        self.triples = []
        while self.peek()[0] is not None:
            if self.directive():
                continue
            if self.peek() == ("punct", "<<"):
                self._star_statement()
                self.expect("dot")
                continue
            was_bnode_list = self.peek() == ("punct", "[")
            subj = self.term()
            # `[ p o ] .` — a subject property list needs no further
            # predicate-object list (Turtle grammar production [6])
            if was_bnode_list and self.peek()[0] == "dot":
                self.next()
                continue
            self._pred_obj_list(subj, bracket=False)
            self.expect("dot")
        return self.triples

    # ---- TriG (quads) layer --------------------------------------------

    def _one_statement(self) -> None:
        """One Turtle statement onto self.triples; the terminating '.'
        is consumed here, except it may be omitted before a block's
        closing '}' (TriG grammar)."""
        if self.peek() == ("punct", "<<"):
            self._star_statement()
            if self.peek()[0] == "dot":
                self.next()
            elif self.peek() != ("punct", "}"):
                self.expect("dot")
            return
        was_bnode_list = self.peek() == ("punct", "[")
        subj = self.term()
        if was_bnode_list and self.peek()[0] == "dot":
            self.next()
            return
        self._pred_obj_list(subj, bracket=False)
        if self.peek()[0] == "dot":
            self.next()
        elif self.peek() != ("punct", "}"):
            self.expect("dot")

    def _graph_block(
        self, graph: str | None,
        quads: list[tuple[str, str, str, str | None]],
    ) -> None:
        self.expect("punct", "{")
        while self.peek() != ("punct", "}"):
            if self.peek()[0] is None:
                raise ValueError("unterminated graph block (missing '}')")
            before = len(self.triples)
            self._one_statement()
            quads.extend((s, p, o, graph)
                         for s, p, o in self.triples[before:])
        self.next()  # '}'

    def trig_statements(self) -> list[tuple[str, str, str, str | None]]:
        """TriG document -> quads.  `GRAPH term { ... }` and bare
        `{ ... }` wrap Turtle statements; statements outside a block are
        default-graph (graph=None).  GRAPH is a keyword only in the
        `GRAPH term {` position, so a subject literally named GRAPH
        still parses as a plain statement."""
        self.triples = []
        quads: list[tuple[str, str, str, str | None]] = []
        while self.peek()[0] is not None:
            if self.directive():
                continue
            k, v = self.peek()
            if (k, v) == ("punct", "{"):
                self._graph_block(None, quads)
                continue
            if k == "word" and v.upper() == "GRAPH":
                save = self.i
                self.next()
                try:
                    g = self.term()
                    if self.peek() != ("punct", "{"):
                        raise ValueError("not a GRAPH block")
                except ValueError:
                    self.i = save  # a subject named GRAPH: plain statement
                else:
                    self._graph_block(g, quads)
                    continue
            before = len(self.triples)
            self._one_statement()
            quads.extend((s, p, o, None)
                         for s, p, o in self.triples[before:])
        return quads


from ..operators.rdflist import WELL_KNOWN_NS


def _canon_term(t: str) -> str:
    """Well-known rdf/rdfs/owl full-IRI spellings -> the canonical
    short prefixed form, so the engine speaks ONE spelling per vocab
    term regardless of whether the source document declared those
    prefixes (the SPARQL layer folds its <iri> constants the same way —
    sparql._const_term).  Called ONLY from the parser's IRI-producing
    paths (_resolve_iri, _expand_pname) — term-kind-aware, so literal
    values that merely start with a well-known namespace IRI are never
    rewritten (ADVICE r03)."""
    for short, full in WELL_KNOWN_NS.items():
        if t.startswith(full):
            return short + t[len(full):]
    return t


def parse_turtle(text: str) -> tuple[list[tuple[str, str, str]], dict[str, str]]:
    """Full-subset parse -> (triples, prefix bindings).  Triple-only
    contract: a document using RDF-star syntax is rejected here (the
    annotations would be silently dropped) — use parse_turtle_star."""
    p = _Parser(_tokenize(text))
    trips = p.statements()
    if p.annotations:
        raise ValueError(
            "document uses RDF-star annotations; parse with "
            "parse_turtle_star to receive them")
    return trips, p.prefixes


def parse_turtle_star(
    text: str,
) -> tuple[
    list[tuple[str, str, str]],
    list[tuple[str, str, str, str, str]],
    dict[str, str],
]:
    """Turtle-star parse -> (asserted triples, annotations, prefixes).

    Annotations are WIDE rows (subj, pred, obj, a_pred, a_obj) — one per
    statement about the quoted triple (subj, pred, obj) — produced by
    either star form:

    * `s p o {| a_pred a_obj ; ... |} .` — asserts (s, p, o) AND
      annotates it;
    * `<< s p o >> a_pred a_obj .` — annotates WITHOUT asserting.

    The wide shape is deliberate: quoted triples never become encoded
    string terms inside the engine, so every downstream operator
    (including reify/unreify in operators/star.py) is plain columnar
    work — the only places star syntax exists are this parser and the
    Turtle-star emitters."""
    p = _Parser(_tokenize(text))
    trips = p.statements()
    return trips, list(p.annotations), p.prefixes


def parse_trig(
    text: str,
) -> tuple[list[tuple[str, str, str, str | None]], dict[str, str]]:
    """TriG (quads) parse -> ([(subj, pred, obj, graph)], prefixes).
    Subset on top of the Turtle one: `GRAPH term { statements }` blocks
    and bare `{ statements }` blocks (default graph); statements outside
    any block are default-graph; the final statement of a block may omit
    its '.'.  graph is None for default-graph quads."""
    p = _Parser(_tokenize(text))
    quads = p.trig_statements()
    if p.annotations:
        raise ValueError(
            "RDF-star annotations inside TriG are not supported (no "
            "graph attribution for annotation rows); keep star "
            "statements in a .ttl loaded via parse_turtle_star")
    return quads, p.prefixes


def to_trig(quads: pd.DataFrame) -> str:
    """quads: DataFrame[subj, pred, obj, graph] (graph None/NaN =
    default graph) -> deterministic TriG text: bare statements for the
    default graph, one GRAPH block per named graph, everything sorted."""
    rows = quads[["subj", "pred", "obj", "graph"]].drop_duplicates()
    out: list[str] = []
    default = rows[rows["graph"].isna()].sort_values(["subj", "pred", "obj"])
    for s, p, o, _ in default.itertuples(index=False):
        out.append(f"{_term(s)} <{p}> {_term(o)} .")
    named = rows[rows["graph"].notna()]
    for g in sorted(named["graph"].unique()):
        out.append(f"GRAPH {_term(g)} {{")
        block = named[named["graph"] == g].sort_values(
            ["subj", "pred", "obj"])
        for s, p, o, _ in block.itertuples(index=False):
            out.append(f"  {_term(s)} <{p}> {_term(o)} .")
        out.append("}")
    return "\n".join(out) + "\n"


def from_trig(text: str) -> pd.DataFrame:
    """Parse TriG text into a quads frame (subj, pred, obj, graph;
    graph None for the default graph)."""
    quads, _ = parse_trig(text)
    return pd.DataFrame(quads, columns=["subj", "pred", "obj", "graph"])


def load_trig(spark, path: str):
    """One .trig file -> Spark quads DataFrame[subj, pred, obj, graph].
    Driver-parsed like load_turtle (catalog-scale input); the frame
    feeds the quads surfaces (GRAPH patterns, FROM/FROM NAMED,
    graph_update) directly."""
    with open(path, encoding="utf-8") as f:
        quads, _ = parse_trig(f.read())
    return spark.createDataFrame(
        quads, "subj string, pred string, obj string, graph string")


def save_trig(quads, path: str, mode: str = "overwrite") -> None:
    """DISTRIBUTED TriG sink: each quad becomes one self-contained
    single-line `GRAPH <g> { s p o . }` block (default-graph rows a bare
    statement) — valid TriG (a graph may repeat across blocks), and the
    one-line framing keeps the writer a pure projection like
    save_turtle, whose escape/rejection rules apply unchanged."""
    from pyspark.sql import functions as F

    _sink_assert_writable(
        quads.withColumn("graph", F.coalesce(F.col("graph"), F.lit(""))),
        ["subj", "obj", "graph"], ["pred"], "quads",
    )
    stmt = F.concat(
        _sink_term(F.col("subj")), F.lit(" "),
        F.lit("<"), F.col("pred"), F.lit("> "),
        _sink_term(F.col("obj")), F.lit(" ."),
    )
    lines = quads.select(
        F.when(
            F.col("graph").isNull(), stmt
        ).otherwise(
            F.concat(F.lit("GRAPH "), _sink_term(F.col("graph")),
                     F.lit(" { "), stmt, F.lit(" }"))
        ).alias("value")
    )
    lines.write.mode(mode).text(path)


def load_trig_dir(spark, path: str):
    """Read a save_trig output directory back into a quads DataFrame.
    Driver-side parse of the shard text (same catalog-scale rationale
    as load_turtle_dir); each line is a self-contained block."""
    lines = spark.read.text(path)
    text = "\n".join(r["value"] for r in lines.collect())
    quads, _ = parse_trig(text)
    return spark.createDataFrame(
        quads, "subj string, pred string, obj string, graph string")


def from_turtle(text: str) -> pd.DataFrame:
    """Parse Turtle text into a triple frame (subj, pred, obj strings).
    Accepts everything the documented subset covers — including the
    N-Triples-ish output of to_turtle, whose round-trip is a pytest
    invariant."""
    trips, _ = parse_turtle(text)
    return pd.DataFrame(trips, columns=["subj", "pred", "obj"])


def load_turtle(spark, path: str, typed: bool = False):
    """One .ttl file -> Spark triples DataFrame[subj, pred, obj].
    Catalog files are metadata-scale, so the parse runs on the driver;
    the DataFrame then feeds bgp()/sparql() like any triple source.

    typed=True appends the obj_dt/obj_num shadow columns from the
    parser's typed-literal capture (same contract as
    sources/ntriples.py from_ntriples(typed=True)): obj_dt = datatype
    short tag for lexicals seen under ^^, obj_num = double value for
    numeric xsd datatypes (try_cast).  The map is literal-lexical-
    scale, attached via a broadcast left join — never a driver loop
    over data rows."""
    from pyspark.sql import functions as F

    with open(path, encoding="utf-8") as f:
        p = _Parser(_tokenize(f.read()))
        trips = p.statements()
        if p.annotations:
            raise ValueError(
                "document uses RDF-star annotations; parse with "
                "parse_turtle_star to receive them")
    df = spark.createDataFrame(
        trips, "subj string, pred string, obj string")
    if not typed:
        return df
    from .ntriples import _NUMERIC_XSD

    dt_map = spark.createDataFrame(
        list(p.typed_lits.items()) or [(None, None)],
        "obj string, obj_dt string",
    ).where(F.col("obj").isNotNull())
    out = df.join(F.broadcast(dt_map), "obj", "left")
    return out.select(
        "subj", "pred", "obj", "obj_dt",
        F.when(
            F.col("obj_dt").isin(_NUMERIC_XSD),
            F.col("obj").try_cast("double"),
        ).otherwise(F.lit(None).cast("double")).alias("obj_num"),
    )


_ANN_COLS = ["subj", "pred", "obj", "a_pred", "a_obj"]


def to_turtle_star(triples: pd.DataFrame,
                   annotations: pd.DataFrame) -> str:
    """(triples, wide annotations) -> deterministic Turtle-star text:
    the sorted asserted statements first (same form as to_turtle), then
    one sorted `<< s p o >> a_pred a_obj .` statement per annotation
    row.  The subject-position form is the canonical emission — it is
    assertion-neutral, so annotations on unasserted triples serialize
    identically to annotations on asserted ones (the asserted set is
    carried by the plain statements)."""
    out = to_turtle(triples)
    rows = annotations[_ANN_COLS].drop_duplicates().sort_values(_ANN_COLS)
    lines = [
        f"<< {_term(s)} <{p}> {_term(o)} >> <{ap}> {_term(ao)} ."
        for s, p, o, ap, ao in rows.itertuples(index=False)
    ]
    return out + ("\n".join(lines) + "\n" if lines else "")


def from_turtle_star(text: str) -> tuple[pd.DataFrame, pd.DataFrame]:
    """Parse Turtle-star text -> (triples frame, wide annotations
    frame(subj, pred, obj, a_pred, a_obj))."""
    trips, anns, _ = parse_turtle_star(text)
    return (
        pd.DataFrame(trips, columns=["subj", "pred", "obj"]),
        pd.DataFrame(anns, columns=_ANN_COLS),
    )


def load_turtle_star(spark, path: str):
    """One .ttl (Turtle-star) file -> (triples DF, annotations DF).
    Driver-parsed like load_turtle (catalog-scale input); the wide
    annotation frame feeds operators/star.py reify/unreify and the
    confidence surfaces directly — no string-encoded quoted terms."""
    with open(path, encoding="utf-8") as f:
        trips, anns, _ = parse_turtle_star(f.read())
    t = spark.createDataFrame(
        trips, "subj string, pred string, obj string")
    a = spark.createDataFrame(
        anns, "subj string, pred string, obj string, "
              "a_pred string, a_obj string")
    return t, a


def save_turtle_star(triples, annotations, path: str,
                     mode: str = "overwrite") -> None:
    """DISTRIBUTED Turtle-star sink: the asserted triples as plain
    statements plus one single-line `<< s p o >> a_pred a_obj .` per
    annotation row, unioned into one text write.  Same native-only
    formatting and control-character rejection as save_turtle (both
    frames are checked); load back with load_turtle_star on a
    concatenation or any shard."""
    from pyspark.sql import functions as F

    _sink_assert_writable(triples, ["subj", "obj"], ["pred"], "triples")
    _sink_assert_writable(
        annotations, ["subj", "obj", "a_obj"], ["pred", "a_pred"],
        "annotations",
    )
    plain = triples.select(
        F.concat(
            _sink_term(F.col("subj")), F.lit(" "),
            F.lit("<"), F.col("pred"), F.lit("> "),
            _sink_term(F.col("obj")), F.lit(" ."),
        ).alias("value")
    )
    starred = annotations.select(
        F.concat(
            F.lit("<< "), _sink_term(F.col("subj")), F.lit(" "),
            F.lit("<"), F.col("pred"), F.lit("> "),
            _sink_term(F.col("obj")), F.lit(" >> "),
            F.lit("<"), F.col("a_pred"), F.lit("> "),
            _sink_term(F.col("a_obj")), F.lit(" ."),
        ).alias("value")
    )
    plain.unionByName(starred).write.mode(mode).text(path)


def load_turtle_star_dir(spark, path: str):
    """Read a save_turtle_star output directory back DISTRIBUTED:
    star lines split into the wide annotation frame, plain lines into
    the triple frame, all with native regexps (the sink's own framing:
    one statement per line, the escape subset of save_turtle)."""
    from pyspark.sql import functions as F

    lines = spark.read.text(path).where(F.length("value") > 0)
    star = lines.where(F.col("value").startswith("<< "))
    plain = lines.where(~F.col("value").startswith("<< "))

    t = r'(<[^>]*>|"(?:[^"\\]|\\.)*")'
    star_re = f"^<< {t} {t} {t} >> {t} {t} \\.$"
    plain_re = f"^{t} {t} {t} \\.$"

    def decode(col):
        uri = F.regexp_extract(col, "^<(.*)>$", 1)
        lit = _sink_unescape(F.regexp_extract(col, '^"(.*)"$', 1))
        return F.when(col.startswith("<"), uri).otherwise(lit)

    def extract(df, regex, names):
        # a line the statement regex cannot frame yields '' for EVERY
        # group — drop it (load_turtle_dir's contract: non-statement
        # text in the directory is skipped, never returned as a corrupt
        # all-empty row).  The raw pred group is '' exactly when the
        # whole match failed (preds are never empty-string terms).
        df = df.where(
            F.length(F.regexp_extract("value", regex, names.index("pred") + 1))
            > 0
        )
        for i, n in enumerate(names):
            df = df.withColumn(n, decode(F.regexp_extract("value", regex,
                                                          i + 1)))
        return df.drop("value")

    return (
        extract(plain, plain_re, ["subj", "pred", "obj"]),
        extract(star, star_re, _ANN_COLS),
    )


# ---------------------------------------------------------------------------
# shared native-expression helpers for the DISTRIBUTED sinks/loaders
# (save_turtle / save_trig / save_turtle_star and the *_dir readers) —
# ONE copy, so an escaping fix can never silently diverge between them
# ---------------------------------------------------------------------------

# control characters outside the sinks' escape subset: they would break
# the one-statement-per-line framing, so rows carrying one are rejected
# loudly at write time (java regex spelling)
_SINK_BAD_RE = ("[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F"
                "\\x{0085}\\x{2028}\\x{2029}]")

# java-regex spelling of _URI_SHAPE (the driver-side _term uses the
# python spelling; both exclude <>"{}|^`\ so a <...>-framed term is
# always re-parseable)
_SINK_URI_RE = r'^[A-Za-z][A-Za-z0-9_-]*:[^\s<>"{}|^`\\]+$'

# predicates are ALWAYS <>-framed (they may be colon-less barewords
# like hasTurn/partOf — the engine's structural vocabulary), so the
# constraint is only what the framing itself needs: no whitespace and
# none of the IRI-breaking charset
_SINK_PRED_RE = r'^[^\s<>"{}|^`\\]+$'


def _sink_term(col):
    """Native term formatter: URI-shaped values -> <uri>, everything
    else -> escaped "literal" (backslash, quote, \\n \\r \\t)."""
    from pyspark.sql import functions as F

    esc = F.regexp_replace(col, r"\\", r"\\\\")
    esc = F.regexp_replace(esc, '"', '\\\\"')
    esc = F.regexp_replace(esc, "\n", r"\\n")
    esc = F.regexp_replace(esc, "\r", r"\\r")
    esc = F.regexp_replace(esc, "\t", r"\\t")
    return F.when(
        col.rlike(_SINK_URI_RE), F.concat(F.lit("<"), col, F.lit(">"))
    ).otherwise(F.concat(F.lit('"'), esc, F.lit('"')))


def _sink_assert_writable(df, cols, pred_cols, what: str) -> None:
    """Loud write-time gate: no control characters anywhere, and
    PREDICATE columns (always <>-framed, never literal-escaped) must be
    URI-shaped — a pred containing '>' or whitespace would corrupt the
    line framing silently."""
    from pyspark.sql import functions as F

    bad = None
    for c in list(cols) + list(pred_cols):
        hit = F.col(c).rlike(_SINK_BAD_RE)
        bad = hit if bad is None else (bad | hit)
    for c in pred_cols:
        bad = bad | ~F.col(c).rlike(_SINK_PRED_RE)
    if df.where(bad).limit(1).count():
        raise ValueError(
            f"{what} contain control characters outside the sink's "
            "escape subset or non-URI-shaped predicates — refusing to "
            "write a corrupt catalog")


def _sink_unescape(col):
    """Literal unescape, single-pass-equivalent: protect escaped
    backslashes into a \\x00 sentinel FIRST (`\\\\n` is a literal
    backslash + n, not a newline), decode the simple escapes, restore.
    \\x00 cannot occur in data — the sinks reject control chars."""
    from pyspark.sql import functions as F

    esc = F.regexp_replace(col, r"\\\\", "\x00")
    esc = F.regexp_replace(esc, r"\\t", "\t")
    esc = F.regexp_replace(esc, r"\\r", "\r")
    esc = F.regexp_replace(esc, r"\\n", "\n")
    esc = F.regexp_replace(esc, r'\\"', '"')
    return F.regexp_replace(esc, "\x00", r"\\")


def save_turtle(triples, path: str, mode: str = "overwrite") -> None:
    """DISTRIBUTED Turtle sink: write a triples DataFrame as .ttl text —
    the reference's Graph.serialize(format='turtle') recast as a
    partitioned text write (one N-Triples-ish statement per line, the
    same subset to_turtle emits and parse_turtle round-trips).

    Formatting is pure native column expressions (regexp_replace /
    concat / when) — zero Python in the row path, so the sink scales
    like any other projection+write.  Escapes cover backslash, quote,
    and \\n \\r \\t; any OTHER control character (C0, DEL, NEL, line/para
    separators) would silently break the one-statement-per-line framing,
    so rows containing one are REJECTED LOUDLY up front (counted with a
    cheap limit(1) probe) rather than written corrupt.

    Output is `part-*.txt` shards under `path` (plus _SUCCESS) — the
    distributed analogue of one .ttl file; load back with
    load_turtle_dir or any Turtle parser, order-insensitively (an RDF
    graph is a set of statements)."""
    from pyspark.sql import functions as F

    _sink_assert_writable(triples, ["subj", "obj"], ["pred"], "triples")
    lines = triples.select(
        F.concat(
            _sink_term(F.col("subj")), F.lit(" "),
            F.lit("<"), F.col("pred"), F.lit("> "),
            _sink_term(F.col("obj")), F.lit(" ."),
        ).alias("value")
    )
    lines.write.mode(mode).text(path)


def _read_header_directives(path: str) -> str:
    """Stream the file HEAD only: collect leading @prefix/@base /
    PREFIX/BASE directive lines (plus blanks/comments) until the first
    statement line.  Never reads the body — a 50 GB file costs a few KB
    here."""
    out: list[str] = []
    with open(path, encoding="utf-8") as f:
        for line in f:
            s = line.strip()
            if (s == "" or s.startswith("#")
                    or re.match(r"(?i)^(@prefix|@base|prefix|base)\b", s)):
                out.append(line)
                continue
            break
    return "".join(out)


def load_turtle_bulk(spark, path: str):
    """ONE large general-subset .ttl file -> distributed triples
    DataFrame[subj, pred, obj] (VERDICT r04 §What's missing 4: the
    statement-boundary-aware splitter — `load_turtle` parses on the
    driver, `load_turtle_dir` only reads the sink's single-line shard
    grammar; a user handed a single 50 GB Turtle dump previously had to
    convert to N-Triples first).

    Plan shape (one scan, no driver data path):
      1. driver streams the file HEAD for @prefix/@base directives;
      2. distributed per-line statement-terminator tagging with native
         regex (strip literals -> IRIs -> comments, then `.`-at-EOL);
      3. statement ids by DISTRIBUTED PREFIX SUM: per-split terminator
         counts (splits-scale collect) -> broadcast offsets -> per-split
         window — the ordering.py discipline, never a one-task window;
      4. one shuffle groups lines into statements (multi-line `;`/`,`
         continuations and statements spanning split boundaries both
         land correctly via the global ids);
      5. each statement parses through the EXACT driver grammar
         (_Parser) in an Arrow-batched pandas UDF, header prepended,
         fresh-bnode labels salted with the statement id.

    Subset (all violations LOUD, never silent): directives must sit in
    the header (a mid-document directive binds prefixes or a base the
    other statements' parsers would not see — a new name, a re-bound
    name or a moved @base is detected per statement and rejected);
    literals must not span lines (unbalanced quote check; triple-quoted
    long literals are outside the tokenizer's grammar anyway); RDF-star
    annotations use parse_turtle_star."""
    from pyspark.sql import functions as F

    header = _read_header_directives(path)
    hp = _Parser(_tokenize(header))
    hp.statements()
    header_prefixes, header_base = dict(hp.prefixes), hp.base

    lines = spark.read.text(path).select(
        F.col("value").alias("line"),
        F.spark_partition_id().alias("pid"),
        F.monotonically_increasing_id().alias("idx"),
    )
    # terminator tagging on a residue with literals, IRIs, then
    # comments removed (in that order, so a '#' or '.' inside a quoted
    # literal or bracketed IRI can never confuse the line grammar)
    no_lit = F.regexp_replace("line", r'"(?:[^"\\]|\\.)*"', '""')
    no_iri = F.regexp_replace(no_lit, r"<[^<>]*>", "<>")
    residue = F.regexp_replace(no_iri, r"#.*$", "")
    tagged = lines.select(
        "line", "pid", "idx",
        F.rtrim(residue).endswith(".").alias("is_term"),
        (
            (F.length(F.regexp_replace(residue, r'[^"]', "")) % 2 != 0)
            | residue.contains('"""')
        ).alias("bad_quote"),
        (F.trim("line") == "").alias("blank"),
    ).localCheckpoint()  # ids/pids must not be recomputed differently

    bad = tagged.where("bad_quote").select("line").limit(5).collect()
    if bad:
        raise ValueError(
            "multi-line or long (triple-quoted) literals are outside "
            f"the bulk-Turtle subset: {bad[0]['line']!r} (use the "
            "driver-side load_turtle, or N-Triples)")

    # distributed prefix sum over splits: split order IS file order for
    # a text scan (monotonically_increasing_id embeds it), so the
    # per-split terminator totals (splits-scale, driver dict) turn the
    # per-split running counts into GLOBAL statement ids
    per_pid = (
        tagged.groupBy("pid")
        .agg(F.sum(F.col("is_term").cast("long")).alias("n_term"))
        .collect()
    )
    offsets, acc = {}, 0
    for r in sorted(per_pid, key=lambda r: r["pid"]):
        offsets[r["pid"]] = acc
        acc += r["n_term"]
    off_map = F.create_map(
        *[F.lit(x) for kv in offsets.items() for x in kv]
    )
    from pyspark.sql.window import Window as W

    running = F.sum(F.col("is_term").cast("long")).over(
        W.partitionBy("pid").orderBy("idx")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    stmts = (
        tagged.where(~F.col("blank"))
        .withColumn(
            "stmt_id", off_map[F.col("pid")] + F.coalesce(running, F.lit(0))
        )
        .groupBy("stmt_id")
        .agg(
            F.concat_ws(
                "\n",
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("idx", "line"))
                    ),
                    lambda s: s["line"],
                ),
            ).alias("stmt"),
        )
    )

    import pandas as pd  # noqa: F811 — module-level import shadows fine

    @F.pandas_udf("array<struct<subj:string,pred:string,obj:string>>")
    def parse_stmts(stmt_ids: pd.Series, texts: pd.Series) -> pd.Series:
        out = []
        for sid, txt in zip(stmt_ids, texts):
            p = _Parser(
                _tokenize(header + txt), bnode_ns=f"{sid}-"
            )
            trips = p.statements()
            if p.annotations:
                raise ValueError(
                    "RDF-star annotations are outside the bulk subset; "
                    "use parse_turtle_star")
            # compare bindings, not names: a body directive that
            # re-binds a header prefix or moves @base would resolve
            # this statement differently from the ones after it
            moved = sorted(
                k for k in p.prefixes.keys() | header_prefixes.keys()
                if p.prefixes.get(k) != header_prefixes.get(k))
            if p.base != header_base:
                moved.append("@base")
            if moved:
                raise ValueError(
                    f"mid-document @prefix/@base {moved} is outside "
                    "the bulk-Turtle subset (statements parse "
                    "independently, so a body directive would bind "
                    "names other statements never see) — declare "
                    "all prefixes and the base in the file header")
            out.append(trips)
        return pd.Series(out)

    parsed = stmts.select(
        F.explode(parse_stmts(F.col("stmt_id"), F.col("stmt"))).alias("t")
    )
    return parsed.select("t.subj", "t.pred", "t.obj")


def load_turtle_dir(spark, path: str):
    """Read a save_turtle output directory (or any directory of .ttl
    text shards) back into a triples DataFrame.  Each shard parses
    independently (the sink emits self-contained single-line
    statements), so the parse runs DISTRIBUTED via mapPartitions-style
    text scan + per-line regex — but here driver-side parsing is
    unnecessary: the line grammar is regular, so three native
    regexp_extracts recover the terms and one more pass unescapes
    literals.  Zero Python in the row path, same as the sink."""
    from pyspark.sql import functions as F

    raw = spark.read.text(path)
    line = (
        r'^(?:<([^>]*)>|"((?:[^"\\]|\\.)*)")\s+<([^>]*)>\s+'
        r'(?:<([^>]*)>|"((?:[^"\\]|\\.)*)")\s*\.$'
    )

    unescape = _sink_unescape

    parsed = raw.select(
        *[F.regexp_extract("value", line, i).alias(f"g{i}")
          for i in range(1, 6)],
        F.col("value"),
    )
    ok = parsed.where(F.length(F.col("g3")) > 0)
    return ok.select(
        F.when(F.length("g1") > 0, F.col("g1"))
        .otherwise(unescape(F.col("g2"))).alias("subj"),
        F.col("g3").alias("pred"),
        F.when(F.length("g4") > 0, F.col("g4"))
        .otherwise(unescape(F.col("g5"))).alias("obj"),
    )


# predicates whose object points at another catalog file (SURVEY S1:
# "parse .ttl files ... following catalog links"; dcat:catalog /
# rdfs:seeAlso are the link predicates rdflib catalogs actually use).
# Matching is by verbatim pred OR by its local name (text after the
# last '#' or '/'), so both prefixed and expanded spellings link.
LINK_PREDS = ("rdfs:seeAlso", "dcat:catalog", "dcat:dataset")


def _localname(pred: str) -> str:
    return re.split(r"[#/]", pred)[-1].split(":")[-1]


def _is_link_pred(pred: str, link_preds) -> bool:
    locals_ = {_localname(p) for p in link_preds}
    return pred in link_preds or _localname(pred) in locals_


def load_catalog(
    spark, entry_path: str, follow_links: bool = True,
    link_preds=LINK_PREDS, max_files: int = 10_000,
    named_graphs: bool = False,
):
    """Entry .ttl plus (optionally) every catalog it links to, unioned
    into ONE triples DataFrame — the reference's multi-catalog Graph
    build (SURVEY §3.1 step 2) as a breadth-first file walk.

    Link objects ending in '.ttl' are resolved relative to the LINKING
    file's directory ('file://' prefix stripped); http(s) targets and
    missing files are skipped (recorded in the returned frame is only
    what parsed).  Each file is visited ONCE (cycle-safe visited set);
    `max_files` bounds a pathological link mesh.

    `named_graphs=True` returns QUADS: each triple carries the file it
    was parsed from as its named graph (`graph` = file://<abspath>) —
    the SPARQL-dataset view of a catalog mesh, so `GRAPH ?g { ... }`
    answers provenance ("which linked catalog asserted this") and a
    constant `GRAPH <file://...>` confines a query to one source file."""
    frames = []
    seen: set[str] = set()
    queue = [os.path.abspath(entry_path)]
    while queue:
        path = queue.pop(0)
        if path in seen:
            continue
        seen.add(path)
        if len(seen) > max_files:
            raise ValueError(f"catalog link mesh exceeds {max_files} files")
        with open(path, encoding="utf-8") as f:
            text = f.read()
        if path.endswith(".trig"):
            # a TriG catalog carries its own named graphs; with
            # named_graphs=False they flatten into the union (the RDF
            # merge), with True they override the per-file attribution
            qds, _ = parse_trig(text)
            trips = [(s, p, o) for s, p, o, _g in qds]
            frames.append((path, trips, qds))
        else:
            trips, _ = parse_turtle(text)
            frames.append((path, trips, None))
        if not follow_links:
            break
        for s, p, o in trips:
            if not _is_link_pred(p, link_preds):
                continue
            tgt = o
            if tgt.startswith("file://"):
                tgt = tgt[len("file://"):]
            if tgt.startswith(("http://", "https://")):
                continue  # remote catalogs are outside the sandbox
            if not tgt.endswith((".ttl", ".trig")):
                continue
            cand = tgt if os.path.isabs(tgt) else os.path.join(
                os.path.dirname(path), tgt)
            cand = os.path.abspath(cand)
            if os.path.exists(cand) and cand not in seen:
                queue.append(cand)
    if named_graphs:
        rows = []
        for path, ts, qds in frames:
            if qds is not None:
                # TriG: keep the document's own graphs; default-graph
                # statements attribute to the file like .ttl ones
                rows.extend((s, p, o, g if g is not None else
                             f"file://{path}") for s, p, o, g in qds)
            else:
                rows.extend((s, p, o, f"file://{path}") for s, p, o in ts)
        return spark.createDataFrame(
            rows, "subj string, pred string, obj string, graph string"
        ).distinct()
    rows = [t for _, ts, _qds in frames for t in ts]
    return spark.createDataFrame(
        rows, "subj string, pred string, obj string"
    ).distinct()
