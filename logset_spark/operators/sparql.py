"""SPARQL basic-graph-pattern compiler over the triples DataFrame.

LogSet's query surface is rdflib SPARQL: a user writes triple patterns
with shared variables and rdflib answers them by in-memory index lookups,
row at a time (SURVEY §1.3 / §3).  At 10^12 triples the same query is a
chain of filtered scans + equi-joins — exactly what Catalyst optimizes —
so this module compiles a SPARQL subset to a DataFrame plan instead of
interpreting patterns per row:

* each triple pattern becomes ONE filtered scan of the triples table
  (constants in s/p/o positions are pushed-down parquet filters; the
  `pred` filter prunes row groups via column stats, and on a
  pred-bucketed layout prunes whole files);
* shared variables between patterns become equi-join keys (Catalyst
  picks broadcast vs shuffle per side size; AQE re-plans at runtime);
* FILTER clauses become post-join `where` expressions on bound columns
  (pushed further down by Catalyst when they touch one pattern only);
* OPTIONAL groups become left outer joins on the shared variables —
  the standard SPARQL-algebra LeftJoin lowering.

Pattern-order heuristic: patterns are greedily ordered most-constants
first among those sharing a variable with the already-bound set, so the
plan grows connected (no accidental cartesian) and starts from the most
selective scan.  Catalyst cannot reorder inner joins across the Python
DSL, so this one ordering decision lives here; everything downstream
(join strategy, filter pushdown, codegen) is the optimizer's.

Grammar (documented subset — one line per clause, '.'-separated
patterns):

    SELECT [DISTINCT] ?v1 ?v2 | *
           [ FROM term ]* [ FROM NAMED term ]*
             -- SPARQL 1.1 dataset clause (also after ASK/CONSTRUCT
             -- heads): needs a quads frame; the default graph becomes
             -- the MERGE of the FROM graphs (replacing the no-clause
             -- convention below of matching ALL quads) and GRAPH
             -- patterns range over the FROM NAMED graphs only —
             -- lowered as a frame rewrite + pattern pinning, so the
             -- restriction reaches the scans as pushed-down equalities
           | ?g1 ... (AGG(?v) AS ?name) ...   -- SPARQL 1.1 aggregates:
             COUNT/MIN/MAX/SUM/AVG/GROUP_CONCAT/SAMPLE over a var, or
             COUNT(*); GROUP_CONCAT sorts values then joins with ';'
             (deterministic — SPARQL leaves the order open); SAMPLE
             picks MIN (deterministic — SPARQL leaves the pick open);
             plain ?vars in the list become the GROUP BY keys (groupBy
             lowering; SUM/AVG try_cast the string object to double)
           | ?v1 ... (expr AS ?name) ...     -- projection expressions
             (ungrouped queries): expr uses the same depth-2 grammar as
             FILTER/BIND (string kit, IF/COALESCE, comparisons) and is
             lowered onto the BIND machinery after body BINDs, so the
             alias is referenceable from ORDER BY
    WHERE { pattern ( . pattern )*
            ( . FILTER(expr) )*
            ( . FILTER [NOT] EXISTS { patterns [. FILTER(expr)]* } )*
            ( . MINUS { patterns [. FILTER(expr)]* } )*
            -- group FILTERs are GROUP-SCOPED (applied inside the
            -- semi/anti-join side); a filter referencing a var the
            -- group does not bind (correlated) is rejected loudly
            ( . GRAPH (?g | <iri> | pname) { pattern ( . pattern )*
                                             [. FILTER(expr)]* } )*
            -- GRAPH lowers the group's patterns to QUADS over a frame
            -- with a `graph` column: constant graph = pushed-down
            -- (partition-prunable) equality, ?g binds like any var;
            -- non-GRAPH patterns match ALL quads (union default graph)
            ( . BIND(expr AS ?v) )*
            ( . VALUES ?v { term ... } )*
            ( . VALUES (?v1 ?v2 ...) { (term ...) ... } )*
            -- a VALUES cell may be UNDEF (keyword, case-insensitive):
            -- a wildcard that matches any binding of that var in that
            -- row (compatible-solutions join; quoted 'UNDEF' stays a
            -- plain string term)
            ( . OPTIONAL { pattern ( . pattern )* [. FILTER(expr)]* } )*
            ( . { SELECT ... WHERE { patterns ... } ... } )* }
    WHERE { { patterns [. FILTER(expr)]* } UNION { ... } ( UNION {...} )* }
    [ GROUP BY ?v ... ]   -- explicit keys, may be a superset of the
                          -- projected vars; omitted = implicit grouping
                          -- by the plain SELECT vars
    [ HAVING(expr over agg aliases) ]
    [ ORDER BY (?v [DESC] | DESC(?v) | ASC(?v)
                | (?v) | STR(?v) | DESC/ASC((?v)) | DESC/ASC(STR(?v))
                | (expr) | DESC/ASC((expr))) ... ]
      -- the single-var bracketed forms are IDENTITY under the untyped
      -- string term model; a general parenthesized (expr) compiles
      -- through the same depth-2 FILTER/BIND grammar (SPARQL's own
      -- grammar requires non-var order conditions to be bracketted);
      -- bare un-parenthesized expressions reject loudly
    [ LIMIT n ] [ OFFSET m ]

    Subqueries ({ SELECT ... }, one nesting level): the inner query —
    a plain BGP body plus FILTER/aggregates/DISTINCT/ORDER/LIMIT — is
    compiled to its own plan and inner-joined into the enclosing group
    on the variables its SELECT list shares with it (crossJoin if
    none); joined before OPTIONAL/BIND/FILTER so those can reference
    subquery vars.  The canonical use is an aggregate-per-group
    restriction (tools used >= N times, latest turn per conv).

    Other query forms: ASK { body } (one boolean row);
    CONSTRUCT { template patterns } WHERE { body } (solutions
    instantiate the template into distinct (subj, pred, obj) rows —
    the reference's graph-building shape); CONSTRUCT WHERE { body }
    (shorthand: the template IS the body, which must be a plain BGP).

    pattern := term term term        term := ?var | bareword | 'literal'
                                           | [ pred obj (; pred obj)* ]
    An anonymous blank node [ ... ] in the MAIN body is sugar for a
    fresh ?_bn<n> variable plus the bracketed patterns (one nesting
    level per bracket pair, innermost first); inside
    OPTIONAL/UNION/EXISTS groups it stays outside the subset.
    A constant predicate may be a PROPERTY PATH expression:
        path    := seq ( '|' seq )*     -- alternation: union of edge sets
        seq     := unary ( '/' unary )* -- sequence: edge-set composition
        unary   := ['^'] primary ['+'|'*'|'?'|'{n}'|'{n,m}'|'{n,}']
        primary := pred | '(' path ')'  -- parentheses group, so every
                                        operator applies to composite
                                        edge sets too: (p1|p2)+, ^(p/q)
        -- ^: inverse (swapped endpoints); +: one-or-more (distributed
        transitive closure); *: zero-or-more (closure plus the identity
        pair for every term in the graph); ?: zero-or-one (edges plus
        the identity pairs)
    Path expressions evaluate to DISTINCT endpoint pairs (set
    semantics).
    A constant predicate may also be a NEGATED PROPERTY SET
    `!p` / `!(p1|p2|...)`: one scan keeping triples whose predicate is
    NOT any member (still a pushed-down filter; forward members only —
    `a` means rdf:type; `^p` members are outside the subset).
    expr    := ?var (=|!=|<|<=|>|>=) value, regex(?var, 'pat'),
               bound(?var), ?var [NOT] IN (v1, v2, ...), combined with
               && / || / !; plus the string
               kit STRLEN/LCASE/UCASE/STRSTARTS/STRENDS/CONTAINS/
               SUBSTR/REPLACE/STR/CONCAT, STRBEFORE/STRAFTER (plain-
               term args; '' when the separator is absent or empty —
               the separator-absent case per spec) and the conditionals
               IF(c, t, f) / COALESCE(x, ...) (lowered to the Spark SQL
               equivalents) — usable in FILTER and BIND bodies alike

Terms are plain strings (URIs in this engine are prefixed strings like
`conv:123`, SURVEY §1.3); no datatype tower — the triples table is
(subj, pred, obj) strings, so comparisons are string comparisons, which
matches how the structural triples encode values.

Quoted literals are TOKENIZED OUT before any clause splitting or
operator rewriting (placeholder substitution, restored at the leaves),
so literals containing '.', '&&', '||', '!', '{', or '(' are inert text
— the ADVICE-r02 class of silent misinterpretation cannot occur.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_POS = ("subj", "pred", "obj")

# expression-body matcher fragment allowing parentheses nested TWO deep
# (enough for IF(COALESCE(?x, 'd') = 'v', 'a', 'b') — the documented
# conditional kit; deeper nesting fails loudly as an unparsed clause)
_NEST2 = r"(?:[^()]|\((?:[^()]|\([^()]*\))*\))"


def _is_var(t: str) -> bool:
    return t.startswith("?")


def _const_term(t: str) -> str:
    """A constant term written <iri> denotes the raw IRI string (the
    angle brackets are syntax, not value) — and is never a property
    path, however many '/'s the IRI contains.  Well-known rdf/rdfs/owl
    IRIs fold to their canonical short spelling, matching what every
    parser/loader emits for the data side (turtle._canon_term) — so a
    query written with declared `PREFIX owl:` matches a graph loaded
    from a declared-prefix catalog."""
    if len(t) > 2 and t.startswith("<") and t.endswith(">"):
        iri = t[1:-1]
        from .rdflist import WELL_KNOWN_NS

        for short, full in WELL_KNOWN_NS.items():
            if iri.startswith(full):
                return short + iri[len(full):]
        return iri
    return t


@dataclass
class AggItem:
    func: str  # COUNT/MIN/MAX/SUM/AVG/GROUP_CONCAT
    var: str | None  # None = COUNT(*)
    alias: str
    distinct: bool = False  # COUNT(DISTINCT ?v) etc.
    sep: str = ";"  # GROUP_CONCAT(...; SEPARATOR='...') override


@dataclass
class ParsedQuery:
    select: list[str]  # var names without '?'; empty = all in-order
    aggs: list["AggItem"]  # SPARQL 1.1 aggregate items; select = group keys
    distinct: bool
    patterns: list[tuple[str, str, str]]
    filters: list[str]  # raw FILTER bodies (still with ?vars)
    # OPTIONAL groups: (patterns, filters) tuples — the filter applies
    # INSIDE the group before the left join (SPARQL LeftJoin scoping)
    optionals: list = field(default_factory=list)
    # (key, desc): key is a plain var name, or a parenthesized raw
    # SPARQL expression (leading '(' disambiguates — var names are \w+)
    # compiled through the same depth-2 grammar as FILTER/BIND
    order_by: list[tuple[str, bool]] = field(default_factory=list)
    limit: int | None = None
    offset: int | None = None
    # HAVING(expr) over aggregate aliases (aggregate queries only)
    having: str | None = None
    # explicit GROUP BY keys (SPARQL 1.1); None = implicit grouping by
    # the plain SELECT vars.  May be a superset of the SELECT vars.
    group_by: list[str] | None = None
    # WHERE { {A} UNION {B} ... }: (patterns, filters) arms (patterns is
    # then empty); arms may carry FILTER but not nested OPTIONAL/UNION
    unions: list[tuple[list[tuple[str, str, str]], list[str]]] = field(
        default_factory=list)
    # CONSTRUCT { template } WHERE {...}: template triple patterns whose
    # variables are substituted from each solution (None = SELECT query)
    construct: list[tuple[str, str, str]] | None = None
    # ASK { ... }: one boolean row — does any solution exist?
    ask: bool = False
    # DESCRIBE <uri>: every triple with the resource as subject or object
    describe: str | None = None
    # BIND(expr AS ?v): (raw expr with ?vars, var name) in clause order
    binds: list[tuple[str, str]] = field(default_factory=list)
    # SELECT (expr AS ?v) projection expressions, same tuple shape as
    # binds; lowered onto the BIND machinery after body binds (so they
    # may reference BIND vars), ungrouped queries only
    select_exprs: list[tuple[str, str]] = field(default_factory=list)
    # VALUES: (var names, rows of term values) inline-data blocks
    values: list[tuple[list[str], list[tuple[str, ...]]]] = field(
        default_factory=list)
    # FILTER NOT EXISTS { patterns [. FILTER]* } groups: (patterns,
    # group-scoped filter bodies) — anti-join lowering
    not_exists: list[tuple[list[tuple[str, str, str]], list[str]]] = field(
        default_factory=list)
    # FILTER EXISTS groups, same shape (semi-join lowering)
    exists: list[tuple[list[tuple[str, str, str]], list[str]]] = field(
        default_factory=list)
    # MINUS groups, same shape (anti-join on shared vars; no-op if none)
    minus: list[tuple[list[tuple[str, str, str]], list[str]]] = field(
        default_factory=list)
    # { SELECT ... } subqueries (one nesting level): each is evaluated
    # independently and joined into the outer group on shared vars
    subqueries: list["ParsedQuery"] = field(default_factory=list)
    # FROM / FROM NAMED dataset clause (term form until prefix
    # expansion; _const_term'd by parse_sparql before returning)
    from_graphs: list[str] = field(default_factory=list)
    from_named: list[str] = field(default_factory=list)
    # SERVICE [SILENT] <endpoint> { patterns [FILTER]* } federation
    # groups: (endpoint term, silent, patterns, group filters).  Each
    # evaluates as its own BGP over the frame registered for the
    # endpoint and joins the outer group on shared vars; SILENT turns an
    # unregistered endpoint into a neutral (empty) contribution instead
    # of an error (SPARQL 1.1 federated-query semantics)
    services: list[tuple[str, bool, list, list]] = field(
        default_factory=list)


# quoted literals are replaced by \x00<n>\x00 placeholders before ANY
# structural parsing, so '.', '&&', '{', '(' etc. inside a literal are
# inert; the placeholder alphabet cannot collide with query text because
# \x00 is not valid in the subset
_PLACEHOLDER_RE = re.compile(r"\x00(\d+)\x00")

# VALUES UNDEF sentinel: detected on the RAW token stream (before
# placeholder restore, so a quoted 'UNDEF' literal can never alias the
# keyword) and carried through prefix expansion untouched — the \x00
# alphabet cannot collide with any restorable term.
_UNDEF = "\x00undef\x00"


def _protect_literals(s: str) -> tuple[str, list[tuple[str, bool]]]:
    """Replace 'quoted literals' AND <iri> tokens (IRIs contain '.',
    '/', '|' — every structural character the parser splits on) with
    placeholders.  Entries are (inner_text, is_iri).  The <...> match
    requires a whitespace-free span, so comparison operators like
    `?x <= 5 && ?y > 2` can never be swallowed."""
    lits: list[tuple[str, bool]] = []

    def repl(m: re.Match) -> str:
        if m.group(1) is not None:
            lits.append((m.group(1), False))
        else:
            lits.append((m.group(2)[1:-1], True))
        return f"\x00{len(lits) - 1}\x00"

    return re.sub(r"'([^']*)'|(<[^<>\s]*>)", repl, s), lits


def _restore_quoted(s: str, lits) -> str:
    """Placeholders back to their original 'quoted' / <bracketed>
    spelling."""
    return _PLACEHOLDER_RE.sub(
        lambda m: (lambda t, iri: f"<{t}>" if iri else f"'{t}'")(
            *lits[int(m.group(1))]),
        s,
    )


def _restore_content(s: str, lits) -> str:
    """Placeholders back to the TERM form: literal content for quoted
    strings (the value a literal denotes), `<iri>` kept bracketed so
    downstream lowering can distinguish IRI constants (_const_term)."""
    return _PLACEHOLDER_RE.sub(
        lambda m: (lambda t, iri: f"<{t}>" if iri else t)(
            *lits[int(m.group(1))]),
        s,
    )


def _tokenize_terms(s: str, lits: list[str] = ()) -> list[str]:
    """Split pattern text on whitespace, keeping 'quoted literals' (which
    may have been protected into placeholders upstream) as single terms."""
    out = []
    for m in re.finditer(r"'([^']*)'|\S+", s):
        tok = m.group(1) if m.group(1) is not None else m.group(0)
        out.append(_restore_content(tok, lits) if lits else tok)
    return out


def _strip_comments(query: str) -> str:
    """Drop '#'-to-end-of-line comments (SPARQL 1.1 grammar) BEFORE the
    whitespace collapse erases line structure.  Quote- and IRI-aware:
    '#' inside a 'literal' or a <iri#frag> is content, not a comment —
    the scanner mirrors _protect_literals' token shapes exactly
    (single-quoted strings without escapes; whitespace-free <...>)."""
    out: list[str] = []
    i, n = 0, len(query)
    in_str = False
    while i < n:
        c = query[i]
        if in_str:
            out.append(c)
            if c == "'":
                in_str = False
            i += 1
        elif c == "'":
            in_str = True
            out.append(c)
            i += 1
        elif c == "<":
            m = re.match(r"<[^<>\s]*>", query[i:])
            if m:  # an IRI token: copy verbatim ('#' inside is a fragment)
                out.append(m.group(0))
                i += len(m.group(0))
            else:  # a comparison operator
                out.append(c)
                i += 1
        elif c == "#":
            j = query.find("\n", i)
            i = n if j < 0 else j
        else:
            out.append(c)
            i += 1
    return "".join(out)


def _split_outside_braces(seg: str) -> list[str]:
    """','-split skipping commas inside {...} (path quantifiers)."""
    parts, depth, start = [], 0, 0
    for i, ch in enumerate(seg):
        if ch == "{":
            depth += 1
        elif ch == "}":
            depth -= 1
        elif ch == "," and depth == 0:
            parts.append(seg[start:i])
            start = i + 1
    parts.append(seg[start:])
    return parts


def _check_template_preds(template) -> None:
    """A CONSTRUCT template instantiates triples — its predicates are
    TERMS (?var / constant / `a`), never property-path expressions.  A
    path here would be emitted verbatim as a garbage predicate string,
    so reject loudly (round-4 sweep finding)."""
    for _s, p, _o in template:
        if not _is_var(p) and p != "a" and _is_path(p):
            raise ValueError(
                f"property path {p!r} in a CONSTRUCT template: templates "
                "take plain predicate terms (evaluate the path in WHERE "
                "and bind it to a variable)")


def _parse_patterns(body: str, lits: list[str] = ()) -> list[tuple[str, str, str]]:
    """Triple patterns: '.'-separated statements, each optionally carrying
    ';' predicate-object lists and ',' object lists (the Turtle
    abbreviations the SPARQL grammar shares)."""
    pats = []
    for chunk in body.split("."):
        chunk = chunk.strip()
        if not chunk:
            continue
        subj = None
        for seg in chunk.split(";"):
            seg = seg.strip()
            if not seg:
                continue  # trailing ';' before '.' is legal Turtle/SPARQL
            # ','-split outside {n,m} path quantifiers (the only legal
            # braces inside a pattern segment — literals are protected)
            obj_groups = [g.strip() for g in _split_outside_braces(seg)]
            head = _tokenize_terms(obj_groups[0], lits)
            if subj is None:
                if len(head) != 3:
                    raise ValueError(f"pattern must have 3 terms: {seg!r}")
                subj, pred, obj = head
            else:
                if len(head) != 2:
                    raise ValueError(
                        "';' predicate-object list segment needs exactly "
                        f"2 terms (pred obj): {seg!r}")
                pred, obj = head
            pats.append((subj, pred, obj))
            for g in obj_groups[1:]:
                t = _tokenize_terms(g, lits)
                if len(t) != 1:
                    raise ValueError(
                        f"',' object list entry must be 1 term: {g!r}")
                pats.append((subj, pred, t[0]))
    return pats


def parse_sparql(query: str) -> ParsedQuery:
    """Parse the documented SPARQL subset.  Raises ValueError with the
    offending clause on anything outside the subset — silent
    misinterpretation of a query language is worse than rejection.
    Quoted literals are protected before any structural parsing.

    Leading `PREFIX ns: <iri>` headers (SPARQL 1.1) are honored:
    constant `ns:local` TERMS in triple patterns, VALUES blocks,
    CONSTRUCT templates, and DESCRIBE targets expand to the full IRI —
    so queries against catalogs loaded with the same prefixes read
    naturally.  (FILTER/BIND bodies take full `<iri>`s or 'literals';
    prefix expansion inside expressions is outside the subset.)  An
    unbound prefix stays verbatim — this engine's own URIs are
    prefixed strings with no prefix table."""
    q, lits = _protect_literals(" ".join(_strip_comments(query).split()))
    q, prefixes = _strip_prefix_headers(q, lits)
    q, from_graphs, from_named = _extract_dataset(q, lits)
    pq = _parse_protected(q, lits)
    pq.from_graphs = [
        _const_term(_expand_term(t, prefixes)) for t in from_graphs
    ]
    pq.from_named = [
        _const_term(_expand_term(t, prefixes)) for t in from_named
    ]
    if prefixes:
        _expand_prefixes(pq, prefixes)
    return pq


def _extract_dataset(
    q: str, lits: list
) -> tuple[str, list[str], list[str]]:
    """Strip `FROM term` / `FROM NAMED term` dataset clauses (SPARQL
    1.1 dataset specification) from the BRACE-DEPTH-0 part of the query
    — between the select head and WHERE, or after a CONSTRUCT template
    — returning them in term form.  Inside braces FROM stays inert, so
    a pattern can never be silently eaten."""
    fg: list[str] = []
    fn: list[str] = []

    def _from(mo: re.Match) -> str:
        term = _restore_content(mo.group(2), lits)
        (fn if mo.group(1) else fg).append(term)
        return " "

    def _sub(span: str) -> str:
        return re.sub(r"\bFROM\s+(NAMED\s+)?(\S+)", _from, span,
                      flags=re.IGNORECASE)

    out: list[str] = []
    depth, start = 0, 0
    for i, ch in enumerate(q):
        if ch == "{":
            if depth == 0:
                out.append(_sub(q[start:i]))
                start = i
            depth += 1
        elif ch == "}":
            depth -= 1
            if depth == 0:
                out.append(q[start:i + 1])
                start = i + 1
    out.append(_sub(q[start:]) if depth == 0 else q[start:])
    return "".join(out), fg, fn


def _expand_term(t: str, prefixes: dict[str, str]) -> str:
    """Expand one bound `ns:local` constant term to its full `<iri>`
    form; vars, full IRIs, blank nodes, and unbound prefixes pass
    through.  Path / negated-set structure is preserved (each atom
    expands independently)."""
    x = lambda u: _expand_term(u, prefixes)  # noqa: E731
    t_ = t
    if _is_var(t_) or t_.startswith(("<", "_:")):
        return t_
    if t_.startswith("!"):  # negated property set: expand each member
        inner = t_[1:]
        parens = inner.startswith("(") and inner.endswith(")")
        if parens:
            inner = inner[1:-1]
        ex = "|".join(
            x(a.strip()) if ":" in a else a.strip()
            for a in _split_outside_iris(inner, "|")
        )
        return ("!(" + ex + ")") if parens else ("!" + ex)
    if ":" in t_:
        head, local = t_.split(":", 1)
        # path operators keep their structure: expand each atom
        # token; operator tokens (incl. parentheses) pass through
        if _is_path(t_):
            return "".join(
                x(v) if kind == "atom" and ":" in v else v
                for kind, v in _path_tokens(t_)
            )
        if head in prefixes:
            # expanded IRIs contain '/' etc.: wrap in <> so the
            # lowering treats them as plain constants, never paths
            return f"<{prefixes[head]}{local}>"
    return t_


def _expand_prefixes(pq: ParsedQuery, prefixes: dict[str, str]) -> None:
    """Expand bound `ns:local` constants in every TERM position of the
    parsed query, in place."""

    def x(t: str) -> str:
        return _expand_term(t, prefixes)

    def xp(pats):
        # patterns are triples or (GRAPH-group) quads — expand every term
        return [tuple(x(t) for t in p) for p in pats]

    pq.patterns = xp(pq.patterns)
    pq.optionals = [
        (xp(g[0]), g[1]) if isinstance(g, tuple) else xp(g)
        for g in pq.optionals
    ]
    pq.unions = [(xp(arm), fl) for arm, fl in pq.unions]
    pq.not_exists = [(xp(g), fl) for g, fl in pq.not_exists]
    pq.exists = [(xp(g), fl) for g, fl in pq.exists]
    pq.minus = [(xp(g), fl) for g, fl in pq.minus]
    pq.values = [
        (vs, [tuple(x(v) for v in row) for row in rows])
        for vs, rows in pq.values
    ]
    if pq.construct is not None:
        pq.construct = xp(pq.construct)
    if pq.describe is not None:
        pq.describe = _const_term(x(pq.describe))
    pq.services = [
        (x(ep), silent, xp(pats), fl)
        for ep, silent, pats, fl in pq.services
    ]
    for sub in pq.subqueries:
        _expand_prefixes(sub, prefixes)


def _strip_prefix_headers(
    q: str, lits: list
) -> tuple[str, dict[str, str]]:
    """Strip leading `PREFIX ns: <iri>` headers one at a time (<iri> is
    already a placeholder at this point — _protect_literals ran first);
    shared by the query and UPDATE parsers."""
    prefixes: dict[str, str] = {}
    while True:
        m = re.match(r"\s*PREFIX\s+(\w*):\s*\x00(\d+)\x00\s*", q,
                     re.IGNORECASE)
        if not m:
            break
        inner, is_iri = lits[int(m.group(2))]
        if not is_iri:
            raise ValueError("PREFIX needs an <iri>")
        prefixes[m.group(1)] = inner
        q = q[m.end():]
    return q, prefixes


def _parse_protected(q: str, lits: list[str]) -> ParsedQuery:
    dm = re.match(r"DESCRIBE\s+(\S+)\s*$", q, re.IGNORECASE)
    if dm and not _is_var(dm.group(1)):
        pq = ParsedQuery(select=[], aggs=[], distinct=True, patterns=[],
                         filters=[])
        pq.describe = _const_term(_restore_content(dm.group(1), lits))
        return pq
    am = re.match(r"ASK\s*\{(.*)\}\s*$", q, re.IGNORECASE | re.DOTALL)
    if am:
        inner = _parse_protected(f"SELECT * WHERE {{{am.group(1)}}}", lits)
        inner.ask = True
        return inner
    cwm = re.match(r"CONSTRUCT\s+WHERE\s*\{(.*)\}\s*$", q,
                   re.IGNORECASE | re.DOTALL)
    if cwm:
        # CONSTRUCT WHERE shorthand: the template IS the body, which the
        # spec restricts to a plain BGP.  Clause keywords are rejected
        # explicitly — FILTER(...) happens to tokenize into three
        # whitespace-separated "terms", so the 3-terms check alone
        # would silently mis-parse it as a triple pattern.  (Literals
        # are placeholders here, so the keyword scan can't hit quoted
        # content.)
        kw = re.search(
            r"\b(FILTER|OPTIONAL|BIND|VALUES|UNION|MINUS|SELECT)\b",
            cwm.group(1), re.IGNORECASE)
        if kw:
            raise ValueError(
                f"CONSTRUCT WHERE takes a plain BGP; {kw.group(1)} is "
                "outside the shorthand (use CONSTRUCT {...} WHERE {...})")
        template = _parse_patterns(cwm.group(1), lits)
        if not template:
            raise ValueError("CONSTRUCT WHERE has no triple patterns")
        _check_template_preds(template)
        inner = _parse_protected(
            f"SELECT * WHERE {{{cwm.group(1)}}}", lits)
        inner.construct = template
        return inner
    cm = re.match(
        r"CONSTRUCT\s*\{(.*?)\}\s*WHERE\s*\{(.*)\}\s*$", q,
        re.IGNORECASE | re.DOTALL,
    )
    if cm:
        template = _parse_patterns(cm.group(1), lits)
        if not template:
            raise ValueError("CONSTRUCT template has no triple patterns")
        _check_template_preds(template)
        inner = _parse_protected(f"SELECT * WHERE {{{cm.group(2)}}}", lits)
        inner.construct = template
        return inner
    m = re.match(
        r"SELECT\s+(DISTINCT\s+)?(.*?)\s+WHERE\s*\{(.*)\}"
        r"(?:\s*GROUP\s+BY\s+((?:\s*\?\w+)+))?"
        rf"(?:\s*HAVING\s*\(({_NEST2}*)\))?"
        r"(?:\s*ORDER\s+BY\s+(.*?))?(?:\s*LIMIT\s+(\d+))?"
        r"(?:\s*OFFSET\s+(\d+))?\s*$",
        q,
        re.IGNORECASE | re.DOTALL,
    )
    if not m:
        raise ValueError(f"unparseable query (need SELECT ... WHERE {{...}}): {q!r}")
    distinct = m.group(1) is not None
    sel_raw = m.group(2).strip()
    aggs: list[AggItem] = []

    def _agg(mo: re.Match) -> str:
        func = mo.group(1).upper()
        dist = mo.group(2) is not None
        var = None if mo.group(3) == "*" else mo.group(3)[1:]
        if var is None and func != "COUNT":
            raise ValueError(f"{func}(*) is not in the subset (COUNT(*) only)")
        if var is None and dist:
            raise ValueError("COUNT(DISTINCT *) is not in the subset")
        sep = ";"
        if mo.group(4) is not None:  # ; SEPARATOR='...' (a literal, so a
            if func != "GROUP_CONCAT":  # placeholder at this point)
                raise ValueError(
                    f"SEPARATOR applies to GROUP_CONCAT only, not {func}")
            sep = _restore_content(mo.group(4), lits)
        aggs.append(AggItem(func, var, mo.group(5)[1:], distinct=dist,
                            sep=sep))
        return " "

    sel_raw = re.sub(
        r"\(\s*(COUNT|MIN|MAX|SUM|AVG|GROUP_CONCAT|SAMPLE)\s*\(\s*"
        r"(DISTINCT\s+)?(\?\w+|\*)\s*"
        r"(?:;\s*SEPARATOR\s*=\s*(\x00\d+\x00)\s*)?\)\s+AS\s+(\?\w+)\s*\)",
        _agg, sel_raw, flags=re.IGNORECASE,
    ).strip()

    # SELECT (expr AS ?v) projection expressions — anything still
    # parenthesized after the aggregate rewrite.  The expression body
    # uses the same depth-2 grammar as FILTER/BIND (VERDICT r04 item 6:
    # the IF/COALESCE seam extended to projections); it is lowered onto
    # the BIND machinery, so the alias behaves like a bound variable
    # (ORDER BY may reference it).  The alias var replaces the item in
    # place so projection order is preserved.
    select_exprs: list[tuple[str, str]] = []

    def _sexpr(mo: re.Match) -> str:
        select_exprs.append(
            (_restore_quoted(mo.group(1).strip(), lits), mo.group(2)[1:])
        )
        return f" {mo.group(2)} "

    sel_raw = re.sub(
        rf"\(\s*({_NEST2}*?)\s+AS\s+(\?\w+)\s*\)", _sexpr, sel_raw,
        flags=re.IGNORECASE,
    ).strip()
    if sel_raw == "*":
        if aggs:
            raise ValueError("cannot mix * with aggregate items")
        if select_exprs:
            raise ValueError("cannot mix * with (expr AS ?v) items")
        select: list[str] = []
    else:
        select = [v[1:] for v in sel_raw.split() if _is_var(v)]
        if len(select) != len(sel_raw.split()):
            raise ValueError(f"SELECT list must be ?vars or aggregates: {sel_raw!r}")
    if select_exprs:
        if aggs:
            raise ValueError(
                "SELECT (expr AS ?v) alongside aggregates is outside the "
                "subset (project the aggregate, post-process separately)")
        dup = [v for _, v in select_exprs if select.count(v) > 1]
        if dup:
            raise ValueError(
                f"SELECT expression alias ?{dup[0]} collides with a "
                "projected variable (SPARQL forbids rebinding)")

    body = m.group(3)

    # { SELECT ... } subqueries FIRST (their nested braces must never
    # reach the group matchers below).  One nesting level: the subquery
    # body is a plain BGP + FILTER + aggregates/solution modifiers —
    # no OPTIONAL/UNION/nested subqueries inside (their extra braces
    # fail this match and the leftover text errors loudly downstream).
    subqueries: list[ParsedQuery] = []

    def _subq(mo: re.Match) -> str:
        subqueries.append(_parse_protected(mo.group(1).strip(), lits))
        return " "

    body = re.sub(
        r"\{\s*(SELECT\s+(?:[^{}]|\{[^{}]*\})*?)\}",
        _subq, body, flags=re.IGNORECASE | re.DOTALL,
    )

    filters: list[str] = []
    optionals: list[list[tuple[str, str, str]]] = []
    not_exists: list[tuple[list[tuple[str, str, str]], list[str]]] = []
    minus: list[tuple[list[tuple[str, str, str]], list[str]]] = []
    binds: list[tuple[str, str]] = []
    values: list[tuple[list[str], list[tuple[str, ...]]]] = []

    # FILTER(...) extraction helper (balanced parens not needed for the
    # subset: match to the ')' that balances the opening one)
    def _extract_filters(text: str, into: list[str]) -> str:
        def f(mo: re.Match) -> str:
            into.append(_restore_quoted(mo.group(1).strip(), lits))
            return " "
        return re.sub(rf"FILTER\s*\(({_NEST2}*)\)", f, text,
                      flags=re.IGNORECASE)

    def _group(text: str) -> tuple[list[tuple[str, str, str]], list[str]]:
        """EXISTS/NOT EXISTS/MINUS group body -> (patterns, group-scoped
        filter bodies) — same scoping discipline as OPTIONAL."""
        grp_filters: list[str] = []
        grp_body = _extract_filters(text, grp_filters)
        return _parse_patterns(grp_body, lits), grp_filters

    # FILTER NOT EXISTS { ... } before plain FILTER (both start FILTER)
    def _nex(mo: re.Match) -> str:
        not_exists.append(_group(mo.group(1)))
        return " "

    body = re.sub(r"FILTER\s+NOT\s+EXISTS\s*\{([^{}]*)\}", _nex, body,
                  flags=re.IGNORECASE)

    exists: list[tuple[list[tuple[str, str, str]], list[str]]] = []

    def _ex(mo: re.Match) -> str:
        exists.append(_group(mo.group(1)))
        return " "

    body = re.sub(r"FILTER\s+EXISTS\s*\{([^{}]*)\}", _ex, body,
                  flags=re.IGNORECASE)

    def _min(mo: re.Match) -> str:
        minus.append(_group(mo.group(1)))
        return " "

    body = re.sub(r"MINUS\s*\{([^{}]*)\}", _min, body, flags=re.IGNORECASE)

    # SERVICE [SILENT] <endpoint> { ... } federation groups (top level
    # of WHERE only, like GRAPH).  Matched BEFORE GRAPH so the two
    # group keywords can't shadow each other; variable endpoints are
    # outside the subset and rejected loudly.
    services: list[tuple[str, bool, list, list]] = []

    def _svc(mo: re.Match) -> str:
        silent = bool(mo.group(1))
        ep = _restore_content(mo.group(2), lits)
        if ep.startswith("?"):
            raise ValueError(
                "variable SERVICE endpoints are outside the subset — "
                "name the endpoint")
        grp_filters: list[str] = []
        sbody = _extract_filters(mo.group(3), grp_filters)
        pats = _parse_patterns(sbody, lits)
        if not pats:
            raise ValueError("SERVICE group has no triple patterns")
        services.append((ep, silent, pats, grp_filters))
        return " "

    body = re.sub(
        r"SERVICE\s+(SILENT\s+)?(\?\w+|\x00\d+\x00|[\w.:-]+)\s*\{([^{}]*)\}",
        _svc, body, flags=re.IGNORECASE)

    # GRAPH <g> { ... } / GRAPH ?g { ... } groups (top level of WHERE
    # only — not inside OPTIONAL/UNION/EXISTS arms, whose [^{}] matchers
    # would reject the nested braces loudly).  The group's patterns
    # become QUAD patterns: the graph term rides as a 4th position that
    # _scan binds/filters against the frame's `graph` column.  Group
    # FILTERs join the global list — inner-join scope, so filtering
    # before or after the merge yields the same solutions.
    graph_pats: list[tuple[str, str, str, str]] = []

    def _gr(mo: re.Match) -> str:
        # the graph term may be a protected <iri> placeholder: restore
        # to TERM form (bracketed IRI / bare prefixed name), same as
        # pattern positions
        gterm = _restore_content(mo.group(1), lits)
        grp_filters: list[str] = []
        gbody = _extract_filters(mo.group(2), grp_filters)
        pats = _parse_patterns(gbody, lits)
        if not pats:
            raise ValueError("GRAPH group has no triple patterns")
        graph_pats.extend((*p, gterm) for p in pats)
        filters.extend(grp_filters)
        return " "

    body = re.sub(r"GRAPH\s+(\?\w+|\x00\d+\x00|[\w.:-]+)\s*\{([^{}]*)\}",
                  _gr, body, flags=re.IGNORECASE)

    # OPTIONAL { ... } groups (no nesting in the subset); a group may
    # carry its own FILTERs, which stay GROUP-SCOPED (applied before the
    # left join — SPARQL LeftJoin semantics)
    def _opt(mo: re.Match) -> str:
        grp_filters: list[str] = []
        grp_body = _extract_filters(mo.group(1), grp_filters)
        optionals.append((_parse_patterns(grp_body, lits), grp_filters))
        return " "

    body = re.sub(r"(?<![\w?:])OPTIONAL\s*\{([^{}]*)\}", _opt, body,
                  flags=re.IGNORECASE)
    # a leftover OPTIONAL keyword means a NESTED group (the [^{}]
    # matcher consumed the inner one, stranding the outer) or a
    # malformed brace-less OPTIONAL; flattening is NOT equivalent (the
    # inner group's scope is the outer arm's solutions) and a bare
    # keyword must never parse as a triple term, so both reject loudly.
    # The lookbehind keeps a variable ?optional or a prefixed name
    # ex:OPTIONAL usable as ordinary terms (ADVICE r04).
    if re.search(r"(?<![\w?:])OPTIONAL\b", body, re.IGNORECASE):
        raise ValueError(
            "nested OPTIONAL groups are outside the subset (an inner "
            "OPTIONAL is scoped to its outer arm, which a flat left-join "
            "chain cannot express); restructure the query — e.g. two "
            "sibling OPTIONAL groups when the inner one only shares "
            "variables with the base pattern")

    # BIND(expr AS ?v) — expr kept raw (restored spelling) for the lowerer
    def _bind(mo: re.Match) -> str:
        binds.append((_restore_quoted(mo.group(1).strip(), lits),
                      mo.group(2)))
        return " "

    body = re.sub(
        rf"BIND\s*\(({_NEST2}*?)\s+AS\s+\?(\w+)\s*\)",
        _bind, body, flags=re.IGNORECASE,
    )

    # VALUES (?a ?b) { (t t) ... }  |  VALUES ?a { t t ... }
    # UNDEF (SPARQL keyword, case-insensitive) marks a wildcard cell;
    # matched on the raw pre-restore token so a quoted 'UNDEF' literal
    # stays a plain string term
    def _vals_term(tok: str) -> str:
        if tok.upper() == "UNDEF":
            return _UNDEF
        return _restore_content(tok, lits)

    def _vals_multi(mo: re.Match) -> str:
        vs = [v[1:] for v in mo.group(1).split()]
        rows = []
        for rm in re.finditer(r"\(([^()]*)\)", mo.group(2)):
            row = tuple(_vals_term(t)
                        for t in _tokenize_terms(rm.group(1)))
            if len(row) != len(vs):
                raise ValueError(
                    f"VALUES row arity {len(row)} != vars {len(vs)}")
            rows.append(row)
        if not rows:
            raise ValueError("empty VALUES block")
        values.append((vs, rows))
        return " "

    body = re.sub(
        r"VALUES\s*\(\s*((?:\?\w+\s*)+)\)\s*\{([^{}]*)\}",
        _vals_multi, body, flags=re.IGNORECASE,
    )

    def _vals_one(mo: re.Match) -> str:
        rows = [(_vals_term(t),) for t in _tokenize_terms(mo.group(2))]
        if not rows:
            raise ValueError("empty VALUES block")
        values.append(([mo.group(1)], rows))
        return " "

    body = re.sub(r"VALUES\s+\?(\w+)\s*\{([^{}]*)\}", _vals_one, body,
                  flags=re.IGNORECASE)

    # top-level UNION of braced pattern groups: { A } UNION { B } [UNION
    # ...].  Matched BEFORE global filter extraction so each arm's FILTER
    # clauses stay ARM-SCOPED (an arm filter applies only to that arm's
    # solutions — SPARQL group scoping).
    unions: list[tuple[list[tuple[str, str, str]], list[str]]] = []
    um = re.match(
        r"\s*\{([^{}]*)\}(?:\s+UNION\s+\{([^{}]*)\})+\s*$", body, re.IGNORECASE
    )
    if um:
        for a in re.findall(r"\{([^{}]*)\}", body):
            arm_filters: list[str] = []
            a = _extract_filters(a, arm_filters)
            arm_pats = _parse_patterns(a, lits)
            if not arm_pats:
                raise ValueError("empty UNION arm")
            unions.append((arm_pats, arm_filters))
        if graph_pats:
            raise ValueError(
                "GRAPH groups cannot be mixed with UNION bodies in the "
                "subset")
        patterns = []
    else:
        body = _extract_filters(body, filters)
        # anonymous blank nodes [ p o ; p2 o2 ] in the main body are
        # syntactic sugar for a fresh variable (?_bn<n> — the reserved
        # namespace) plus the bracketed predicate-object patterns;
        # innermost-first rewriting handles nesting.  Object lists with
        # ',' inside brackets stay outside the subset (the 3-terms
        # check rejects them loudly), as do bnodes inside
        # OPTIONAL/UNION/... groups (their '[' survives into the group
        # parser and errors there).
        bn_n = [0]
        tails: list[str] = []

        def _bn(mo: re.Match) -> str:
            bn_n[0] += 1
            var = f"?_bn{bn_n[0]}"
            inner = mo.group(1).strip()
            for po in (p.strip() for p in inner.split(";")):
                if po:
                    tails.append(f"{var} {po}")
            return var

        while "[" in body:
            new_body = re.sub(r"\[([^\[\]]*)\]", _bn, body)
            if new_body == body:
                raise ValueError(f"unbalanced '[' in WHERE body: {body!r}")
            body = new_body
        if tails:
            body = " . ".join([body] + tails)
        patterns = _parse_patterns(body, lits) + graph_pats
        if not patterns and not values and not subqueries and not services:
            raise ValueError("WHERE clause has no triple patterns")

    # explicit GROUP BY ?v ... (SPARQL 1.1): the grouping keys, which
    # may be a SUPERSET of the plain SELECT vars.  Only ?vars are in the
    # subset — grouping by an expression fails the regex loudly rather
    # than mis-parsing.  Without the clause, grouping stays implicit
    # (plain SELECT vars), the form the compiler always supported.
    group_by = [v[1:] for v in m.group(4).split()] if m.group(4) else None
    if group_by is not None:
        bad = [v for v in select if v not in group_by]
        if bad:
            raise ValueError(
                "SELECT projects non-grouped, non-aggregate variable(s) "
                f"?{' ?'.join(bad)} — add them to GROUP BY or aggregate "
                "them")
    having = _restore_quoted(m.group(5).strip(), lits) if m.group(5) else None
    order_by = []
    if m.group(6):
        src5 = m.group(6).strip()
        # ?v | ?v DESC (engine spelling) | DESC(?v) / ASC(?v) (SPARQL
        # spelling) | (?v) | STR(?v) — the bracketed-expression forms
        # that are IDENTITY under the untyped string term model (STR of
        # a bare-lexical term is the term), optionally DESC/ASC-wrapped;
        # any other expression is out of subset and rejects below.  The
        # lookahead keeps `?a DESC(?b)` unambiguous.
        key_re = re.compile(
            r"\s*(?:(DESC|ASC)\s*\(\s*(?:STR\s*\(\s*\?(\w+)\s*\)"
            r"|\(\s*\?(\w+)\s*\)|\?(\w+))\s*\)"
            r"|STR\s*\(\s*\?(\w+)\s*\)"
            r"|\(\s*\?(\w+)\s*\)"
            r"|\?(\w+)(\s+DESC\b(?!\s*\())?)",
            re.IGNORECASE)
        # general parenthesized expression key, optionally DESC/ASC-
        # wrapped: ORDER BY (STRLEN(?x)) / DESC(COALESCE(?a, ?b)).
        # SPARQL's own grammar requires non-var order conditions to be
        # bracketted or builtin calls; this subset accepts the
        # bracketted form and compiles it through the same depth-2
        # FILTER/BIND grammar.  Tried AFTER the identity forms above so
        # (?v)/STR(?v) keep their plain-column fast path.
        expr_re = re.compile(
            rf"\s*(?:(DESC|ASC)\s*)?(\(\s*{_NEST2}*?\s*\))",
            re.IGNORECASE)
        pos5 = 0
        while pos5 < len(src5):
            mo = key_re.match(src5, pos5)
            if not mo:
                mo = expr_re.match(src5, pos5)
                if not mo:
                    raise ValueError(
                        "ORDER BY expects ?var [DESC], DESC(?var)/"
                        "ASC(?var), (?var), STR(?var), or a "
                        "parenthesized expression (expr) — bare "
                        f"expressions are outside the subset: "
                        f"{m.group(6)!r}")
                order_by.append((
                    _restore_quoted(mo.group(2), lits),
                    (mo.group(1) or "").upper() == "DESC",
                ))
                pos5 = mo.end()
                continue
            if mo.group(1):
                var5 = mo.group(2) or mo.group(3) or mo.group(4)
                order_by.append((var5, mo.group(1).upper() == "DESC"))
            elif mo.group(5) or mo.group(6):
                order_by.append((mo.group(5) or mo.group(6), False))
            else:
                order_by.append((mo.group(7), mo.group(8) is not None))
            pos5 = mo.end()
    limit = int(m.group(7)) if m.group(7) else None
    offset = int(m.group(8)) if m.group(8) else None
    return ParsedQuery(
        select=select, aggs=aggs, distinct=distinct, patterns=patterns,
        filters=filters, optionals=optionals, order_by=order_by, limit=limit,
        offset=offset, having=having, group_by=group_by,
        unions=unions, binds=binds, values=values, not_exists=not_exists,
        minus=minus, exists=exists, subqueries=subqueries,
        services=services, select_exprs=select_exprs,
    )


_STR_FNS = [
    ("STRLEN", "length"), ("LCASE", "lower"), ("UCASE", "upper"),
    ("STRSTARTS", "startswith"), ("STRENDS", "endswith"),
    ("CONTAINS", "contains"), ("SUBSTR", "substring"),
    ("REPLACE", "replace"), ("STR", ""),
]


def _prefer_typed(body: str, cols: set[str]) -> str:
    """Typed-literal preference for numeric FILTER comparisons: when the
    bound frame carries a ?v__num shadow (object-position var over a
    typed source, sources/ntriples.py _typed_cols) and the comparison's
    other side is a NUMERIC constant, compare the typed value instead
    of the lexical string — `FILTER(?v > 9)` then matches
    `"10"^^xsd:integer` (the rdflib-faithful answer; lexically "10" <
    "9").  A var without a numeric typed value gets NULL, so the filter
    excludes it — SPARQL's type-error semantics for non-numeric terms
    under a numeric operator.  Literals are protected first so numbers
    inside quoted strings can never trigger the rewrite; untyped frames
    (no shadow column) are byte-unchanged."""
    protected, lits = _protect_literals(body)
    out = re.sub(
        r"\?(\w+)\s*(>=|<=|!=|=|>|<)\s*(-?\d+(?:\.\d+)?)(?![\w.])",
        lambda mo: (
            f"?{mo.group(1)}__num {mo.group(2)} {mo.group(3)}"
            if f"{mo.group(1)}__num" in cols else mo.group(0)
        ),
        protected,
    )
    return _restore_quoted(out, lits)


def _filter_to_expr(body: str) -> str:
    """FILTER/BIND body -> Spark SQL expression over bound columns.
    Whitelist-rewrites the subset's operators; unknown ?vars simply become
    missing-column errors at analysis time (loud, not silent).

    Quoted literals are protected into placeholders FIRST, so the
    operator rewrites (&&, ||, !) can never touch literal content
    (ADVICE r02: FILTER(?x = 'a!b') must compare against 'a!b', not
    'a NOT b'); they are restored last as SQL string literals with
    single quotes doubled."""
    e, lits = _protect_literals(body)
    e = re.sub(r"regex\s*\(\s*\?(\w+)\s*,\s*(\x00\d+\x00)\s*\)",
               r"\1 RLIKE \2", e, flags=re.IGNORECASE)
    e = re.sub(r"bound\s*\(\s*\?(\w+)\s*\)", r"\1 IS NOT NULL", e,
               flags=re.IGNORECASE)
    # RDF term-test builtins over the engine's term SHAPES (the untyped
    # string model stores kind implicitly: '_:' prefix = bnode,
    # scheme:rest shape = IRI — ntriples._encode_term's classification,
    # including its documented literal/IRI ambiguity for scheme-shaped
    # literal values).  sameTerm = lexical equality (the one-spelling-
    # per-term vocabulary contract makes that exact).  Args are plain
    # terms (?var / 'literal'-placeholder), same restriction as
    # STRBEFORE/STRAFTER.
    _IRI_SHAPE = "RLIKE '^[A-Za-z][A-Za-z0-9+.-]*:[^ ]+$'"
    e = re.sub(r"\bsameTerm\s*\(\s*([^,()]+?)\s*,\s*([^,()]+?)\s*\)",
               r"(\1 = \2)", e, flags=re.IGNORECASE)
    e = re.sub(r"\bisBlank\s*\(\s*([^()]+?)\s*\)",
               r"startswith(\1, '_:')", e, flags=re.IGNORECASE)
    e = re.sub(r"\bis[IU]RI\s*\(\s*([^()]+?)\s*\)",
               rf"(\1 {_IRI_SHAPE} AND NOT startswith(\1, '_:'))",
               e, flags=re.IGNORECASE)
    e = re.sub(r"\bisLiteral\s*\(\s*([^()]+?)\s*\)",
               rf"(NOT (\1 {_IRI_SHAPE}) AND NOT startswith(\1, '_:'))",
               e, flags=re.IGNORECASE)
    # SPARQL string-function kit -> Spark SQL equivalents (name-level
    # rewrites; argument expressions flow through the ?var/literal
    # rewrites unchanged).  STR() is the identity here — terms are
    # already strings in this engine.
    # STRBEFORE/STRAFTER need their args twice (SPARQL returns '' on a
    # missing separator; Spark's substring_index returns the whole
    # string), so the rewrite is argument-level: args are restricted to
    # plain terms (?var / 'literal' / <iri> — commas and parens inside
    # literals are already placeholders), innermost-first for nesting
    def _two_arg(name: str, template: str, s: str) -> str:
        pat = rf"\b{name}\s*\(\s*([^,()]+?)\s*,\s*([^,()]+?)\s*\)"
        while True:
            new = re.sub(
                pat,
                lambda m: template.format(a=m.group(1), b=m.group(2)),
                s, flags=re.IGNORECASE)
            if new == s:
                return s
            s = new

    e = _two_arg(
        "STRBEFORE",
        "CASE WHEN instr({a}, {b}) > 0 "
        "THEN substring_index({a}, {b}, 1) ELSE '' END", e)
    e = _two_arg(
        "STRAFTER",
        "CASE WHEN instr({a}, {b}) > 0 "
        "THEN substring({a}, instr({a}, {b}) + length({b})) "
        "ELSE '' END", e)
    for sparql_fn, sql_fn in _STR_FNS:
        e = re.sub(rf"\b{sparql_fn}\s*\(", f"{sql_fn}(", e,
                   flags=re.IGNORECASE)
    e = e.replace("&&", " AND ").replace("||", " OR ")
    e = re.sub(r"!(?!=)", " NOT ", e)
    e = e.replace("!=", "<>")
    e = re.sub(r"\?(\w+)", r"\1", e)
    # both 'literal' content and <iri> constants restore as SQL strings —
    # the triple table is strings, and an IRI term's VALUE is the IRI
    return _PLACEHOLDER_RE.sub(
        lambda m: "'" + lits[int(m.group(1))][0].replace("'", "''") + "'", e
    )


# property-path detection: a constant predicate containing '|' or '/' or
# a trailing '+'/'*' is a path expression (plain prefixed URIs in this
# engine use ':' only, so the operator characters are unambiguous)
def _mask_iris(s: str) -> str:
    """Replace <...> spans with a neutral char so path-operator checks
    and splits never fire on characters INSIDE an IRI."""
    return re.sub(r"<[^<>]*>", lambda m: "" * len(m.group()), s)


def _split_outside_iris(s: str, sep: str) -> list[str]:
    masked = _mask_iris(s)
    parts, start = [], 0
    for i, ch in enumerate(masked):
        if ch == sep:
            parts.append(s[start:i])
            start = i + 1
    parts.append(s[start:])
    return parts


def _is_path(pred: str) -> bool:
    if _is_var(pred) or len(pred) <= 1:
        return False
    m = _mask_iris(pred)
    if set(m) <= {""}:  # the whole term is one <iri>: plain predicate
        return False
    return ("|" in m or "/" in m or "(" in m or "{" in m
            or m[-1] in "+*?" or m[0] == "^")


def _path_tokens(s: str) -> list[tuple[str, str]]:
    """Path expression -> [(kind, value)] with kind in {op, atom}.
    `<...>` IRI spans are atomic (IRIs contain '/', '+' etc.); operator
    chars are ( ) | / ^ + * ? ; everything else accumulates into
    predicate atoms."""
    toks: list[tuple[str, str]] = []
    i = 0
    ops = "()|/^+*?"
    while i < len(s):
        c = s[i]
        if c.isspace():
            i += 1
        elif c == "<":
            j = s.find(">", i)
            if j < 0:
                raise ValueError(f"unterminated <iri> in path: {s!r}")
            toks.append(("atom", s[i:j + 1]))
            i = j + 1
        elif c == "{":
            j = s.find("}", i)
            if j < 0:
                raise ValueError(f"unterminated '{{' in path: {s!r}")
            qm = re.fullmatch(r"(\d+)\s*(?:(,)\s*(\d+)?)?",
                              s[i + 1:j].strip())
            if not qm:
                raise ValueError(
                    f"bad path quantifier {{{s[i + 1:j]}}} in {s!r}: "
                    "expected {n}, {n,m} or {n,}")
            lo = int(qm.group(1))
            hi = (None if (qm.group(2) and qm.group(3) is None)
                  else int(qm.group(3) or qm.group(1)))
            toks.append(("quant", (lo, hi)))
            i = j + 1
        elif c in ops:
            toks.append(("op", c))
            i += 1
        else:
            j = i
            while (j < len(s) and s[j] not in ops and s[j] not in "<{"
                   and not s[j].isspace()):
                j += 1
            toks.append(("atom", s[i:j]))
            i = j
    return toks


def _path_edges(triples: DataFrame, path: str) -> DataFrame:
    """Compile a property-path expression to its endpoint-pair edge set
    DataFrame[src, dst] (DISTINCT — set semantics).

        path    := seq ('|' seq)*       union of the arms' edge sets
        seq     := unary ('/' unary)*   relational composition (equi-join
                                        on the midpoint; Catalyst
                                        shuffles on it)
        unary   := ['^'] primary ['+'|'*'|'?']
        primary := pred | '(' path ')'

    Recursive-descent over _path_tokens, so every operator applies to
    COMPOSITE edge sets too: (p1|p2)+ is the closure of the unioned
    edge set, ^(p/q) the inverse of the composed one.  `+` is the
    path-doubling distributed transitive closure (O(log diameter)
    rounds — graph.transitive_closure); `*` is the closure UNIONed with
    the identity pair for every term of the graph (the SPARQL
    zero-length-path domain: all subjects and objects); `?` is edges +
    identity pairs.  Each plain atom stays ONE pushed-down filtered
    scan."""
    from .graph import transitive_closure

    toks = _path_tokens(path)
    pos = [0]

    def peek():
        return toks[pos[0]] if pos[0] < len(toks) else (None, None)

    def take():
        t = peek()
        pos[0] += 1
        return t

    def identity_pairs() -> DataFrame:
        # the SPARQL zero-length-path domain: every term of the graph
        nodes = (
            triples.select(F.col("subj").alias("n"))
            .unionByName(triples.select(F.col("obj").alias("n")))
            .distinct()
        )
        return nodes.select(F.col("n").alias("src"), F.col("n").alias("dst"))

    def primary() -> DataFrame:
        k, v = take()
        if k == "op" and v == "(":
            inner = alt()
            ck, cv = take()
            if (ck, cv) != ("op", ")"):
                raise ValueError(f"unbalanced '(' in path: {path!r}")
            return inner
        if k != "atom":
            raise ValueError(f"bad property-path atom at {v!r}: {path!r}")
        if v == "a":  # SPARQL keyword in verb position: rdf:type — paths
            # are verb position, so `a/subClassOf*` works as spec'd
            v = "rdf:type"
        base = _const_term(v)  # <iri> atoms denote the raw IRI
        if not base or _is_var(base):
            raise ValueError(f"bad property-path atom: {v!r}")
        return triples.where(F.col("pred") == base).select(
            F.col("subj").alias("src"), F.col("obj").alias("dst")
        )

    def compose(a: DataFrame, b: DataFrame) -> DataFrame:
        return (
            a.select("src", F.col("dst").alias("mid"))
            .join(b.select(F.col("src").alias("mid"), "dst"), "mid")
            .select("src", "dst")
            .distinct()
        )

    def closure(e: DataFrame) -> DataFrame:
        return transitive_closure(
            e.select(F.col("src").alias("child"),
                     F.col("dst").alias("parent"))
        ).select(F.col("node").alias("src"), F.col("ancestor").alias("dst"))

    _QUANT_CAP = 10

    def quantified(e: DataFrame, lo: int, hi: int | None) -> DataFrame:
        """`{n}` / `{n,m}` / `{n,}` bounded path repetition (the SPARQL
        1.1 draft form; the final REC dropped it, so supporting it is a
        strict superset).  E^k by iterated composition — k is
        query-text-bounded and capped at 10 (each power is a shuffle
        join; an unbounded tail uses the O(log diameter) closure
        instead, never more powers)."""
        if hi is not None and hi < lo:
            raise ValueError(f"bad path quantifier {{{lo},{hi}}}: m < n")
        if max(lo, hi or 0) > _QUANT_CAP:
            raise ValueError(
                f"path quantifier bound above {_QUANT_CAP} "
                f"({{{lo},{hi if hi is not None else ''}}}): rewrite with "
                "'+'/'*' (distributed closure) instead")
        # E^lo, accumulating the in-range powers along the way
        arms: list[DataFrame] = []
        power = identity_pairs() if lo == 0 else None
        cur = None
        for k in range(1, (hi if hi is not None else lo) + 1):
            cur = e if k == 1 else compose(cur, e)
            if k == lo:
                power = cur
            if hi is not None and lo <= k:
                arms.append(cur)
        if hi is None:
            # {n,}: E^n then anything — one closure, not more powers
            star = closure(e).unionByName(identity_pairs()).distinct()
            return (star if lo == 0 else compose(power, star)).distinct()
        if lo == 0:
            arms.append(identity_pairs())
        out = arms[0]
        for a in arms[1:]:
            out = out.unionByName(a)
        return out.distinct()

    def unary() -> DataFrame:
        inverse = peek() == ("op", "^")
        if inverse:
            take()
        e = primary()
        if inverse:
            e = e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        k, v = peek()
        if k == "quant":
            take()
            return quantified(e, *v)
        if k == "op" and v in "+*?":
            take()
            if v == "?":
                return e.unionByName(identity_pairs()).distinct()
            closed = closure(e)
            if v == "+":
                return closed
            return closed.unionByName(identity_pairs()).distinct()
        return e

    def seq() -> DataFrame:
        acc = unary()
        while peek() == ("op", "/"):
            take()
            nxt = unary()
            acc = (
                acc.select("src", F.col("dst").alias("mid"))
                .join(nxt.select(F.col("src").alias("mid"), "dst"), "mid")
                .select("src", "dst")
            )
        return acc

    def alt() -> DataFrame:
        out = seq()
        while peek() == ("op", "|"):
            take()
            out = out.unionByName(seq())
        return out

    result = alt()
    if pos[0] != len(toks):
        raise ValueError(
            f"trailing tokens in property path at {peek()[1]!r}: {path!r}")
    return result.distinct()


def _negated_preds(pred: str) -> list[str]:
    """`!p` / `!(p1|p2|...)` -> the excluded predicate list.  Members
    must be plain forward predicates (`a` = rdf:type allowed); inverse
    or path members raise — silent misinterpretation is worse than
    rejection."""
    inner = pred[1:]
    if inner.startswith("(") and inner.endswith(")"):
        inner = inner[1:-1]
    out = []
    for p in (s.strip() for s in _split_outside_iris(inner, "|")):
        if not p or _is_var(p) or p.startswith(("^", "!")) or _is_path(p):
            raise ValueError(f"bad negated property set: {pred!r}")
        out.append("rdf:type" if p == "a" else _const_term(p))
    return out


def _scan(triples: DataFrame, pattern: tuple[str, str, str], tag: int) -> tuple[DataFrame, set[str]]:
    """One pattern -> one filtered scan projecting its variables.
    Constants filter (pushed down to the source); a variable repeated
    within the pattern adds an intra-row equality filter.

    A constant predicate that is a PROPERTY PATH expression (see
    _path_edges) swaps the pattern's source for the path's compiled
    endpoint-pair set — the rdflib recursive-traversal semantics as a
    distributed plan.

    A 4-tuple pattern is a QUAD: the 4th term binds/filters the frame's
    `graph` column (GRAPH clause lowering).  A constant graph term is a
    pushed-down equality — over a graph-partitioned quads table that is
    partition pruning; a variable graph term binds like any other var,
    so patterns sharing ?g within one GRAPH group equi-join on it."""
    if pattern[1] == "a":  # SPARQL keyword: rdf:type (matches the
        # Turtle parser's 'a' handling, so loaded catalogs query naturally)
        pattern = (pattern[0], "rdf:type", *pattern[2:])
    positions = _POS + ("graph",) if len(pattern) == 4 else _POS
    if len(pattern) == 4 and "graph" not in triples.columns:
        raise ValueError(
            "GRAPH pattern needs a quads frame with a 'graph' column "
            f"(got columns {triples.columns})")
    pred = pattern[1]
    negset = None
    if not _is_var(pred) and pred.startswith("!"):
        # negated property set !p / !(p1|p2|...): one scan whose pred
        # filter is NOT IN — still a pushed-down predicate (checked
        # before _is_path, whose '|' test would misroute the term).
        # The pred position binds no variable; forward members only
        # (^p inside a negated set is outside the subset).
        negset = _negated_preds(pred)
    elif _is_path(pred):
        if len(pattern) == 4:
            # a path traversal is PER-GRAPH: with a constant graph the
            # quads pre-filter confines every hop to that graph (the
            # graph position is consumed — it binds no var); with a
            # variable graph each hop could cross graphs, which is
            # outside the subset — rejected loudly
            if _is_var(pattern[3]):
                raise ValueError(
                    "property paths inside GRAPH ?var are outside the "
                    "subset (paths are per-graph; use a constant graph)")
            triples = triples.where(
                F.col("graph") == _const_term(pattern[3]))
            pattern = pattern[:3]
            positions = _POS
        triples = _path_edges(triples, pred).select(
            F.col("src").alias("subj"),
            F.lit(pred).alias("pred"),
            F.col("dst").alias("obj"),
        )
    df = triples if negset is None else triples.where(
        ~F.col("pred").isin(negset)
    )
    first_pos_of: dict[str, str] = {}
    for pos, term in zip(positions, pattern):
        if negset is not None and pos == "pred":
            continue  # the NOT IN filter above is the whole constraint
        if _is_var(term):
            v = term[1:]
            if pos == "graph":
                # GRAPH ?g never binds the dataset clause's reserved
                # merged-default rows (nor an absent/null graph)
                df = df.where(F.col("graph") != DEFAULT_GRAPH)
            if v in first_pos_of:
                df = df.where(F.col(first_pos_of[v]) == F.col(pos))
            else:
                first_pos_of[v] = pos
        else:
            # a path-expression pred compares against its own verbatim
            # string (the lit the compiled edge source carries); plain
            # constants strip their <iri> brackets
            cmp = term if (pos == "pred" and _is_path(term)) \
                else _const_term(term)
            df = df.where(F.col(pos) == cmp)
    cols = [F.col(pos).alias(v) for v, pos in first_pos_of.items()]
    # typed-literal shadow (sources/ntriples.py _typed_cols): when the
    # frame carries obj_num, an object-position var ?v also binds
    # ?v__num so numeric FILTER comparisons can prefer the typed value
    # (path-compiled sources drop the shadow — endpoints of a multi-hop
    # path are not single literals)
    if "obj_num" in df.columns:
        cols += [
            F.col("obj_num").alias(f"{v}__num")
            for v, pos in first_pos_of.items()
            if pos == "obj"
        ]
    # a pattern with no vars is an existence assertion: one marker row if
    # any triple matches, zero otherwise (limit(1) so the later crossJoin
    # gates rather than multiplies)
    if not cols:
        return df.select(F.lit(1).alias(f"_exists_{tag}")).limit(1), set()
    return df.select(*cols), set(first_pos_of)


@dataclass
class GraphStats:
    """ANALYZE output: the statistics a triple store keeps for join
    ordering — total triples, per-predicate counts, per-predicate
    distinct subject/object counts (RDF-3X-style).  Vocabulary-sized
    (one row per predicate), collected in ONE aggregation and held on
    the driver; at 10^12 triples this is still a dict of a few dozen
    entries."""

    total: int
    pred_counts: dict[str, int]
    pred_subj: dict[str, int]
    pred_obj: dict[str, int]


def analyze(triples: DataFrame) -> GraphStats:
    """One pass over the graph: per-pred count + approx-distinct
    subj/obj.  Estimates only steer join ORDER, so HLL error is
    harmless — a mis-ordering never changes results."""
    rows = triples.groupBy("pred").agg(
        F.count(F.lit(1)).alias("n"),
        F.approx_count_distinct("subj").alias("ds"),
        F.approx_count_distinct("obj").alias("do"),
    ).collect()
    return GraphStats(
        total=sum(r["n"] for r in rows),
        pred_counts={r["pred"]: r["n"] for r in rows},
        pred_subj={r["pred"]: r["ds"] for r in rows},
        pred_obj={r["pred"]: r["do"] for r in rows},
    )


def _estimate(p, stats: GraphStats, bound: set[str]) -> float:
    """Estimated result cardinality of one pattern given already-bound
    variables (a bound var is as selective as a constant: the join
    keeps ~rows/distinct per binding).  Textbook triple-pattern
    estimation: base = count(pred), each bound/constant subject divides
    by distinct-subjects(pred), object likewise."""
    s, pr, o = p[0], p[1], p[2]
    var_pred = _is_var(pr) or _is_path(pr)
    if var_pred:
        base, ds, do = stats.total, 0, 0
    else:
        key = "rdf:type" if pr == "a" else _const_term(pr)
        base = stats.pred_counts.get(key, 0)
        ds = stats.pred_subj.get(key, 0)
        do = stats.pred_obj.get(key, 0)
    est = float(base)

    def is_sel(t: str) -> bool:
        return (not _is_var(t)) or t[1:] in bound

    if is_sel(s):
        est /= max(ds, 1) if not var_pred else max(stats.total ** 0.5, 1)
    if is_sel(o):
        est /= max(do, 1) if not var_pred else max(stats.total ** 0.5, 1)
    return est


def _order_patterns(
    patterns: list[tuple[str, str, str]],
    stats: GraphStats | None = None,
) -> list[tuple[str, str, str]]:
    """Greedy join ordering.  Without stats: most constants first, then
    repeatedly the most-selective pattern connected (shares a var) to
    the bound set, falling back to any remaining pattern (true
    cartesian — allowed but last).  With ANALYZE stats: the same greedy
    skeleton, but selectivity = estimated cardinality given the
    already-bound variables — a 3-row predicate beats a 10^9-row one
    regardless of how many constants each spells."""
    if not patterns:
        return []
    n_const = lambda p: sum(0 if _is_var(t) else 1 for t in p)
    pvars = lambda p: {t[1:] for t in p if _is_var(t)}
    if stats is not None:
        remaining = list(patterns)
        bound: set[str] = set()
        out = []
        while remaining:
            if out:
                connected = [p for p in remaining if pvars(p) & bound]
                pool = connected or remaining
            else:
                pool = remaining
            pick = min(pool, key=lambda p: (_estimate(p, stats, bound),
                                            -n_const(p)))
            remaining.remove(pick)
            out.append(pick)
            bound |= pvars(pick)
        return out
    remaining = sorted(patterns, key=n_const, reverse=True)
    out = [remaining.pop(0)]
    bound = pvars(out[0])
    while remaining:
        connected = [p for p in remaining if pvars(p) & bound]
        pick = max(connected, key=n_const) if connected else remaining[0]
        remaining.remove(pick)
        out.append(pick)
        bound |= pvars(pick)
    return out


def _join_patterns(
    triples: DataFrame, patterns: list[tuple[str, str, str]],
    start_tag: int = 0, stats: GraphStats | None = None,
) -> tuple[DataFrame, list[str]]:
    """Inner-join a pattern group on shared variables; returns the bound
    DataFrame and variable order of first appearance."""
    ordered = _order_patterns(patterns, stats)
    acc, acc_vars = _scan(triples, ordered[0], start_tag)
    var_order = [c for c in acc.columns
                 if not c.startswith("_exists_")
                 and not c.endswith("__num")]
    for i, p in enumerate(ordered[1:], start=start_tag + 1):
        df, vs = _scan(triples, p, i)
        # a shared var bound at obj in BOTH patterns would duplicate its
        # __num shadow through the join; keep the left one (under the
        # untyped conflation two equal lexicals may differ in datatype
        # across occurrences — the engine's documented ambiguity)
        dup = [c for c in df.columns
               if c.endswith("__num") and c in acc.columns]
        if dup:
            df = df.drop(*dup)
        shared = sorted(acc_vars & vs)
        acc = acc.join(df, on=shared) if shared else acc.crossJoin(df)
        var_order += [v for v in sorted(vs - acc_vars)]
        acc_vars |= vs
    return acc, var_order


def bgp(
    triples: DataFrame,
    patterns: list[tuple[str, str, str]],
    filters: list[str] = (),
    optionals: list[list[tuple[str, str, str]]] = (),
    select: list[str] | None = None,
    distinct: bool = True,
    unions: list = (),
    binds: list[tuple[str, str]] = (),
    values: list[tuple[list[str], list[tuple[str, ...]]]] = (),
    not_exists: list[list[tuple[str, str, str]]] = (),
    minus: list[list[tuple[str, str, str]]] = (),
    exists: list[list[tuple[str, str, str]]] = (),
    subselects: list[DataFrame] = (),
    stats: GraphStats | None = None,
) -> DataFrame:
    """Programmatic BGP evaluation (the parser lowers to this).  Returns
    a DataFrame with one column per selected variable.  `stats` (from
    `analyze`) switches join ordering from the constant-count heuristic
    to estimated cardinalities.

    `unions`: pattern-group arms ({A} UNION {B}); each arm is evaluated
    independently and the solutions concatenated with variables aligned
    by name (vars unbound in an arm become NULL — SPARQL union
    semantics).  Arms are (patterns, filters) tuples (a bare pattern
    list is accepted for back-compat).  Mutually exclusive with
    `patterns`.

    Clause lowering order and plan shape:
    * VALUES: inline data becomes a literal DataFrame inner-joined on
      its shared vars with an explicit broadcast hint (it is by
      construction tiny) — or a crossJoin if it introduces only new
      vars.
    * BIND: a select-expression column (projection, no shuffle);
      evaluated before FILTER so filters can reference bound vars.
    * FILTER EXISTS { G }: left-semi join on the shared vars (J5
      lowering); with NO shared vars, an existence gate (kept iff the
      group matches at all).
    * FILTER NOT EXISTS { G }: left-anti join on the shared vars (J6
      lowering); with NO shared vars it degrades to an existence gate —
      any inner solution empties the result (limit(1) probe, never a
      full materialization).
    * MINUS { G }: same anti-join on shared vars, but per SPARQL
      semantics a MINUS group sharing NO variable removes nothing
      (no-op).  NULL shared vars never match (anti-join equality), i.e.
      solutions unbound in a shared var always survive — the documented
      behavior for this subset.
    """
    if unions:
        if patterns:
            raise ValueError("patterns and unions are mutually exclusive")
        arm_res = []
        union_cols: list[str] = []
        for i, arm in enumerate(unions):
            arm_pats, arm_filters = (
                arm if isinstance(arm, tuple) else (arm, [])
            )
            df, _ = _join_patterns(triples, arm_pats, start_tag=5000 * (i + 1),
                                   stats=stats)
            for f in arm_filters:
                df = df.where(F.expr(_filter_to_expr(f)))
            vs = [c for c in df.columns if not c.startswith("_exists_")]
            arm_res.append((df, set(vs)))
            union_cols += [v for v in vs if v not in union_cols]
        # typed __num shadows ride the union (an arm without one gets a
        # NULL double) so later FILTERs can prefer them, but they are
        # never solution variables
        aligned = [
            df.select(*[
                F.col(v) if v in vs else F.lit(None).cast(
                    "double" if v.endswith("__num") else "string").alias(v)
                for v in union_cols
            ])
            for df, vs in arm_res
        ]
        acc = aligned[0]
        for d in aligned[1:]:
            acc = acc.unionByName(d)
        var_order = [v for v in union_cols if not v.endswith("__num")]
    elif patterns:
        acc, var_order = _join_patterns(triples, patterns, stats=stats)
    elif values:
        # VALUES-only WHERE body: the first block seeds the solution set
        # (UNDEF cells seed as NULL = unbound)
        spark = triples.sparkSession
        vs, rows = values[0]
        acc = spark.createDataFrame(
            [tuple(None if x == _UNDEF else _const_term(x) for x in r)
             for r in rows],
            ", ".join(f"{v} string" for v in vs),
        )
        var_order = list(vs)
        values = values[1:]
    elif subselects:
        # subquery-only WHERE body: the first subquery seeds the
        # solution set (the rest join below like any other group)
        acc = subselects[0]
        var_order = list(acc.columns)
        subselects = subselects[1:]
    else:
        raise ValueError("BGP needs patterns, unions, values, or a subquery")
    # { SELECT ... } subqueries: SPARQL joins the subquery's projected
    # solutions with the enclosing group — an inner equi-join on the
    # shared vars (Catalyst picks broadcast for a small aggregate side),
    # a crossJoin when the subquery introduces only new vars.  Joined
    # BEFORE OPTIONAL/BIND/FILTER so those can reference subquery vars.
    for sub in subselects:
        shared = sorted(set(var_order) & set(sub.columns))
        acc = acc.join(sub, on=shared) if shared else acc.crossJoin(sub)
        var_order += [v for v in sub.columns if v not in var_order]
    for gi, group in enumerate(optionals):
        opt_pats, opt_filters = (
            group if isinstance(group, tuple) else (group, [])
        )
        opt_df, opt_vars = _join_patterns(
            triples, opt_pats, start_tag=1000 * (gi + 1), stats=stats)
        for f in opt_filters:  # group-scoped: filter BEFORE the left join
            opt_df = opt_df.where(F.expr(_filter_to_expr(f)))
        shared = sorted(set(var_order) & set(opt_df.columns))
        if not shared:
            raise ValueError(f"OPTIONAL group {opt_pats} shares no variable")
        # keep the left side's __num shadow of a shared var (as in
        # _join_patterns); the group's own shadows stay out of var_order
        dup = [c for c in opt_df.columns
               if c.endswith("__num") and c in acc.columns]
        acc = acc.join(opt_df.drop(*dup), on=shared, how="left")
        var_order += [v for v in opt_df.columns
                      if v not in var_order and not v.startswith("_exists_")
                      and not v.endswith("__num")]
    for vs, rows in values:
        cells = [
            tuple(None if x == _UNDEF else _const_term(x) for x in r)
            for r in rows
        ]
        shared = sorted(set(var_order) & set(vs))
        has_undef = any(x is None for r in cells for x in r)
        if not has_undef:
            inline = triples.sparkSession.createDataFrame(
                cells, ", ".join(f"{v} string" for v in vs),
            )
            if shared:
                acc = acc.join(F.broadcast(inline), on=shared)
            else:
                acc = acc.crossJoin(F.broadcast(inline))
        else:
            # UNDEF = wildcard: SPARQL's compatible-solutions join.  A
            # NULL inline cell matches any binding (and an unbound acc
            # var matches any constant, which then binds it) — an
            # OR-per-column theta join, broadcast because inline data
            # is always query-text-sized.
            tmp = {v: f"__values_{v}" for v in vs}
            inline = triples.sparkSession.createDataFrame(
                cells, ", ".join(f"{tmp[v]} string" for v in vs),
            )
            if shared:
                cond = None
                for v in shared:
                    c = (
                        F.col(tmp[v]).isNull()
                        | F.col(v).isNull()
                        | (F.col(tmp[v]) == F.col(v))
                    )
                    cond = c if cond is None else cond & c
                acc = acc.join(F.broadcast(inline), on=cond)
                for v in shared:
                    acc = acc.withColumn(
                        v, F.coalesce(F.col(v), F.col(tmp[v]))
                    )
            else:
                acc = acc.crossJoin(F.broadcast(inline))
            for v in vs:
                if v not in shared:
                    acc = acc.withColumn(v, F.col(tmp[v]))
            acc = acc.drop(*tmp.values())
        var_order += [v for v in vs if v not in var_order]
    for expr, var in binds:
        acc = acc.withColumn(var, F.expr(_filter_to_expr(expr)))
        if var not in var_order:
            var_order.append(var)
    def _group_inner(group, start_tag: int):
        """EXISTS/NOT EXISTS/MINUS group -> its compiled inner plan with
        GROUP-SCOPED filters applied inner-side.  A filter referencing a
        variable the group itself does not bind would need correlated
        per-outer-row evaluation — outside the subset, rejected loudly
        (a filter on a var bound by BOTH sides is fine inner-side: the
        semi/anti join equates them)."""
        pats, grp_filters = (group if isinstance(group, tuple)
                             else (group, []))
        inner, _ = _join_patterns(triples, pats, start_tag=start_tag,
                                  stats=stats)
        inner_vars = {c for c in inner.columns
                      if not c.startswith("_exists_")}
        for f in grp_filters:
            missing = set(re.findall(r"\?(\w+)", f)) - inner_vars
            if missing:
                raise ValueError(
                    f"EXISTS/MINUS group filter references variables the "
                    f"group does not bind {sorted(missing)}: correlated "
                    f"filters are outside the subset")
            inner = inner.where(F.expr(_filter_to_expr(f)))
        shared = sorted(set(var_order) & inner_vars)
        return inner, shared

    for gi, group in enumerate(exists):
        inner, shared = _group_inner(group, 9000 * (gi + 1))
        if shared:
            acc = acc.join(inner, on=shared, how="left_semi")
        else:  # no shared vars: keep all iff the inner group matches
            acc = acc.join(inner.limit(1), F.lit(True), "left_semi")
    for gi, group in enumerate(not_exists):
        inner, shared = _group_inner(group, 3000 * (gi + 1))
        if shared:
            acc = acc.join(inner, on=shared, how="left_anti")
        else:
            acc = acc.join(inner.limit(1), F.lit(True), "left_anti")
    for gi, group in enumerate(minus):
        inner, shared = _group_inner(group, 7000 * (gi + 1))
        if shared:  # disjoint-domain MINUS removes nothing (SPARQL)
            acc = acc.join(inner, on=shared, how="left_anti")
    for f in filters:
        acc = acc.where(F.expr(_filter_to_expr(
            _prefer_typed(f, set(acc.columns)))))
    cols = select if select else [v for v in var_order]
    out = acc.select(*cols)
    return out.distinct() if distinct else out


# reserved graph name for the dataset clause's merged default graph
# (\x01 cannot appear in real graph names — the parser's own reserved
# alphabet is \x00<n>\x00, and loader-produced graphs are file paths /
# run ids)
DEFAULT_GRAPH = "\x01default-graph"


def _dataset_frame(quads: DataFrame, pq: ParsedQuery) -> DataFrame:
    """Lower the FROM / FROM NAMED dataset clause to a frame rewrite:
    the merged FROM graphs become rows under the reserved DEFAULT_GRAPH
    name (default-graph patterns are rewritten to match exactly that),
    and only FROM NAMED graphs stay under their own names for GRAPH
    patterns.  With a dataset clause present, a graph outside it is
    invisible — the SPARQL 1.1 dataset semantics, replacing this
    module's no-clause convention (default patterns match ALL quads)."""
    if "graph" not in quads.columns:
        raise ValueError(
            "FROM / FROM NAMED need a quads frame with a 'graph' column "
            f"(got columns {quads.columns})")
    parts = []
    if pq.from_graphs:
        parts.append(
            quads.where(F.col("graph").isin(pq.from_graphs))
            .withColumn("graph", F.lit(DEFAULT_GRAPH))
        )
    if pq.from_named and pq.describe is None:
        parts.append(quads.where(F.col("graph").isin(pq.from_named)))
    if not parts:  # FROM NAMED only + DESCRIBE: empty default graph
        return quads.limit(0)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _rewrite_default_patterns(pq: ParsedQuery) -> None:
    """With a dataset clause, every default-graph (3-term) pattern in
    every group becomes a quad pattern pinned to DEFAULT_GRAPH, so it
    matches exactly the FROM merge; GRAPH-group quads keep their own
    graph terms.  In place, recursing into subqueries."""

    def _add_g(pats):
        return [p if len(p) == 4 else (*p, DEFAULT_GRAPH) for p in pats]

    pq.patterns = _add_g(pq.patterns)
    pq.optionals = [
        (_add_g(g[0]), g[1]) if isinstance(g, tuple) else _add_g(g)
        for g in pq.optionals
    ]
    pq.unions = [(_add_g(arm), fl) for arm, fl in pq.unions]
    pq.not_exists = [(_add_g(g), fl) for g, fl in pq.not_exists]
    pq.exists = [(_add_g(g), fl) for g, fl in pq.exists]
    pq.minus = [(_add_g(g), fl) for g, fl in pq.minus]
    for sub in pq.subqueries:
        sub.from_graphs, sub.from_named = pq.from_graphs, pq.from_named
        _rewrite_default_patterns(sub)


def sparql(triples: DataFrame, query: str,
           services: dict[str, DataFrame] | None = None,
           stats: GraphStats | None = None) -> DataFrame:
    """Evaluate a query in the documented SPARQL subset over a
    (subj, pred, obj, ...) triples DataFrame.

    `services` registers federation endpoints for SERVICE groups:
    endpoint IRI (exactly as written in the query, brackets stripped)
    -> that endpoint's triples DataFrame (another warehouse, snapshot
    store read, or loaded catalog).  The remote evaluation of SPARQL
    1.1 federation becomes a LOCAL plan over the registered frame — at
    cluster scale both sides are just tables, so the federated join is
    an ordinary Catalyst join on the shared variables."""
    pq = parse_sparql(query)
    if pq.from_graphs or pq.from_named:
        triples = _dataset_frame(triples, pq)
        _rewrite_default_patterns(pq)
    return _eval_parsed(triples, pq, services, stats)


def _eval_parsed(triples: DataFrame, pq: ParsedQuery,
                 services: dict[str, DataFrame] | None = None,
                 stats: GraphStats | None = None) -> DataFrame:
    """Lower one ParsedQuery to a DataFrame plan; recurses for
    { SELECT ... } subqueries (each becomes an independent plan joined
    into the outer group by bgp on shared vars)."""
    subs = [_eval_parsed(triples, s, services, stats)
            for s in pq.subqueries]
    for ep, silent, pats, filts in pq.services:
        src = (services or {}).get(_const_term(ep))
        if src is None:
            if silent:
                # SPARQL SILENT: a failed endpoint contributes nothing
                # that constrains the outer solutions
                continue
            raise ValueError(
                f"SERVICE endpoint {ep} is not registered (pass "
                f"services={{...}}; add SILENT to tolerate absence)")
        subs.append(bgp(src, pats, filters=filts, distinct=False))
    if pq.describe is not None:
        # DESCRIBE <uri>: the resource's concise neighborhood — both
        # pushed-down scans, unioned (rdflib's Graph.triples((uri,*,*))
        # + ((*,*,uri)) shape)
        return (
            triples.where(F.col("subj") == pq.describe)
            .select("subj", "pred", "obj")
            .unionByName(
                triples.where(F.col("obj") == pq.describe)
                .select("subj", "pred", "obj")
            )
            .distinct()
        )
    if pq.ask:
        # ASK: one boolean row.  limit(1) before the agg so the scan
        # stops at the first solution instead of materializing them all.
        sol = bgp(
            triples, pq.patterns, filters=pq.filters, optionals=pq.optionals,
            distinct=False, unions=pq.unions, binds=pq.binds,
            values=pq.values, not_exists=pq.not_exists, minus=pq.minus,
            exists=pq.exists, subselects=subs, stats=stats,
        ).limit(1)
        return sol.agg((F.count(F.lit(1)) > 0).alias("ask"))
    if pq.construct is not None:
        # CONSTRUCT: evaluate WHERE, then instantiate each template
        # pattern per solution — the reference's graph-building shape
        # (query bindings -> emitted triples), distinct because a graph
        # is a SET of triples
        sol = bgp(
            triples, pq.patterns, filters=pq.filters, optionals=pq.optionals,
            distinct=False, unions=pq.unions, binds=pq.binds,
            values=pq.values, not_exists=pq.not_exists, minus=pq.minus,
            exists=pq.exists, subselects=subs, stats=stats,
        )
        def _term(t: str, verb: bool = False):
            if verb and t == "a":
                return F.lit("rdf:type")
            return F.col(t[1:]) if _is_var(t) else F.lit(_const_term(t))
        parts = [
            sol.select(
                _term(s).alias("subj"), _term(p, verb=True).alias("pred"),
                _term(o).alias("obj"),
            )
            for s, p, o in pq.construct
        ]
        out = parts[0]
        for d in parts[1:]:
            out = out.unionByName(d)
        # unbound OPTIONAL vars instantiate no triple (SPARQL semantics)
        return out.where(
            F.col("subj").isNotNull() & F.col("pred").isNotNull()
            & F.col("obj").isNotNull()
        ).distinct()
    post_project = None  # deferred grouped projection (see below)
    if pq.aggs or pq.group_by is not None:
        # aggregate form: evaluate the BGP keeping every needed variable
        # as raw bindings (NO distinct — aggregate semantics are over the
        # solution multiset), then one groupBy on the grouping keys
        # (explicit GROUP BY list when present, else the plain select
        # vars — the implicit form)
        keys = pq.group_by if pq.group_by is not None else pq.select
        needed = list(dict.fromkeys(
            keys + [a.var for a in pq.aggs if a.var is not None]
        ))
        sol = bgp(
            triples, pq.patterns, filters=pq.filters, optionals=pq.optionals,
            select=needed or None, distinct=False, unions=pq.unions,
            binds=pq.binds, values=pq.values, not_exists=pq.not_exists,
            minus=pq.minus, exists=pq.exists, subselects=subs, stats=stats,
        )
        def _agg_col(a: AggItem):
            if a.var is None:
                return F.count(F.lit(1)).alias(a.alias)
            col = F.col(a.var)
            if a.func == "SAMPLE":
                # SPARQL leaves SAMPLE's pick unspecified; this engine
                # picks MIN so the result is deterministic (and
                # therefore oracle-checkable) — a conforming choice
                return F.min(col).alias(a.alias)
            if a.distinct:
                if a.func == "GROUP_CONCAT":
                    return F.array_join(
                        F.array_sort(F.collect_set(col)), a.sep
                    ).alias(a.alias)
                inner = (f"CAST({a.var} AS DOUBLE)"
                         if a.func in ("SUM", "AVG") else a.var)
                return F.expr(
                    f"{a.func.lower()}(DISTINCT {inner})"
                ).alias(a.alias)
            if a.func == "GROUP_CONCAT":
                # SPARQL leaves GROUP_CONCAT order unspecified; this
                # engine SORTS the values first so the result is
                # deterministic (and therefore oracle-checkable).
                # Separator defaults to ';', SEPARATOR='...' overrides.
                return F.array_join(
                    F.array_sort(F.collect_list(col)), a.sep
                ).alias(a.alias)
            if a.func in ("SUM", "AVG"):
                col = col.cast("double")
            return getattr(F, a.func.lower())(col).alias(a.alias)
        if pq.aggs:
            out = sol.groupBy(*keys).agg(*[_agg_col(a) for a in pq.aggs])
        else:
            # GROUP BY with no aggregates in SELECT: one row per group
            # (the spec's grouped projection) — a distinct over the keys
            out = sol.select(*keys).distinct()
        if pq.having:
            out = out.where(F.expr(_filter_to_expr(pq.having)))
        if (
            pq.group_by is not None
            and (pq.select or pq.aggs)  # SELECT * keeps all group keys
            and pq.select != keys
        ):
            # the SELECT subset drops extra group keys — but per the
            # SPARQL algebra (OrderBy before Project before Distinct
            # before Slice) the projection must wait until AFTER
            # ORDER BY, which may legally sort on a non-projected group
            # key; deferred below
            post_project = [*pq.select, *[a.alias for a in pq.aggs]]
    else:
        if pq.having:
            raise ValueError("HAVING requires an aggregate SELECT list")
        out = bgp(
            triples,
            pq.patterns,
            filters=pq.filters,
            optionals=pq.optionals,
            select=pq.select or None,
            distinct=pq.distinct,
            unions=pq.unions,
            # SELECT (expr AS ?v) rides the BIND machinery, after body
            # binds so it may reference them (projection expressions
            # are evaluated per solution — identical semantics)
            binds=[*pq.binds, *pq.select_exprs],
            values=pq.values,
            not_exists=pq.not_exists,
            minus=pq.minus,
            exists=pq.exists, subselects=subs, stats=stats,
        )
    if pq.order_by:
        def _okey(key: str, desc: bool):
            # leading '(' = parenthesized expression key (depth-2
            # grammar); otherwise a plain bound-variable column
            col = (F.expr(_filter_to_expr(key)) if key.startswith("(")
                   else F.col(key))
            return col.desc() if desc else col.asc()

        out = out.orderBy(*[_okey(k, d) for k, d in pq.order_by])
    if post_project is not None:
        # grouped projection: duplicates across groups are kept —
        # unless the query said DISTINCT, which the algebra applies
        # AFTER Project (so it dedups the projected rows)
        out = out.select(*post_project)
        if pq.distinct:
            out = out.distinct()
    if pq.offset is not None:
        out = out.offset(pq.offset)
    if pq.limit is not None:
        out = out.limit(pq.limit)
    return out


def write_vertical(triples: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Write triples VERTICALLY PARTITIONED by predicate (the classic
    triple-store layout: one directory per predicate).  The KG vocabulary
    is a closed, small set (SURVEY §1.1 — LogSet's ontology has ~a dozen
    predicates), so partition count stays tiny while every constant-pred
    BGP pattern — the overwhelmingly common kind — prunes to its own
    files at PLANNING time (PartitionFilters, no footer reads of other
    predicates).  Repartition by pred before the write so each partition
    dir is written by its own task set instead of every task appending a
    sliver to every dir."""
    (
        triples.repartition("pred")
        .write.mode(mode)
        .partitionBy("pred")
        .parquet(path)
    )


def read_vertical(spark, path: str) -> DataFrame:
    """Read a vertical layout back as an ordinary (subj, pred, obj, ...)
    triples DataFrame — bgp()/sparql() work unchanged; Catalyst turns
    their pred-constant filters into partition pruning."""
    return spark.read.parquet(path)


def save_stats(stats: GraphStats, spark, path: str) -> None:
    """Persist ANALYZE output as a vocabulary-sized parquet (one row
    per predicate) — the Hive-ANALYZE-TABLE pattern: at 10^12 triples
    the stats scan is a full pass, so it belongs in maintenance
    (jobs/maintain_table.py --analyze), not on every query; query_graph
    --analyze reuses the persisted rows.  Stats only steer join ORDER,
    so staleness after new ingest can mis-order but never mis-answer —
    re-run the maintenance pass on the usual compaction cadence."""
    rows = [
        (p, stats.pred_counts[p],
         stats.pred_subj.get(p, 0), stats.pred_obj.get(p, 0))
        for p in sorted(stats.pred_counts)
    ]
    spark.createDataFrame(
        rows, "pred string, n long, ds long, do long"
    ).coalesce(1).write.mode("overwrite").parquet(path)


def load_stats(spark, path: str) -> GraphStats:
    """Persisted stats parquet -> GraphStats (driver-side dict; the
    file is one row per predicate)."""
    rows = spark.read.parquet(path).collect()
    return GraphStats(
        total=sum(r["n"] for r in rows),
        pred_counts={r["pred"]: r["n"] for r in rows},
        pred_subj={r["pred"]: r["ds"] for r in rows},
        pred_obj={r["pred"]: r["do"] for r in rows},
    )
