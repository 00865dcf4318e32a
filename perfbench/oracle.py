"""Independent output checks, evaluated with DuckDB and pandas over the
files the program wrote — never with the Spark code under test."""

from __future__ import annotations

import glob
import os

import duckdb
import pandas as pd

# The analyst session of the `query` workload.  The DuckDB text beside
# each query counts the rows the Spark evaluation must return.
SPARQL = {
    "bgp2": "SELECT ?conv ?e WHERE { ?conv hasTurn ?turn . ?turn mentions ?e }",
    "agg": "SELECT ?e (COUNT(?turn) AS ?n) WHERE { ?turn mentions ?e } GROUP BY ?e",
    "optional": "SELECT ?turn ?tool WHERE { ?turn hasRole ?r . "
                "OPTIONAL { ?turn usedTool ?tool } }",
    "filter": "SELECT ?turn ?e WHERE { ?turn mentions ?e . "
              "FILTER(regex(?e, 'mainframe')) }",
}
ENCODED_BGP = [("?conv", "hasTurn", "?turn"), ("?turn", "mentions", "?e")]
# The SCC query runs over the followedBy edges among the first SCC_TURNS
# turns of every SCC_MOD-th conversation, in both directions: each such
# conversation is one strongly connected component, and every seed gives
# chains of about the same length, so the same number of rounds.
SCC_MOD = 8
SCC_TURNS = 48
CONV_NUM = r"conv-(\d+)/"
TURN_NUM = r"/(\d+)$"

_ORACLE_SQL = {
    "bgp2": """SELECT count(*) FROM g a JOIN g b ON a.obj = b.subj
               WHERE a.pred = 'hasTurn' AND b.pred = 'mentions'""",
    "agg": "SELECT count(DISTINCT obj) FROM g WHERE pred = 'mentions'",
    "optional": """SELECT count(*) FROM (SELECT subj FROM g WHERE pred = 'hasRole') r
                   LEFT JOIN (SELECT subj FROM g WHERE pred = 'usedTool') t
                   ON r.subj = t.subj""",
    "filter": """SELECT count(*) FROM g WHERE pred = 'mentions'
                 AND regexp_matches(obj, 'mainframe')""",
    "encoded_bgp": """SELECT count(*) FROM (SELECT DISTINCT a.subj, b.obj
                      FROM g a JOIN g b ON a.obj = b.subj
                      WHERE a.pred = 'hasTurn' AND b.pred = 'mentions')""",
    "closure": """WITH RECURSIVE e AS (
                    SELECT DISTINCT subj AS node, obj AS up FROM g
                    WHERE pred = 'partOf'),
                  walk(node, up) AS (
                    SELECT node, up FROM e
                    UNION
                    SELECT w.node, e.up FROM walk w JOIN e ON e.node = w.up)
                  SELECT count(*) FROM walk""",
    "scc": f"""WITH e AS (SELECT subj, obj FROM g WHERE pred = 'followedBy'
                 AND CAST(regexp_extract(subj, '{CONV_NUM}', 1) AS BIGINT)
                     % {SCC_MOD} = 0
                 AND CAST(regexp_extract(obj, '{TURN_NUM}', 1) AS BIGINT)
                     < {SCC_TURNS})
               SELECT count(*) FROM (SELECT subj FROM e UNION SELECT obj FROM e)""",
}


def _con() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    return con


def _parquet_files(dirs: list[str]) -> list[str]:
    files = []
    for d in dirs:
        files.extend(glob.glob(os.path.join(d, "**", "*.parquet"), recursive=True))
    return sorted(files)


def pred_counts(dirs: list[str]) -> dict[str, int]:
    """Triples per predicate over every parquet file under `dirs`."""
    files = _parquet_files(dirs)
    if not files:
        return {}
    con = _con()
    try:
        rows = con.execute(
            "SELECT pred, count(*) FROM read_parquet(?, union_by_name=true) "
            "GROUP BY pred", [files]).fetchall()
    finally:
        con.close()
    return {p: int(n) for p, n in rows}


def structural_expected(pdf: pd.DataFrame) -> dict[str, int]:
    """Per-turn triples every turn of the input must yield: one each of
    hasTurn/partOf/hasRole/atTime, usedTool on tool turns, and one
    followedBy per turn that has a successor in its conversation."""
    turns = len(pdf)
    return {
        "hasTurn": turns, "partOf": turns, "hasRole": turns,
        "atTime": int(pdf["ts"].notna().sum()),
        "usedTool": int(pdf["tool"].notna().sum()),
        "followedBy": turns - int(pdf["conv_id"].nunique()),
    }


def query_expected(triples_dir: str) -> dict[str, int]:
    """Row count of every session query, evaluated once per run."""
    con = _con()
    try:
        con.execute(
            "CREATE TEMP TABLE g AS SELECT subj, pred, obj FROM "
            "read_parquet(?)", [_parquet_files([triples_dir])])
        return {k: int(con.execute(q).fetchone()[0])
                for k, q in _ORACLE_SQL.items()}
    finally:
        con.close()


def tree_bytes(root: str) -> int:
    """On-disk bytes of every file under `root` (metadata included)."""
    total = 0
    for d, _, files in os.walk(root):
        for f in files:
            total += os.path.getsize(os.path.join(d, f))
    return total


def mismatches(got: dict[str, int], want: dict[str, int]) -> list[str]:
    return [f"{k}: got {got.get(k)} want {v}"
            for k, v in sorted(want.items()) if got.get(k) != v]
