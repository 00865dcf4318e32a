"""operators/digraph.py (SCC, topological levels) and cc.cc_incremental:
each checked against an independent pure-Python replay of the same
semantics on randomized graphs, on BOTH the driver-side small path and
the forced distributed loop (small_graph_edges=0); the DuckDB oracle
gate covers them again at sf0.01 via q_scc / q_topo / q_cc_incremental."""

from __future__ import annotations

import random

import pytest

from logset_spark.operators.cc import cc_incremental, connected_components
from logset_spark.operators.digraph import scc, topo_levels


def _py_scc(edges: list[tuple[str, str]]) -> dict[str, str]:
    """Reachability-based exact SCC: scc(v) = min(u : u ~> v and v ~> u),
    reflexive.  O(V*E) — fine at test scale, independent algorithm."""
    nodes = sorted({s for s, _ in edges} | {d for _, d in edges})
    adj: dict[str, set[str]] = {}
    for s, d in edges:
        adj.setdefault(s, set()).add(d)
    reach: dict[str, set[str]] = {}
    for start in nodes:
        seen = {start}
        frontier = set(adj.get(start, ()))
        while frontier - seen:
            seen |= frontier
            frontier = {w for v in frontier for w in adj.get(v, ())}
        reach[start] = seen | frontier
    return {
        v: min(
            u for u in nodes if u == v or (v in reach[u] and u in reach[v])
        )
        for v in nodes
    }


def _py_topo(edges: list[tuple[str, str]]) -> dict[str, int | None]:
    """Kahn-peel replay: level = peel round = longest path from a root;
    nodes never peeled (on/downstream of a cycle) map to None."""
    nodes = sorted({s for s, _ in edges} | {d for _, d in edges})
    adj: dict[str, list[str]] = {}
    ind = {n: 0 for n in nodes}
    for s, d in edges:
        adj.setdefault(s, []).append(d)
        ind[d] += 1
    out: dict[str, int | None] = {}
    frontier = [n for n in nodes if ind[n] == 0]
    level = 0
    while frontier:
        nxt = []
        for n in frontier:
            out[n] = level
            for w in adj.get(n, ()):
                ind[w] -= 1
                if ind[w] == 0:
                    nxt.append(w)
        frontier = nxt
        level += 1
    for n in nodes:
        out.setdefault(n, None)
    return out


def _rand_digraph(seed: int, n: int, m: int) -> list[tuple[str, str]]:
    rng = random.Random(seed)
    return [
        (f"n{rng.randrange(n):02d}", f"n{rng.randrange(n):02d}")
        for _ in range(m)
    ]


@pytest.mark.parametrize("seed", [1, 2, 3])
@pytest.mark.parametrize("small", [None, 0])
def test_scc_matches_python_reachability(spark, seed, small):
    edges = _rand_digraph(seed, n=24, m=40)
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {
        r["node"]: r["scc"]
        for r in scc(df, small_graph_edges=small).collect()
    }
    assert got == _py_scc(edges)


def test_scc_ring_chain_distributed(spark):
    """Chain of 8-node rings (cyclic SCCs) joined by DAG edges plus
    singleton spurs — exercises re-blocking AND per-round finalization
    on the forced distributed path."""
    edges = []
    for ring in range(4):
        base = ring * 8
        for i in range(8):
            edges.append((f"v{base + i:03d}", f"v{base + (i + 1) % 8:03d}"))
        if ring:
            edges.append((f"v{(ring - 1) * 8:03d}", f"v{base:03d}"))
    edges += [("v000", "spur1"), ("spur1", "spur2")]
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {r["node"]: r["scc"] for r in scc(df, small_graph_edges=0).collect()}
    assert got == _py_scc(edges)
    # rings collapse to their min node; spurs are singletons
    assert got["v007"] == "v000" and got["v031"] == "v024"
    assert got["spur1"] == "spur1" and got["spur2"] == "spur2"


def test_scc_path_graph_one_refinement_round(spark):
    """An increasing path (worst case for naive FW-BW peeling: one node
    per round) — the (fwd, bwd) pairs are all distinct, so block
    refinement finishes it in a couple of outer rounds; max_rounds=3
    would raise if it peeled one-at-a-time."""
    edges = [(f"p{i:02d}", f"p{i + 1:02d}") for i in range(30)]
    df = spark.createDataFrame(edges, "src string, dst string")
    got = scc(df, small_graph_edges=0, max_rounds=3).collect()
    assert {r["node"]: r["scc"] for r in got} == {
        f"p{i:02d}": f"p{i:02d}" for i in range(31)
    }


def test_scc_chain_with_tail_minimum_converges(spark):
    """p00 -> ... -> p44 -> a: the backward pass moves the tail-minimum
    label `a` one hop per round (halving cannot shortcut it), so one
    propagation needs 46 rounds — more than any small constant cap."""
    from logset_spark.operators.digraph import _driver_side_scc

    names = [f"p{i:02d}" for i in range(45)] + ["a"]
    df = spark.createDataFrame(
        list(zip(names, names[1:])), "src string, dst string"
    )
    got = {r["node"]: r["scc"] for r in scc(df, small_graph_edges=0).collect()}
    assert got == {r["node"]: r["scc"] for r in _driver_side_scc(df).collect()}


def test_cc_path_with_tail_minimum_is_one_component(spark):
    """p00 -> ... -> p29 -> a: the minimum label `a` reaches p00 only
    after 30 rounds; a fixed round cap below that split the component."""
    from logset_spark.operators.cc import _driver_side_cc

    names = [f"p{i:02d}" for i in range(30)] + ["a"]
    df = spark.createDataFrame(
        list(zip(names, names[1:])), "src string, dst string"
    )
    got = {
        r["node"]: r["component"]
        for r in connected_components(df, small_graph_edges=0).collect()
    }
    assert got == {
        r["node"]: r["component"] for r in _driver_side_cc(df).collect()
    }
    assert set(got.values()) == {"a"}


@pytest.mark.parametrize("seed", [7, 8])
@pytest.mark.parametrize("small", [None, 0])
def test_topo_levels_matches_kahn_replay_on_dags(spark, seed, small):
    # forward-only edges -> guaranteed DAG
    rng = random.Random(seed)
    edges = []
    for _ in range(60):
        a, b = sorted(rng.sample(range(30), 2))
        edges.append((f"n{a:02d}", f"n{b:02d}"))
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {
        r["node"]: r["level"]
        for r in topo_levels(df, small_graph_edges=small).collect()
    }
    assert got == _py_topo(edges)


@pytest.mark.parametrize("small", [None, 0])
def test_topo_cycle_raises_and_mark_nulls_downstream(spark, small):
    # a -> b -> c -> a cycle, with d upstream and e downstream
    edges = [("d", "a"), ("a", "b"), ("b", "c"), ("c", "a"), ("c", "e")]
    df = spark.createDataFrame(edges, "src string, dst string")
    with pytest.raises(ValueError, match="cycle"):
        topo_levels(df, small_graph_edges=small)
    got = {
        r["node"]: r["level"]
        for r in topo_levels(
            df, on_cycle="mark", small_graph_edges=small
        ).collect()
    }
    # d peels at level 0; the cycle and everything downstream is NULL
    assert got == {"d": 0, "a": None, "b": None, "c": None, "e": None}


@pytest.mark.parametrize("small", [None, 0])
def test_topo_self_loop_marked(spark, small):
    edges = [("a", "b"), ("b", "b"), ("b", "c")]
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {
        r["node"]: r["level"]
        for r in topo_levels(
            df, on_cycle="mark", small_graph_edges=small
        ).collect()
    }
    assert got == {"a": 0, "b": None, "c": None}


@pytest.mark.parametrize("seed", [11, 12, 13])
def test_cc_incremental_equals_full_recompute(spark, seed):
    rng = random.Random(seed)
    batch1 = [
        (f"a{rng.randrange(20)}", f"a{rng.randrange(20)}") for _ in range(25)
    ]
    # batch2 bridges into batch1's namespace and adds brand-new nodes
    batch2 = [
        (f"a{rng.randrange(20)}", f"b{rng.randrange(10)}") for _ in range(8)
    ] + [(f"c{i}", f"c{i + 1}") for i in range(4)]
    df1 = spark.createDataFrame(batch1, "src string, dst string")
    df2 = spark.createDataFrame(batch2, "src string, dst string")
    base = connected_components(df1)
    inc = {
        r["node"]: r["component"]
        for r in cc_incremental(base, df2).collect()
    }
    full = {
        r["node"]: r["component"]
        for r in connected_components(df1.unionByName(df2)).collect()
    }
    assert inc == full


def test_cc_incremental_untouched_labels_pass_through(spark):
    """Label stability: components no new edge touches keep their rows
    byte-identical — proven by planting a NON-canonical (but member)
    label on an untouched component and observing it survive, while a
    full recompute would rewrite it to the min node."""
    base = spark.createDataFrame(
        [("x1", "x9"), ("x2", "x9"), ("y1", "y1"), ("y2", "y1")],
        "node string, component string",
    )
    new = spark.createDataFrame([("y2", "y3")], "src string, dst string")
    got = {
        r["node"]: r["component"] for r in cc_incremental(base, new).collect()
    }
    # untouched x-component keeps its planted non-min label verbatim
    assert got["x1"] == "x9" and got["x2"] == "x9"
    # touched y-component recomputes: min over (old label, members, new)
    assert got == {
        "x1": "x9", "x2": "x9", "y1": "y1", "y2": "y1", "y3": "y1",
    }


def test_cc_incremental_all_new_nodes(spark):
    base = spark.createDataFrame(
        [("x1", "x1")], "node string, component string"
    )
    new = spark.createDataFrame([("z2", "z1")], "src string, dst string")
    got = {
        r["node"]: r["component"] for r in cc_incremental(base, new).collect()
    }
    assert got == {"x1": "x1", "z1": "z1", "z2": "z1"}


def test_topo_depth_equal_to_max_rounds_completes(spark):
    """A DAG whose depth exactly equals max_rounds must complete, not
    raise (review finding: completion was only observed at the top of
    the NEXT iteration)."""
    edges = [("a", "b"), ("b", "c")]
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {
        r["node"]: r["level"]
        for r in topo_levels(
            df, max_rounds=3, small_graph_edges=0
        ).collect()
    }
    assert got == {"a": 0, "b": 1, "c": 2}


def test_checkpoint_cut_drops_origin_and_preserves_data(spark):
    """checkpoint_cut must (a) return byte-identical data and schema,
    (b) root the frame at a bare LogicalRDD so round-chained loops do
    not accumulate origin stats/constraints (the q_scc planning-time
    doubling, ckpt.py module doc), and (c) keep per-round planning flat
    across a long chained loop — the regression that motivated it."""
    import time

    from pyspark.sql import functions as F

    from logset_spark.ckpt import checkpoint_cut, fixpoint

    df = spark.createDataFrame(
        [(i, f"v{i}") for i in range(100)], "k int, v string"
    )
    cut = checkpoint_cut(df.withColumn("w", F.length("v")))
    assert cut.schema.simpleString() == "struct<k:int,v:string,w:int>"
    assert sorted(r["k"] for r in cut.collect()) == list(range(100))
    plan = cut._jdf.queryExecution().optimizedPlan().toString()
    assert "LogicalRDD" in plan and plan.count("\n") <= 2

    # chained-loop planning must stay flat: 20 fixpoint rounds, each
    # referencing the previous checkpoint 2x (the halving shape); with
    # origin links retained this doubles per round past ~14 links.
    stamps = []

    def halve(labels):
        stamps.append(time.monotonic())
        parent = labels.select(F.col("k").alias("lab"), F.col("lab").alias("g"))
        return labels.join(parent, "lab", "left").select(
            "k", F.least("lab", F.coalesce("g", "lab")).alias("lab"))

    fixpoint(df.select("k", F.col("k").alias("lab")), halve, F.lit(True),
             "halving", max_rounds=21, truncate=True)
    walls = [b - a for a, b in zip(stamps, stamps[1:])]
    assert len(walls) == 20
    assert max(walls[-3:]) < 10 * max(walls[2:5]) + 0.5, walls

    # an empty state converges in one round: the changed count is
    # coalesced to 0, never a NULL that would spin to the cap
    rounds = []
    out = fixpoint(df.limit(0), lambda s: rounds.append(1) or s,
                   F.col("k") > 0, "empty")
    assert rounds == [1] and out.count() == 0


def test_small_graph_results_are_arrow_local_relations(spark):
    """The driver-side small-graph paths (CC union-find, Tarjan SCC, Kahn
    topo levels, BFS closure) hand their rows back as an Arrow-built
    LocalRelation: the list createDataFrame path pickles them through a
    PythonRDD and starts the Python daemon.  Covers null levels (a cycle
    and its downstream under on_cycle='mark') and empty results."""
    from pyspark.sql import functions as F

    from logset_spark.operators.graph import transitive_closure

    def rows(df, schema):
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        assert plan.startswith("LocalRelation"), plan
        assert df.schema.simpleString() == f"struct<{schema}>"
        return sorted(tuple(r) for r in df.collect())

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "a"), ("b", "c"), ("e", "f")], "src string, dst string"
    )
    none = edges.where(F.lit(False))
    cc_schema = "node:string,component:string"
    assert rows(connected_components(edges), cc_schema) == [
        ("a", "a"), ("b", "a"), ("c", "a"), ("e", "e"), ("f", "e")]
    assert rows(connected_components(none), cc_schema) == []
    scc_schema = "node:string,scc:string"
    assert rows(scc(edges), scc_schema) == [
        ("a", "a"), ("b", "a"), ("c", "c"), ("e", "e"), ("f", "f")]
    assert rows(scc(none), scc_schema) == []
    topo_schema = "node:string,level:int"
    assert rows(topo_levels(edges, on_cycle="mark"), topo_schema) == [
        ("a", None), ("b", None), ("c", None), ("e", 0), ("f", 1)]
    assert rows(topo_levels(none), topo_schema) == []
    tc_schema = "node:string,ancestor:string,dist:int"
    parents = edges.select(F.col("src").alias("child"), F.col("dst").alias("parent"))
    assert rows(transitive_closure(parents.where("child = 'e'")), tc_schema) == [
        ("e", "f", 1)]
    assert rows(transitive_closure(parents.where(F.lit(False))), tc_schema) == []
