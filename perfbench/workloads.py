"""The three workloads and the layer calls they time.

Every workload is closed loop with one client: the next op starts when
the previous one has returned and its output has been checked.  Inputs
come from `logset_spark.sources.synth` with the run's seed; each input
is cut to an exact turn count, so a seed changes the content of the
input and not its size.

A workload object has four phases, called by run.py in this order:
`prepare` (untimed fixtures), `setup` (timed, repeated; `setup_s` is the
median), `warmup` (untimed; fills JIT, codegen and Python-worker caches
so the first op is not a cold outlier) and `op` (timed, repeated for the
run's seconds).  In a traced run `layer_pass` then calls, once each,
the layers the ops do not reach, so every traced run reports every
layer metric.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import oracle
from logset_spark.operators import cc, digraph, encode, extract, graph, link
from logset_spark.operators.sparql import sparql
from logset_spark.pipeline import build_graph
from logset_spark.sources import synth
from logset_spark.sources.snapshots import SnapshotTableIO
from logset_spark.sources.tableio import TableIO
from logset_spark.streaming import incremental

# Turns per input.  `full` is the measured size; `tiny` is for the
# self-test.  A full measurement is 4 + 22 runs per workload within
# 3420 s, and each run already pays a JVM start and a cold warm-up, so
# the sizes are small.  A build op of 50,000 turns is well past the ~7 s
# fixed cost of any build.  A session costs about the same at any
# warehouse size: planning and job scheduling dominate it.
SIZES = {
    "full": {"build": 50_000, "query": 2_000, "ingest": 10_000},
    "tiny": {"build": 1_500, "query": 1_500, "ingest": 800},
}
N_BUCKETS = 16

_SCHEMA = pa.schema([
    ("conv_id", pa.string()), ("turn_idx", pa.int32()), ("role", pa.string()),
    ("text", pa.string()), ("tool", pa.string()),
    ("ts", pa.timestamp("us", tz="UTC")),
])
_DICT_SCHEMA = pa.schema([
    ("canon_uri", pa.string()), ("surface", pa.string()), ("kind", pa.string()),
    ("weight", pa.float64()), ("valid_from", pa.timestamp("us", tz="UTC")),
])


# ---- inputs ----------------------------------------------------------------

def transcripts(seed: int, turns: int) -> pd.DataFrame:
    """Synth transcripts cut to exactly `turns` rows (whole conversations
    plus a prefix of the last one; rows are in conversation order)."""
    n_convs = max(8, turns // 25)
    while True:
        pdf = synth.transcripts_pdf(n_convs=n_convs, seed=seed)
        if len(pdf) >= turns:
            return pdf.iloc[:turns].reset_index(drop=True)
        n_convs *= 2


def write_transcripts(pdf: pd.DataFrame, path: str, n_files: int) -> None:
    """Parquet files split by conversation, as a producer would land them."""
    os.makedirs(path, exist_ok=True)
    pdf = pdf.assign(ts=pdf["ts"].dt.tz_localize("UTC"))
    part = pd.util.hash_pandas_object(pdf["conv_id"], index=False) % n_files
    for i in range(n_files):
        chunk = pdf[part.values == i]
        pq.write_table(pa.Table.from_pandas(chunk, schema=_SCHEMA,
                                            preserve_index=False),
                       os.path.join(path, f"part-{i:04d}.parquet"))


def write_dictionary(seed: int, path: str) -> None:
    os.makedirs(path, exist_ok=True)
    d = synth.entity_dictionary_pdf(seed=seed)
    d = d.assign(valid_from=pd.to_datetime(d["valid_from"]).dt.tz_localize("UTC"))
    pq.write_table(pa.Table.from_pandas(d, schema=_DICT_SCHEMA,
                                        preserve_index=False),
                   os.path.join(path, "part-0000.parquet"))


def fingerprint(pdf: pd.DataFrame) -> int:
    """Content hash of an input, for the self-test's seed check."""
    return int(pd.util.hash_pandas_object(pdf, index=False).sum())


def _median(xs):
    return statistics.median(xs) if xs else 0.0


# ---- layer calls shared by ops and the layer pass ---------------------------

class Layers:
    """The calls into each layer, each wrapped in a span.  Shared by the
    workloads so a layer is timed the same way wherever it runs."""

    def __init__(self, ctx):
        self.spark = ctx.spark
        self.tr = ctx.tracer

    def build(self, transcripts_df, dictionary_df, out: str, run_id: str) -> dict:
        timings: dict = {}
        with self.tr.span("pipeline.build_graph") as s:
            t0 = time.monotonic()
            res = build_graph(self.spark, transcripts_df, dictionary_df,
                              TableIO(out, n_buckets=N_BUCKETS), run_id=run_id,
                              timings=timings)
            wall = time.monotonic() - t0
        if s is not None:
            s["timings"] = timings
        res["wall_s"] = wall
        res["timings"] = timings
        return res

    def encode(self, triples_dir: str, out: str) -> None:
        """Term-encode a warehouse into `out`/{terms,triples}."""
        with self.tr.span("encode.store"):
            tri = self.spark.read.parquet(triples_dir).select("subj", "pred", "obj")
            dic = encode.build_term_dictionary(tri)
            dic.write.mode("overwrite").parquet(f"{out}/terms")
            dic = self.spark.read.parquet(f"{out}/terms")
            encode.encode_triples(tri, dic).write.mode("overwrite").parquet(
                f"{out}/triples")

    def session(self, triples_dir: str, enc_dir: str) -> dict[str, int]:
        """One pass of the analyst session; returns row counts per query."""
        spark = self.spark
        tri = spark.read.parquet(triples_dir).select("subj", "pred", "obj")
        counts = {}
        for name, q in oracle.SPARQL.items():
            with self.tr.span(f"sparql.{name}"):
                with self.tr.span("sparql.plan"):
                    df = sparql(tri, q)
                with self.tr.span("sparql.exec"):
                    counts[name] = df.count()
        with self.tr.span("encode.bgp"):
            enc = spark.read.parquet(f"{enc_dir}/triples")
            dic = spark.read.parquet(f"{enc_dir}/terms")
            counts["encoded_bgp"] = encode.bgp_encoded(
                enc, dic, oracle.ENCODED_BGP, select=["conv", "e"]).count()
        with self.tr.span("graph.closure"):
            edges = tri.where(F.col("pred") == "partOf").select(
                F.col("subj").alias("child"), F.col("obj").alias("parent"))
            counts["closure"] = graph.transitive_closure(
                edges, small_graph_edges=0).count()
        with self.tr.span("digraph.scc"):
            conv = F.regexp_extract("subj", oracle.CONV_NUM, 1).try_cast("bigint")
            turn = F.regexp_extract("obj", oracle.TURN_NUM, 1).try_cast("bigint")
            fb = tri.where((F.col("pred") == "followedBy")
                           & (conv % oracle.SCC_MOD == 0)
                           & (turn < oracle.SCC_TURNS)).select(
                F.col("subj").alias("src"), F.col("obj").alias("dst"))
            both = fb.unionByName(fb.select(F.col("dst").alias("src"),
                                            F.col("src").alias("dst")))
            counts["scc"] = digraph.scc(both, small_graph_edges=0).count()
        return counts

    def ingest(self, src_file: str, root: str, dictionary_df) -> dict:
        """Producer lands one file; drain it into an empty snapshot store;
        read the latest snapshot back (the read-after-write query)."""
        src, ck, st = f"{root}/src", f"{root}/ck", f"{root}/store"
        os.makedirs(src)
        shutil.copy(src_file, f"{src}/part-0000.parquet")
        store = SnapshotTableIO(st, n_buckets=N_BUCKETS)
        t0 = time.monotonic()
        with self.tr.span("incremental.drain"):
            stream = incremental.stream_transcripts(self.spark, src)
            incremental.run_linked_available_now(
                stream, ck, self.spark, dictionary_df, store=store)
        t1 = time.monotonic()
        with self.tr.span("snapshots.read"):
            rows = store.read(self.spark).groupBy("pred").count().collect()
        t2 = time.monotonic()
        return {
            "drain_s": t1 - t0, "read_s": t2 - t1, "wall_s": t2 - t0,
            "read": {r["pred"]: int(r["count"]) for r in rows},
            "store_root": st, "bytes": oracle.tree_bytes(st),
            "commits": store.current_version(),
            "leaf_dirs": len(store.partition_dirs()),
            "batches": len([f for f in os.listdir(f"{ck}/commits")
                            if f.isdigit()]),
        }

    def probes(self, transcripts_df, dictionary_df) -> dict:
        """Isolated extract / link / cc calls over one transcript table."""
        out = {}
        spark = self.spark
        extra = extract.non_namelike_surfaces(dictionary_df)
        detector = extract.make_candidate_detector(spark, extra)
        with self.tr.span("extract.detector"):
            t0 = time.monotonic()
            out["extract.mention_hits"] = extract.mentions(
                transcripts_df, detector).count()
            out["extract.detector_s"] = time.monotonic() - t0
        s1 = extract.unified_stage1(transcripts_df, detector, dictionary_df,
                                    prefiltered=extra is not None)
        forms = (s1.where(F.col("form_key").isNotNull())
                 .select(F.col("form_key").alias("form")).distinct()
                 .localCheckpoint())
        out["link.forms_in"] = forms.count()
        with self.tr.span("link.fuzzy"):
            t0 = time.monotonic()
            links = link.fuzzy_link(forms, dictionary_df).localCheckpoint()
            out["link.links_out"] = links.count()
            out["link.fuzzy_s"] = time.monotonic() - t0
        pairs = dictionary_df.select(
            link.normalize_form(F.col("surface")).alias("src"),
            F.col("canon_uri").alias("dst"),
        ).union(links.select(F.col("form").alias("src"),
                             F.col("canon_uri").alias("dst"))).distinct()
        with self.tr.span("cc.components") as s:
            t0 = time.monotonic()
            cc.connected_components(pairs).count()
            out["cc.components_s"] = time.monotonic() - t0
        out["cc.jobs"] = s["job_hi"] - s["job_lo"] if s else 0
        return out


# ---- workloads ---------------------------------------------------------------

class Workload:
    """Shared bookkeeping; subclasses fill in the phases."""

    name = ""

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.work = ctx.work
        self.turns = SIZES[ctx.scale][self.name]
        self.layers = Layers(ctx)
        self.ops: list[dict] = []
        self.layer: dict = {}

    def prepare(self) -> None:
        pass

    def setup(self, rep: int) -> None:
        raise NotImplementedError

    def warmup(self) -> list[str]:
        return []

    def op(self, i: int) -> dict:
        raise NotImplementedError

    def check(self, res: dict) -> list[str]:
        raise NotImplementedError

    def cleanup(self, res: dict) -> None:
        pass

    def end_to_end(self) -> dict:
        raise NotImplementedError

    def layer_pass(self) -> list[str]:
        """Traced runs only: reach every layer; returns check failures."""
        raise NotImplementedError

    def _layer_ingest(self) -> list[str]:
        """One ingest op over the first turns of this workload's input:
        store rows must equal the triples the batches wrote, and the
        structural triples must match the input."""
        pdf = self.pdf.iloc[:SIZES[self.ctx.scale]["ingest"]]
        src = f"{self.work}/layer_src"
        write_transcripts(pdf, src, n_files=1)
        res = self.layers.ingest(f"{src}/part-0000.parquet",
                                 f"{self.work}/layer_ingest", self.dic)
        self.layer["ingest"] = [res]
        written = oracle.pred_counts([f"{res['store_root']}/data"])
        return (oracle.mismatches(res["read"], written)
                + oracle.mismatches(written, oracle.structural_expected(pdf)))

    def _layer_session(self, triples_dir: str) -> list[str]:
        enc = f"{self.work}/layer_enc"
        self.layers.encode(triples_dir, enc)
        counts = self.layers.session(triples_dir, enc)
        return oracle.mismatches(counts, oracle.query_expected(triples_dir))


class Build(Workload):
    """One op = one full build_graph into a fresh warehouse over a fixed
    input table.  The pipeline's batch path; SPARQL, iterative-graph and
    snapshot layers are idle."""

    name = "build"

    def setup(self, rep: int) -> None:
        d = f"{self.work}/setup{rep}"
        self.pdf = transcripts(self.ctx.seed, self.turns)
        write_transcripts(self.pdf, f"{d}/transcripts", n_files=2 * self.ctx.cpus)
        write_dictionary(self.ctx.seed, f"{d}/dictionary")
        self.tr = self.spark.read.parquet(f"{d}/transcripts")
        self.dic = self.spark.read.parquet(f"{d}/dictionary")

    def warmup(self) -> list[str]:
        """A reference build of the same input: fills the caches, and its
        mention / sameAs counts become the expected counts of every op
        (structural counts come from the input itself)."""
        self.input_fp = fingerprint(self.pdf)
        out = f"{self.work}/reference"
        res = self.layers.build(self.tr, self.dic, out, "reference")
        got = oracle.pred_counts([f"{out}/triples"])
        want = oracle.structural_expected(self.pdf)
        errs = oracle.mismatches(got, want)
        self.expected = dict(got, **want)
        self.expected_total = sum(self.expected.values()) + self.ctx.expect_bias
        if res["triples"] != sum(got.values()):
            errs.append(f"reference reported {res['triples']} triples, "
                        f"wrote {sum(got.values())}")
        shutil.rmtree(out, ignore_errors=True)
        return errs

    def op(self, i: int) -> dict:
        out = f"{self.work}/wh{i}"
        res = self.layers.build(self.tr, self.dic, out, f"op{i}")
        res["out"] = out
        res["bytes"] = oracle.tree_bytes(f"{out}/triples")
        return res

    def check(self, res: dict) -> list[str]:
        got = oracle.pred_counts([f"{res['out']}/triples"])
        errs = oracle.mismatches(got, self.expected)
        if sum(got.values()) != self.expected_total:
            errs.append(f"triples {sum(got.values())} != expected "
                        f"{self.expected_total}")
        if res["triples"] != sum(got.values()):
            errs.append(f"build_graph reported {res['triples']}")
        return errs

    def cleanup(self, res: dict) -> None:
        # keep the last warehouse for the layer pass
        if getattr(self, "_last", None):
            shutil.rmtree(self._last, ignore_errors=True)
        self._last = res["out"]

    def end_to_end(self) -> dict:
        p50 = _median([r["wall_s"] for r in self.ops])
        return {
            "op_p50_s": p50,
            "throughput_per_s": _median([r["triples"] for r in self.ops]) / p50,
            "warehouse_bytes_per_triple": _median(
                [r["bytes"] / r["triples"] for r in self.ops]),
        }

    def layer_pass(self) -> list[str]:
        self.layer["builds"] = [r["timings"] | {"wall_s": r["wall_s"]}
                                for r in self.ops]
        self.layer.update(self.layers.probes(self.tr, self.dic))
        return (self._layer_session(f"{self._last}/triples")
                + self._layer_ingest())


class Query(Workload):
    """One op = one pass of a fixed analyst session over a warehouse that
    was built and term-encoded before timing.  Build layers are idle."""

    name = "query"

    def prepare(self) -> None:
        self.pdf = transcripts(self.ctx.seed, self.turns)
        self.input_fp = fingerprint(self.pdf)
        write_transcripts(self.pdf, f"{self.work}/transcripts",
                          n_files=2 * self.ctx.cpus)
        write_dictionary(self.ctx.seed, f"{self.work}/dictionary")
        self.tr = self.spark.read.parquet(f"{self.work}/transcripts")
        self.dic = self.spark.read.parquet(f"{self.work}/dictionary")
        res = self.layers.build(self.tr, self.dic, f"{self.work}/wh", "fixture")
        self.fixture_build = res["timings"] | {"wall_s": res["wall_s"]}
        self.triples_dir = f"{self.work}/wh/triples"
        self.n_triples = res["triples"]

    def setup(self, rep: int) -> None:
        self.enc_dir = f"{self.work}/enc{rep}"
        self.layers.encode(self.triples_dir, self.enc_dir)

    def warmup(self) -> list[str]:
        """Oracle counts, a structural check of the fixture warehouse, and
        one untimed session."""
        self.expected = oracle.query_expected(self.triples_dir)
        self.expected["encoded_bgp"] += self.ctx.expect_bias
        self.layers.session(self.triples_dir, self.enc_dir)
        return oracle.mismatches(oracle.pred_counts([self.triples_dir]),
                                 oracle.structural_expected(self.pdf))

    def op(self, i: int) -> dict:
        t0 = time.monotonic()
        counts = self.layers.session(self.triples_dir, self.enc_dir)
        return {"wall_s": time.monotonic() - t0, "counts": counts}

    def check(self, res: dict) -> list[str]:
        return oracle.mismatches(res["counts"], self.expected)

    def end_to_end(self) -> dict:
        p50 = _median([r["wall_s"] for r in self.ops])
        return {
            "op_p50_s": p50,
            "throughput_per_s": self.n_triples / p50,
            "warehouse_bytes_per_triple":
                oracle.tree_bytes(self.enc_dir) / self.n_triples,
        }

    def layer_pass(self) -> list[str]:
        self.layer["builds"] = [self.fixture_build]
        self.layer.update(self.layers.probes(self.tr, self.dic))
        return self._layer_ingest()


WORKLOADS = {w.name: w for w in (Build, Query)}
