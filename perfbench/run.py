"""kgpipe benchmark: one command, one workload per run.

    python3 perfbench/run.py --workload build|query --seed N \
        --seconds S --trace 0|1

Runs from any directory: the program is the `logset_spark` package beside
this directory.  Scratch files go to `.bench_work/` and spans to
`.bench_out/` under the repository root; the scratch directory is removed
at exit.  The last stdout line is one JSON object
{"correct", "attempted", "failed", "metrics"}: the end-to-end metrics
with --trace 0, the per-layer metrics with --trace 1.  The line before
it is {"context": ...}: host fields and run facts that are never gates.
See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

SETUP_REPS = 3
SPARK_CONFS = {
    "spark.driver.memory": "3g",
    "spark.ui.showConsoleProgress": "false",
}

END_TO_END = {
    "setup_s": "s",
    "op_p50_s": "s",
    "throughput_per_s": "1/s",
    "peak_rss_mb": "MB",
    "warehouse_bytes_per_triple": "B",
}

STAGES = ("extract_link", "fuzzy", "canonicalize", "materialize")
_STAGE_METRICS = {f"pipeline.{s}_s": "s" for s in STAGES + ("other",)}
_SPAN_METRICS = {  # metric -> span name summed per op
    "sparql.plan_s": "sparql.plan", "sparql.exec_s": "sparql.exec",
    "sparql.bgp2_s": "sparql.bgp2", "sparql.agg_s": "sparql.agg",
    "sparql.optional_s": "sparql.optional", "sparql.filter_s": "sparql.filter",
    "encode.bgp_s": "encode.bgp", "graph.closure_s": "graph.closure",
    "digraph.scc_s": "digraph.scc", "incremental.drain_s": "incremental.drain",
    "snapshots.read_s": "snapshots.read",
}
_JOB_METRICS = {"graph.jobs": "graph.closure", "digraph.jobs": "digraph.scc"}
_PROBE_METRICS = {
    "extract.detector_s": "s", "extract.mention_hits": "count",
    "link.fuzzy_s": "s", "link.forms_in": "count", "link.links_out": "count",
    "cc.components_s": "s", "cc.jobs": "count",
}
_INGEST_METRICS = {  # metric -> field of an ingest result
    "incremental.batches": "batches", "snapshots.commit_count": "commits",
    "snapshots.leaf_dirs": "leaf_dirs", "snapshots.bytes": "bytes",
}
_SPARK_METRICS = {
    "spark.jobs": "count", "spark.tasks": "count", "spark.executor_run_s": "s",
    "spark.jvm_gc_s": "s", "spark.shuffle_read_bytes": "B",
    "spark.shuffle_write_bytes": "B", "spark.spill_bytes": "B",
    "spark.input_bytes": "B", "spark.output_bytes": "B",
    "spark.jobs_ungrouped": "count",
}
PER_LAYER = {
    **_STAGE_METRICS,
    **_PROBE_METRICS,
    **{m: "s" for m in _SPAN_METRICS},
    **{m: "count" for m in _JOB_METRICS},
    **{m: ("B" if m == "snapshots.bytes" else "count") for m in _INGEST_METRICS},
    **_SPARK_METRICS,
    "trace.op_p50_s": "s",
    "trace.overhead_s": "s",
    "trace.counter_read_s": "s",
}


class Ctx:
    """What one run shares with its workload."""

    def __init__(self, spark, tracer, work, seed, scale, cpus, expect_bias=0):
        self.spark, self.tracer, self.work = spark, tracer, work
        self.seed, self.scale, self.cpus = seed, scale, cpus
        self.expect_bias = expect_bias


def _median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def _per_layer(wl, tracer, op_p50: float, untraced_op: float) -> dict:
    """Per-layer metrics of a traced run: medians over the measured ops,
    or over the layer pass for layers the ops do not reach."""
    out = {}
    builds = wl.layer["builds"]
    for stage in STAGES:
        out[f"pipeline.{stage}_s"] = _median([b[stage] for b in builds])
    out["pipeline.other_s"] = _median(
        [b["wall_s"] - sum(b[s] for s in STAGES) for b in builds])
    for m in _PROBE_METRICS:
        out[m] = wl.layer[m]
    # span totals per op id; measured ops (int ids) win over the layer pass
    per_op: dict = {}
    for s in tracer.spans:
        if isinstance(s["op"], int) or s["op"] == "layer":
            key = (s["name"], s["op"])
            per_op.setdefault(key, [0.0, 0])
            per_op[key][0] += s["end"] - s["start"]
            per_op[key][1] += s["job_hi"] - s["job_lo"]

    def by_span(name: str, idx: int) -> float:
        ops = [v[idx] for (n, op), v in per_op.items()
               if n == name and isinstance(op, int)]
        if not ops:
            ops = [v[idx] for (n, op), v in per_op.items() if n == name]
        return _median(ops)

    for m, span in _SPAN_METRICS.items():
        out[m] = by_span(span, 0)
    for m, span in _JOB_METRICS.items():
        out[m] = by_span(span, 1)
    ingests = wl.layer["ingest"]
    for m, field in _INGEST_METRICS.items():
        out[m] = _median([r[field] for r in ingests])
    ops = [o for o in tracer.ops if isinstance(o["op"], int)]
    for m in _SPARK_METRICS:
        out[m] = _median([o.get(m, 0.0) for o in ops])
    out["trace.op_p50_s"] = op_p50
    out["trace.overhead_s"] = op_p50 - untraced_op
    out["trace.counter_read_s"] = tracer.read_s / max(len(tracer.ops), 1)
    return out


def run_workload(spark, name: str, seed: int, seconds: float, trace: bool,
                 scale: str, work: str, cpus: int, expect_bias: int = 0):
    """Set up, warm up and measure one workload in an existing session.
    Returns (result, context, tracer): `result` is the last-line JSON
    object, `context` the facts printed before it."""
    from tracing import NullTracer, RssSampler, Tracer
    from pyspark import SparkContext

    from workloads import WORKLOADS

    tracer = Tracer(spark) if trace else NullTracer()
    ctx = Ctx(spark, tracer, work, seed, scale, cpus, expect_bias)
    rss = RssSampler(SparkContext._gateway.proc.pid).start()
    wl = WORKLOADS[name](ctx)
    context = {"workload": name, "seed": seed, "scale": scale, "trace": trace}

    t = time.monotonic()
    tracer.begin_op("prepare")
    wl.prepare()
    tracer.end_op()
    context["prepare_s"] = time.monotonic() - t
    setups = []
    for rep in range(SETUP_REPS):
        tracer.begin_op(f"setup{rep}")
        t = time.monotonic()
        wl.setup(rep)
        setups.append(time.monotonic() - t)
        tracer.end_op()
    context["setup_reps_s"] = setups
    t = time.monotonic()
    tracer.begin_op("warmup")
    setup_errs = wl.warmup()
    tracer.end_op()
    context["warmup_s"] = time.monotonic() - t
    context["input_fingerprint"] = wl.input_fp
    for e in setup_errs:
        sys.stderr.write(f"warm-up check failed: {e}\n")

    attempted = failed = 0
    t_start = time.monotonic()
    while True:
        res = None
        tracer.begin_op(attempted)
        try:
            res = wl.op(attempted)
            tracer.end_op()
            errs = wl.check(res)
        except Exception:  # noqa: BLE001 - a failed op is counted, not fatal
            errs = [traceback.format_exc()]
        attempted += 1
        if errs:
            failed += 1
            sys.stderr.write(f"op {attempted - 1} failed: {errs}\n")
        if res is not None:
            wl.ops.append(res)
            wl.cleanup(res)
        if time.monotonic() - t_start >= seconds:
            break
    context["ops_s"] = [r["wall_s"] for r in wl.ops]
    context["measure_s"] = time.monotonic() - t_start
    if not wl.ops:
        raise RuntimeError("no op returned a result")
    e2e = wl.end_to_end()

    if trace:
        # One op with the spans switched off, right after the traced ones
        # (so no colder than they were): the baseline of trace.overhead_s.
        wl.layers.tr = NullTracer()
        res = wl.op("untraced")
        wl.layers.tr = tracer
        setup_errs = setup_errs + wl.check(res)
        wl.cleanup(res)
        context["untraced_op_s"] = res["wall_s"]
        tracer.begin_op("layer")
        layer_errs = wl.layer_pass()
        tracer.end_op()
        for e in layer_errs:
            sys.stderr.write(f"layer-pass check failed: {e}\n")
        setup_errs = setup_errs + layer_errs
        metrics = _per_layer(wl, tracer, e2e["op_p50_s"],
                             context["untraced_op_s"])
        units = PER_LAYER
    else:
        metrics = dict(e2e, setup_s=_median(setups))
        units = END_TO_END
    metrics["peak_rss_mb"] = rss.stop()
    context["worker_pids"] = sorted(rss.pids - {rss.jvm_pid})
    context["peak_mb_by_process"] = rss.peak_mb_by_process
    result = {
        "correct": failed == 0 and not setup_errs,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": u}
                    for k, u in units.items()},
    }
    return result, context, tracer


def _env(work: str) -> None:
    """Keep every file the run writes, JVM and Python workers included,
    inside `work`, and let the workers import the package under test."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    old = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + old if old else "")
    os.environ["PYTHONDONTWRITEBYTECODE"] = "1"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ.pop("SPARK_GRAFT_MASTER", None)
    sys.dont_write_bytecode = True
    sys.path[:0] = [HERE, ROOT]


def start_spark(work: str, cpus: int, trace: bool):
    from logset_spark.session import get_spark

    from tracing import TRACE_CONFS

    confs = dict(SPARK_CONFS)
    confs["spark.driver.extraJavaOptions"] = (
        f"-Xms3g -XX:+AlwaysPreTouch -XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}")
    confs["spark.sql.warehouse.dir"] = os.path.join(work, "spark-warehouse")
    if trace:
        confs.update(TRACE_CONFS)
    return get_spark("kgpipe-bench", cpus=cpus, extra_confs=confs)


def stop_spark(spark, worker_pids=()) -> None:
    """Stop the session and its JVM, and wait until the JVM and its
    Python workers have exited."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = gw.proc
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - TimeoutExpired: force it
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 20
    for pid in worker_pids:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.1)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=["build", "query"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "logset_spark", "__init__.py")):
        sys.stderr.write(f"no logset_spark package under {ROOT}\n")
        return 2
    # a terminated run still stops Spark and removes its scratch files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    cpus = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    _env(work)
    from tracing import HostContext

    host = HostContext(ROOT, cpus)
    spark = None
    try:
        t = time.monotonic()
        spark = start_spark(work, cpus, bool(args.trace))
        session_s = time.monotonic() - t
        result, context, tracer = run_workload(
            spark, args.workload, args.seed, args.seconds, bool(args.trace),
            "full", work, cpus)
        stop_spark(spark, context.pop("worker_pids"))
        spark = None
        if args.trace:
            out = os.path.join(ROOT, ".bench_out",
                               f"spans-{args.workload}-{args.seed}.json")
            tracer.dump(out)
            context["spans_file"] = os.path.relpath(out, ROOT)
        context.update(host.finish(), session_start_s=session_s, cpus=cpus)
        print(json.dumps({"context": context}))
        print(json.dumps(result))
        return 0
    finally:
        if spark is not None:
            stop_spark(spark)
        remove_work(work)


def remove_work(work: str) -> None:
    """Remove a run's scratch directory, and its parent once empty."""
    shutil.rmtree(work, ignore_errors=True)
    try:
        os.rmdir(os.path.dirname(work))
    except OSError:
        pass


if __name__ == "__main__":
    sys.exit(main())
