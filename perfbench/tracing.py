"""Measurement plumbing for the benchmark: spans, Spark status-store
counters, process-tree peak RSS and host context.

Nothing here reaches into ``logset_spark``: spans wrap the benchmark's
own calls into each layer, and the Spark counters come from the
in-process status store, which works with ``spark.ui.enabled=false``.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import threading
import time
from contextlib import contextmanager

# StageData getters summed per op (status-store field -> metric name).
STAGE_FIELDS = {
    "numCompleteTasks": "spark.tasks",
    "executorRunTime": "spark.executor_run_s",
    "jvmGcTime": "spark.jvm_gc_s",
    "shuffleReadBytes": "spark.shuffle_read_bytes",
    "shuffleWriteBytes": "spark.shuffle_write_bytes",
    "memoryBytesSpilled": "spark.spill_bytes",
    "inputBytes": "spark.input_bytes",
    "outputBytes": "spark.output_bytes",
}
_MS_FIELDS = {"executorRunTime", "jvmGcTime"}

# Session confs of a traced run only: keep every job and stage of a run
# in the status store (the defaults evict within one build op).
TRACE_CONFS = {
    "spark.ui.retainedJobs": "100000",
    "spark.ui.retainedStages": "100000",
    "spark.sql.ui.retainedExecutions": "100000",
}


class NullTracer:
    """Untraced runs: spans cost one context-manager call, nothing is
    recorded and the status store is never read."""

    @contextmanager
    def span(self, name: str, **_):
        yield

    def begin_op(self, op_id) -> None:
        pass

    def end_op(self) -> None:
        pass


class Tracer:
    """Spans (name, start, end, parent, op id) kept in memory, plus per-op
    Spark counters read from the status store.

    Jobs are attributed to a span by job-id window: the DAG scheduler's
    job counter is read at span entry and exit.  That also catches jobs
    submitted from helper threads, which do not inherit the job group
    set on the calling thread; `spark.jobs_ungrouped` counts them."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self.t0 = time.monotonic()
        self.spans: list[dict] = []
        self.ops: list[dict] = []
        self._stack: list[int] = []
        self._op = None
        self.read_s = 0.0

    def _job_counter(self) -> int:
        return int(self._jsc.dagScheduler().numTotalJobs())

    @contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        rec = {"name": name, "parent": parent, "op": self._op,
               "start": time.monotonic() - self.t0, **attrs}
        self.spans.append(rec)
        self._stack.append(idx)
        self._group(name)
        rec["job_lo"] = self._job_counter()
        try:
            yield rec
        finally:
            rec["job_hi"] = self._job_counter()
            rec["end"] = time.monotonic() - self.t0
            self._stack.pop()
            self._group(self.spans[self._stack[-1]]["name"] if self._stack else None)

    def _group(self, span_name: str | None) -> None:
        group = str(self._op) if span_name is None else f"{self._op}:{span_name}"
        self.sc.setJobGroup(group, group)

    def begin_op(self, op_id) -> None:
        self._op = op_id
        self._group(None)
        self._op_lo = self._job_counter()

    def end_op(self) -> None:
        """Roll up the Spark counters of every job the op ran."""
        hi = self._job_counter()
        t = time.monotonic()
        rec = {"op": self._op, **self.job_counters(self._op_lo, hi)}
        self.read_s += time.monotonic() - t
        self.ops.append(rec)
        self._op = None

    def job_counters(self, lo: int, hi: int) -> dict:
        """Sum stage counters over jobs [lo, hi).  Waits for the listener
        bus first: the status store is fed asynchronously."""
        try:
            self._jsc.listenerBus().waitUntilEmpty(30_000)
        except Exception as e:  # noqa: BLE001 - private API; record, go on
            sys.stderr.write(f"listener bus wait failed: {e}\n")
        store = self._jsc.statusStore()
        out = {v: 0.0 for v in STAGE_FIELDS.values()}
        out["spark.jobs"] = hi - lo
        out["spark.jobs_ungrouped"] = 0
        stages: set[int] = set()
        for jid in range(lo, hi):
            try:
                job = store.job(jid)
            except Exception:  # noqa: BLE001 - evicted or never registered
                out["spark.jobs_missing"] = out.get("spark.jobs_missing", 0) + 1
                continue
            grp = job.jobGroup()
            g = str(grp.get()) if grp.isDefined() else ""
            if g != str(self._op) and not g.startswith(f"{self._op}:"):
                out["spark.jobs_ungrouped"] += 1
            it = job.stageIds().iterator()
            while it.hasNext():
                stages.add(int(it.next()))
        for sid in stages:
            try:
                st = store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 - stage never ran (skipped)
                continue
            for field, name in STAGE_FIELDS.items():
                v = float(getattr(st, field)())
                out[name] += v / 1000.0 if field in _MS_FIELDS else v
        return out

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "ops": self.ops}, f)


# ---- process-tree peak RSS -------------------------------------------------

def _children(pid: int) -> list[int]:
    """Child processes of every thread of `pid`."""
    out = []
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(p) for p in f.read().split())
        except OSError:
            pass
    return out


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


def _pss_kb(pid: int) -> int:
    """Proportional set size: shared pages (the forked Python workers share
    their parent's) are split between the processes that map them."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Peak resident memory of the JVM plus its Python workers: the
    largest sum, over one sample, of the PSS of the JVM and of every
    process below it.  Samples every `period_s` seconds."""

    def __init__(self, jvm_pid: int, period_s: float = 0.25):
        self.jvm_pid = jvm_pid
        self.jvm_comm = _comm(jvm_pid)
        self.period_s = period_s
        self.peak_kb = 0
        self.peak_mb_by_process: list[int] = []
        self.pids: set[int] = set()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self) -> None:
        total, todo, sizes = 0, [self.jvm_pid], []
        while todo:
            pid = todo.pop()
            todo.extend(_children(pid))
            # a child still named like the JVM is a fork that has not yet
            # exec'd its program: it maps the JVM's own pages
            if pid != self.jvm_pid and _comm(pid) == self.jvm_comm:
                continue
            self.pids.add(pid)
            kb = _pss_kb(pid)
            sizes.append(kb // 1024)
            total += kb
        if total > self.peak_kb:
            self.peak_kb = total
            self.peak_mb_by_process = sizes

    def _loop(self) -> None:
        while not self._stop.wait(self.period_s):
            self._sample()

    def start(self) -> "RssSampler":
        self._sample()
        self._thread.start()
        return self

    def stop(self) -> float:
        """Stop sampling; return the peak in MB."""
        self._stop.set()
        self._thread.join()
        self._sample()
        return self.peak_kb / 1024.0


# ---- host context (never a gate) -------------------------------------------

def _cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def _loadavg() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def stream_triad_gbps(root: str, workers: int) -> float | None:
    """One short STREAM-triad rep of scripts/hw_probe.py on `workers`
    processes, aggregate GB/s; None when the probe is unavailable."""
    probe = os.path.join(root, "scripts", "hw_probe.py")
    if not os.path.exists(probe):
        return None
    env = dict(os.environ, SPARK_GRAFT_PROBE_REPS="1")
    procs = [
        subprocess.Popen([sys.executable, probe, "--worker", "mem"],
                         stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                         text=True, env=env)
        for _ in range(workers)
    ]
    total, ok = 0.0, True
    for p in procs:
        try:
            out, _ = p.communicate(timeout=60)
            total += json.loads(out.strip().splitlines()[-1])["thr"]
        except (subprocess.TimeoutExpired, ValueError, IndexError, KeyError):
            p.kill()
            p.wait()
            ok = False
    return round(total / 1e9, 2) if ok else None


class HostContext:
    """nproc, load average before/after, CPU steal share over the run and a
    STREAM-triad reading — recorded beside every run as context."""

    def __init__(self, root: str, nproc: int):
        self.fields = {"nproc": nproc, "loadavg_before": _loadavg(),
                       "stream_triad_gbps": stream_triad_gbps(root, nproc)}
        self._cpu0 = _cpu_times()

    def finish(self) -> dict:
        cpu1 = _cpu_times()
        d = [b - a for a, b in zip(self._cpu0, cpu1)]
        total = sum(d[:8]) or 1  # user..steal; guest time is inside user
        self.fields["loadavg_after"] = _loadavg()
        self.fields["steal_share"] = round(d[7] / total, 5) if len(d) > 7 else None
        return self.fields
