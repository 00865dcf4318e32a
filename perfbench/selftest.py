"""Self-test of the benchmark at a tiny input size, in one Spark session.

    python3 perfbench/selftest.py

Checks, for every workload:
  * an untraced run emits every end-to-end metric, each with its unit,
    and every output check passes;
  * another seed changes the input (its fingerprint) but not the metric
    names;
  * a traced run emits every per-layer metric, each with its unit;
and that a forced wrong expected count is reported as a failed op, and
that BENCHMARK.json names exactly the metrics the runs emit.
Prints one line per check and exits non-zero if any fails.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

import run


def main() -> int:
    cpus = len(os.sched_getaffinity(0))
    work = os.path.join(run.ROOT, ".bench_work", f"selftest-{os.getpid()}")
    run._env(work)
    fails = []

    def check(ok: bool, what: str) -> None:
        print(("ok   " if ok else "FAIL ") + what, flush=True)
        if not ok:
            fails.append(what)

    def emitted(result: dict, units: dict) -> bool:
        m = result["metrics"]
        return (set(m) == set(units)
                and all(m[k]["unit"] == u and isinstance(m[k]["value"], float)
                        for k, u in units.items()))

    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    check({m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END,
          "BENCHMARK.json end_to_end matches the emitted metrics")
    check({m["name"]: m["unit"] for m in bench["per_layer"]} == run.PER_LAYER,
          "BENCHMARK.json per_layer matches the emitted metrics")
    check({w["name"] for w in bench["workloads"]} == {"build", "query"},
          "BENCHMARK.json names the workloads")

    spark = run.start_spark(work, cpus, trace=True)
    try:
        for name in ("build", "query"):
            def go(seed, trace, bias=0):
                d = os.path.join(work, f"{name}-{seed}-{trace}-{bias}")
                res, ctx, _ = run.run_workload(spark, name, seed, 1.0, trace,
                                               "tiny", d, cpus, bias)
                shutil.rmtree(d, ignore_errors=True)
                return res, ctx

            r1, c1 = go(1, False)
            check(emitted(r1, run.END_TO_END) and r1["correct"]
                  and r1["failed"] == 0 and r1["attempted"] >= 1,
                  f"{name}: untraced run emits every end-to-end metric, correct")
            r2, c2 = go(2, False)
            check(c1["input_fingerprint"] != c2["input_fingerprint"]
                  and set(r1["metrics"]) == set(r2["metrics"]),
                  f"{name}: another seed changes the input, not the names")
            rt, _ = go(1, True)
            check(emitted(rt, run.PER_LAYER) and rt["correct"],
                  f"{name}: traced run emits every per-layer metric, correct")
            rb, _ = go(1, False, bias=1)
            check(not rb["correct"] and rb["failed"] == rb["attempted"] >= 1,
                  f"{name}: a wrong expected count is a failed op")
    finally:
        run.stop_spark(spark)
        run.remove_work(work)
    print(f"{len(fails)} failed")
    return 1 if fails else 0


if __name__ == "__main__":
    sys.exit(main())
