#!/usr/bin/env python3
"""spark-graft benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root.  Inputs are generated from the seed (and
cached per seed) under ``.bench_work/``; the program is driven through
its public entry points on ``local[<cores>]``.  With ``--trace 0`` the
result carries the end-to-end metrics, with ``--trace 1`` the per-layer
metrics (and a per-layer self-time table, spans under
``.bench_work/trace/``).  See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_work")


def _environment() -> None:
    """Point the program, the JVM and its workers at the checkout."""
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    env = os.environ
    env["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p)
    env.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    env.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    env["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    env["TMPDIR"] = os.path.join(WORK, "tmp")
    # every JVM, the spark-submit launcher's too: temp files in the
    # checkout and no hsperfdata file (it always goes under /tmp)
    env["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={env['TMPDIR']} -XX:-UsePerfData"
    sys.path.insert(0, ROOT)


def run_untraced(wl, seconds: float) -> dict:
    from harness import Session, fmt, timed_rounds

    t0 = time.perf_counter()
    session = Session(wl)
    wl.setup()
    setup_s = time.perf_counter() - t0
    durations, ops, cpus = timed_rounds(wl, seconds)
    latencies = wl.latencies(0, durations)
    failed, errors = wl.check()
    session.stop()
    print(f"perfbench: setup {setup_s:.2f} rounds {fmt(durations)} batches {fmt(latencies)}", file=sys.stderr)
    # every round does the same operations; medians over rounds keep one
    # round slowed by a busy host from moving the run's figures
    per_round = ops / len(durations)
    metrics = {
        "setup_s": (setup_s, "s"),
        "ops_per_s": (per_round / statistics.median(durations), "1/s"),
        "batch_latency_p50_s": (statistics.median(latencies), "s"),
        "cpu_s_per_1k": (1000.0 * statistics.median(cpus) / per_round, "s"),
    }
    return {"ops": ops, "failed": failed, "errors": errors, "metrics": metrics}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "scicat_ingestor_spark", "__init__.py")):
        print("perfbench: scicat_ingestor_spark not found next to perfbench/", file=sys.stderr)
        return 2
    _environment()
    sys.path.insert(0, HERE)
    from harness import shutdown_jvm
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload](WORK, args.seed)
    try:
        wl.prepare()
        if args.trace:
            from layers import run_traced

            res = run_traced(wl, args.seconds, WORK)
        else:
            res = run_untraced(wl, args.seconds)
    finally:
        wl.close()
        shutdown_jvm()
    for err in res["errors"]:
        print(f"perfbench: check failed: {err}", file=sys.stderr)
    out = {
        "correct": not res["errors"],
        "attempted": res["ops"],
        "failed": res["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in res["metrics"].items()},
    }
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
