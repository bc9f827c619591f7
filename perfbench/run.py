#!/usr/bin/env python3
"""Benchmark of the polyfuzz_spark engine.

    python3 perfbench/run.py --workload er-default --seed 1 --seconds 20 --trace 0

Runs one workload on ``local[nproc]`` from this single driver process, checks
every output, prints each end-to-end metric by name and unit, and ends with
one JSON line: ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 1`` it runs the traced variant instead and the JSON holds the
per-layer metrics; the spans are written to
``.perfbench/traces/<workload>-seed<seed>.json`` under the checkout root.

The environment is pinned here, before pyspark is imported: cpus = nproc,
a driver heap that fits a small box, fresh Spark local/temp/warehouse dirs
under ``.perfbench/`` for every run, and PYTHONPATH at the checkout root so
Python workers import the package whatever the launch directory. See
README.md for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
DRIVER_MEMORY = "1g"


def pin_env(work: Path) -> int:
    """Pin the run's environment; returns the cpu count."""
    cpus = len(os.sched_getaffinity(0))
    for sub in ("tmp", "local", "warehouse"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    path = os.environ.get("PYTHONPATH")
    os.environ.update({
        "PYTHONPATH": str(ROOT) + (os.pathsep + path if path else ""),
        "PYSPARK_PYTHON": sys.executable,
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "SPARK_LOCAL_DIRS": str(work / "local"),
        "SPARK_WAREHOUSE": str(work / "warehouse"),
        "SPARK_GRAFT_CPUS": str(cpus),
        "TMPDIR": str(work / "tmp"),
        # no hsperfdata files in /tmp from the launcher JVM (the driver JVM
        # gets the same flag in Ctx.start_session)
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
    })
    # a master or gateway from the caller's shell would bypass local[cpus]
    for var in ("SPARK_MASTER", "PYSPARK_GATEWAY_PORT",
                "PYSPARK_GATEWAY_SECRET", "PYSPARK_SUBMIT_ARGS"):
        os.environ.pop(var, None)
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    sys.path.insert(0, str(ROOT))
    return cpus


def shutdown_jvm() -> None:
    """Stop the Spark context and the gateway JVM it runs in, then wait for
    every process this run started (JVM, Python daemon and workers)."""
    from core import tree_pids, wait_gone

    descendants = tree_pids()[1:]
    try:
        from pyspark import SparkContext
    except ImportError:
        return
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()
    left = wait_gone(descendants, 30)
    for pid in left:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    left = wait_gone(left, 10)
    if left:
        print(f"perfbench: processes still alive: {left}", file=sys.stderr)


def report(workload: str, outcome, ctx, trace: bool) -> dict:
    from workloads import END_TO_END, GATED, PER_LAYER

    if trace:
        rows = [(n, u, outcome.layers.get(n, 0.0)) for n, u, _ in PER_LAYER]
        keep = [n for n, _, _ in PER_LAYER]
    else:
        e = outcome.e2e
        rows = [(n, u, e.get(n)) for n, u, _ in END_TO_END]
        keep = list(GATED)
        print(f"# {workload}: {e['_samples']} timed ops, "
              f"{e['_beyond_p90']} beyond p90")
    print(f"# {workload} {'per-layer (traced)' if trace else 'end-to-end'}")
    for name, unit, value in rows:
        shown = "n/a" if value is None else f"{value:.6g}"
        print(f"{name:40s} {shown:>14s} {unit}")
    units = {r[0]: r[1] for r in rows}
    metrics = {n: {"value": float(outcome.layers.get(n, 0.0) if trace
                                  else outcome.e2e[n]), "unit": units[n]}
               for n in keep}
    return {
        "correct": ctx.failed == 0,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": metrics,
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "polyfuzz_spark" / "__init__.py").is_file():
        print(f"perfbench: no polyfuzz_spark package under {ROOT}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, str(HERE))
    from workloads import WORKLOADS, Ctx

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    work = ROOT / ".perfbench" / f"run-{os.getpid()}-{time.time_ns()}"
    try:
        cpus = pin_env(work)
        ctx = Ctx(work=work, seed=args.seed,
                  seconds=args.seconds, trace=bool(args.trace), cpus=cpus)
        outcome = WORKLOADS[args.workload](ctx)
        if args.trace:
            traces = ROOT / ".perfbench" / "traces"
            traces.mkdir(parents=True, exist_ok=True)
            ctx.tracer.dump(str(traces / f"{args.workload}-seed{args.seed}"
                                ".json"))
        result = report(args.workload, outcome, ctx, bool(args.trace))
    finally:
        t0 = time.monotonic()
        shutdown_jvm()
        shutil.rmtree(work, ignore_errors=True)
        print(f"perfbench: shutdown {time.monotonic() - t0:.2f} s",
              file=sys.stderr)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
