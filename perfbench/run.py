"""Benchmark entry point.

    python3 perfbench/run.py --workload live_tail --seed 1 --seconds 12 --trace 0

Runs one workload in one process on ``local[nproc]``, checks the
program's outputs, and prints as its last stdout line one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
the metrics are the end-to-end ones; with ``--trace 1`` they are the
per-layer ones, and the full span trace is written to
``.perfbench/traces/``. The line before it carries every named reading
of the run (see perfbench/README.md). Exits non-zero, without a result
line, when the package cannot be imported or the run breaks.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import harness as H  # noqa: E402

WORKLOADS = ("live_tail", "replay", "batch_headline")


class Ctx:
    """What a workload gets from the runner: its inputs' seed, the run
    length, the tracer and a private work directory. The workload marks
    its timed phase with ``timed_start``/``timed_end``."""

    def __init__(self, seed: int, seconds: float, trace: bool, smoke: bool, work: str):
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.smoke = smoke
        self.work = work
        self.tracer = H.Tracer(trace)
        self.win_ms = (0.0, 0.0)  # epoch ms, for Spark's timestamps
        self.win_pc = (0.0, 0.0)  # perf_counter s, for spans
        self.cpu_s = 0.0
        self.peak_rss_mb = 0.0
        self.steal_s = 0.0

    def timed_start(self) -> None:
        self._cpu0 = H.tree_cpu_s()
        self._steal0 = H.host_steal_s()
        self.win_ms = (time.time() * 1000, 0.0)
        self.win_pc = (time.perf_counter(), 0.0)

    def timed_end(self) -> None:
        self.win_ms = (self.win_ms[0], time.time() * 1000)
        self.win_pc = (self.win_pc[0], time.perf_counter())
        self.cpu_s = H.tree_cpu_s() - self._cpu0
        self.steal_s = H.host_steal_s() - self._steal0
        self.peak_rss_mb = H.tree_peak_rss_mb()


def metrics(res: dict, ctx: Ctx, session_s: float, trace: bool) -> dict:
    """The contract's metrics: end-to-end ones untraced, per-layer ones
    traced. Every workload reports every name (README: metric table)."""
    if not trace:
        vals = {
            "setup_s": (session_s + H.median(res["setup_reps"]) + res.get("warmup_s", 0.0),
                        "s"),
            "ack_ms": (H.median(res["ack_ms"]), "ms"),
            "latency_ms": (H.median(res["latency_ms"]), "ms"),
        }
    else:
        ops = res["ops"]
        jobs = res["jobs"]
        vals = {
            "proc.cpu_s": (ctx.cpu_s, "s"),
            "spark.jobs_per_op": (jobs["jobs"] / ops, "count"),
            "spark.stages_per_op": (jobs["stages"] / ops, "count"),
            "spark.tasks_per_op": (jobs["tasks"] / ops, "count"),
            "spark.task_ms_per_op": (jobs["task_ms"] / ops, "ms"),
            "driver.build_ms_per_op": (H.median(res["build_ms"]), "ms"),
        }
    return {k: {"value": v, "unit": u} for k, (v, u) in vals.items()}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny sizes: a few calls, a few groups, one pass")
    args = ap.parse_args(argv)

    t_start = time.perf_counter()
    sys.path.insert(0, H.REPO_ROOT)
    try:
        importlib.import_module("aoseventstreamer_spark")
    except ImportError as e:
        print(f"perfbench: cannot import the package under test: {e}", file=sys.stderr)
        return 2
    workload = importlib.import_module(args.workload)

    work = os.path.join(H.WORK_ROOT, f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    ctx = Ctx(args.seed, args.seconds, bool(args.trace), args.smoke, work)
    spark = None
    try:
        spark = H.start_spark(f"perfbench-{args.workload}", work)
        session_s = time.perf_counter() - t_start
        res = workload.run(spark, ctx)
        if ctx.trace:
            trace_path = os.path.join(H.WORK_ROOT, "traces",
                                      f"{args.workload}-seed{args.seed}.json")
            ctx.tracer.write(trace_path, {"workload": args.workload, "seed": args.seed,
                                          "layers": res.get("layers", {}),
                                          "jobs": res.get("jobs", {})})
            res["layers"]["trace.self_ms"] = ctx.tracer.self_ms()
            res["layers"]["trace.file"] = os.path.relpath(trace_path, H.REPO_ROOT)
    finally:
        if spark is not None:
            H.stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    out = metrics(res, ctx, session_s, ctx.trace)
    print(json.dumps({
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "session_s": session_s, "setup_reps_s": res["setup_reps"],
        "timed_s": (ctx.win_ms[1] - ctx.win_ms[0]) / 1000, "proc.cpu_s": ctx.cpu_s,
        "peak_rss_mb": ctx.peak_rss_mb, "host.steal_s": ctx.steal_s,
        "failed_frac": res["failed"] / res["attempted"],
        "detail": res["detail"], "layers": res.get("layers", {}),
        "checks": res["checks"], "problems": res["problems"],
    }))
    correct = not res["problems"] and res["failed"] == 0
    print(json.dumps({"correct": correct, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": out}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
