"""Tiny-size smoke check of the harness itself.

Runs every workload at smoke size (a few calls, a few groups, one pass),
untraced and traced, and asserts that:

- the last stdout line has exactly the contract's keys, with every
  end-to-end metric (untraced) or per-layer metric (traced) of
  BENCHMARK.json, by name and unit;
- the run is correct, with ``failed`` = 0, and its correctness checks
  actually compared something;
- the reading line carries every reading the workload names below.

    python3 perfbench/smoke.py            # all workloads, ~3 minutes
    python3 perfbench/smoke.py replay     # one workload
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
REPO_ROOT = os.path.dirname(BENCH_DIR)

# readings each workload must report: untraced, then traced
NAMED = {
    "live_tail": (
        ["emit_p50_ms", "e2e_p50_ms", "routed_rows_per_call", "matching_groups_per_call"],
        ["emit.input_ms", "routing.build_ms", "tablelog.append_ms", "spark.jobs_per_emit",
         "stream.trigger_wait_ms", "stream.latest_offset_ms", "stream.get_batch_ms",
         "stream.query_planning_ms", "stream.add_batch_ms", "stream.wal_commit_ms",
         "stream.commit_offsets_ms", "demux.deliver_ms", "demux.matched_groups_per_batch",
         "stream.rows_per_batch", "spark.jobs_per_batch", "trace.self_ms"],
    ),
    "replay": (
        ["replay_eps", "log.files", "groups.drain_s", "demux.drain_s"],
        ["groups.create_ms", "groups.drain_s", "demux.drain_s", "groups.batches",
         "demux.batches", "groups.latest_offset_ms", "demux.latest_offset_ms",
         "groups.add_batch_ms", "demux.add_batch_ms", "demux.matched_groups_per_batch",
         "log.files", "trace.self_ms"],
    ),
    "batch_headline": (
        ["batch_total_s", "passes"],
        [f"{q}.{k}" for q in ("q_route_emits", "q_agg_events_by_type", "q_ann_lsh")
         for k in ("build_ms", "exec_ms", "jobs")] + ["trace.self_ms"],
    ),
}


def check(workload: str, trace: int, bench: dict) -> list[str]:
    cmd = [sys.executable, os.path.join(BENCH_DIR, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace), "--smoke"]
    proc = subprocess.run(cmd, cwd=REPO_ROOT, capture_output=True, text=True, timeout=600)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or len(lines) < 2:
        return [f"exit {proc.returncode}: {proc.stderr[-1500:]}"]
    detail, result = json.loads(lines[-2]), json.loads(lines[-1])
    errors = []
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        errors.append(f"result keys {sorted(result)}")
    if result.get("correct") is not True or result.get("failed") != 0:
        errors.append(f"not correct: {detail.get('problems')}")
    if not isinstance(result.get("attempted"), int) or result["attempted"] < 1:
        errors.append(f"attempted = {result.get('attempted')}")
    specs = bench["per_layer" if trace else "end_to_end"]
    want = {m["name"]: m["unit"] for m in specs}
    got = {k: v.get("unit") for k, v in result.get("metrics", {}).items()}
    if got != want:
        errors.append(f"metrics {got} != {want}")
    for k, v in result.get("metrics", {}).items():
        if not isinstance(v.get("value"), (int, float)):
            errors.append(f"metric {k} has no number")
    if detail.get("checks", 0) < 1:
        errors.append("the correctness checks compared nothing")
    readings = detail["layers"] if trace else detail["detail"]
    missing = [k for k in NAMED[workload][trace] if readings.get(k) is None]
    if missing:
        errors.append(f"missing readings {missing}")
    return errors


def main() -> int:
    with open(os.path.join(REPO_ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    workloads = sys.argv[1:] or list(NAMED)
    failures = 0
    for w in workloads:
        for trace in (0, 1):
            errors = check(w, trace, bench)
            failures += bool(errors)
            print(f"{w} trace={trace}: {'ok' if not errors else 'FAIL'}", flush=True)
            for e in errors:
                print(f"  {e}")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
