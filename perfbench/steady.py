"""Steadiness runner: repeats a workload with a new seed each run and
prints, per metric, the median, quartiles, min/max and the spread
(interquartile distance as a share of the median) against the metric's
bound in BENCHMARK.json. With ``--sets 2`` it makes two sets of runs and
also compares their medians, as an acceptance check of the benchmark
would. With ``--trace-overhead`` it makes one traced run per seed after
the untraced ones and reports how much tracing moved the run's headline
reading.

    python3 perfbench/steady.py --workload live_tail --runs 10
    python3 perfbench/steady.py --workload batch_headline --runs 5 --sets 2
    python3 perfbench/steady.py --workload live_tail --runs 3 --trace-overhead

Raw results are appended to ``--out`` (JSON lines) as they arrive.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
REPO_ROOT = os.path.dirname(BENCH_DIR)
# the reading of each workload that the trace-overhead check compares
SEED0 = 1000  # set s, run i uses seed SEED0 + 1000 * s + i
HEADLINE = {"live_tail": "e2e_p50_ms", "replay": "replay_eps", "batch_headline": "batch_total_s"}


def one_run(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(BENCH_DIR, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.perf_counter()
    proc = subprocess.run(cmd, cwd=REPO_ROOT, capture_output=True, text=True, timeout=600)
    wall = time.perf_counter() - t0
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or len(lines) < 2:
        return {"seed": seed, "trace": trace, "wall_s": wall, "error": proc.stderr[-2000:]}
    detail, result = json.loads(lines[-2]), json.loads(lines[-1])
    return {"seed": seed, "trace": trace, "wall_s": wall, "result": result, "detail": detail}


def spread(values: list[float]) -> dict:
    q1, q2, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {"median": med, "q1": q1, "q3": q3, "min": min(values), "max": max(values),
            "spread": (q3 - q1) / med if med else float("nan")}


def summarize(runs: list[dict], specs: dict) -> dict:
    ok = [r for r in runs if "result" in r]
    out = {}
    for name in specs:
        vals = [r["result"]["metrics"][name]["value"] for r in ok]
        if len(vals) >= 2:
            out[name] = spread(vals)
    return out


def worse_by(first: float, second: float, better: str) -> float:
    """How much worse ``second`` is than ``first``, as a share of it."""
    return (second - first) / first if better == "lower" else (first - second) / first


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, default=1, choices=(1, 2))
    ap.add_argument("--trace-overhead", action="store_true")
    ap.add_argument("--out", default=os.path.join(REPO_ROOT, ".perfbench", "steady.jsonl"))
    args = ap.parse_args()

    with open(os.path.join(REPO_ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = bench["run_seconds"]
    specs = {m["name"]: m for m in bench["end_to_end"]}
    os.makedirs(os.path.dirname(args.out), exist_ok=True)

    sets = []
    for s in range(args.sets):
        runs = []
        for i in range(args.runs):
            seed = SEED0 + s * 1000 + i
            r = one_run(args.workload, seed, seconds, 0)
            runs.append(r)
            with open(args.out, "a") as f:
                f.write(json.dumps({"workload": args.workload, "set": s, **r}) + "\n")
            status = ("correct" if r["result"]["correct"] else "INCORRECT") if "result" in r \
                else "ERROR"
            print(f"set {s} run {i} seed {seed}: {status}, {r['wall_s']:.1f} s wall",
                  flush=True)
        sets.append(runs)

    verdict = {"workload": args.workload, "runs": args.runs, "seconds": seconds, "sets": []}
    ok = True
    for s, runs in enumerate(sets):
        summ = summarize(runs, specs)
        bad_runs = [r["seed"] for r in runs if "result" not in r or not r["result"]["correct"]]
        ok &= not bad_runs
        print(f"\n== set {s}: {args.workload}, {len(runs)} runs, "
              f"wall median {statistics.median(r['wall_s'] for r in runs):.1f} s, "
              f"failed runs {bad_runs}")
        print(f"{'metric':<16}{'median':>12}{'q1':>12}{'q3':>12}{'min':>12}{'max':>12}"
              f"{'spread':>9}{'bound':>7}  check")
        for name, st in summ.items():
            bound = specs[name]["bound"]
            check = "ok" if st["spread"] <= bound / 3 else (
                "within bound" if st["spread"] <= bound else "TOO NOISY")
            ok &= st["spread"] <= bound
            print(f"{name:<16}{st['median']:>12.4g}{st['q1']:>12.4g}{st['q3']:>12.4g}"
                  f"{st['min']:>12.4g}{st['max']:>12.4g}{st['spread']:>9.3f}{bound:>7}  {check}")
        verdict["sets"].append(summ)
    if len(sets) == 2:
        print("\n== second set against the first (share worse; bound)")
        for name, spec in specs.items():
            a = verdict["sets"][0].get(name, {}).get("median")
            b = verdict["sets"][1].get(name, {}).get("median")
            if a is None or b is None:
                continue
            w = worse_by(a, b, spec["better"])
            ok &= w <= spec["bound"]
            print(f"{name:<16}{w:>+9.3f}{spec['bound']:>7}  "
                  f"{'ok' if w <= spec['bound'] else 'WORSE THAN BOUND'}")

    if args.trace_overhead:
        key = HEADLINE[args.workload]
        plain = [r["detail"]["detail"][key] for r in sets[0] if "result" in r]
        traced = []
        for r in sets[0]:
            t = one_run(args.workload, r["seed"], seconds, 1)
            with open(args.out, "a") as f:
                f.write(json.dumps({"workload": args.workload, "set": "trace", **t}) + "\n")
            if "result" in t:
                traced.append(t["detail"]["detail"][key])
        if plain and traced:
            a, b = statistics.median(plain), statistics.median(traced)
            verdict["trace_overhead"] = {"reading": key, "untraced": a, "traced": b,
                                         "share": (b - a) / a}
            print(f"\n== tracing overhead on {key}: untraced median {a:.4g}, "
                  f"traced median {b:.4g} ({(b - a) / a:+.3f} of untraced; "
                  f"{len(plain)} + {len(traced)} runs)")
    print(json.dumps(verdict))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
