"""Demux fleet-scale probe (VERDICT r5 item 6): drive DemuxRunner with
hundreds-to-thousands of registered groups through one micro-batch
pass and measure the per-group marginal cost.

docs/SCALE.md claims the demux shape is flat in registered groups:
per batch, ONE Spark job matches every group and collects the matched
rows to the driver as Arrow; each matching key's chunk is a
driver-local LocalRelation (no Spark job per matching group) and idle
groups share one driver-local empty frame. This probe measures that
claim instead of asserting it rhetorically:

- a routed event log over P projects (collection-level events) is
  written once;
- for each fleet size G: a fresh checkpoint, G subtree groups
  (`UPDATES.STORAGE._.p<i>.>`, all matching) or G exact-level groups
  that match nothing (idle fleet), one availableNow pass, wall time;
- the regression assertion: the marginal cost per additional group —
  (t(G_max) - t(G_min)) / (G_max - G_min) — must stay under
  MARGINAL_BUDGET_S for BOTH fleets. The marginal is the per-group
  driver work: building a matching key's chunk (createDataFrame from
  its Arrow slice) and the subscriber's own count() on a local plan,
  spread over the bounded delivery pool. Idle groups see the shared
  Catalyst-folded empty frame (a LocalRelation, not an
  RDD-with-32-empty-partitions — that construction made every idle
  count a 32-task job).

Usage: python tools/demux_scale.py [G ...]   (default: 100 500 1000)
Prints one JSON line per (fleet kind, G) — wall time plus JVM heap
in use after the pass (the driver holds the batch's matched rows, at
most 4 per event, their chunks, the shared empty frame and G callback
closures; the delivery pool is bounded, so queueing is what grows
with G) — and exits nonzero if the marginal-cost assertion fails.
The project count scales with the largest requested fleet so every
matching group has a real slice to receive (r8: probed at 10k
groups).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from aoseventstreamer_spark import schemas
from aoseventstreamer_spark.operators.routing import route_emits, write_event_log
from aoseventstreamer_spark.session import get_spark
from aoseventstreamer_spark.streaming.demux import DemuxRunner

# per-group marginal wall budget (noisy host): measured 8 ms matching
# / 3 ms idle at local[32] after r7's concurrent delivery pool (was
# 75/28 ms serial); 25 ms matching / 12 ms idle at local[4] with the
# driver-local Arrow chunks (docs/SCALE.md); 40 ms = noise headroom
MARGINAL_BUDGET_S = 0.04
EVENTS_PER_PROJECT = 5


def _jvm_heap_mb(spark) -> int:
    rt = spark._jvm.java.lang.Runtime.getRuntime()
    return int((rt.totalMemory() - rt.freeMemory()) / (1 << 20))


def _build_log(spark, path: str, n_projects: int) -> None:
    rows = [
        {
            "emit_id": p * 100 + i,
            "token": "t",
            "event_resource": schemas.RESOURCE_COLLECTION,
            "resource_id": f"c{i}",
            "event_type": schemas.EVENT_TYPE_ALL,
            "relations": [
                {"project": f"p{p}", "collection": None,
                 "shared_object": None, "object_groups": []}
            ],
        }
        for p in range(n_projects)
        for i in range(EVENTS_PER_PROJECT)
    ]
    raw = spark.createDataFrame(rows, schemas.RAW_EMITS_SCHEMA)
    write_event_log(route_emits(raw, secret="t"), path, partition_by=None)


def _run_fleet(spark, log_path: str, work: str, g: int, idle: bool) -> float:
    ck = os.path.join(work, f"ck_{'idle' if idle else 'match'}_{g}")
    runner = DemuxRunner(spark, log_path, ck)
    delivered = [0]
    lock = threading.Lock()

    # deliveries within a batch run concurrently since r7
    # (DemuxRunner.deliver_concurrency) — the callback must be
    # thread-safe across groups, hence the lock around the tally
    def deliver(cid, df):
        n = df.count()
        with lock:
            delivered[0] += n

    for i in range(g):
        subject = (
            f"UPDATES.STORAGE._.px{i}._"  # exact level, no such project
            if idle
            else f"UPDATES.STORAGE._.p{i}.>"
        )
        runner.register(f"g{i}", subject, deliver)
    t0 = time.time()
    q = runner.start(trigger={"availableNow": True}, max_files_per_trigger=100000)
    q.awaitTermination(600)
    sec = time.time() - t0
    expect = 0 if idle else g * EVENTS_PER_PROJECT
    if delivered[0] != expect:
        raise AssertionError(
            f"fleet g={g} idle={idle}: delivered {delivered[0]} != {expect}"
        )
    return sec


def main() -> None:
    fleet_sizes = [int(a) for a in sys.argv[1:]] or [100, 500, 1000]
    n_projects = max(2000, max(fleet_sizes))
    spark = get_spark(
        "demux-scale", cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    )
    spark.sparkContext.setLogLevel("ERROR")
    work = tempfile.mkdtemp(prefix="demux_scale_")
    try:
        log_path = os.path.join(work, "events")
        _build_log(spark, log_path, n_projects)

        results: dict[tuple[str, int], float] = {}
        for idle in (False, True):
            kind = "idle" if idle else "matching"
            for g in fleet_sizes:
                sec = _run_fleet(spark, log_path, work, g, idle)
                results[(kind, g)] = sec
                print(
                    json.dumps(
                        {
                            "fleet": kind,
                            "groups": g,
                            "events": n_projects * EVENTS_PER_PROJECT,
                            "sec": round(sec, 2),
                            "jvm_heap_mb": _jvm_heap_mb(spark),
                        }
                    ),
                    flush=True,
                )

        lo, hi = min(fleet_sizes), max(fleet_sizes)
        marg_match = (results[("matching", hi)] - results[("matching", lo)]) / (hi - lo)
        marg_idle = (results[("idle", hi)] - results[("idle", lo)]) / (hi - lo)
        print(
            json.dumps(
                {
                    "marginal_matching_ms_per_group": round(marg_match * 1000, 2),
                    "marginal_idle_ms_per_group": round(marg_idle * 1000, 2),
                    "budget_ms": MARGINAL_BUDGET_S * 1000,
                }
            ),
            flush=True,
        )
        for kind, marg in (("matching", marg_match), ("idle", marg_idle)):
            if marg > MARGINAL_BUDGET_S:
                raise SystemExit(
                    f"REGRESSION: {kind}-fleet marginal {marg * 1000:.1f} ms/group "
                    f"exceeds budget {MARGINAL_BUDGET_S * 1000:.0f} ms"
                )
    finally:
        shutil.rmtree(work, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
