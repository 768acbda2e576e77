"""live_tail: the paper's own path, with writes beside reads.

A closed loop with one emitter. Each call routes ``emits`` raw emits
(``routing.route_emits``) and commits them to a tablelog log
(``TableLog.append``). A ``DemuxRunner`` fleet tails the log at the
250 ms trigger: one project-subtree group per project plus as many
idle exact groups. The next call is issued only once every matching
group's deliver callback holds the previous call's rows.
"""

from __future__ import annotations

import os
import time

from gen import EmitGen, project_name
from harness import PROGRESS_KEYS, median, spark_jobs, stream_progress, sum_jobs
from subscribers import CALL_STRIDE, Inbox, expected_by_group, mismatches

FULL = {"routed": 300, "projects": 50, "idle": 50, "setups": 2, "sec_per_call": 3.0,
        "min_calls": 4}
SMOKE = {"routed": 30, "projects": 4, "idle": 2, "setups": 1, "sec_per_call": 1e9,
         "min_calls": 2}
EMIT_GROUP = "perfbench-emit"
OTHER_GROUP = "perfbench-other"
DELIVERY_TIMEOUT_S = 60


def run(spark, ctx) -> dict:
    from pyspark.sql import functions as F

    from aoseventstreamer_spark import schemas
    from aoseventstreamer_spark.functions import subjects as S
    from aoseventstreamer_spark.operators.routing import route_emits
    from aoseventstreamer_spark.streaming.demux import DemuxRunner
    from aoseventstreamer_spark.tablelog import TableLog

    cfg = SMOKE if ctx.smoke else FULL
    tr = ctx.tracer
    sc = spark.sparkContext
    gen = EmitGen(ctx.seed, n_projects=cfg["projects"])
    groups = [(f"sub-{project_name(i)}", S.project_query(project_name(i), True), None)
              for i in range(cfg["projects"])]
    groups += [(f"idle-{i}", S.project_query(f"idle{i}", False), None)
               for i in range(cfg["idle"])]
    routed_expected: dict[int, int] = {}
    next_call = iter(range(1 << 30))

    def emit(tl, op):
        """One emit call: generate (untimed), then input, route and
        commit under the emit job group."""
        call = next(next_call)
        rows, per_project = gen.call(call, cfg["routed"])
        routed_expected[call] = sum(per_project.values())
        sc.setJobGroup(EMIT_GROUP, "emit call")
        t = [time.perf_counter()]
        with tr.span("emit.input", op=op):
            raw = spark.createDataFrame(rows, schemas.RAW_EMITS_SCHEMA)
        t.append(time.perf_counter())
        with tr.span("routing.build", op=op):
            routed = route_emits(raw, secret="t")
        t.append(time.perf_counter())
        with tr.span("tablelog.append", op=op):
            tl.append(routed)
        t.append(time.perf_counter())
        sc.setJobGroup(OTHER_GROUP, "harness")
        expect = {f"sub-{p}": n for p, n in per_project.items()}
        return call, expect, t, time.time()

    # -- set-up, repeated: a fresh log with its first commit, a fresh
    #    fleet, and that commit delivered. The last one is kept.
    setups, query = [], None
    for rep in range(cfg["setups"]):
        if query is not None:
            query.stop()
        t0 = time.perf_counter()
        routed_expected.clear()
        log = os.path.join(ctx.work, f"log{rep}")
        inbox = Inbox(tr, "demux")
        with tr.span("setup.fleet", op=f"setup{rep}"):
            tl = TableLog(spark, log)
            call, expect, _, _ = emit(tl, f"setup{rep}")
            with tr.span("demux.start", op=f"setup{rep}"):
                runner = DemuxRunner(spark, log, os.path.join(ctx.work, f"ck{rep}"),
                                     log_format="tablelog")
                for gid, fs, _ in groups:
                    runner.register(gid, fs, inbox.deliver_fn(gid))
                query = runner.start()
            if inbox.wait_call(call, expect, DELIVERY_TIMEOUT_S) is None:
                raise RuntimeError(
                    f"the set-up commit was not delivered within {DELIVERY_TIMEOUT_S} s: "
                    f"expected rows per group {expect}, received "
                    f"{ {g: inbox.per_call.get((g, call), 0) for g in expect} }"
                )
        setups.append(time.perf_counter() - t0)

    # -- timed phase: a fixed number of calls, sized from --seconds
    n_calls = max(cfg["min_calls"], round(ctx.seconds / cfg["sec_per_call"]))
    ack, e2e, parts = [], [], []
    ctx.timed_start()
    for _ in range(n_calls):
        op = f"call{len(parts)}"
        with tr.span("live.call", op=op):
            call, expect, t, commit_wall = emit(tl, op)
            with tr.span("emit.wait", op=op):
                done = inbox.wait_call(call, expect, DELIVERY_TIMEOUT_S)
        if done is None:
            break
        ack.append((t[3] - t[0]) * 1000)
        e2e.append((done - t[0]) * 1000)
        parts.append({"call": call, "t": t, "commit_wall": commit_wall,
                      "groups": len(expect)})
    ctx.timed_end()
    query.stop()

    # -- correctness (untimed): every group's deliveries against a
    #    batch scan of the final log, routed rows per call against the
    #    generator's fan-out arithmetic
    final = tl.read()
    bad = mismatches(inbox, expected_by_group(final, groups))
    problems = [f"group {g} call {c}: {p}" for g, c, p in bad[:20]]
    bad_calls = {c for _, c, _ in bad}
    counted = dict(
        final.groupBy(F.floor(F.col("seq") / CALL_STRIDE).alias("c")).count().collect()
    )
    for c, n in routed_expected.items():
        if counted.get(c) != n:
            bad_calls.add(c)
            problems.append(f"call {c}: {counted.get(c)} routed rows, generator says {n}")
    timed_calls = {p["call"] for p in parts}
    failed = (n_calls - len(parts)) + len(bad_calls & timed_calls)
    if bad_calls - timed_calls:
        failed = n_calls  # the set-up call is wrong: nothing after it can be trusted

    res = {
        "attempted": n_calls,
        "failed": failed,
        "problems": problems,
        "checks": len(groups) + len(routed_expected),
        "setup_reps": setups,
        "ack_ms": ack,
        "latency_ms": e2e,
        "build_ms": [(p["t"][2] - p["t"][0]) * 1000 for p in parts],
        "ops": len(parts),
        "detail": {
            "emit_p50_ms": median(ack) if ack else None,
            "e2e_p50_ms": median(e2e) if e2e else None,
            "e2e_ms": e2e,
            "routed_rows_per_call": median([routed_expected[c] for c in timed_calls])
            if parts else None,
            "matching_groups_per_call": median([p["groups"] for p in parts]) if parts else None,
        },
    }
    if ctx.trace and parts:
        res.update(_layers(spark, query, inbox, parts, ctx))
    return res


def _layers(spark, query, inbox, parts, ctx) -> dict:
    """Per-layer readings of the timed phase: wrapped-call timings,
    status-store job counts and the stream's own progress reports."""
    jobs = spark_jobs(spark, ctx.win_ms[0], ctx.win_ms[1])
    emit_jobs = [j for j in jobs if j["group"] == EMIT_GROUP]
    stream_jobs = [j for j in jobs if j["group"] not in (EMIT_GROUP, OTHER_GROUP)]
    progress = [p for p in stream_progress(query) if p["t_ms"] >= ctx.win_ms[0]]
    n = len(parts)
    out = {
        "emit.input_ms": median([(p["t"][1] - p["t"][0]) * 1000 for p in parts]),
        "routing.build_ms": median([(p["t"][2] - p["t"][1]) * 1000 for p in parts]),
        "tablelog.append_ms": median([(p["t"][3] - p["t"][2]) * 1000 for p in parts]),
        "spark.jobs_per_emit": len(emit_jobs) / n,
        "spark.jobs_per_batch": len(stream_jobs) / max(1, len(progress)),
        "stream.batches": len(progress),
        "demux.deliver_ms": ctx.tracer.self_ms(ctx.win_pc).get("demux.deliver", 0.0) / n,
    }
    for name, key in PROGRESS_KEYS.items():
        vals = [p[key] for p in progress if key in p]
        if vals:
            out[f"stream.{name}"] = median(vals)
    if progress:
        out["stream.rows_per_batch"] = median([p["rows"] for p in progress])
        # a call's commit -> the start of the trigger that read it
        starts = sorted(p["t_ms"] for p in progress)
        waits = [next((s for s in starts if s >= p["commit_wall"] * 1000), None)
                 for p in parts]
        waits = [w - p["commit_wall"] * 1000 for w, p in zip(waits, parts) if w is not None]
        if waits:
            out["stream.trigger_wait_ms"] = median(waits)
        ids = {p["batch"] for p in progress}
        matched = [m for b, m in inbox.matched.items() if b in ids]
        if matched:
            out["demux.matched_groups_per_batch"] = median(matched)
    return {"layers": out, "jobs": sum_jobs(jobs)}
