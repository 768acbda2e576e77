"""replay: new subscribers drain a retained history (the reference's
deliver-all default, natsio.rs:176-182). Read-only.

Set-up routes the generated history through ``route_emits`` and writes
it with ``write_event_log`` (parquet, partitioned by ``project_id``),
then drains it once with one untimed round of subscribers (the
warm-up).
The timed phase then drains it with one subscriber at a time:

- ``nproc`` ``StreamGroupManager`` groups at distinct levels (project
  subtree, collection subtree, exact object group, event-type
  filtered), each through ``read_available``;
- one ``DemuxRunner`` fleet of project- and collection-subtree groups
  plus as many idle exact groups, with ``availableNow``.
"""

from __future__ import annotations

import os
import time

from gen import EmitGen, project_name
from harness import PROGRESS_KEYS, cpus, median, spark_jobs, stream_progress, sum_jobs
from subscribers import Inbox, expected_by_group, mismatches

FULL = {"calls": 20, "routed": 300, "projects": 50, "fleet_idle": 100, "setups": 2,
        "sec_per_round": 12.0}
SMOKE = {"calls": 3, "routed": 30, "projects": 4, "fleet_idle": 2, "setups": 1,
         "sec_per_round": 1e9}
DRAIN_TIMEOUT_S = 120


def _group_specs(n: int) -> list[tuple[str, int, str, bool, dict, int | None]]:
    """``n`` StreamGroupManager groups at distinct levels, cycling:
    (name, resource_type, resource_id, subtree, hierarchy, event_type)."""
    from aoseventstreamer_spark import schemas as SC

    p0, p1 = project_name(0), project_name(1)
    levels = [
        ("project", SC.RESOURCE_PROJECT, p0, True, {}, None),
        ("collection", SC.RESOURCE_COLLECTION, "c0", True, {"project_id": p0}, None),
        ("object-group", SC.RESOURCE_OBJECT_GROUP, "o0", False,
         {"project_id": p0, "collection_id": "c0", "shared_id": "g0"}, None),
        ("event-type", SC.RESOURCE_PROJECT, p1, True, {}, 2),
    ]
    return [levels[i % len(levels)] for i in range(n)]


def run(spark, ctx) -> dict:
    from aoseventstreamer_spark import schemas
    from aoseventstreamer_spark.functions import subjects as S
    from aoseventstreamer_spark.operators.routing import route_emits, write_event_log
    from aoseventstreamer_spark.streaming.demux import DemuxRunner
    from aoseventstreamer_spark.streaming.groups import StreamGroupManager

    cfg = SMOKE if ctx.smoke else FULL
    tr = ctx.tracer
    gen = EmitGen(ctx.seed, n_projects=cfg["projects"])
    history = []
    routed_expected = 0
    for call in range(cfg["calls"]):
        rows, per_project = gen.call(call, cfg["routed"])
        history += rows
        routed_expected += sum(per_project.values())

    # -- set-up, repeated: route and write the whole history as a fresh
    #    log, from one input partition, so the log holds one file per
    #    project (a compacted layout; every subscriber reads it in one
    #    batch). The last copy is the one the subscribers drain.
    setups = []
    for rep in range(cfg["setups"]):
        t0 = time.perf_counter()
        log = os.path.join(ctx.work, f"log{rep}")
        with tr.span("setup.history", op=f"setup{rep}"):
            raw = spark.createDataFrame(history, schemas.RAW_EMITS_SCHEMA).coalesce(1)
            with tr.span("log.write", op=f"setup{rep}"):
                write_event_log(route_emits(raw, secret="t"), log)
        setups.append(time.perf_counter() - t0)
    log_df = spark.read.schema(schemas.ROUTED_EVENTS_SCHEMA).parquet(log)
    n_files = len(log_df.inputFiles())

    specs = _group_specs(cpus())
    fleet = [(f"sub-{project_name(i)}", S.project_query(project_name(i), True), None)
             for i in range(cfg["projects"])]
    fleet += [(f"coll-{project_name(i)}", S.collection_query(project_name(i), "c0", True), None)
              for i in range(cfg["projects"])]
    fleet += [(f"idle-{i}", S.project_query(f"idle{i}", False), None)
              for i in range(cfg["fleet_idle"])]

    def drain_round(rnd, specs, fleet) -> list[dict]:
        """Every group of ``specs``, then the ``fleet``, one subscriber
        at a time, each from a fresh checkpoint."""
        subs = []
        mgr = StreamGroupManager(spark, log, os.path.join(ctx.work, f"groups{rnd}"))
        for i, (name, rtype, rid, subtree, hier, et) in enumerate(specs):
            op = f"r{rnd}-{name}-{i}"
            inbox = Inbox(tr, "groups")
            t0 = time.perf_counter()
            with tr.span("replay.subscriber", op=op):
                with tr.span("groups.create", op=op):
                    kw = {} if et is None else {"event_type": et}
                    g = mgr.create_stream_group(rtype, rid, subtree, hier, **kw)
                t1 = time.perf_counter()
                with tr.span("groups.start", op=op):
                    q = mgr.read_available(g.id, inbox.deliver_fn(g.id))
                with tr.span("groups.drain", op=op):
                    q.awaitTermination(DRAIN_TIMEOUT_S)
            t2 = time.perf_counter()
            subs.append({"kind": "groups", "round": rnd, "op": op, "t0": t0, "t1": t1,
                         "t2": t2, "inbox": inbox, "query": q,
                         "groups": [(g.id, g.filter_subject, et)]})
        op = f"r{rnd}-fleet"
        inbox = Inbox(tr, "demux")
        t0 = time.perf_counter()
        with tr.span("replay.subscriber", op=op):
            with tr.span("demux.register", op=op):
                runner = DemuxRunner(spark, log, os.path.join(ctx.work, f"fleet{rnd}"))
                for gid, fs, _ in fleet:
                    runner.register(gid, fs, inbox.deliver_fn(gid))
            t1 = time.perf_counter()
            with tr.span("demux.start", op=op):
                q = runner.start(trigger={"availableNow": True})
            with tr.span("demux.drain", op=op):
                q.awaitTermination(DRAIN_TIMEOUT_S)
        t2 = time.perf_counter()
        subs.append({"kind": "demux", "round": rnd, "op": op, "t0": t0, "t1": t1, "t2": t2,
                     "inbox": inbox, "query": q, "groups": fleet})
        return subs

    # -- warm-up (untimed, counted into set-up): every group and half
    #    the fleet, so the timed rounds do not pay the streaming path's
    #    first calls (a warm-up of one group and a 10-group fleet left
    #    the first timed round 30-40% slower than the next, by a
    #    varying amount)
    t0 = time.perf_counter()
    warm = drain_round("warm", specs, fleet[::2])
    warm_s = time.perf_counter() - t0

    # -- timed phase: whole rounds
    n_rounds = max(1, round(ctx.seconds / cfg["sec_per_round"]))
    subs = []
    ctx.timed_start()
    for rnd in range(n_rounds):
        subs += drain_round(rnd, specs, fleet)
    ctx.timed_end()

    # -- correctness (untimed): every subscriber's deliveries, warm-up
    #    included, against a batch subject_filter scan of the final log;
    #    routed rows against the generator's fan-out arithmetic
    problems, failed = [], 0
    total = log_df.count()
    if total != routed_expected:
        problems.append(f"log holds {total} routed rows, generator says {routed_expected}")
    # one scan for every subscriber's groups, keyed "<subscriber>/<gid>"
    checks = warm + subs
    expected = expected_by_group(log_df, [(f"{k}/{gid}", fs, et)
                                          for k, sub in enumerate(checks)
                                          for gid, fs, et in sub["groups"]])
    for k, sub in enumerate(checks):
        timed = k >= len(warm)
        q = sub["query"]
        bad = [] if q.exception() is None else [("query", 0, str(q.exception())[:200])]
        if q.isActive:
            q.stop()
            bad.append(("query", 0, "did not drain within the timeout"))
        bad += mismatches(sub["inbox"], {gid: expected[f"{k}/{gid}"]
                                         for gid, _fs, _et in sub["groups"]})
        failed += bool(bad) and timed
        problems += [f"{sub['op']} group {g}: {p}" for g, _c, p in bad[:5]]
    if problems and not failed:
        failed = len(subs)  # the log or the warm-up is wrong: nothing can be trusted

    delivered = [sum(sum(c.values()) for c in s["inbox"].rows.values()) for s in subs]
    drain_s = [s["t2"] - s["t0"] for s in subs]
    first = [(min(s["inbox"].first_at.values()) - s["t0"]) * 1000
             for s in subs if s["inbox"].first_at]
    res = {
        "attempted": len(subs),
        "failed": failed,
        "problems": problems,
        "checks": 1 + sum(len(sub["groups"]) for sub in checks),
        "setup_reps": setups,
        "warmup_s": warm_s,
        "ack_ms": first,
        # a round's drain, summed over its subscribers: both kinds count
        "latency_ms": [sum(s["t2"] - s["t0"] for s in subs if s["round"] == r) * 1000
                       for r in range(n_rounds)],
        "build_ms": [(s["t1"] - s["t0"]) * 1000 for s in subs],
        "ops": len(subs),
        "detail": {
            "replay_eps": sum(delivered) / sum(drain_s),
            "log.files": n_files,
            "log.rows": total,
            "subscribers": len(subs),
        },
    }
    for kind in ("groups", "demux"):
        ks = [(s, n) for s, n in zip(subs, delivered) if s["kind"] == kind]
        res["detail"][f"{kind}.drain_s"] = median([s["t2"] - s["t0"] for s, _ in ks])
        res["detail"][f"{kind}.eps"] = (sum(n for _, n in ks)
                                       / sum(s["t2"] - s["t0"] for s, _ in ks))
    if ctx.trace:
        res.update(_layers(spark, subs, n_files, ctx))
    return res


def _layers(spark, subs, n_files, ctx) -> dict:
    """Per-layer readings, separately for each subscriber kind."""
    jobs = spark_jobs(spark, ctx.win_ms[0], ctx.win_ms[1])
    self_ms = ctx.tracer.self_ms(ctx.win_pc)
    out = {"log.files": n_files}
    for kind in ("groups", "demux"):
        ks = [s for s in subs if s["kind"] == kind]
        progress = [p for s in ks for p in stream_progress(s["query"])]
        out[f"{kind}.drain_s"] = median([s["t2"] - s["t0"] for s in ks])
        out[f"{kind}.batches"] = len(progress) / len(ks)
        for name, key in PROGRESS_KEYS.items():
            vals = [p[key] for p in progress if key in p]
            if vals:
                out[f"{kind}.{name}"] = median(vals)
        out[f"{kind}.deliver_ms"] = self_ms.get(f"{kind}.deliver", 0.0) / len(ks)
        if kind == "demux":
            matched = [m for s in ks for m in s["inbox"].matched.values()]
            if matched:
                out["demux.matched_groups_per_batch"] = median(matched)
    groups = [s for s in subs if s["kind"] == "groups"]
    out["groups.create_ms"] = median([(s["t1"] - s["t0"]) * 1000 for s in groups])
    return {"layers": out, "jobs": sum_jobs(jobs)}
