"""Plumbing shared by the workloads: the Spark session, process-tree
CPU and memory, Spark status-store counts, streaming progress and the
span tracer.

Nothing here changes how the package runs. Every reading is taken from
outside: wrapped public calls, ``/proc`` and Spark's own status and
progress APIs.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from contextlib import contextmanager

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
REPO_ROOT = os.path.dirname(BENCH_DIR)
# Everything a run writes (logs, checkpoints, tables, Spark scratch,
# traces) lives here, inside the checkout.
WORK_ROOT = os.path.join(REPO_ROOT, ".perfbench")


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def median(values: list[float]) -> float:
    return statistics.median(values)


# ---------------------------------------------------------------- session


def start_spark(app: str, work_dir: str):
    """A ``local[nproc]`` session built by the package's own factory.
    Spark's scratch and the JVM's temp dir point into ``work_dir`` so
    the run writes nothing outside the checkout."""
    local = os.path.join(work_dir, "spark-local")
    os.makedirs(local, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = local
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={local} -XX:-UsePerfData"
    from aoseventstreamer_spark.session import get_spark

    spark = get_spark(
        app,
        cpus=cpus(),
        # console progress bars only; no effect on planning or execution
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then end the JVM and wait until every process
    the run started (JVM, Python worker daemon) has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    gateway.shutdown()
    proc.stdin.close()  # the gateway server exits on stdin EOF
    proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while len(process_tree()) > 1 and time.monotonic() < deadline:
        time.sleep(0.1)


# ------------------------------------------------------ process resources


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def process_tree() -> list[int]:
    """This process and every live descendant (JVM, Python workers)."""
    kids = _children()
    out, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def tree_cpu_s() -> float:
    """User+system CPU of the live tree, including reaped children."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for pid in process_tree():
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # utime, stime, cutime, cstime (fields 14-17 of stat)
        total += sum(int(x) for x in fields[11:15])
    return total / tick


def tree_peak_rss_mb() -> float:
    """Sum over the live tree of each process's peak resident set."""
    kb = 0
    for pid in process_tree():
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return kb / 1024


def host_steal_s() -> float:
    """CPU time the hypervisor gave to other guests (all CPUs)."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


# ------------------------------------------------------------ spark stats


def spark_jobs(spark, since_ms: float, until_ms: float) -> list[dict]:
    """Jobs submitted in [since_ms, until_ms] from Spark's status store,
    with stage, task and executor-time counts. SKIPPED stages (AQE
    re-lists a reused map stage) are left out of every count."""
    jsc = spark.sparkContext._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    out = []
    all_jobs = store.jobsList(None)
    for k in range(all_jobs.size()):
        jd = all_jobs.apply(k)
        sub = jd.submissionTime()
        if not sub.isDefined():
            continue
        t = sub.get().getTime()
        if not since_ms <= t <= until_ms:
            continue
        group = jd.jobGroup()
        job = {
            "id": jd.jobId(),
            "t_ms": t,
            "group": group.get() if group.isDefined() else None,
            "stages": 0,
            "tasks": 0,
            "task_ms": 0,
            "cpu_ms": 0.0,
        }
        stage_ids = jd.stageIds()
        for i in range(stage_ids.size()):
            try:
                st = store.lastStageAttempt(stage_ids.apply(i))
            except Exception:  # noqa: BLE001 - evicted stage: count nothing
                continue
            if st.status().toString() == "SKIPPED":
                continue
            job["stages"] += 1
            job["tasks"] += st.numTasks()
            job["task_ms"] += st.executorRunTime()
            job["cpu_ms"] += st.executorCpuTime() / 1e6
        out.append(job)
    return out


def sum_jobs(jobs: list[dict]) -> dict:
    return {
        "jobs": len(jobs),
        "stages": sum(j["stages"] for j in jobs),
        "tasks": sum(j["tasks"] for j in jobs),
        "task_ms": sum(j["task_ms"] for j in jobs),
        "cpu_ms": sum(j["cpu_ms"] for j in jobs),
    }


def stream_progress(query) -> list[dict]:
    """Every retained progress report of a streaming query that read
    rows: batch id, trigger start (epoch ms), input rows and the
    ``durationMs`` breakdown."""
    import datetime

    out = []
    for p in query.recentProgress:
        get = p.get if isinstance(p, dict) else (lambda k, p=p: getattr(p, k))
        if not get("numInputRows"):
            continue
        ts = datetime.datetime.fromisoformat(get("timestamp").replace("Z", "+00:00"))
        out.append({
            **{k: float(v) for k, v in get("durationMs").items()},
            "batch": int(get("batchId")),
            "rows": int(get("numInputRows")),
            "t_ms": ts.timestamp() * 1000,
        })
    return out


PROGRESS_KEYS = {
    "latest_offset_ms": "latestOffset",
    "get_batch_ms": "getBatch",
    "query_planning_ms": "queryPlanning",
    "add_batch_ms": "addBatch",
    "wal_commit_ms": "walCommit",
    "commit_offsets_ms": "commitOffsets",
    "trigger_ms": "triggerExecution",
}


# ----------------------------------------------------------------- tracer


class Tracer:
    """Spans around the benchmark's calls into each layer: name, start,
    end, parent span and the operation id (emit call, subscriber or
    query). Spans stay in memory and are written out once, at exit.
    With ``enabled=False`` every span is a no-op."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack = threading.local()
        self._lock = threading.Lock()
        self._next = 0

    @contextmanager
    def span(self, name: str, op=None):
        if not self.enabled:
            yield
            return
        stack = self._stack.__dict__.setdefault("ids", [])
        with self._lock:
            sid = self._next
            self._next += 1
        parent = stack[-1] if stack else None
        stack.append(sid)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(
                    {"id": sid, "name": name, "start": start, "end": end,
                     "parent": parent, "op": op}
                )

    def self_ms(self, window: tuple[float, float] | None = None) -> dict[str, float]:
        """Per span name: its total duration minus the part of that
        interval covered by its child spans. With ``window`` (two
        ``perf_counter`` readings), only spans that start inside it."""
        children: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out: dict[str, float] = {}
        for s in self.spans:
            if window is not None and not window[0] <= s["start"] <= window[1]:
                continue
            covered, last = 0.0, s["start"]
            for a, b in sorted(children.get(s["id"], [])):
                a, b = max(a, last), min(b, s["end"])
                if b > a:
                    covered += b - a
                    last = b
            own = (s["end"] - s["start"] - covered) * 1000
            out[s["name"]] = out.get(s["name"], 0.0) + own
        return out

    def write(self, path: str, extra: dict) -> None:
        if not self.spans:
            return
        t0 = min(s["start"] for s in self.spans)
        spans = [
            {**s, "start": round((s["start"] - t0) * 1000, 3),
             "end": round((s["end"] - t0) * 1000, 3)}
            for s in sorted(self.spans, key=lambda s: s["start"])
        ]
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"self_ms": self.self_ms(), **extra, "spans": spans}, f)
