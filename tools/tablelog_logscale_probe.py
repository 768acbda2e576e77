"""Manifest-log scale probe: commit/resolve cost at 10^4-10^5 commits.

What it measures (metadata-only commits through TableLog.commit — the
protocol's own loop, no Spark jobs, so the numbers isolate LOG cost):

1. COMMIT MARGINAL: wall per commit over the LAST 200 commits at each
   log size N. Pre-pointer this was O(N) (every commit listed the
   whole _tablelog/ dir to resolve latest); with _last_checkpoint it
   is one pointer read + O(tail<=interval) existence probes — flat.
2. RESOLVE: latest_version() and full-state replay at head, at each N.
   Also the raw full-listing cost for contrast (what the pointer path
   replaced).
3. CHECKPOINT FORMAT under live-set growth: at F live files, the
   every-Nth JSON manifest embeds the full state (manifest size grows
   with F and its json.dumps/parse sits ON the commit path), while
   parquet mode keeps every manifest O(delta) and moves the state to
   a sidecar. Reported: manifest bytes at the checkpoint boundary,
   sidecar bytes, resolve wall.
4. expire_manifests interop at the largest N: retention drops the
   head-resolve inputs and the next commits stay flat.

The default-store curves commit through whatever store ``TableLog``
picks for a local path (``PythonFSLogStore``), so running this file
against an older checkout measures that checkout's default committer.

Usage: python tools/tablelog_logscale_probe.py [max_commits]
(default 100_000; the driver-facing table in RESULTS.md was produced
with the default).
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from aoseventstreamer_spark import get_spark  # noqa: E402
from aoseventstreamer_spark.logstore import (  # noqa: E402
    checkpoint_name,
    checkpoint_versions,
)
from aoseventstreamer_spark.tablelog import TableLog  # noqa: E402


def _commit_n(log: TableLog, n: int, live_cap: int = 16) -> None:
    """n metadata commits: add one fabricated file, remove the one
    committed ``live_cap`` commits ago — live set stays bounded so the
    probe isolates COMMIT-COUNT scaling from live-set scaling."""
    v0 = log.latest_version()
    for k in range(v0, v0 + n):
        added = [{"path": f"f{k}.parquet", "size": 128}]
        removed = [f"f{k - live_cap}.parquet"] if k >= live_cap else []
        log.commit(added=added, removed=removed, data_change=True)


class _CountingStore:
    """Request-count proxy: on a REAL object store the commit cost is
    requests × RTT — the local emulation's LIST walks the whole
    bucket client-side (O(N) locally) precisely because S3 does that
    walk server-side inside ONE ListObjectsV2 request, so wall time
    here misstates the remote cost while the request count states it
    exactly."""

    def __init__(self, inner):
        self.inner = inner
        self.counts = {"put": 0, "get": 0, "list": 0, "delete": 0, "head": 0}

    def put(self, *a, **kw):
        self.counts["put"] += 1
        return self.inner.put(*a, **kw)

    def get(self, *a, **kw):
        self.counts["get"] += 1
        return self.inner.get(*a, **kw)

    def list(self, *a, **kw):
        self.counts["list"] += 1
        return self.inner.list(*a, **kw)

    def delete(self, *a, **kw):
        self.counts["delete"] += 1
        return self.inner.delete(*a, **kw)

    def head(self, *a, **kw):
        self.counts["head"] += 1
        return self.inner.head(*a, **kw)

    def snapshot(self):
        return dict(self.counts)


def _objectstore(path: str):
    """Conditional-PUT committer over pyarrow.fs (externally backed):
    the pointer/expiry fast paths take the ObjectStoreLogStore code
    branch (single-LIST start_after tail, no rename) — the family the
    r9 table did NOT measure."""
    from aoseventstreamer_spark.logstore import (
        ObjectStoreLogStore,
        PyArrowFSObjectStore,
    )

    store = _CountingStore(PyArrowFSObjectStore.subtree(path + "-bucket"))
    log = ObjectStoreLogStore(store)
    log._counting = store  # probe hook
    return log


def probe_commit_curve(
    spark, sizes: list[int], fmt: str, mk_store=None
) -> list[dict]:
    """``mk_store=None`` commits through TableLog's default store."""
    path = tempfile.mkdtemp(prefix=f"tl_scale_{fmt}_")
    log = TableLog(
        spark,
        path,
        checkpoint_interval=10,
        checkpoint_format=fmt,
        log_store=mk_store(path) if mk_store else None,
    )
    rows = []
    reached = 0
    counting = getattr(log._log, "_counting", None)
    for n in sizes:
        _commit_n(log, n - reached - 200)
        before = counting.snapshot() if counting else None
        t0 = time.time()
        _commit_n(log, 200)
        commit_ms = (time.time() - t0) / 200 * 1000
        reqs_per_commit = None
        if counting:
            after = counting.snapshot()
            reqs_per_commit = round(
                sum(after.values()) - sum(before.values()), 1
            ) / 200
        reached = n
        t0 = time.time()
        head = log.latest_version()
        latest_ms = (time.time() - t0) * 1000
        t0 = time.time()
        files = log.snapshot_files()
        resolve_ms = (time.time() - t0) * 1000
        t0 = time.time()
        n_listed = len(log._log.versions())
        full_list_ms = (time.time() - t0) * 1000
        rows.append(
            {
                "format": fmt,
                "store": type(log._log).__name__,
                "commits": head,
                "live_files": len(files),
                "commit_marginal_ms": round(commit_ms, 3),
                **(
                    {"store_requests_per_commit": round(reqs_per_commit, 2)}
                    if reqs_per_commit is not None
                    else {}
                ),
                "latest_version_ms": round(latest_ms, 3),
                "resolve_state_ms": round(resolve_ms, 3),
                "full_listing_ms": round(full_list_ms, 3),
                "listed": n_listed,
            }
        )
        print(json.dumps(rows[-1]))
    # expire interop at the final size
    t0 = time.time()
    expired = log.expire_manifests(retain_versions=1000)
    expire_s = time.time() - t0
    t0 = time.time()
    _commit_n(log, 200)
    commit_ms = (time.time() - t0) / 200 * 1000
    rows.append(
        {
            "format": fmt,
            "after_expire": True,
            "expired": len(expired),
            "expire_s": round(expire_s, 2),
            "commit_marginal_ms": round(commit_ms, 3),
            "retained": len(log._log.versions()),
        }
    )
    print(json.dumps(rows[-1]))
    return rows


def probe_state_size(spark, n_files: int) -> dict:
    """Checkpoint cost at F live files: JSON-embed vs parquet sidecar."""
    out = {}
    for fmt in ("json", "parquet"):
        path = tempfile.mkdtemp(prefix=f"tl_state_{fmt}_")
        log = TableLog(
            spark,
            path,
            checkpoint_interval=10,
            checkpoint_format=fmt,
        )
        # grow the live set to n_files across enough commits to cross
        # a checkpoint boundary with the FULL set live
        per = max(1, n_files // 20)
        k = 0
        for _ in range(20):
            log.commit(
                added=[
                    {
                        "path": f"f{k + i}.parquet",
                        "size": 128,
                        "stats": {
                            "num_rows": 100,
                            "min": {"id": k + i},
                            "max": {"id": k + i + 99},
                            "null_count": {"id": 0},
                        },
                    }
                    for i in range(per)
                ],
                data_change=True,
            )
            k += per
        head = log.latest_version()
        ck = head - head % 10  # newest checkpoint boundary
        man_bytes = len(json.dumps(log._read_manifest(ck)))
        side_bytes = 0
        if fmt == "parquet":
            cks = checkpoint_versions(log._log)
            raw = log._log.read_aux(checkpoint_name(cks[-1]))
            side_bytes = len(raw or b"")
        t0 = time.time()
        files = log.snapshot_files()
        resolve_ms = (time.time() - t0) * 1000
        out[fmt] = {
            "live_files": len(files),
            "checkpoint_manifest_bytes": man_bytes,
            "sidecar_bytes": side_bytes,
            "resolve_state_ms": round(resolve_ms, 3),
        }
        print(json.dumps({fmt: out[fmt]}))
    return out


if __name__ == "__main__":
    max_commits = int(sys.argv[1]) if len(sys.argv) > 1 else 100_000
    sizes = [s for s in (1_000, 10_000, 50_000, 100_000) if s <= max_commits]
    spark = get_spark(
        "tablelog-logscale-probe",
        cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "8")),
    )
    spark.sparkContext.setLogLevel("ERROR")
    print("== commit/resolve curve, parquet checkpoints ==")
    probe_commit_curve(spark, sizes, "parquet")
    print("== commit/resolve curve, parquet ckpts, object store ==")
    # capped at 10k commits: the LOCAL emulation's LIST walks the
    # bucket client-side (quadratic total wall at 10^5) where a real
    # store does that walk server-side inside one billed request —
    # store_requests_per_commit is the metric that transfers, and its
    # flatness is the claim (wall figures transfer only for the
    # default committer above)
    probe_commit_curve(
        spark,
        [s for s in sizes if s <= 10_000],
        "parquet",
        mk_store=_objectstore,
    )
    print("== commit/resolve curve, json checkpoints ==")
    probe_commit_curve(spark, [s for s in sizes if s <= 10_000], "json")
    print("== state-size: 10k live files ==")
    probe_state_size(spark, 10_000)
