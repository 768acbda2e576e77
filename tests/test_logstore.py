"""LogStore seam: the tablelog commit protocol over S3-class object
stores (conditional-PUT CAS — no rename, no lock files) and the
Delta-style ``_last_checkpoint`` pointer + parquet checkpoint sidecars
that keep version resolution O(tail) instead of O(commits).

The object-store emulations expose ONLY put/get/list/delete/head — a
protocol that passes against them provably never needed rename or
exclusive-create. Concurrency shape mirrors
tools/tablelog_concurrency_probe.py probe A/B on the new committer.
"""

from __future__ import annotations

import json
import threading

import pytest
from pyspark.sql import functions as F

from aoseventstreamer_spark.logstore import (
    CommitConflict,
    LocalEmulatedObjectStore,
    MemoryObjectStore,
    ObjectStoreLogStore,
    PreconditionFailed,
    PythonFSLogStore,
    checkpoint_name,
    checkpoint_versions,
)
from aoseventstreamer_spark.tablelog import (
    ConcurrentModification,
    TableLog,
)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


# ---------------- object-store client semantics ----------------


@pytest.mark.parametrize("make", ["memory", "local"])
def test_conditional_put_is_create_if_absent(tmp_path, make):
    store = (
        MemoryObjectStore()
        if make == "memory"
        else LocalEmulatedObjectStore(str(tmp_path / "bucket"))
    )
    store.put("k", b"a", if_none_match=True)
    with pytest.raises(PreconditionFailed):
        store.put("k", b"b", if_none_match=True)
    assert store.get("k") == b"a"  # loser wrote nothing
    store.put("k", b"c")  # unconditional = last-writer-wins
    assert store.get("k") == b"c"
    store.delete("k")
    assert not store.head("k")
    store.delete("k")  # absent delete is a no-op (S3)
    with pytest.raises(KeyError):
        store.get("k")


def test_object_store_log_cas(tmp_path):
    log = ObjectStoreLogStore(MemoryObjectStore())
    log.write_atomic(1, {"version": 1, "actions": []})
    with pytest.raises(CommitConflict):
        log.write_atomic(1, {"version": 1, "actions": []})
    assert log.versions() == [1]
    assert log.read(1)["version"] == 1


def test_memory_store_conditional_put_race_single_winner():
    """64 threads racing one conditional PUT: exactly one wins."""
    store = MemoryObjectStore()
    wins, errs = [], []

    def race(i):
        try:
            store.put("same-key", f"{i}".encode(), if_none_match=True)
            wins.append(i)
        except PreconditionFailed:
            errs.append(i)

    ts = [threading.Thread(target=race, args=(i,)) for i in range(64)]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert len(wins) == 1 and len(errs) == 63
    assert store.get("same-key") == f"{wins[0]}".encode()


# ---------------- TableLog over the object-store committer ----------------


def _obj_table(spark, tmp_path, name="t", **kw) -> TableLog:
    store = LocalEmulatedObjectStore(str(tmp_path / f"{name}-objlog"))
    return TableLog(
        spark,
        str(tmp_path / name),
        log_store=ObjectStoreLogStore(store),
        **kw,
    )


def test_object_store_table_dml_roundtrip(spark, tmp_path):
    """The full DML surface over the conditional-PUT committer —
    identical results to the default (rename-CAS) store."""
    log = _obj_table(spark, tmp_path)
    df = spark.range(100).select("id", (F.col("id") % 7).alias("v"))
    log.append(df)
    log.delete_where([("id", "<", 10)])
    log.update_where([("v", "=", 3)], {"v": "99"})
    src = spark.range(95, 110).select(
        "id", F.lit(50).alias("v")
    )
    log.merge_into(src, on=["id"])
    got = _rows(log.read())

    ref = TableLog(spark, str(tmp_path / "ref"))
    ref.append(df)
    ref.delete_where([("id", "<", 10)])
    ref.update_where([("v", "=", 3)], {"v": "99"})
    ref.merge_into(src, on=["id"])
    assert got == _rows(ref.read())

    # time travel + optimize + vacuum all function on the object log
    assert log.read(version=1).count() == 100
    log.optimize(min_files=1)
    assert _rows(log.read()) == got
    swept = log.vacuum(retain_versions=1, min_age_seconds=0.0)
    assert swept and _rows(log.read()) == got


def test_object_store_concurrent_appends_exactly_once(spark, tmp_path):
    """Probe A shape on the conditional-PUT CAS: W writers x K appends,
    all land, every row exactly once, losers rebase (no lost update)."""
    W, K, rows_per = 6, 4, 20
    store = LocalEmulatedObjectStore(str(tmp_path / "objlog"))
    path = str(tmp_path / "conc")
    errs: list[Exception] = []

    def work(w: int):
        log = TableLog(
            spark, path, log_store=ObjectStoreLogStore(store)
        )
        for k in range(K):
            base = (w * K + k) * rows_per
            df = spark.range(base, base + rows_per).selectExpr(
                "id", "id % 7 AS v"
            ).coalesce(1)
            try:
                log.append(df)
            except Exception as e:  # surfaced below
                errs.append(e)

    ts = [threading.Thread(target=work, args=(w,)) for w in range(W)]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert not errs
    log = TableLog(spark, path, log_store=ObjectStoreLogStore(store))
    assert log.latest_version() == W * K  # every commit landed
    out = log.read()
    assert out.count() == W * K * rows_per
    assert out.select("id").distinct().count() == W * K * rows_per


def test_object_store_colliding_deletes_serialize(spark, tmp_path):
    """Probe B shape: two threads DELETE overlapping regions of one
    file; ConcurrentModification forces a re-derive and the final
    table equals the serial result."""
    store = LocalEmulatedObjectStore(str(tmp_path / "objlog"))
    path = str(tmp_path / "coll")
    log = TableLog(spark, path, log_store=ObjectStoreLogStore(store))
    log.append(spark.range(100).selectExpr("id", "id % 7 AS v").coalesce(1))
    errs = []

    def rm(lo, hi):
        tl = TableLog(spark, path, log_store=ObjectStoreLogStore(store))
        try:
            tl.delete_where([("id", ">=", lo), ("id", "<", hi)])
        except Exception as e:
            errs.append(e)

    ts = [
        threading.Thread(target=rm, args=(0, 30)),
        threading.Thread(target=rm, args=(20, 50)),
    ]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert not errs
    assert _rows(log.read()) == _rows(
        spark.range(50, 100).selectExpr("id", "id % 7 AS v")
    )


def test_native_committer_over_object_store(spark, tmp_path):
    """The plain-Python committer (native writer path) speaks the same
    object-store protocol: commits through ManifestLog(objlog) are
    read back by TableLog on the same store."""
    from aoseventstreamer_spark.tablelog import ManifestLog

    store = MemoryObjectStore()
    objlog = ObjectStoreLogStore(store)
    path = str(tmp_path / "native")
    # stage one real parquet file through the JVM, then commit it via
    # the plain-Python committer against the object-store log
    spark.range(10).select("id").coalesce(1).write.parquet(f"{path}/stage")
    import os
    import shutil

    part = next(
        f for f in os.listdir(f"{path}/stage") if f.endswith(".parquet")
    )
    shutil.move(f"{path}/stage/{part}", f"{path}/{part}")
    shutil.rmtree(f"{path}/stage")
    committer = ManifestLog(objlog)
    schema_json = json.loads(
        spark.range(10).select("id").schema.json()
    )
    v = committer.commit(
        added=[{"path": part, "size": os.path.getsize(f"{path}/{part}")}],
        removed=[],
        schema_json=schema_json,
        txn=None,
        operation="APPEND",
        op_metrics={},
        expected_version=0,
    )
    assert v == 1
    assert committer.log.versions() == [1]
    tl = TableLog(spark, path, log_store=objlog)
    assert tl.read().count() == 10
    assert store.conditional_puts >= 1  # the CAS really ran


# ---------------- _last_checkpoint pointer ----------------


def test_pointer_written_and_fast_versions_bounded(spark, tmp_path):
    log = TableLog(spark, str(tmp_path / "ptr"), checkpoint_interval=5)
    for i in range(12):
        log.append(spark.range(i * 10, i * 10 + 10).select("id"))
    ptr = log._log.read_pointer()
    assert ptr == {"version": 10, "format": "json"}
    assert log._log.fast_versions() == [10, 11, 12]
    assert log.latest_version() == 12
    assert log.read().count() == 120
    # pointer is monotone: a stale write-back never regresses it
    log._log.write_pointer(5)
    assert log._log.read_pointer()["version"] == 10


def test_pointer_garbage_falls_back_to_listing(spark, tmp_path):
    log = TableLog(spark, str(tmp_path / "g"), checkpoint_interval=5)
    for i in range(7):
        log.append(spark.range(i * 10, i * 10 + 10).select("id"))
    log._log.write_aux("_last_checkpoint", b"{not json")
    assert log.latest_version() == 7
    assert log.read().count() == 70


def test_python_and_jvm_stores_share_pointer(spark, tmp_path):
    """The JVM committer's pointer accelerates the plain-Python
    reader (and vice versa) on a shared directory."""
    path = str(tmp_path / "shared")
    log = TableLog(spark, path, checkpoint_interval=3)
    for i in range(7):
        log.append(spark.range(i * 5, i * 5 + 5).select("id"))
    py = PythonFSLogStore(path)
    assert py.read_pointer() == {"version": 6, "format": "json"}
    assert py.fast_versions() == [6, 7]


# ---------------- parquet checkpoint mode ----------------


def _pq_table(spark, tmp_path, name="pq", interval=4) -> TableLog:
    return TableLog(
        spark,
        str(tmp_path / name),
        checkpoint_interval=interval,
        checkpoint_format="parquet",
    )


def test_parquet_checkpoint_sidecar_and_lean_manifests(spark, tmp_path):
    log = _pq_table(spark, tmp_path)
    for i in range(9):
        log.append(
            spark.range(i * 10, i * 10 + 10).select("id").coalesce(1)
        )
    # manifests never embed full state; sidecars exist at 4 and 8
    for v in range(1, 10):
        assert log._read_manifest(v).get("full") is None
    assert checkpoint_versions(log._log) == [4, 8]
    ptr = log._log.read_pointer()
    assert ptr == {"version": 8, "format": "parquet"}
    assert log.read().count() == 90
    # replay at head reads only the JSON tail above the sidecar
    reads = []
    orig = log._log.read

    def counting(v):
        reads.append(v)
        return orig(v)

    log._log.read = counting
    assert len(log.snapshot_files(9)) == 9
    assert set(reads) == {9}
    log._log.read = orig


def test_parquet_checkpoint_roundtrips_stats_dv_txns(spark, tmp_path):
    """Sidecar state must be REPLAY-equal: stats (skipping), deletion
    vectors, txn stamps and schema all survive the parquet round-trip."""
    log = _pq_table(spark, tmp_path, interval=2)
    df = spark.range(100).select("id", (F.col("id") % 7).alias("v"))
    log.append(df, txn_app="app-a", txn_version=3)
    log.delete_where([("id", "<", 25)], use_dv=True)  # v2 = checkpoint
    assert log.last_txn_version("app-a") == 3
    assert log.read().count() == 75
    # state resolved THROUGH the sidecar equals the JSON-walk state
    from aoseventstreamer_spark.tablelog import replay_from

    files_ck, schema_ck, txns_ck, cons_ck = log._replay(2)
    files_js, schema_js, txns_js, cons_js = replay_from(
        log._list_versions(), log._read_manifest, 2
    )
    assert schema_ck == schema_js and txns_ck == txns_js
    assert cons_ck == cons_js
    assert files_ck == files_js  # includes stats + dv sub-docs
    # metadata-only count still provable from sidecar-carried stats
    assert log.metadata_count() == 75


def test_parquet_checkpoint_dml_sequence_matches_json_mode(spark, tmp_path):
    """Model-equivalence: the same DML sequence in parquet-checkpoint
    mode and JSON mode lands identical tables at every version."""
    a = _pq_table(spark, tmp_path, name="a", interval=3)
    b = TableLog(spark, str(tmp_path / "b"), checkpoint_interval=3)
    df = spark.range(60).select("id", (F.col("id") % 5).alias("v"))
    for log in (a, b):
        log.append(df)
        log.delete_where([("id", "<", 12)])
        log.update_where([("v", "=", 2)], {"v": "7"})
        log.append(spark.range(100, 120).select("id", F.lit(1).alias("v")))
        log.merge_into(
            spark.range(115, 125).select("id", F.lit(9).alias("v")),
            on=["id"],
        )
        log.optimize(min_files=1)
    assert a.latest_version() == b.latest_version()
    for v in range(1, a.latest_version() + 1):
        assert _rows(a.read(version=v)) == _rows(b.read(version=v)), v


def test_parquet_checkpoint_torn_sidecar_falls_back(spark, tmp_path):
    """A crash between manifest commit and sidecar write: replay walks
    to the previous checkpoint (or the log head) and stays correct."""
    log = _pq_table(spark, tmp_path, interval=3)
    for i in range(8):
        log.append(spark.range(i * 10, i * 10 + 10).select("id"))
    # destroy the NEWEST sidecar (v6); pointer still names it
    log._log.delete_aux(checkpoint_name(6))
    assert log.read().count() == 80  # falls back to sidecar v3 + tail
    log._log.delete_aux(checkpoint_name(3))
    assert log.read().count() == 80  # full JSON walk still correct
    # next boundary heals: a fresh sidecar appears
    log.append(spark.range(999, 1000).select("id"))
    assert log.latest_version() == 9
    assert checkpoint_versions(log._log) == [9]
    assert log.read().count() == 81


def test_parquet_checkpoint_expire_manifests_interop(spark, tmp_path):
    log = _pq_table(spark, tmp_path, interval=3)
    for i in range(11):
        log.append(spark.range(i * 10, i * 10 + 10).select("id"))
    expired = log.expire_manifests(retain_versions=4)
    # newest checkpoint <= cutoff (11-4+1=8) is sidecar v6
    assert expired == [1, 2, 3, 4, 5]
    assert log._list_versions()[0] == 6
    assert checkpoint_versions(log._log) == [6, 9]
    assert log.read().count() == 110
    assert log.read(version=6).count() == 60
    with pytest.raises(ValueError, match="predates the retained log"):
        log.read(version=4)


def test_parquet_mode_concurrent_appends(spark, tmp_path):
    """Checkpoint writes racing appends: sidecar bookkeeping is
    post-commit and best-effort, so contention never loses a commit."""
    path = str(tmp_path / "pqconc")
    W, K = 4, 3
    errs = []

    def work(w):
        log = TableLog(
            spark, path, checkpoint_interval=2, checkpoint_format="parquet"
        )
        for k in range(K):
            try:
                log.append(
                    spark.range(w * 100 + k * 10, w * 100 + k * 10 + 10)
                    .select("id")
                    .coalesce(1)
                )
            except Exception as e:
                errs.append(e)

    ts = [threading.Thread(target=work, args=(w,)) for w in range(W)]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert not errs
    log = TableLog(
        spark, path, checkpoint_interval=2, checkpoint_format="parquet"
    )
    assert log.latest_version() == W * K
    assert log.read().count() == W * K * 10


def test_parquet_mode_on_object_store(spark, tmp_path):
    """The 100 TB posture: conditional-PUT commits + parquet
    checkpoints + pointer, all on the S3-semantics store."""
    store = LocalEmulatedObjectStore(str(tmp_path / "bucket"))
    log = TableLog(
        spark,
        str(tmp_path / "t"),
        log_store=ObjectStoreLogStore(store),
        checkpoint_interval=3,
        checkpoint_format="parquet",
    )
    for i in range(7):
        log.append(spark.range(i * 10, i * 10 + 10).select("id"))
    log.delete_where([("id", "<", 5)])
    assert log.read().count() == 65
    assert log._log.read_pointer()["format"] == "parquet"
    assert log.read(version=3).count() == 30


def test_object_store_fast_versions_single_list(tmp_path):
    """On an object store, the tail above the pointer must come from
    ONE ListObjectsV2 request (start-after), not per-version HEADs —
    at a 10^5-commit log that is 1 request vs N round-trips."""
    store = MemoryObjectStore()
    log = ObjectStoreLogStore(store)
    for v in range(1, 26):
        log.write_atomic(v, {"version": v, "actions": []})
    log.write_pointer(20, {"format": "json"})
    store.list_calls = 0
    assert log.fast_versions() == list(range(20, 26))
    assert store.list_calls == 1
    # no pointer: falls back to the full listing (still one request)
    log.delete_aux("_last_checkpoint")
    store.list_calls = 0
    assert log.fast_versions() == list(range(1, 26))
    assert store.list_calls == 1
    # start_after semantics are strictly-greater (S3 contract)
    assert log._key(20) not in store.list(
        log.prefix, start_after=log._key(20)
    )
