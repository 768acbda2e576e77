"""Driver cost of the emit path (route → commit), held to counts.

- ``route_emits`` reuses its projection lists after the first call, so
  a repeated call sends a fraction of the py4j commands and builds the
  same plan (same rows).
- ``TableLog`` on a ``file:`` table commits through the plain-Python
  ``PythonFSLogStore``; logs started by the JVM ``HadoopLogStore``
  keep working through it (manifests, checkpoints, pointer, ``.crc``
  sidecars).
"""

from __future__ import annotations

import hashlib
import os
import threading

import pytest

from aoseventstreamer_spark import schemas
from aoseventstreamer_spark.logstore import HadoopLogStore, PythonFSLogStore
from aoseventstreamer_spark.operators import routing
from aoseventstreamer_spark.tablelog import TableLog

SECRET = "t"


def _raw_emits(spark, with_ts: bool):
    def rel(project, collection=None, shared_object=None, n_groups=0):
        return {
            "project": project,
            "collection": collection,
            "shared_object": shared_object,
            "object_groups": [
                {"shared_object_group_id": f"sg{i}"} for i in range(n_groups)
            ],
        }

    kinds = [
        (schemas.RESOURCE_PROJECT, lambda i: rel(f"p{i % 3}")),
        (schemas.RESOURCE_COLLECTION, lambda i: rel(f"p{i % 3}")),
        (schemas.RESOURCE_OBJECT, lambda i: rel(f"p{i % 3}", "c1", f"so{i}", i % 4)),
        (schemas.RESOURCE_OBJECT_GROUP, lambda i: rel(f"p{i % 3}", "c2", None, 1 + i % 3)),
    ]
    rows = []
    for i in range(24):
        resource, mk_rel = kinds[i % len(kinds)]
        rows.append({
            "emit_id": i,
            "token": SECRET if i % 7 else "wrong",
            "event_resource": resource,
            "resource_id": f"r{i}",
            "event_type": schemas.EVENT_TYPE_ALL,
            "relations": [mk_rel(i)] * (1 + i % 2),
        })
    df = spark.createDataFrame(rows, schemas.RAW_EMITS_SCHEMA)
    if with_ts:
        from pyspark.sql import functions as F

        df = df.withColumn("ts", F.timestamp_micros(F.col("emit_id") * 1000 + 7))
    return df


def _digest(df) -> tuple[int, str]:
    rows = sorted(repr(tuple(r)) for r in df.collect())
    return len(rows), hashlib.sha256("\n".join(rows).encode()).hexdigest()


class _CommandCounter:
    """Counts the py4j commands THIS thread sends (the gateway client
    is shared with Spark's own background threads)."""

    def __init__(self, spark, monkeypatch):
        client = spark.sparkContext._gateway._gateway_client
        send = client.send_command
        me = threading.get_ident()
        self.n = 0

        def counting(*a, **kw):
            if threading.get_ident() == me:
                self.n += 1
            return send(*a, **kw)

        monkeypatch.setattr(client, "send_command", counting)


@pytest.mark.parametrize("on_unknown", ["drop", "error"])
@pytest.mark.parametrize("with_ts", [False, True])
def test_route_emits_repeated_call_reuses_projection(
    spark, monkeypatch, with_ts, on_unknown
):
    # a true first call: start from an empty projection cache
    monkeypatch.setattr(routing, "_PROJECTIONS", (None, {}), raising=False)
    first = routing.route_emits(
        _raw_emits(spark, with_ts), secret=SECRET, on_unknown=on_unknown
    )
    raw = _raw_emits(spark, with_ts)
    counter = _CommandCounter(spark, monkeypatch)
    repeated = routing.route_emits(raw, secret=SECRET, on_unknown=on_unknown)
    sent = counter.n
    monkeypatch.undo()
    assert sent < 300, f"repeated route_emits sent {sent} py4j commands"
    n, digest = _digest(first)
    assert n > 40
    assert _digest(repeated) == (n, digest)
    assert repeated.columns == [f.name for f in schemas.ROUTED_EVENTS_SCHEMA.fields]
    if with_ts:
        assert repeated.where("ts is null").count() == 0


def test_route_emits_projection_cache_follows_gateway(spark, monkeypatch):
    """A cache built on another gateway is dropped, never reused."""
    stale = object()
    monkeypatch.setattr(routing, "_PROJECTIONS", (stale, {(False, "drop"): None}))
    routed = routing.route_emits(_raw_emits(spark, False), secret=SECRET)
    owner, built = routing._PROJECTIONS
    assert owner is spark.sparkContext._gateway
    assert built[(False, "drop")] is not None
    assert _digest(routed)[0] > 40


def test_local_tables_default_to_python_log_store(spark, tmp_path):
    plain = TableLog(spark, str(tmp_path / "plain"))
    uri = TableLog(spark, f"file://{tmp_path}/uri")
    for log, name in ((plain, "plain"), (uri, "uri")):
        assert isinstance(log._log, PythonFSLogStore)
        assert log._log.log_dir == os.path.join(str(tmp_path), name, "_tablelog")
    explicit = HadoopLogStore(spark, str(tmp_path / "explicit"))
    assert TableLog(spark, str(tmp_path / "explicit"), log_store=explicit)._log is explicit


def _snapshot(log: TableLog, head: int) -> dict:
    return {
        "head": log.latest_version(),
        "pointer": log._log.read_pointer(),
        "versions": {v: _digest(log.read(version=v)) for v in range(1, head + 1)},
        "files": len(log.snapshot_files()),
    }


def test_jvm_started_log_continues_through_python_store(spark, tmp_path):
    """First commits and a JSON checkpoint through HadoopLogStore, then
    appends, reads, time travel and the next checkpoint through the
    default store: the same answers as a single-store run."""

    def batch(i):
        return spark.range(i * 10, i * 10 + 10).selectExpr("id", "id % 3 AS k")

    mixed_path = str(tmp_path / "mixed")
    jvm = TableLog(
        spark, mixed_path, checkpoint_interval=3,
        log_store=HadoopLogStore(spark, mixed_path),
    )
    for i in range(4):  # versions 1-4; checkpoint + pointer at 3
        jvm.append(batch(i))
    log_dir = os.path.join(mixed_path, "_tablelog")
    assert os.path.exists(os.path.join(log_dir, "._last_checkpoint.crc"))
    mixed = TableLog(spark, mixed_path, checkpoint_interval=3)
    assert isinstance(mixed._log, PythonFSLogStore)
    for i in range(4, 8):  # versions 5-8; checkpoint + pointer at 6
        mixed.append(batch(i))

    single = TableLog(spark, str(tmp_path / "single"), checkpoint_interval=3)
    for i in range(8):
        single.append(batch(i))

    got = _snapshot(mixed, 8)
    assert got == _snapshot(single, 8)
    assert got["pointer"] == {"version": 6, "format": "json"}
    # the JVM store still reads the pointer the Python store rewrote
    # (its stale checksum sidecar was dropped with the overwrite)
    assert HadoopLogStore(spark, mixed_path).read_pointer() == got["pointer"]


def test_expire_through_default_store_drops_jvm_crc_sidecars(spark, tmp_path):
    path = str(tmp_path / "t")
    jvm = TableLog(
        spark, path, checkpoint_interval=3, log_store=HadoopLogStore(spark, path)
    )
    for i in range(7):
        jvm.append(spark.range(i, i + 1))
    log_dir = os.path.join(path, "_tablelog")
    assert os.path.exists(os.path.join(log_dir, f".{1:020d}.json.crc"))

    expirer = TableLog(spark, path, checkpoint_interval=3)
    assert isinstance(expirer._log, PythonFSLogStore)
    expired = expirer.expire_manifests(retain_versions=2)
    assert expired == [1, 2, 3, 4, 5]
    left = set(os.listdir(log_dir))
    for v in expired:
        assert f"{v:020d}.json" not in left
        assert f".{v:020d}.json.crc" not in left
    assert f".{6:020d}.json.crc" in left  # retained versions keep theirs
    assert TableLog(spark, path).read().count() == 7


def _count_resolutions(monkeypatch) -> list:
    from aoseventstreamer_spark import tablelog as TL

    calls = []
    resolve = TL.resolve_state

    def counting(*a, **kw):
        calls.append(a[1])
        return resolve(*a, **kw)

    monkeypatch.setattr(TL, "resolve_state", counting)
    return calls


@pytest.mark.parametrize("checkpoint_format", ["json", "parquet"])
def test_append_resolves_the_snapshot_once_per_attempt(
    spark, tmp_path, monkeypatch, checkpoint_format
):
    """An uncontended append resolves the table state at most twice
    (before the write, and at a commit attempt whose head moved), on
    both write paths and on a checkpoint commit."""
    from pyspark.sql import functions as F

    log = TableLog(
        spark, str(tmp_path / "t"), checkpoint_interval=3,
        checkpoint_format=checkpoint_format,
    )
    local = spark.createDataFrame([(i, f"p{i % 2}") for i in range(6)], "id long, p string")
    dist = spark.range(6).select("id", F.concat(F.lit("p"), F.col("id") % 2).alias("p"))
    log.append(local, partition_by=["p"])
    for v, df in ((2, dist), (3, local), (4, dist)):  # version 3 checkpoints
        calls = _count_resolutions(monkeypatch)
        kw = {"txn_app": "w", "txn_version": v} if v % 2 else {}
        assert log.append(df, partition_by=["p"], **kw) == v
        monkeypatch.undo()
        assert len(calls) <= 2, f"version {v}: {len(calls)} resolutions"
    assert log.read().count() == 24
    assert log.last_txn_version("w") == 3


def test_hadoop_log_store_listing_is_constant_in_py4j(spark, tmp_path, monkeypatch):
    """``HadoopLogStore`` lists a log in a fixed number of py4j
    commands and agrees with ``PythonFSLogStore`` on the listing."""
    root = str(tmp_path / "t")
    py = PythonFSLogStore(root)
    for v in range(1, 201):
        py.write_atomic(v, {"version": v, "actions": []})
    py.write_aux("00000000000000000100.checkpoint.parquet", b"x")
    jvm = HadoopLogStore(spark, root)
    sent = []
    for _ in range(2):
        counter = _CommandCounter(spark, monkeypatch)
        listed = jvm.versions()
        sent.append(counter.n)
        monkeypatch.undo()
    assert listed == py.versions() == list(range(1, 201))
    assert sent[-1] <= 8, f"versions() sent {sent[-1]} py4j commands for 200 manifests"
    suffix = ".checkpoint.parquet"
    assert jvm.list_aux(suffix) == py.list_aux(suffix) == [
        "00000000000000000100.checkpoint.parquet"
    ]
    tmp = os.path.join(root, "_tablelog", ".tmp-stale.json")
    open(tmp, "w").close()
    jvm.sweep_tmp(0)
    assert not os.path.exists(tmp) and jvm.versions() == listed
