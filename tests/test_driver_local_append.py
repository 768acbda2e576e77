"""``TableLog.append`` commits a frame built from driver data on the
driver (one ``toArrow()`` job, pyarrow files, ``_StatsAgg`` stats) and
any other frame through Spark's writer. The two paths must be
indistinguishable: the same rows are appended once through a
``createDataFrame(list)`` frame and once through a ``spark.range``-
rooted frame (coalesced to one task, so both write one file), and
every read, per-file stat and history label must match."""

from __future__ import annotations

import datetime
import json
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from aoseventstreamer_spark.sources.tablelog_source import register_tablelog_source
from aoseventstreamer_spark.tablelog import ConstraintViolation, TableLog

SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("k", T.IntegerType()),
        T.StructField("x", T.DoubleType()),
        T.StructField("s", T.StringType()),
        T.StructField("p", T.StringType()),
        T.StructField("tags", T.ArrayType(T.StringType())),
    ]
)
UTC = datetime.timezone.utc


def _rows(start: int, n: int) -> list[tuple]:
    base = datetime.datetime(2024, 3, 1, 12, 0, 0, tzinfo=UTC)
    out = []
    for i in range(start, start + n):
        ts = None if i % 7 == 0 else base + datetime.timedelta(
            seconds=i * 37, microseconds=(i * 7919) % 1_000_000 + 1
        )
        x = float("nan") if i % 11 == 3 else (None if i % 6 == 0 else i / 4)
        p = [None, "", "a/b=c", "plain", "x y%"][i % 5]
        out.append(
            (i, ts, i % 9 - 1, x, None if i % 4 == 1 else f"s{i % 13}", p,
             [f"t{i % 3}"] if i % 2 else None)
        )
    return out


def _local(spark, rows, schema=SCHEMA):
    return spark.createDataFrame(rows, schema)


def _distributed(spark, rows, schema=SCHEMA):
    """The same rows, rooted at ``spark.range`` so the plan reads no
    driver data."""
    if not rows:
        return spark.range(0).select(
            *[F.lit(None).cast(f.dataType).alias(f.name) for f in schema.fields]
        )
    structs = F.array(
        *[
            F.struct(
                *[
                    F.lit(v).cast(f.dataType).alias(f.name)
                    if v is not None
                    else F.lit(None).cast(f.dataType).alias(f.name)
                    for v, f in zip(r, schema.fields)
                ]
            )
            for r in rows
        ]
    )
    return (
        spark.range(len(rows))
        .coalesce(1)
        .select(F.element_at(structs, (F.col("id") + 1).cast("int")).alias("r"))
        .select("r.*")
    )


@pytest.fixture()
def spy(monkeypatch):
    """Counts driver-local writes."""
    calls = []
    orig = TableLog._write_local

    def wrapped(self, *a, **kw):
        calls.append(self.path)
        return orig(self, *a, **kw)

    monkeypatch.setattr(TableLog, "_write_local", wrapped)
    return calls


def _canon(rows) -> list:
    def key(v):
        if isinstance(v, float) and v != v:
            return "NaN"
        return v

    return sorted(
        (tuple(key(v) for v in r) for r in rows),
        key=lambda t: repr(t),
    )


def _stats_by_dir(log: TableLog, version: int) -> dict:
    """Per-file stats grouped by the file's hive dir (each append
    writes one file per dir on both paths)."""
    out = {}
    for e in log.snapshot_files(version):
        out.setdefault(os.path.dirname(e["path"]), []).append(e.get("stats"))
    return {d: sorted(v, key=json.dumps) for d, v in out.items()}


def _assert_same(a: TableLog, b: TableLog) -> None:
    va, vb = a.latest_version(), b.latest_version()
    assert va == vb
    for v in range(1, va + 1):
        assert _canon(a.read(version=v).collect()) == _canon(
            b.read(version=v).collect()
        ), f"version {v}"
        assert _stats_by_dir(a, v) == _stats_by_dir(b, v), f"version {v}"
    ha = [(r.version, r.operation, r.num_added_files) for r in a.history().collect()]
    hb = [(r.version, r.operation, r.num_added_files) for r in b.history().collect()]
    assert ha == hb


def test_driver_local_and_distributed_appends_agree(spark, tmp_path, spy):
    a = TableLog(spark, str(tmp_path / "local"))
    b = TableLog(spark, str(tmp_path / "dist"))
    for rows in (_rows(0, 40), _rows(40, 25), []):
        a.append(_local(spark, rows))
        b.append(_distributed(spark, rows))
    assert spy == [a.path] * 3
    # the stats carry the µs timestamp, its nulls and the NaN rule
    [st] = _stats_by_dir(a, 1)[""]
    assert {"id", "ts", "k", "x", "s", "p"} == set(st["min"])
    assert st["null_count"]["ts"] > 0 and st["max"]["x"] is None
    # the 0-row append committed one empty file on both paths
    assert [e["stats"]["num_rows"] for e in a.snapshot_files(3)].count(0) == 1
    # idempotent writer: the replayed stamp is a no-op on both paths
    rows = _rows(100, 10)
    for log, mk in ((a, _local), (b, _distributed)):
        v = log.append(mk(spark, rows), txn_app="w", txn_version=3)
        assert log.append(mk(spark, rows), txn_app="w", txn_version=3) == v
    # a CHECK violation raises and leaves both tables unchanged
    for log in (a, b):
        log.add_constraint("k_floor", "k >= -1")
    bad = [(999, None, -5, 1.0, "bad", "plain", None)]
    for log, mk in ((a, _local), (b, _distributed)):
        v = log.latest_version()
        with pytest.raises(ConstraintViolation):
            log.append(mk(spark, bad))
        assert log.latest_version() == v
    assert len(spy) == 5  # the replayed stamp wrote nothing
    _assert_same(a, b)
    assert a.read().count() == 40 + 25 + 10


def test_partitioned_appends_keep_spark_writer(spark, tmp_path, spy):
    """A hive-partitioned append stays on Spark's writer (it splits a
    partition's rows per input task, which file skipping relies on),
    and its stats count every row, also under %-escaped dir names."""
    a = TableLog(spark, str(tmp_path / "local"))
    b = TableLog(spark, str(tmp_path / "dist"))
    rows = _rows(0, 40)
    a.append(_local(spark, rows), partition_by=["p"])
    b.append(_distributed(spark, rows), partition_by=["p"])
    assert spy == []
    assert _canon(a.read().collect()) == _canon(b.read().collect())
    for log in (a, b):
        by_dir = {
            d: sum(st["num_rows"] for st in sts)
            for d, sts in _stats_by_dir(log, 1).items()
        }
        assert by_dir == {
            "p=__HIVE_DEFAULT_PARTITION__": 16,  # None and "" rows
            "p=a%2Fb%3Dc": 8,
            "p=plain": 8,
            "p=x y%25": 8,
        }


def test_mapped_table_after_rename_agrees(spark, tmp_path, spy):
    a = TableLog(spark, str(tmp_path / "local"), stats_columns=["k", "s", "p"])
    b = TableLog(spark, str(tmp_path / "dist"), stats_columns=["k", "s", "p"])
    first = _rows(0, 20)
    for log in (a, b):
        log.append(_distributed(spark, first))
        log.enable_column_mapping()
        log.rename_column("k", "kk")
    renamed = T.StructType(
        [
            T.StructField("kk" if f.name == "k" else f.name, f.dataType)
            for f in SCHEMA.fields
        ]
    )
    rows = _rows(20, 15)
    a.append(_local(spark, rows, renamed))
    b.append(_distributed(spark, rows, renamed))
    assert spy == [a.path]
    # stats stay keyed by the PHYSICAL names the files carry
    for sts in _stats_by_dir(a, a.latest_version()).values():
        assert all(set(st["min"]) == {"k", "s", "p"} for st in sts)
    _assert_same(a, b)
    assert {r.kk for r in a.read().collect()} == {r[2] for r in first + rows}


def test_stream_delivers_driver_local_appends_once(spark, tmp_path, spy):
    register_tablelog_source(spark)
    log = TableLog(spark, str(tmp_path / "t"))
    ck = str(tmp_path / "ck")
    got = []

    def sink(batch_df, batch_id):
        got.extend(r.id for r in batch_df.collect())

    def drain():
        q = (
            spark.readStream.format("tablelog")
            .load(log.path)
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    log.append(_local(spark, _rows(0, 30)))
    log.append(_local(spark, _rows(30, 10)))
    drain()
    log.append(_local(spark, _rows(40, 5)))
    drain()
    assert len(spy) == 3
    assert sorted(got) == list(range(45))
