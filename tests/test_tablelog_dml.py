"""tablelog row-level operations: DELETE / MERGE as copy-on-write
rewrites of ONLY the touched files, with snapshot isolation and the
Delta ignoreChanges stream contract."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from aoseventstreamer_spark.tablelog import TableLog


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _ranged(spark, path, n_appends=4, rows_per=50):
    log = TableLog(spark, path)
    for i in range(n_appends):
        log.append(
            spark.range(i * rows_per, (i + 1) * rows_per)
            .select("id", (F.col("id") % 5).alias("v"))
            .coalesce(1)
        )
    return log


# ---------- DELETE ----------


def test_delete_rewrites_only_touched_files(spark, tmp_path):
    log = _ranged(spark, str(tmp_path / "d"))
    before_paths = {e["path"] for e in log.snapshot_files()}
    res = log.delete_where([("id", ">=", 60), ("id", "<", 80)])
    assert res["rows_deleted"] == 20 and res["files_rewritten"] == 1
    after_paths = {e["path"] for e in log.snapshot_files()}
    # 3 of the 4 original files survive untouched
    assert len(before_paths & after_paths) == 3
    got = [r.id for r in log.read().orderBy("id").collect()]
    assert got == [i for i in range(200) if not (60 <= i < 80)]


def test_delete_null_predicate_rows_survive(spark, tmp_path):
    """SQL DELETE semantics: only predicate=TRUE rows go; NULL stays."""
    log = TableLog(spark, str(tmp_path / "dn"))
    log.append(
        spark.range(10).select(
            "id", F.when(F.col("id") < 5, F.col("id")).alias("maybe")
        ).coalesce(1)
    )
    res = log.delete_where([("maybe", "<", 3)])
    assert res["rows_deleted"] == 3
    assert [r.id for r in log.read().orderBy("id").collect()] == list(range(3, 10))


def test_delete_no_match_is_a_noop(spark, tmp_path):
    log = _ranged(spark, str(tmp_path / "dm"))
    v0 = log.latest_version()
    res = log.delete_where([("id", ">=", 10_000)])
    assert res == {"version": v0, "files_rewritten": 0, "rows_deleted": 0}
    assert log.latest_version() == v0


def test_delete_preserves_partition_layout(spark, tmp_path):
    log = TableLog(spark, str(tmp_path / "dp"))
    df = spark.range(100).select(
        "id", (F.col("id") % 2).alias("p"), (F.col("id") * 3).alias("x")
    )
    log.append(df, partition_by=["p"])
    res = log.delete_where([("x", "<", 30)])
    assert res["rows_deleted"] == 10
    # layout intact: every live file still under a p=... dir
    assert all("p=" in e["path"] for e in log.snapshot_files())
    assert _rows(log.read().select("id", "p", "x")) == _rows(
        df.filter(F.col("x") >= 30)
    )


def test_delete_snapshot_isolation(spark, tmp_path):
    log = _ranged(spark, str(tmp_path / "ds"))
    v0 = log.latest_version()
    log.delete_where([("id", "<", 100)])
    assert log.read(version=v0).count() == 200  # pinned reader untouched
    assert log.read().count() == 100


# ---------- MERGE ----------


def test_merge_upsert_updates_and_inserts(spark, tmp_path):
    log = _ranged(spark, str(tmp_path / "m"))
    src = spark.createDataFrame(
        [(10, 999), (55, 888), (300, 777)], "id long, v long"
    )
    res = log.merge_into(src, on=["id"])
    assert res["rows_updated"] == 2 and res["rows_inserted"] == 1
    assert res["files_rewritten"] == 2  # ids 10 and 55 live in 2 files
    t = {r.id: r.v for r in log.read().collect()}
    assert len(t) == 201
    assert t[10] == 999 and t[55] == 888 and t[300] == 777
    assert t[11] == 11 % 5  # neighbors untouched


def test_merge_matches_sql_merge_oracle(spark, tmp_path):
    """Cross-check full merge semantics against the ANSI equivalent
    (target rows not matched kept, matched replaced, unmatched source
    inserted) computed independently on the pre-merge snapshot."""
    log = _ranged(spark, str(tmp_path / "mo"))
    target_before = log.read()
    src = spark.createDataFrame(
        [(int(i), int(i * 100)) for i in range(40, 220, 7)], "id long, v long"
    )
    expect = _rows(
        target_before.join(src, on="id", how="left_anti")
        .unionByName(src.join(target_before.select("id"), on="id", how="leftsemi"))
        .unionByName(src.join(target_before.select("id"), on="id", how="left_anti"))
    )
    log.merge_into(src, on=["id"])
    assert _rows(log.read()) == expect


def test_merge_when_matched_delete(spark, tmp_path):
    log = _ranged(spark, str(tmp_path / "md"))
    src = spark.createDataFrame([(5, 0), (500, 1)], "id long, v long")
    res = log.merge_into(
        src, on=["id"], when_matched="delete", when_not_matched=None
    )
    assert res["rows_deleted"] == 1 and res["rows_inserted"] == 0
    ids = {r.id for r in log.read().collect()}
    assert 5 not in ids and 500 not in ids and len(ids) == 199


def test_merge_duplicate_source_keys_refused(spark, tmp_path):
    log = _ranged(spark, str(tmp_path / "mdup"))
    src = spark.createDataFrame([(1, 2), (1, 3)], "id long, v long")
    with pytest.raises(ValueError, match="ambiguous"):
        log.merge_into(src, on=["id"])


def test_merge_schema_mismatch_refused(spark, tmp_path):
    log = _ranged(spark, str(tmp_path / "ms"))
    src = spark.createDataFrame([(1,)], "id long")
    with pytest.raises(ValueError, match="must equal"):
        log.merge_into(src, on=["id"])


def test_merge_into_empty_table_inserts(spark, tmp_path):
    log = TableLog(spark, str(tmp_path / "me"))
    log.append(spark.createDataFrame([], "id long, v long"))
    src = spark.createDataFrame([(1, 10), (2, 20)], "id long, v long")
    res = log.merge_into(src, on=["id"])
    assert res["rows_inserted"] == 2
    assert log.read().count() == 2


def test_merge_partitioned_preserves_layout(spark, tmp_path):
    log = TableLog(spark, str(tmp_path / "mp"))
    df = spark.range(60).select("id", (F.col("id") % 3).alias("p"))
    log.append(df, partition_by=["p"])
    src = spark.createDataFrame([(0, 2), (100, 1)], "id long, p long")
    log.merge_into(src, on=["id"])
    assert all("p=" in e["path"] for e in log.snapshot_files())
    t = {r.id: r.p for r in log.read().collect()}
    assert t[0] == 2 and t[100] == 1 and len(t) == 61


# ---------- stream contract under DML ----------


def test_native_source_refuses_data_change_remove(spark, tmp_path):
    from aoseventstreamer_spark.sources.tablelog_source import (
        register_tablelog_source,
    )

    register_tablelog_source(spark)
    log = _ranged(spark, str(tmp_path / "ns"), n_appends=2)
    ck = str(tmp_path / "ck_ns")
    got = []

    def run(opts=None):
        r = spark.readStream.format("tablelog")
        for k, v in (opts or {}).items():
            r = r.option(k, v)
        q = (
            r.load(log.path)
            .writeStream.foreachBatch(
                lambda df, bid: got.extend(r_.id for r_ in df.collect())
            )
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run()
    assert len(got) == 100
    log.delete_where([("id", "<", 10)])
    with pytest.raises(Exception):
        run()
    run({"ignoreChanges": "true"})
    assert sorted(got) == sorted(list(range(100)) + list(range(10, 50)))
