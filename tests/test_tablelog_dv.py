"""Deletion vectors (merge-on-read DELETE): ``delete_where(...,
use_dv=True)`` marks matching rows in per-file position sidecars
instead of rewriting files. Contracts under test:

- write cost ∝ deleted rows: the data files are NOT rewritten (paths
  unchanged), only `_dv/` sidecars appear;
- every read path applies DVs (batch read, DML scans, OPTIMIZE
  rewrite, CDF, stream tail) so marked rows can never resurrect;
- time travel / RESTORE cross DV commits exactly like copy-on-write
  ones; OPTIMIZE physically purges DVs; VACUUM sweeps unreferenced
  generations; metadata_count stays exact (minus cardinality).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from aoseventstreamer_spark.tablelog import TableLog


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _ranged(spark, path, n_appends=3, rows_per=100):
    log = TableLog(spark, path)
    for i in range(n_appends):
        log.append(
            spark.range(i * rows_per, (i + 1) * rows_per)
            .select("id", (F.col("id") % 7).alias("v"))
            .coalesce(1)
        )
    return log


def test_dv_delete_marks_without_rewrite(spark, tmp_path):
    log = _ranged(spark, str(tmp_path / "t"))
    before = {e["path"] for e in log.snapshot_files()}
    res = log.delete_where([("v", "=", 3)], use_dv=True)
    assert res["rows_deleted"] == 43  # ids ≡3 (mod 7) in [0,300)
    after = log.snapshot_files()
    # same data files, now carrying dvs — nothing was rewritten
    assert {e["path"] for e in after} == before
    dvd = [e for e in after if e.get("dv")]
    assert len(dvd) == 3 == res["files_marked"]
    assert sum(e["dv"]["cardinality"] for e in dvd) == 43
    got = log.read()
    assert got.count() == 257
    assert got.filter(F.col("v") == 3).count() == 0
    # equal to the relational result
    assert _rows(got) == _rows(
        spark.range(300).select("id", (F.col("id") % 7).alias("v"))
        .filter(F.col("v") != 3)
    )


def test_dv_deletes_stack(spark, tmp_path):
    log = _ranged(spark, str(tmp_path / "s"), n_appends=1)
    log.delete_where([("id", "<", 10)], use_dv=True)
    res2 = log.delete_where([("id", ">=", 90)], use_dv=True)
    assert res2["rows_deleted"] == 10
    e = log.snapshot_files()[0]
    assert e["dv"]["cardinality"] == 20  # union of both generations
    assert [r.id for r in log.read().orderBy("id").collect()] == list(
        range(10, 90)
    )
    # re-deleting already-marked rows is a no-op, not a double-mark
    res3 = log.delete_where([("id", "<", 15)], use_dv=True)
    assert res3["rows_deleted"] == 5
    assert log.snapshot_files()[0]["dv"]["cardinality"] == 25
    assert log.read().count() == 75


def test_dv_delete_on_partitioned_table(spark, tmp_path):
    """Hive-partitioned writes stamp the SAME part-file name into
    every partition dir — the dv key must be the full rel path, not
    the name (regression for the md5-key design)."""
    log = TableLog(spark, str(tmp_path / "p"))
    df = spark.range(100).select(
        "id", (F.col("id") % 2).alias("p"), (F.col("id") * 3).alias("x")
    )
    log.append(df, partition_by=["p"])
    res = log.delete_where([("x", "<", 30)], use_dv=True)
    assert res["rows_deleted"] == 10 and res["files_marked"] == 2
    assert _rows(log.read().select("id", "p", "x")) == _rows(
        df.filter(F.col("x") >= 30)
    )


def test_dv_time_travel_and_restore(spark, tmp_path):
    log = _ranged(spark, str(tmp_path / "tt"), n_appends=1)
    v0 = log.latest_version()
    log.delete_where([("id", "<", 20)], use_dv=True)
    assert log.read(version=v0).count() == 100  # pre-dv snapshot intact
    assert log.read().count() == 80
    res = log.restore(v0)
    assert log.read().count() == 100
    # the restore re-added the entry sans dv and CDF shows inserts
    ch = log.read_changes(res["version"] - 1, res["version"])
    kinds = {r["_change_type"] for r in ch.select("_change_type").collect()}
    assert kinds == {"insert"}
    assert ch.count() == 20


def test_dv_cdf_emits_exact_deletes(spark, tmp_path):
    log = _ranged(spark, str(tmp_path / "cdf"), n_appends=1)
    v0 = log.latest_version()
    log.delete_where([("v", "=", 0)], use_dv=True)
    ch = log.read_changes(v0)
    assert {r["_change_type"] for r in ch.collect()} == {"delete"}
    assert sorted(r.id for r in ch.collect()) == [
        i for i in range(100) if i % 7 == 0
    ]


def test_optimize_purges_dvs(spark, tmp_path):
    log = _ranged(spark, str(tmp_path / "opt"))
    log.delete_where([("v", "=", 1)], use_dv=True)
    n = log.read().count()
    rows_before = _rows(log.read())
    res = log.optimize(min_files=1, small_file_bytes=1 << 30)
    assert res["rewritten_groups"] >= 1
    after = log.snapshot_files()
    assert not any(e.get("dv") for e in after)  # physically purged
    assert log.read().count() == n
    assert _rows(log.read()) == rows_before


def test_metadata_count_subtracts_dv(spark, tmp_path):
    log = _ranged(spark, str(tmp_path / "mc"))
    assert log.metadata_count() == 300
    log.delete_where([("id", "<", 25)], use_dv=True)
    assert log.metadata_count() == 275 == log.read().count()
    # min/max is no longer provable (the extremum may be deleted)
    assert log.metadata_min_max("id") is None


def test_cow_dml_on_dv_table_does_not_resurrect(spark, tmp_path):
    log = _ranged(spark, str(tmp_path / "mix"), n_appends=1)
    log.delete_where([("id", "<", 10)], use_dv=True)
    # CoW UPDATE touches the same file: dv-deleted rows must stay gone
    log.update_where([("id", ">=", 95)], {"v": "v + 100"})
    got = log.read()
    assert got.count() == 90
    assert got.filter(F.col("id") < 10).count() == 0
    assert got.filter(F.col("v") >= 100).count() == 5
    # the rewrite cleared the dv (rows are physically gone now)
    assert not any(e.get("dv") for e in log.snapshot_files())
    # merge likewise: upsert against remaining keys only
    src = spark.createDataFrame([(5, 999), (50, 999)], "id long, v long")
    log.merge_into(src, on=["id"])
    got = log.read()
    assert got.count() == 91  # id=5 re-INSERTED (it was deleted), 50 updated
    assert got.filter((F.col("id") == 5) & (F.col("v") == 999)).count() == 1
    assert got.filter((F.col("id") == 50) & (F.col("v") == 999)).count() == 1


def test_stream_tail_refuses_dv_commit_then_ignore_changes(
    spark, tmp_path, tablelog_tail
):
    tbl = str(tmp_path / "st")
    log = _ranged(spark, tbl, n_appends=1)
    off, rows = tablelog_tail(tbl)
    assert len(rows) == 100
    log.delete_where([("id", "<", 40)], use_dv=True)
    with pytest.raises(ValueError, match="data-change remove"):
        tablelog_tail(tbl, off)
    # ignoreChanges delivers the re-added file LOGICALLY (dv applied):
    # the 60 survivors re-deliver, the deleted 40 never do
    _, rows = tablelog_tail(tbl, off, ignoreChanges=True)
    assert sorted(r["id"] for r in rows) == list(range(40, 100))


def test_vacuum_sweeps_unreferenced_dv_generations(spark, tmp_path):
    log = _ranged(spark, str(tmp_path / "vac"), n_appends=1)
    log.delete_where([("id", "<", 10)], use_dv=True)
    gen1 = log.snapshot_files()[0]["dv"]["path"].rsplit("/", 1)[0]
    log.delete_where([("id", "<", 20)], use_dv=True)  # supersedes gen1
    gen2 = log.snapshot_files()[0]["dv"]["path"].rsplit("/", 1)[0]
    swept = log.vacuum(retain_versions=1, min_age_seconds=0.0)
    assert gen1 in swept and gen2 not in swept
    assert log.read().count() == 80  # current dv still applies
    # purge + vacuum sweeps the last generation too
    log.optimize(min_files=1, small_file_bytes=1 << 30)
    swept = log.vacuum(retain_versions=1, min_age_seconds=0.0)
    assert gen2 in swept
    assert log.read().count() == 80


def test_snapshot_diff_stream_skips_dv_purge_optimize(
    spark, tmp_path, tablelog_tail
):
    """kill → dv delete consumed region → OPTIMIZE purge → restart:
    the layout-only purge commit stays invisible to the CDF-free
    append tail, completing the exactly-once story for dv tables."""
    tbl = str(tmp_path / "eo")
    log = _ranged(spark, tbl, n_appends=1)
    seen = []
    off, rows = tablelog_tail(tbl, ignoreChanges=True)
    seen.append(len(rows))
    log.delete_where([("id", "<", 50)], use_dv=True)
    off, rows = tablelog_tail(tbl, off, ignoreChanges=True)  # 50 survivors
    seen.append(len(rows))
    log.optimize(min_files=1, small_file_bytes=1 << 30)  # purge, layout-only
    end, rows = tablelog_tail(tbl, off, ignoreChanges=True)
    assert seen == [100, 50] and rows == []  # the purge delivered NOTHING
    assert end["version"] > off["version"]  # but the offset advanced past it


# ---------- native data source sees dvs ----------


def test_native_source_batch_applies_dv(spark, tmp_path):
    from aoseventstreamer_spark.sources.tablelog_source import (
        register_tablelog_source,
    )

    register_tablelog_source(spark)
    log = _ranged(spark, str(tmp_path / "ns"), n_appends=2)
    log.delete_where([("v", "=", 2)], use_dv=True)
    native = spark.read.format("tablelog").load(log.path)
    assert _rows(native) == _rows(log.read())
    assert native.filter(F.col("v") == 2).count() == 0


def test_native_cdf_stream_emits_dv_deletes(spark, tmp_path):
    from aoseventstreamer_spark.sources.tablelog_source import (
        register_tablelog_source,
    )

    register_tablelog_source(spark)
    tbl = str(tmp_path / "cdfs")
    log = _ranged(spark, tbl, n_appends=1)
    log.delete_where([("id", "<", 30)], use_dv=True)
    out = str(tmp_path / "out")
    q = (
        spark.readStream.format("tablelog")
        .option("readChangeFeed", "true")
        .load(tbl)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.read.parquet(out)
    dels = got.filter(F.col("_change_type") == "delete")
    assert sorted(r.id for r in dels.collect()) == list(range(30))
    ins = got.filter(F.col("_change_type") == "insert")
    assert ins.count() == 100  # the original append


# ---------- dv-mode UPDATE and MERGE ----------


def test_dv_update_marks_and_appends(spark, tmp_path):
    log = _ranged(spark, str(tmp_path / "du"))
    before = {e["path"] for e in log.snapshot_files()}
    res = log.update_where(
        [("id", ">=", 60), ("id", "<", 80)], {"v": "v + 100"}, use_dv=True
    )
    assert res["rows_updated"] == 20
    assert res["files_rewritten"] == 0 and res["files_marked"] == 1
    after = log.snapshot_files()
    # original files all survive; ONE new (post-image) file appended
    assert before <= {e["path"] for e in after}
    assert len(after) == len(before) + 1
    got = log.read()
    assert got.count() == 300
    assert got.filter(F.col("v") >= 100).count() == 20
    assert _rows(got.filter((F.col("id") >= 60) & (F.col("id") < 80))) == [
        (i, i % 7 + 100) for i in range(60, 80)
    ]
    # untouched rows keep original values
    assert got.filter((F.col("id") < 60) & (F.col("v") >= 100)).count() == 0


def test_dv_update_simultaneous_assignment(spark, tmp_path):
    log = TableLog(spark, str(tmp_path / "dsw"))
    log.append(
        spark.range(4).select(
            "id", F.col("id").alias("a"), (F.col("id") * 10).alias("b")
        ).coalesce(1)
    )
    log.update_where([("id", ">=", 2)], {"a": "b", "b": "a"}, use_dv=True)
    rows = {r.id: (r.a, r.b) for r in log.read().collect()}
    assert rows == {0: (0, 0), 1: (1, 10), 2: (20, 2), 3: (30, 3)}


def test_dv_update_cdf_pre_and_post_images(spark, tmp_path):
    log = _ranged(spark, str(tmp_path / "ducdf"), n_appends=1)
    v0 = log.latest_version()
    log.update_where([("id", "=", 5)], {"v": "42"}, use_dv=True)
    ch = log.read_changes(v0)
    got = sorted((r["_change_type"], r.id, r.v) for r in ch.collect())
    assert got == [("delete", 5, 5 % 7), ("insert", 5, 42)]


def test_dv_merge_upsert(spark, tmp_path):
    log = _ranged(spark, str(tmp_path / "dm"), n_appends=2)
    before = {e["path"] for e in log.snapshot_files()}
    src = spark.createDataFrame(
        [(50, 500), (150, 501), (999, 502)], "id long, v long"
    )
    res = log.merge_into(src, on=["id"], use_dv=True)
    assert res["rows_updated"] == 2 and res["rows_inserted"] == 1
    assert res["files_rewritten"] == 0 and res["files_marked"] == 2
    assert before <= {e["path"] for e in log.snapshot_files()}
    got = log.read()
    assert got.count() == 201
    assert {r.v for r in got.filter(F.col("id").isin(50, 150, 999)).collect()} == {
        500, 501, 502
    }


def test_dv_merge_delete_mode(spark, tmp_path):
    log = _ranged(spark, str(tmp_path / "dmd"), n_appends=1)
    src = spark.createDataFrame(
        [(10, 0), (20, 0)], "id long, v long"
    )
    res = log.merge_into(
        src, on=["id"], when_matched="delete", when_not_matched=None,
        use_dv=True,
    )
    assert res["rows_deleted"] == 2 and res["files_marked"] == 1
    got = log.read()
    assert got.count() == 98
    assert got.filter(F.col("id").isin(10, 20)).count() == 0


def test_dv_update_then_optimize_purges(spark, tmp_path):
    log = _ranged(spark, str(tmp_path / "dup"), n_appends=1)
    log.update_where([("id", "<", 10)], {"v": "v + 50"}, use_dv=True)
    rows_before = _rows(log.read())
    log.optimize(min_files=1, small_file_bytes=1 << 30)
    assert not any(e.get("dv") for e in log.snapshot_files())
    assert _rows(log.read()) == rows_before


# ---------- dv concurrency: lost races must re-derive ----------


class _RacingDvLog(TableLog):
    """Injects a concurrent commit in the dv lost-update window: after
    this operation staged its deletion vectors, before its commit. A
    blind rebase would commit a dv that REPLACES the winner's —
    resurrecting the winner's deleted rows."""

    def __init__(self, spark, path, race):
        super().__init__(spark, path)
        self._race = race
        self.dv_writes = 0

    def _write_dv(self, matched):
        out = super()._write_dv(matched)
        self.dv_writes += 1
        if self._race is not None:
            race, self._race = self._race, None
            race()
        return out


def test_dv_delete_rederives_across_concurrent_dv_delete(spark, tmp_path):
    path = str(tmp_path / "dvrace")
    _ranged(spark, path, n_appends=1)
    other = TableLog(spark, path)
    log = _RacingDvLog(
        spark,
        path,
        race=lambda: other.delete_where([("v", "=", 1)], use_dv=True),
    )
    res = log.delete_where([("v", "=", 2)], use_dv=True)
    assert res["rows_deleted"] == 14  # ids ≡2 (mod 7) in [0,100)
    assert log.dv_writes == 2  # the re-derive actually happened
    df = log.read()
    # BOTH deletes hold — the loser's re-derived dv unions the
    # winner's positions instead of replacing them
    assert df.filter("v = 1").count() == 0
    assert df.filter("v = 2").count() == 0
    assert df.count() == 100 - 15 - 14  # v=1 kills 15, v=2 kills 14
    card = log.snapshot_files()[0]["dv"]["cardinality"]
    assert card == 29


def test_dv_delete_rederives_across_concurrent_optimize(spark, tmp_path):
    path = str(tmp_path / "dvrace2")
    _ranged(spark, path, n_appends=4, rows_per=25)
    other = TableLog(spark, path)
    log = _RacingDvLog(
        spark, path, race=lambda: other.optimize(min_files=1)
    )
    res = log.delete_where([("v", "=", 3)], use_dv=True)
    assert res["rows_deleted"] == 14  # ids ≡3 (mod 7) in [0,100)
    df = log.read()
    assert df.filter("v = 3").count() == 0
    assert df.count() == 86 and df.select("id").distinct().count() == 86


def test_dv_purge_on_partitioned_table(spark, tmp_path):
    """OPTIMIZE must apply + purge dvs inside hive partition groups,
    preserving the layout."""
    log = TableLog(spark, str(tmp_path / "pp"))
    df = spark.range(200).select(
        "id", (F.col("id") % 2).alias("p"), (F.col("id") % 7).alias("v")
    )
    log.append(df, partition_by=["p"])
    log.delete_where([("v", "=", 4)], use_dv=True)
    rows_before = _rows(log.read().select("id", "p", "v"))
    assert len(rows_before) == 200 - 28
    log.optimize(min_files=1, small_file_bytes=1 << 30)
    after = log.snapshot_files()
    assert not any(e.get("dv") for e in after)
    assert all("p=" in e["path"] for e in after)  # layout preserved
    assert _rows(log.read().select("id", "p", "v")) == rows_before
