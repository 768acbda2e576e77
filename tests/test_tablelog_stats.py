"""tablelog data skipping: exact per-file min/max/null_count stats in
the manifest's add actions, driver-side file pruning in read(where=...).

Soundness contract: read(where=...) ALWAYS equals read().filter(same
predicate) — stats only shrink the scanned file set, never the result;
missing stats / non-normalizable literals / unknown columns all fall
back to "survive"."""

from __future__ import annotations

import datetime
import json

import pytest
from pyspark.sql import functions as F

from aoseventstreamer_spark.tablelog import (
    LOG_DIR,
    TableLog,
    _file_survives,
)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _ranged_table(spark, path, n_appends=5, rows_per=100):
    """Each append covers a DISJOINT id range -> disjoint per-file
    min/max, the shape skipping exploits."""
    log = TableLog(spark, path)
    for i in range(n_appends):
        df = spark.range(i * rows_per, (i + 1) * rows_per).select(
            "id",
            (F.col("id") % 7).alias("v"),
            F.concat(F.lit(f"k{i:02d}_"), F.col("id").cast("string")).alias("s"),
        ).coalesce(1)
        log.append(df)
    return log


def test_append_records_stats_in_manifest(spark, tmp_path):
    log = _ranged_table(spark, str(tmp_path / "t"), n_appends=1)
    m = json.loads(
        (tmp_path / "t" / LOG_DIR / f"{1:020d}.json").read_text()
    )
    adds = [a for a in m["actions"] if a["op"] == "add"]
    assert adds and all("stats" in a for a in adds)
    st = adds[0]["stats"]
    assert st["num_rows"] == 100
    assert st["min"]["id"] == 0 and st["max"]["id"] == 99
    assert st["null_count"]["id"] == 0
    assert st["min"]["s"].startswith("k00_")


@pytest.mark.parametrize(
    "where",
    [
        [("id", ">=", 250)],
        [("id", "<", 70)],
        [("id", "=", 123)],
        [("id", ">=", 150), ("id", "<=", 160)],
        [("v", "=", 3)],  # v spans all files: nothing prunable, all rows checked
        [("id", "in", [5, 205, 405])],
        [("s", "startswith", "k02_")],
        [("s", ">", "k03_")],
    ],
)
def test_pruned_read_equals_filtered_read(spark, tmp_path, where):
    log = _ranged_table(spark, str(tmp_path / "p"))
    from aoseventstreamer_spark.tablelog import _where_to_column

    expect = _rows(log.read().filter(_where_to_column(None, where)))
    got = _rows(log.read(where=where))
    assert got == expect


def test_pruning_actually_skips_files(spark, tmp_path):
    log = _ranged_table(spark, str(tmp_path / "e"))
    survivors, total = log.pruned_files([("id", ">=", 250)])
    assert total == 5 and len(survivors) == 3  # files [200,300),[300,400),[400,500)
    survivors, _ = log.pruned_files([("id", "=", 123)])
    assert len(survivors) == 1
    survivors, _ = log.pruned_files([("s", "startswith", "k02_")])
    assert len(survivors) == 1
    survivors, _ = log.pruned_files([("id", ">=", 150), ("id", "<", 160)])
    assert len(survivors) == 1
    # unprunable predicate: every file spans all v values
    survivors, _ = log.pruned_files([("v", "=", 3)])
    assert len(survivors) == 5


def test_nulls_prune_soundly(spark, tmp_path):
    log = TableLog(spark, str(tmp_path / "n"))
    log.append(
        spark.range(10).select(
            "id", F.when(F.col("id") < 5, F.col("id")).alias("maybe")
        ).coalesce(1)
    )
    log.append(
        spark.range(10, 20).select(
            "id", F.lit(None).cast("long").alias("maybe")
        ).coalesce(1)
    )
    # all-null file can't match an equality
    survivors, total = log.pruned_files([("maybe", "=", 2)])
    assert total == 2 and len(survivors) == 1
    # isnull: both files have nulls -> both survive
    survivors, _ = log.pruned_files([("maybe", "isnull")])
    assert len(survivors) == 2
    # notnull: the all-null file is pruned
    survivors, _ = log.pruned_files([("maybe", "notnull")])
    assert len(survivors) == 1
    assert _rows(log.read(where=[("maybe", "notnull")])) == _rows(
        log.read().filter(F.col("maybe").isNotNull())
    )


def test_timestamp_literals_normalize(spark, tmp_path):
    log = TableLog(spark, str(tmp_path / "ts"))
    base = datetime.datetime(2026, 1, 1)
    for d in range(3):
        df = spark.createDataFrame(
            [(i, base + datetime.timedelta(days=d, minutes=i)) for i in range(10)],
            "id long, ts timestamp",
        ).coalesce(1)
        log.append(df)
    cut = base + datetime.timedelta(days=2)
    survivors, total = log.pruned_files([("ts", ">=", cut)])
    assert total == 3 and len(survivors) == 1
    assert _rows(log.read(where=[("ts", ">=", cut)])) == _rows(
        log.read().filter(F.col("ts") >= F.lit(cut))
    )


def test_stats_survive_checkpoint_manifests(spark, tmp_path):
    """checkpoint_interval=3 -> version 3,6,... carry `full`; stats
    must ride along or pruning silently degrades after a checkpoint."""
    log = TableLog(spark, str(tmp_path / "ck"), checkpoint_interval=3)
    for i in range(7):
        log.append(
            spark.range(i * 10, (i + 1) * 10).select("id").coalesce(1)
        )
    survivors, total = log.pruned_files([("id", ">=", 65)])
    assert total == 7 and len(survivors) == 1
    assert [r.id for r in log.read(where=[("id", ">=", 65)]).collect()] == list(
        range(65, 70)
    )


def test_optimize_recomputes_stats(spark, tmp_path):
    log = _ranged_table(spark, str(tmp_path / "o"))
    res = log.optimize(small_file_bytes=64 * 1024 * 1024, min_files=1)
    assert res["files_added"] >= 1
    entries = log.snapshot_files()
    assert all(e.get("stats") for e in entries)
    # rewritten file spans everything -> wide bounds, still sound
    assert _rows(log.read(where=[("id", ">=", 250)])) == _rows(
        log.read().filter(F.col("id") >= 250)
    )


def test_missing_stats_never_prune(spark, tmp_path):
    """Entries committed without stats (older manifests) always
    survive — pruning on ignorance is forbidden."""
    log = TableLog(spark, str(tmp_path / "m"), stats_columns=[])
    for i in range(2):
        log.append(
            spark.range(i * 100, (i + 1) * 100).select("id").coalesce(1)
        )
    assert all("stats" not in e for e in log.snapshot_files())
    survivors, total = log.pruned_files([("id", ">=", 10_000)])
    assert total == 2 and len(survivors) == 2  # nothing provable, keep all
    assert log.read(where=[("id", ">=", 10_000)]).count() == 0  # rows still exact


def test_file_survives_unit_edges():
    st = {
        "num_rows": 10,
        "min": {"x": 5, "s": "abc"},
        "max": {"x": 9, "s": "abf"},
        "null_count": {"x": 0, "s": 0},
    }
    assert not _file_survives(st, "x", "=", 4)
    assert _file_survives(st, "x", "=", 5)
    assert not _file_survives(st, "x", ">", 9)
    assert _file_survives(st, "x", ">=", 9)
    assert not _file_survives(st, "x", "<", 5)
    assert _file_survives(st, "x", "<=", 5)
    assert _file_survives(st, "x", "in", [1, 7])
    assert not _file_survives(st, "x", "in", [1, 2])
    assert _file_survives(st, "s", "startswith", "ab")
    assert not _file_survives(st, "s", "startswith", "ac")
    assert not _file_survives(st, "x", "isnull", None)
    assert _file_survives(st, "x", "notnull", None)
    # mixed-type comparisons are never trusted
    assert _file_survives(st, "x", "=", "5")
    assert _file_survives({}, "x", "=", 1)
    assert _file_survives(None, "x", "=", 1)


# ---------- clustering rewrites (OPTIMIZE cluster_by / zorder_by) ----------


def _shuffled_table(spark, path, n_appends=4, rows_per=250):
    """Each append spans the WHOLE id range (interleaved) -> every
    file's min/max covers everything -> skipping is useless until a
    clustering rewrite."""
    log = TableLog(spark, path)
    for i in range(n_appends):
        df = (
            spark.range(rows_per)
            .select(
                (F.col("id") * n_appends + i).alias("id"),
                (F.col("id") * 37 % 1000).alias("score"),
            )
            .coalesce(1)
        )
        log.append(df)
    return log


def test_cluster_by_makes_pruning_effective(spark, tmp_path):
    log = _shuffled_table(spark, str(tmp_path / "cl"))
    before = _rows(log.read())
    where = [("id", "<", 100)]
    surv0, total0 = log.pruned_files(where)
    assert len(surv0) == total0 == 4  # interleaved: nothing prunable

    res = log.optimize(cluster_by=["id"], target_file_bytes=2048)
    assert res["files_removed"] == 4 and res["files_added"] >= 2
    surv1, total1 = log.pruned_files(where)
    assert len(surv1) < total1, "range clustering must tighten bounds"
    assert _rows(log.read()) == before  # layout-only: row set identical
    assert _rows(log.read(where=where)) == sorted(
        t for t in before if t[0] < 100
    )


def test_cluster_by_is_invisible_to_stream(spark, tmp_path, tablelog_tail):
    log = _shuffled_table(spark, str(tmp_path / "cs"), n_appends=2, rows_per=50)
    off, rows = tablelog_tail(log.path)
    assert len(rows) == 100
    log.optimize(cluster_by=["id"], target_file_bytes=2048)
    end, rows = tablelog_tail(log.path, off)
    assert end["version"] > off["version"]
    assert rows == [], "clustering rewrite must not re-deliver"


def test_zorder_prunes_on_both_columns(spark, tmp_path):
    log = _shuffled_table(spark, str(tmp_path / "z"), n_appends=4, rows_per=500)
    before = _rows(log.read())
    res = log.optimize(zorder_by=["id", "score"], target_file_bytes=4096)
    assert res["files_added"] >= 4
    assert _rows(log.read()) == before
    # each dimension prunes SOME files (z-order trades per-column
    # tightness for multi-column coverage)
    s_id, total = log.pruned_files([("id", "<", 120)])
    s_sc, _ = log.pruned_files([("score", "<", 60)])
    assert total >= 4
    assert len(s_id) < total and len(s_sc) < total
    # and results stay exact on both
    for where in ([("id", "<", 120)], [("score", "<", 60)]):
        from aoseventstreamer_spark.tablelog import _where_to_column

        assert _rows(log.read(where=where)) == _rows(
            log.read().filter(_where_to_column(None, where))
        )


def test_zorder_rejects_strings_and_unknown(spark, tmp_path):
    log = TableLog(spark, str(tmp_path / "zr"))
    log.append(
        spark.range(10).select("id", F.lit("x").alias("s")).coalesce(1)
    )
    with pytest.raises(ValueError, match="cluster_by for strings"):
        log.optimize(zorder_by=["s"])
    with pytest.raises(ValueError, match="not in"):
        log.optimize(zorder_by=["nope"])
    with pytest.raises(ValueError, match="not both"):
        log.optimize(cluster_by=["id"], zorder_by=["id"])
