"""Regression tests for the round-8 ADVICE findings (fixed round 9):

1. (medium) TableLogStreamWriter.commit checked the (txnApp, batchId)
   idempotence stamp once, OUTSIDE _commit_entries' CAS retry loop — a
   zombie driver replaying the same batch concurrently could have both
   writers pass the check and the CAS loser commit a duplicate at the
   next version. The stamp is now re-checked inside every retry
   iteration.
2. (medium) rename_column/drop_column were built on overwrite(), whose
   conflict retry RE-LISTS the live set — rows appended concurrently
   during the table-scale rewrite were silently dropped by the ALTER.
   The migration CAS is now pinned to the snapshot the rewrite was
   staged from and raises ConcurrentModification instead of rebasing.
3. (low) _dv_rows recovered the __f key from hive partition dirs via
   Spark's partition-value TYPE INFERENCE: an md5 hex key that parses
   numerically round-trips to a different string, the anti-join
   misses, and dv-deleted rows silently resurrect. DV sidecars are now
   read with an explicit schema (no inference).
4. (low) the stream sink's path-derived default txnApp silently
   classified a fresh-checkpoint restart (batchId resets to 0 while
   the stored stamp is N) as a replay and DROPPED the batches. A
   batchId strictly behind the stored stamp now raises.
5. (low) _write_dv renames the dv generation into _dv/ BEFORE the
   manifest commit; vacuum(min_age_seconds=0) could sweep the
   in-flight generation in that window and the landing commit would
   reference missing sidecars. Unreferenced-in-log generations are now
   age-guarded by the commit window regardless of min_age_seconds.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from aoseventstreamer_spark.logstore import PythonFSLogStore
from aoseventstreamer_spark.sources.tablelog_source import TableLogStreamWriter
from aoseventstreamer_spark.tablelog import (
    ConcurrentModification,
    ManifestLog,
    TableLog,
)

SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("v", T.LongType()),
    ]
)


def _table(spark, path, n=100) -> TableLog:
    log = TableLog(spark, path)
    log.append(
        spark.range(n).select(
            F.col("id"), (F.col("id") % 7).alias("v")
        )
    )
    return log


# ---- finding 1: stamp re-checked inside the CAS retry loop ----


def test_stream_writer_zombie_replay_no_duplicate(spark, tmp_path):
    """Simulate the zombie window: the stamp lands AFTER the writer's
    pre-check but BEFORE _commit_entries resolves the base. The
    in-loop re-check must no-op and delete the promoted duplicates."""
    path = str(tmp_path / "zombie")
    _table(spark, path)
    w = TableLogStreamWriter(path, SCHEMA, "app-z")
    # the "other" zombie wins: stamp (app-z, 7) is already committed
    w._commit_entries([], ("app-z", 7), "STREAMING UPDATE")
    committer = ManifestLog(PythonFSLogStore(path))
    v_before = committer.latest()
    rows_before = TableLog(spark, path).read().count()
    # our side already PROMOTED its files (past the pre-check) and now
    # enters _commit_entries with the same stamp
    dup = os.path.join(path, "part-zombie-dup.parquet")
    src = next(
        e["path"]
        for e in TableLog(spark, path).snapshot_files()
        if e["path"].endswith(".parquet")
    )
    import shutil

    shutil.copyfile(os.path.join(path, src), dup)
    entries = [{"path": "part-zombie-dup.parquet", "size": os.path.getsize(dup)}]
    out = w._commit_entries(entries, ("app-z", 7), "STREAMING UPDATE")
    assert out == v_before  # no new version
    assert committer.latest() == v_before
    assert not os.path.exists(dup)  # duplicate file cleaned up
    assert TableLog(spark, path).read().count() == rows_before


# ---- finding 2: column migration pinned to its staging snapshot ----


def test_migration_raced_by_concurrent_append_raises(spark, tmp_path):
    """An append landing between the migration's read and its commit
    must surface as ConcurrentModification — never be dropped."""
    path = str(tmp_path / "mig")
    log = _table(spark, path)
    orig = log._write_rewrite
    extra = spark.range(1000, 1010).select(
        F.col("id"), F.lit(99).alias("v")
    )
    fired = {"n": 0}

    def racing_rewrite(df, pcols):
        if fired["n"] == 0:
            fired["n"] = 1
            TableLog(spark, path).append(extra)  # lands mid-rewrite
        return orig(df, pcols)

    log._write_rewrite = racing_rewrite
    with pytest.raises(ConcurrentModification):
        log.rename_column("v", "val")
    # the concurrent rows survived and the table is still readable
    fresh = TableLog(spark, path)
    assert fresh.read().count() == 110
    assert "v" in fresh.read().columns  # migration did NOT half-apply


def test_migration_without_race_still_works(spark, tmp_path):
    path = str(tmp_path / "mig2")
    log = _table(spark, path)
    res = log.rename_column("v", "val")
    assert res["operation"] == "RENAME COLUMN"
    assert set(log.read().columns) == {"id", "val"}
    assert log.read().count() == 100


# ---- finding 3: dv keys survive partition-dir round-trip verbatim ----


@pytest.mark.parametrize(
    "key",
    [
        "00000123456789012345678901234567",  # leading-zero all-digits
        "1e5",  # would infer as double 100000.0
        "0042",
    ],
)
def test_dv_rows_numeric_looking_keys_round_trip(spark, tmp_path, key):
    path = str(tmp_path / f"dvkey-{key}")
    log = _table(spark, path)
    gen = "_dv/aaaa0000"
    spark.createDataFrame(
        [(key, 3), (key, 5)], "k string, pos long"
    ).withColumnRenamed("k", "__f").write.partitionBy("__f").parquet(
        f"{path}/{gen}"
    )
    entries = [
        {"path": "whatever.parquet", "dv": {"path": f"{gen}/__f={key}", "card": 2}}
    ]
    rows = log._dv_rows(entries).collect()
    assert sorted(r["__tl_pos"] for r in rows) == [3, 5]
    assert {r["__tl_key"] for r in rows} == {key}  # EXACT string back


def test_dv_delete_read_back_consistent(spark, tmp_path):
    """End-to-end: dv delete then read — deleted rows stay deleted
    (the anti-join keys match)."""
    path = str(tmp_path / "dve2e")
    log = _table(spark, path)
    log.delete_where([("id", "<", 30)], use_dv=True)
    assert log.read().count() == 70
    assert log.read().agg(F.min("id")).collect()[0][0] == 30


# ---- finding 4: fresh checkpoint against a stamped table raises ----


def test_stream_sink_batchid_behind_stamp_raises(spark, tmp_path):
    path = str(tmp_path / "behind")
    _table(spark, path)
    w1 = TableLogStreamWriter(path, SCHEMA, None)  # default txnApp
    w1.commit([], 5)  # stamps (default, 5)
    w2 = TableLogStreamWriter(path, SCHEMA, None)  # fresh checkpoint
    with pytest.raises(ValueError, match="behind the stored txn stamp"):
        w2.commit([], 0)
    # exact replay of the stamped batch is still a silent no-op
    committer = ManifestLog(PythonFSLogStore(path))
    v = committer.latest()
    w2.commit([], 5)
    assert committer.latest() == v
    # a DISTINCT txnApp is unaffected
    w3 = TableLogStreamWriter(path, SCHEMA, "other-app")
    w3.commit([], 0)
    assert committer.latest() == v + 1


# ---- finding 5: vacuum spares young unreferenced dv generations ----


def test_vacuum_skips_inflight_dv_generation(spark, tmp_path):
    path = str(tmp_path / "vacdv")
    log = _table(spark, path)
    log.delete_where([("id", "<", 10)], use_dv=True)
    # fabricate an IN-FLIGHT generation: staged into _dv/ but its
    # manifest commit has not landed yet (referenced by no manifest)
    inflight = f"{path}/_dv/ffff9999"
    os.makedirs(f"{inflight}/__f=somekey", exist_ok=True)
    with open(f"{inflight}/__f=somekey/part-0.parquet", "wb") as f:
        f.write(b"\x00")
    swept = log.vacuum(retain_versions=1, min_age_seconds=0.0)
    assert "_dv/ffff9999" not in swept
    assert os.path.isdir(inflight)
    # superseded generations (referenced in the log) still sweep at 0
    log.delete_where([("id", "<", 20)], use_dv=True)
    gens = {
        e["dv"]["path"].rsplit("/", 1)[0]
        for e in log.snapshot_files()
        if e.get("dv")
    }
    swept = log.vacuum(retain_versions=1, min_age_seconds=0.0)
    assert any(s.startswith("_dv/") and s not in gens for s in swept)
    assert "_dv/ffff9999" not in swept
