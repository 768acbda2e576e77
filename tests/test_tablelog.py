"""tablelog.py: the snapshot/manifest table format (VERDICT r7 item 1).

Headline assertions:
- compaction during a live tail re-delivers NOTHING (the exactly-once
  inversion of tests/test_compaction.py::
  test_compaction_makes_live_file_stream_redeliver);
- a crash between the manifest tmp-write and the rename-commit leaves
  the table at the previous snapshot and the next commit proceeds;
- q_scan_events-shape parity: rows read through the format equal rows
  read directly from the staged parquet.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from aoseventstreamer_spark.tablelog import CommitConflict, TableLog


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _mk(spark, tmp_path, name="t"):
    return TableLog(spark, str(tmp_path / name))


# ---------- commit / read / snapshot isolation ----------


def test_append_read_roundtrip(spark, tmp_path):
    log = _mk(spark, tmp_path)
    df = spark.range(100).select("id", (F.col("id") % 7).alias("v"))
    v = log.append(df)
    assert v == 1
    assert _rows(log.read()) == _rows(df)


def test_snapshot_isolation_pinned_version(spark, tmp_path):
    log = _mk(spark, tmp_path)
    log.append(spark.range(10).select("id"))
    log.append(spark.range(10, 30).select("id"))
    assert log.read(version=1).count() == 10
    assert log.read(version=2).count() == 30
    assert log.read().count() == 30


def test_empty_table_reads_empty_with_schema(spark, tmp_path):
    log = _mk(spark, tmp_path)
    df = spark.range(5).select("id")
    log.append(df)
    # remove everything via a data-change commit
    log.commit(removed=[e["path"] for e in log.snapshot_files()])
    out = log.read()
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == ["id"]


def test_schema_mismatch_refused(spark, tmp_path):
    log = _mk(spark, tmp_path)
    log.append(spark.range(5).select("id"))
    with pytest.raises(ValueError, match="schema"):
        log.append(spark.range(5).select(F.col("id").alias("other")))


def test_checkpoint_bounds_replay(spark, tmp_path):
    """With checkpoint_interval=3, resolving version 7 must read only
    manifests 6 (checkpoint) and 7 — not the whole history."""
    log = TableLog(spark, str(tmp_path / "ck"), checkpoint_interval=3)
    for i in range(7):
        log.append(spark.range(i * 10, i * 10 + 10).select("id"))
    assert log.read().count() == 70
    m6 = log._read_manifest(6)
    assert m6.get("full") is not None and m6.get("schema") is not None
    reads = []
    orig = log._log.read

    def counting(v):
        reads.append(v)
        return orig(v)

    log._log.read = counting
    files = log.snapshot_files(7)
    assert len(files) == sum(1 for _ in files)
    assert set(reads) == {6, 7}


def test_commit_conflict_raises_and_retry_succeeds(spark, tmp_path):
    log = _mk(spark, tmp_path)
    log.append(spark.range(5).select("id"))
    with pytest.raises(CommitConflict):
        log.commit(added=[], expected_version=0)  # version 1 taken
    v = log.commit(added=[])  # re-derive: fine
    assert v == 2


def test_crash_between_manifest_write_and_commit(spark, tmp_path):
    """Simulate a writer dying after staging data + writing the tmp
    manifest but BEFORE the rename: the table must still read at the
    previous snapshot, the next commit must take the version the dead
    writer wanted, and vacuum sweeps both the tmp manifest and the
    orphaned data files."""
    log = _mk(spark, tmp_path)
    log.append(spark.range(10).select("id"))
    root = log.path
    # dead writer, variant A: crashed BEFORE promote (hidden stage)
    spark.range(100, 200).select("id").write.parquet(f"{root}/.stage-dead")
    # dead writer, variant B: crashed AFTER promote (orphan data file,
    # referenced by no manifest) ...
    spark.range(200, 210).select("id").write.parquet(f"{root}/.stage-dead2")
    orphan = next(
        f for f in os.listdir(f"{root}/.stage-dead2") if f.endswith(".parquet")
    )
    os.rename(f"{root}/.stage-dead2/{orphan}", f"{root}/{orphan}")
    # ...and a torn tmp manifest (never renamed)
    os.makedirs(f"{root}/_tablelog", exist_ok=True)
    with open(f"{root}/_tablelog/.tmp-dead.json", "w") as f:
        json.dump({"version": 2, "actions": []}, f)
    # reads are unaffected: still snapshot 1
    assert log.latest_version() == 1
    assert log.read().count() == 10
    # the next commit takes version 2 normally
    v = log.append(spark.range(10, 15).select("id"))
    assert v == 2 and log.read().count() == 15
    deleted = log.vacuum(retain_versions=10, min_age_seconds=0)
    assert orphan in deleted  # promoted-but-uncommitted orphan swept
    assert ".stage-dead" in deleted  # abandoned stage swept
    assert not os.path.exists(f"{root}/_tablelog/.tmp-dead.json")
    assert log.read().count() == 15


# ---------- optimize ----------


def test_optimize_is_layout_only_and_row_identical(spark, tmp_path):
    log = _mk(spark, tmp_path)
    for i in range(6):
        log.append(
            spark.range(i * 10, i * 10 + 10)
            .select("id")
            .repartition(4)
        )
    before = _rows(log.read())
    n_before = len(log.snapshot_files())
    assert n_before >= 20
    rep = log.optimize(min_files=2)
    assert rep["rewritten_groups"] == 1
    assert rep["files_removed"] == n_before
    after_files = log.snapshot_files()
    assert len(after_files) < n_before
    assert _rows(log.read()) == before
    # old snapshot still readable (isolation) until vacuum
    assert _rows(log.read(version=6)) == before


def test_optimize_partitioned_preserves_layout_and_pruning(spark, tmp_path):
    log = _mk(spark, tmp_path)
    for i in range(4):
        df = spark.range(i * 20, i * 20 + 20).select(
            "id", (F.col("id") % 2).alias("p")
        )
        log.append(df, partition_by=["p"])
    before = _rows(log.read())
    rep = log.optimize(min_files=1)
    assert rep["rewritten_groups"] == 2  # p=0 and p=1
    out = log.read()
    assert _rows(out) == before
    assert "p" in out.columns
    # partition pruning survives the explicit-file-list read: the scan
    # carries the predicate as a PartitionFilter (pruned at planning)
    pruned = out.filter(F.col("p") == 1)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "(p" in plan
    assert pruned.count() == 40


def test_vacuum_drops_only_unreferenced_old_files(spark, tmp_path):
    log = _mk(spark, tmp_path)
    for i in range(4):
        log.append(spark.range(i * 5, i * 5 + 5).select("id").repartition(2))
    old = {e["path"] for e in log.snapshot_files()}
    log.optimize(min_files=1)
    # retain only the latest snapshot: pre-optimize files go
    deleted = set(log.vacuum(retain_versions=1, min_age_seconds=0))
    assert old <= deleted
    assert log.read().count() == 20
    # pinned old version is now gone — that's the vacuum contract
    # (retain_versions governs the isolation horizon)


# ---------- streaming: the exactly-once inversion ----------


def test_stream_delivers_each_append_once(spark, tmp_path, tablelog_tail):
    log = _mk(spark, tmp_path)
    log.append(spark.range(10).select("id"))
    off, rows = tablelog_tail(log.path)
    got = [r["id"] for r in rows]
    log.append(spark.range(10, 25).select("id"))
    off, rows = tablelog_tail(log.path, off)
    got += [r["id"] for r in rows]
    assert tablelog_tail(log.path, off) == (off, [])  # nothing pending
    assert sorted(got) == list(range(25))


def test_compaction_during_live_tail_redelivers_nothing(
    spark, tmp_path, tablelog_tail
):
    """THE inversion: kill the tail, OPTIMIZE the consumed region,
    restart from the stored offset — zero duplicates, and rows
    appended after the restart still arrive exactly once."""
    log = _mk(spark, tmp_path)
    # phase 1: many small appends, consumed by the tail
    for i in range(5):
        log.append(spark.range(i * 10, i * 10 + 10).select("id").repartition(3))
    off, rows = tablelog_tail(log.path)
    delivered = [r["id"] for r in rows]
    assert sorted(delivered) == list(range(50))

    # phase 2: compact the fully-consumed region
    rep = log.optimize(min_files=2)
    assert rep["files_removed"] > 0

    # phase 3: restart the tail from its offset; then new data
    off2, rows = tablelog_tail(log.path, off)
    # the optimize snapshot advances the offset but delivers no rows
    assert off2["version"] > off["version"]
    assert rows == [], "compaction re-delivered rows"
    log.append(spark.range(50, 60).select("id"))
    _, rows = tablelog_tail(log.path, off2)
    delivered += [r["id"] for r in rows]
    assert sorted(delivered) == list(range(60))
    assert len(delivered) == 60  # exactly once, no duplicates at all


# ---------- parity through the format ----------


def test_scan_parity_through_format(spark, tmp_path, sf_dir):
    """q_scan_events-shape parity: the routed-event rows are unchanged
    when staged into a TableLog and read back through the manifest."""
    from aoseventstreamer_spark.session import load_table

    ev = load_table(spark, sf_dir, "events")
    log = _mk(spark, tmp_path, "events_log")
    log.append(ev)
    direct = _rows(ev)
    through = _rows(log.read())
    assert through == direct


def test_concurrent_commits_all_survive(spark, tmp_path):
    """r8 self-review: on local FS rename(2) overwrites, so the bare
    exists+rename CAS could clobber a concurrent same-version commit.
    The commit lock must serialize racers: 8 threads each retrying a
    metadata commit must land 8 DISTINCT versions with every add
    surviving in the final state."""
    from concurrent.futures import ThreadPoolExecutor

    log = _mk(spark, tmp_path, "race")
    log.append(spark.range(5).select("id"))

    def one(i):
        l2 = TableLog(spark, log.path)
        for _ in range(50):
            try:
                return l2.commit(added=[{"path": f"fake{i}", "size": 1}])
            except CommitConflict:
                continue
        raise AssertionError("starved")

    with ThreadPoolExecutor(max_workers=8) as pool:
        versions = list(pool.map(one, range(8)))
    assert sorted(versions) == list(range(2, 10))
    files = {e["path"] for e in log.snapshot_files()}
    assert all(f"fake{i}" in files for i in range(8))


def test_stale_commit_lock_is_stolen(spark, tmp_path):
    import os
    import time as _t

    log = _mk(spark, tmp_path, "stale")
    log.append(spark.range(5).select("id"))
    lock = f"{log.path}/_tablelog/.commit.lock"
    open(lock, "w").close()
    old = _t.time() - 120
    os.utime(lock, (old, old))
    v = log.commit(added=[])  # must steal the orphaned lock
    assert v == 2 and not os.path.exists(lock)


def test_schema_evolution_add_column(spark, tmp_path):
    """merge_schema append widens the table; pre-evolution files read
    back with the new column null (the stored schema is applied
    explicitly — footer inference would silently drop it)."""
    log = _mk(spark, tmp_path, "evolve")
    log.append(spark.range(5).select("id"))
    with pytest.raises(ValueError, match="merge_schema"):
        log.append(
            spark.range(5, 8).select("id", F.lit("x").alias("tag"))
        )
    log.append(
        spark.range(5, 8).select("id", F.lit("x").alias("tag")),
        merge_schema=True,
    )
    out = log.read()
    assert set(out.columns) == {"id", "tag"}
    rows = {r.id: r.tag for r in out.collect()}
    assert rows[0] is None and rows[5] == "x" and len(rows) == 8
    # dropping columns is refused even with merge_schema
    with pytest.raises(ValueError, match="does not match"):
        log.append(spark.range(9, 10).select("id"), merge_schema=True)


def test_time_travel_by_timestamp(spark, tmp_path):
    import time as _t

    log = _mk(spark, tmp_path, "tt")
    log.append(spark.range(10).select("id"))
    t_mid = int(_t.time() * 1000)
    _t.sleep(0.05)
    log.append(spark.range(10, 30).select("id"))
    assert log.read(as_of_timestamp_ms=t_mid).count() == 10
    assert log.read().count() == 30
    assert log.version_at(0) == 0
    with pytest.raises(ValueError, match="version OR"):
        log.read(version=1, as_of_timestamp_ms=t_mid)
