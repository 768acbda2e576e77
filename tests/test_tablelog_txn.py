"""tablelog round-8 surface: idempotent writer txns (the exactly-once
streaming SINK), UPDATE, replaceWhere/full overwrite, and the computed
change data feed.

The txn contract is Delta's txnAppId/txnVersion: a writer stamps each
commit with a monotone version; a replayed batch (same stamp) becomes a
no-op, which is exactly what a foreachBatch sink needs because
Structured Streaming re-runs any batch whose sink side-effect is not
provably durable after a crash."""

from __future__ import annotations

import os
import time

import pytest
from pyspark.sql import functions as F

from aoseventstreamer_spark.sources import io as IO
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


# ---------- idempotent txn appends ----------


def test_txn_append_replay_is_noop(spark, tmp_path):
    log = TableLog(spark, str(tmp_path / "t"))
    df = spark.range(10).coalesce(1)
    v1 = log.append(df, txn_app="job", txn_version=0)
    assert log.read().count() == 10
    # replay of the SAME batch: no new version, no new rows
    assert log.append(df, txn_app="job", txn_version=0) == v1
    assert log.latest_version() == v1
    assert log.read().count() == 10
    # the next batch commits normally
    v2 = log.append(df, txn_app="job", txn_version=1)
    assert v2 == v1 + 1 and log.read().count() == 20
    # an OLDER stamp is also a no-op (monotone contract)
    assert log.append(df, txn_app="job", txn_version=0) == v2
    assert log.read().count() == 20


def test_txn_apps_are_independent(spark, tmp_path):
    log = TableLog(spark, str(tmp_path / "i"))
    df = spark.range(5).coalesce(1)
    log.append(df, txn_app="a", txn_version=0)
    log.append(df, txn_app="b", txn_version=0)  # different app: commits
    assert log.read().count() == 10
    assert log.last_txn_version("a") == 0
    assert log.last_txn_version("b") == 0
    assert log.last_txn_version("never") == -1


def test_txn_state_survives_checkpoint_replay(spark, tmp_path):
    """checkpoint manifests re-embed the txn map, so last_txn_version
    stays correct when replay stops at a checkpoint (never walks back
    to the original txn commit)."""
    log = TableLog(spark, str(tmp_path / "c"), checkpoint_interval=3)
    df = spark.range(3).coalesce(1)
    log.append(df, txn_app="job", txn_version=7)
    for _ in range(5):  # push several checkpoints past the txn commit
        log.append(df)
    assert log.latest_version() >= 6  # at least two checkpoints written
    assert log.last_txn_version("job") == 7
    # and the replay-from-checkpoint path still dedups
    v = log.latest_version()
    assert log.append(df, txn_app="job", txn_version=7) == v
    assert log.read().count() == 18


def test_txn_requires_both_args(spark, tmp_path):
    log = TableLog(spark, str(tmp_path / "b"))
    with pytest.raises(ValueError, match="together"):
        log.append(spark.range(1), txn_app="x")


# ---------- exactly-once streaming sink ----------


def test_tablelog_sink_exactly_once_across_batch_replay(spark, tmp_path):
    """The e2e inversion of the file-sink contract: run a stream into
    the tablelog sink, then force Structured Streaming to REPLAY the
    last micro-batch (delete its checkpoint commit marker — exactly the
    on-disk state a crash between sink write and checkpoint commit
    leaves) and restart. The replayed batch carries the same batchId,
    so the idempotent append skips it: the delivered row set equals the
    input exactly."""
    src = str(tmp_path / "src")
    table = str(tmp_path / "table")
    ckpt = str(tmp_path / "ckpt")
    schema = "id LONG, v LONG"
    spark.range(100).select("id", (F.col("id") * 2).alias("v")).coalesce(
        2
    ).write.parquet(src)

    def start():
        stream = spark.readStream.schema(schema).option(
            "maxFilesPerTrigger", "1"
        ).parquet(src)
        return IO.write_stream(
            stream, table, ckpt, fmt="tablelog", trigger={"availableNow": True}
        )

    q = start()
    q.awaitTermination(120)
    log = TableLog(spark, table)
    assert log.read().count() == 100

    # simulate the crash window: the sink committed batch N to the
    # table, but the checkpoint's commit marker for N was never
    # written — on restart Spark re-runs batch N with the same batchId
    commits = os.path.join(ckpt, "commits")
    markers = sorted(
        f for f in os.listdir(commits) if not f.startswith(".")
    )
    os.remove(os.path.join(commits, markers[-1]))
    crc = os.path.join(commits, f".{markers[-1]}.crc")
    if os.path.exists(crc):  # local ChecksumFs sidecar
        os.remove(crc)

    q2 = start()
    q2.awaitTermination(120)
    assert log.read().count() == 100  # replay recognized, nothing duplicated
    got = _rows(log.read())
    want = _rows(spark.range(100).select("id", (F.col("id") * 2).alias("v")))
    assert got == want


def test_write_batch_tablelog_append_and_overwrite(spark, tmp_path):
    table = str(tmp_path / "wb")
    df1 = spark.range(10).select("id", (F.col("id") % 3).alias("k"))
    IO.write_batch(df1, table, fmt="tablelog", mode="append")
    IO.write_batch(df1, table, fmt="tablelog", mode="append")
    log = TableLog(spark, table)
    assert log.read().count() == 20
    df2 = spark.range(5).select("id", (F.col("id") % 3).alias("k"))
    IO.write_batch(df2, table, fmt="tablelog", mode="overwrite")
    assert log.read().count() == 5
    with pytest.raises(ValueError, match="append/overwrite"):
        IO.write_batch(df2, table, fmt="tablelog", mode="ignore")


# ---------- UPDATE ----------


def test_update_rewrites_only_touched_files(spark, tmp_path):
    log = _ranged(spark, str(tmp_path / "u"))
    before = {e["path"] for e in log.snapshot_files()}
    res = log.update_where(
        [("id", ">=", 60), ("id", "<", 80)], {"v": "v + 100"}
    )
    assert res["rows_updated"] == 20 and res["files_rewritten"] == 1
    after = {e["path"] for e in log.snapshot_files()}
    assert len(before & after) == 3  # 3 of 4 files untouched
    got = log.read()
    assert got.filter(F.col("v") >= 100).count() == 20
    assert got.count() == 200
    # untouched rows keep their original values
    assert (
        got.filter((F.col("id") < 60) & (F.col("v") != F.col("id") % 5)).count()
        == 0
    )


def test_update_simultaneous_assignment(spark, tmp_path):
    """SET a = b, b = a must swap (all expressions read the OLD row)."""
    log = TableLog(spark, str(tmp_path / "sw"))
    log.append(
        spark.range(4).select(
            "id", F.col("id").alias("a"), (F.col("id") * 10).alias("b")
        ).coalesce(1)
    )
    log.update_where([("id", ">=", 0)], {"a": "b", "b": "a"})
    for r in log.read().collect():
        assert r.a == r.id * 10 and r.b == r.id


def test_update_null_predicate_rows_untouched(spark, tmp_path):
    log = TableLog(spark, str(tmp_path / "un"))
    log.append(
        spark.range(10).select(
            "id", F.when(F.col("id") < 5, F.col("id")).alias("maybe")
        ).coalesce(1)
    )
    res = log.update_where([("maybe", "<", 3)], {"id": "id + 1000"})
    assert res["rows_updated"] == 3
    ids = sorted(r.id for r in log.read().collect())
    assert ids == [3, 4, 5, 6, 7, 8, 9, 1000, 1001, 1002]


def test_update_refuses_partition_columns(spark, tmp_path):
    log = TableLog(spark, str(tmp_path / "up"))
    df = spark.range(20).select("id", (F.col("id") % 2).alias("p"))
    log.append(df, partition_by=["p"])
    with pytest.raises(ValueError, match="partition columns"):
        log.update_where([("id", "<", 5)], {"p": "1 - p"})


def test_update_no_match_is_a_noop(spark, tmp_path):
    log = _ranged(spark, str(tmp_path / "um"))
    v0 = log.latest_version()
    res = log.update_where([("id", ">=", 10_000)], {"v": "v + 1"})
    assert res == {"version": v0, "files_rewritten": 0, "rows_updated": 0}


def test_update_preserves_column_type(spark, tmp_path):
    log = TableLog(spark, str(tmp_path / "ut"))
    log.append(
        spark.range(6).select("id", (F.col("id") % 3).cast("int").alias("v"))
        .coalesce(1)
    )
    log.update_where([("id", "<", 3)], {"v": "v + 1"})  # long expr → cast back
    assert dict(log.read().dtypes)["v"] == "int"


# ---------- replaceWhere / full overwrite ----------


def test_overwrite_where_replaces_slice_atomically(spark, tmp_path):
    log = _ranged(spark, str(tmp_path / "rw"))
    before = {e["path"] for e in log.snapshot_files()}
    repl = spark.range(60, 70).select("id", F.lit(99).cast("long").alias("v"))
    res = log.overwrite_where(repl, [("id", ">=", 50), ("id", "<", 100)])
    assert res["files_rewritten"] == 1
    after = {e["path"] for e in log.snapshot_files()}
    assert len(before & after) == 3
    got = log.read()
    assert got.count() == 150 + 10  # slice [50,100) → 10 replacement rows
    assert got.filter((F.col("id") >= 50) & (F.col("id") < 100)).count() == 10
    assert got.filter(F.col("v") == 99).count() == 10


def test_overwrite_where_refuses_escaping_rows(spark, tmp_path):
    log = _ranged(spark, str(tmp_path / "re"))
    bad = spark.range(10).select("id", F.lit(0).cast("long").alias("v"))
    with pytest.raises(ValueError, match="escape"):
        log.overwrite_where(bad, [("id", ">=", 100)])


def test_full_overwrite_is_one_commit_and_time_travels(spark, tmp_path):
    log = _ranged(spark, str(tmp_path / "fo"))
    v_before = log.latest_version()
    new = spark.range(7).select("id", F.lit(1).cast("long").alias("v"))
    res = log.overwrite(new)
    assert res["files_removed"] == 4
    assert log.latest_version() == v_before + 1  # ONE commit
    assert log.read().count() == 7
    assert log.read(version=v_before).count() == 200  # old snapshot intact


# ---------- change data feed ----------


def test_cdf_append_is_pure_insert(spark, tmp_path):
    log = TableLog(spark, str(tmp_path / "ca"))
    log.append(spark.range(5).coalesce(1))
    ch = log.read_changes(0)
    assert ch.filter(F.col("_change_type") == "insert").count() == 5
    assert ch.filter(F.col("_change_type") == "delete").count() == 0
    assert ch.select("_commit_version").distinct().collect()[0][0] == 1


def test_cdf_delete_survivors_cancel(spark, tmp_path):
    log = _ranged(spark, str(tmp_path / "cd"))
    v0 = log.latest_version()
    log.delete_where([("id", ">=", 60), ("id", "<", 80)])
    ch = log.read_changes(v0)
    # the touched file's 30 surviving rows cancel; only the 20 deletes
    dels = ch.filter(F.col("_change_type") == "delete")
    assert sorted(r.id for r in dels.collect()) == list(range(60, 80))
    assert ch.filter(F.col("_change_type") == "insert").count() == 0


def test_cdf_update_is_delete_insert_pair(spark, tmp_path):
    log = _ranged(spark, str(tmp_path / "cu"))
    v0 = log.latest_version()
    log.update_where([("id", "=", 10)], {"v": "v + 100"})
    ch = log.read_changes(v0).collect()
    assert len(ch) == 2
    by_type = {r._change_type: r for r in ch}
    assert by_type["delete"].id == 10 and by_type["delete"].v == 0
    assert by_type["insert"].id == 10 and by_type["insert"].v == 100


def test_cdf_skips_layout_only_commits(spark, tmp_path):
    log = TableLog(spark, str(tmp_path / "co"))
    for i in range(6):
        log.append(spark.range(i * 5, i * 5 + 5).coalesce(1))
    v0 = log.latest_version()
    res = log.optimize(min_files=2, small_file_bytes=10**9)
    assert res["files_removed"] > 0
    assert log.read_changes(v0).count() == 0  # OPTIMIZE is invisible to CDF


def test_cdf_range_spans_multiple_commits(spark, tmp_path):
    log = TableLog(spark, str(tmp_path / "cr"))
    log.append(spark.range(10).coalesce(1))  # v1
    log.append(spark.range(10, 15).coalesce(1))  # v2
    log.delete_where([("id", "<", 3)])  # v3
    ch = log.read_changes(1)  # (1, 3]
    ins = ch.filter(F.col("_change_type") == "insert")
    dels = ch.filter(F.col("_change_type") == "delete")
    assert sorted(r.id for r in ins.collect()) == list(range(10, 15))
    assert sorted(r.id for r in dels.collect()) == [0, 1, 2]
    assert set(
        r._commit_version for r in ch.select("_commit_version").collect()
    ) == {2, 3}


# ---------- CDF streaming tail + incremental view maintenance ----------

from aoseventstreamer_spark.tablelog import apply_count_delta  # noqa: E402


def test_change_stream_consumes_dml(spark, tmp_path, tablelog_tail):
    """The readChangeFeed tail delivers row-level deltas across
    DELETE/UPDATE — the commits the append-only tail refuses."""
    log = _ranged(spark, str(tmp_path / "cs"))
    off, rows = tablelog_tail(log.path, readChangeFeed=True)
    assert len(rows) == 200  # the initial appends are pure inserts
    assert {r["_change_type"] for r in rows} == {"insert"}

    log.delete_where([("id", ">=", 60), ("id", "<", 80)])
    log.update_where([("id", "=", 5)], {"v": "v + 100"})
    off, rows = tablelog_tail(log.path, off, readChangeFeed=True)
    assert sorted(
        r["id"] for r in rows if r["_change_type"] == "delete"
    ) == [5] + list(range(60, 80))
    ups = [r for r in rows if r["_change_type"] == "insert"]
    assert len(ups) == 1 and ups[0]["id"] == 5 and ups[0]["v"] == 100

    # nothing pending → no delivery, offset stable
    assert tablelog_tail(log.path, off, readChangeFeed=True) == (off, [])


def test_change_stream_skips_layout_only_commits(spark, tmp_path, tablelog_tail):
    log = TableLog(spark, str(tmp_path / "cl"))
    for i in range(6):
        log.append(spark.range(i * 5, i * 5 + 5).coalesce(1))
    off, _ = tablelog_tail(log.path, readChangeFeed=True)  # drain the appends
    res = log.optimize(min_files=2, small_file_bytes=10**9)
    assert res["files_removed"] > 0
    end, rows = tablelog_tail(log.path, off, readChangeFeed=True)
    assert end["version"] > off["version"] and rows == []  # advanced, no rows


def _last_commit_changes(log):
    """The change feed of the newest commit, the unit the folds below
    apply (queries/versioning_pack.py folds the same way)."""
    v = log.latest_version()
    return log.read_changes(v - 1, v)


def test_incremental_view_tracks_batch_groupby(spark, tmp_path):
    """apply_count_delta folded over each commit's change feed equals
    a fresh groupBy-count of the table after every kind of commit."""
    log = TableLog(spark, str(tmp_path / "iv"))
    state = None

    def fold():
        nonlocal state
        state = apply_count_delta(state, _last_commit_changes(log), ["v"])
        state = spark.createDataFrame(
            state.collect(), state.schema
        )  # pin (a real consumer checkpoints state between batches)
        want = _rows(log.read().groupBy("v").count().withColumnRenamed("count", "n"))
        got = _rows(state)
        assert got == want, f"state diverged: {got} != {want}"

    log.append(
        spark.range(100).select("id", (F.col("id") % 5).alias("v")).coalesce(1)
    )
    fold()
    log.append(
        spark.range(100, 130).select("id", (F.col("id") % 3).alias("v")).coalesce(1)
    )
    fold()
    log.delete_where([("id", "<", 40)])
    fold()
    log.update_where([("id", ">=", 120)], {"v": "v + 10"})
    fold()
    # a whole key disappearing must drop its state row, not keep 0
    log.delete_where([("v", "=", 10)])
    fold()
    assert state.filter(F.col("n") <= 0).count() == 0


# ---------- DESCRIBE HISTORY ----------


def test_history_labels_every_write_path(spark, tmp_path):
    log = TableLog(spark, str(tmp_path / "h"))
    df = spark.range(20).select("id", (F.col("id") % 4).alias("v")).coalesce(1)
    log.append(df)                                                  # APPEND
    log.append(df, txn_app="job", txn_version=0)                    # STREAMING UPDATE
    log.update_where([("id", "<", 3)], {"v": "v + 1"})              # UPDATE
    log.delete_where([("id", ">=", 18)])                            # DELETE
    log.merge_into(
        spark.range(5).select("id", F.lit(9).cast("long").alias("v")),
        on=["id"],
    )                                                               # MERGE
    log.overwrite_where(
        spark.range(1).select("id", F.lit(0).cast("long").alias("v")),
        [("id", "<", 1)],
    )                                                               # REPLACE WHERE
    log.optimize(min_files=2, small_file_bytes=10**9)               # OPTIMIZE
    log.overwrite(df)                                               # OVERWRITE

    h = log.history().collect()
    assert [r.version for r in h] == sorted(
        (r.version for r in h), reverse=True
    )
    ops = {r.version: r.operation for r in h}
    assert list(ops.values())[:8][::-1] == [
        "APPEND", "STREAMING UPDATE", "UPDATE", "DELETE",
        "MERGE", "REPLACE WHERE", "OPTIMIZE", "OVERWRITE",
    ]
    by_op = {r.operation: r for r in h}
    # both appends carry ids 0..19, so each id exists twice
    assert by_op["UPDATE"].op_metrics["num_updated_rows"] == 6
    assert by_op["DELETE"].op_metrics["num_deleted_rows"] == 4
    assert by_op["MERGE"].op_metrics["num_updated_rows"] == 5
    assert by_op["OPTIMIZE"].data_change is False
    assert by_op["STREAMING UPDATE"].txn_app == "job"
    assert by_op["STREAMING UPDATE"].txn_version == 0
    assert log.history(limit=2).count() == 2


def test_incremental_sum_view_tracks_batch_groupby(spark, tmp_path):
    """apply_agg_delta (COUNT + SUM) folded over each commit's change
    feed equals a fresh groupBy agg after append / dv-DELETE /
    dv-UPDATE — the update's delete+insert pair must net the value
    difference exactly."""
    from aoseventstreamer_spark.tablelog import apply_agg_delta

    log = TableLog(spark, str(tmp_path / "sv"))
    state = None

    def fold():
        nonlocal state
        state = apply_agg_delta(
            state, _last_commit_changes(log), ["v"], {"amt": "amt_sum"}
        )
        state = spark.createDataFrame(state.collect(), state.schema)
        want = _rows(
            log.read()
            .groupBy("v")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.coalesce(F.sum("amt"), F.lit(0)).alias("amt_sum"),
            )
        )
        got = _rows(state)
        assert got == want, f"state diverged: {got} != {want}"

    log.append(
        spark.range(100)
        .select(
            "id", (F.col("id") % 5).alias("v"), (F.col("id") * 3).alias("amt")
        )
        .coalesce(1)
    )
    fold()
    log.delete_where([("id", "<", 30)], use_dv=True)
    fold()
    log.update_where([("id", ">=", 80)], {"amt": "amt + 1000"}, use_dv=True)
    fold()
    log.delete_where([("v", "=", 2)], use_dv=True)
    fold()
    assert state.filter(F.col("n") <= 0).count() == 0


def test_incremental_minmax_view_tracks_batch_groupby(spark, tmp_path):
    """apply_minmax_delta folded over each commit's change feed equals
    a fresh groupBy COUNT/MIN/MAX after every DML kind; only
    extremum-deleting batches trigger the bounded rescan."""
    from aoseventstreamer_spark.tablelog import apply_minmax_delta

    log = TableLog(spark, str(tmp_path / "mm"))
    state = None
    rescans = []

    def rescan(keys_df):
        keys_df = spark.createDataFrame(keys_df.collect(), keys_df.schema)
        rescans.append(keys_df.count())
        return (
            log.read()
            .join(F.broadcast(keys_df), on=["v"])
            .groupBy("v")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.min("amt").alias("min_amt"),
                F.max("amt").alias("max_amt"),
            )
        )

    def fold():
        nonlocal state
        state = apply_minmax_delta(
            state, _last_commit_changes(log), ["v"], ["amt"], rescan
        )
        state = spark.createDataFrame(state.collect(), state.schema)
        want = _rows(
            log.read()
            .groupBy("v")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.min("amt").alias("min_amt"),
                F.max("amt").alias("max_amt"),
            )
        )
        got = _rows(state)
        assert got == want, f"state diverged: {got} != {want}"

    log.append(
        spark.range(100)
        .select("id", (F.col("id") % 5).alias("v"), (F.col("id") * 3).alias("amt"))
        .coalesce(1)
    )
    fold()
    # insert-only batch: NO rescan fires
    log.append(
        spark.range(100, 120)
        .select("id", (F.col("id") % 5).alias("v"), (F.col("id") * 3).alias("amt"))
        .coalesce(1)
    )
    fold()
    assert sum(rescans) == 0  # insert-only batches never rescan
    # delete the global max rows: only touched groups rescan
    log.delete_where([("id", ">=", 110)], use_dv=True)
    fold()
    assert 0 < rescans[-1] <= 5
    # interior delete (amt strictly inside every group's range after a
    # min-side guard): delete ids 40..49 — min ids are 0..4 per group
    log.delete_where([("id", ">=", 40), ("id", "<", 50)])
    fold()
    # update = delete+insert pair; extremum-touching -> rescan
    log.update_where([("id", "<", 5)], {"amt": "amt + 100000"}, use_dv=True)
    fold()
    # whole group disappears: state row drops
    log.delete_where([("v", "=", 2)])
    fold()
    assert state.filter(F.col("n") <= 0).count() == 0


def test_incremental_hll_view_matches_fresh_sketch(spark, tmp_path):
    """apply_hll_delta keeps the per-group HLL registers REGISTER-EXACT
    vs a fresh sketch of the table after every DML kind (insert-only
    batches merge; delete-touching groups re-derive)."""
    from aoseventstreamer_spark.operators.hll import hll_estimate, hll_sketch
    from aoseventstreamer_spark.tablelog import apply_hll_delta

    P = 5
    log = TableLog(spark, str(tmp_path / "hv"))
    state = None

    def rescan(keys_df):
        keys_df = spark.createDataFrame(keys_df.collect(), keys_df.schema)
        return hll_sketch(
            log.read().join(F.broadcast(keys_df), on=["v"]),
            "uid",
            P,
            group_cols=["v"],
        )

    def fold():
        nonlocal state
        state = apply_hll_delta(
            state, _last_commit_changes(log), ["v"], "uid", rescan, p=P
        )
        state = spark.createDataFrame(state.collect(), state.schema)
        want = _rows(hll_sketch(log.read(), "uid", P, group_cols=["v"]))
        got = _rows(state)
        assert got == want, f"registers diverged: {got} != {want}"

    log.append(
        spark.range(200)
        .select(
            "id",
            (F.col("id") % 4).alias("v"),
            (F.col("id") % 37).cast("string").alias("uid"),
        )
        .coalesce(1)
    )
    fold()
    log.append(
        spark.range(200, 260)
        .select(
            "id",
            (F.col("id") % 4).alias("v"),
            (F.col("id") % 53).cast("string").alias("uid"),
        )
        .coalesce(1)
    )
    fold()
    log.delete_where([("id", ">=", 230)], use_dv=True)
    fold()
    log.update_where(
        [("id", "<", 10)],
        {"uid": "CAST(CAST(uid AS BIGINT) + 7 AS STRING)"},
    )
    fold()
    log.delete_where([("v", "=", 3)])
    fold()
    # the maintained registers drive the same estimates as a fresh one
    est_inc = _rows(hll_estimate(state, P, group_cols=["v"]))
    est_new = _rows(
        hll_estimate(hll_sketch(log.read(), "uid", P, group_cols=["v"]), P, group_cols=["v"])
    )
    assert est_inc == est_new


def test_sql_view_over_tablelog_matches_dataframe_path(spark, tmp_path, oracle_sf_dir):
    """The VERDICT-r8 'done' criterion for the SQL surface: a TPC-H
    oracle executed via spark.sql against a REGISTERED tablelog view
    is hash-equal (row-set equal) to the DataFrame path over the same
    snapshot — including after DML + OPTIMIZE rewrote the layout."""
    from aoseventstreamer_spark.session import load_table

    li = load_table(spark, oracle_sf_dir, "lineitem")
    log = TableLog(spark, str(tmp_path / "li"))
    log.append(li, partition_by=None)
    log.delete_where([("l_quantity", ">", 45)])
    log.optimize(min_files=2)
    log.create_or_replace_view("li_tl")
    sql_rows = sorted(
        tuple(r)
        for r in spark.sql(
            """
            SELECT l_returnflag, l_linestatus,
                   SUM(l_quantity) AS sum_qty,
                   COUNT(*) AS count_order
            FROM li_tl
            GROUP BY l_returnflag, l_linestatus
            """
        ).collect()
    )
    df_rows = sorted(
        tuple(r)
        for r in log.read()
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .collect()
    )
    assert sql_rows == df_rows
    # and both equal the predicate applied to the raw table
    raw = sorted(
        tuple(r)
        for r in li.filter(F.col("l_quantity") <= 45)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .collect()
    )
    assert sql_rows == raw


def test_sql_view_pins_snapshot_and_where_prunes(spark, tmp_path):
    log = TableLog(spark, str(tmp_path / "pin"))
    log.append(
        spark.range(100).select("id", (F.col("id") % 5).alias("v")).coalesce(1)
    )
    log.create_or_replace_view("pin_v")
    log.append(
        spark.range(100, 150).select("id", (F.col("id") % 5).alias("v")).coalesce(1)
    )
    # the view pinned the registration-time snapshot
    assert spark.sql("SELECT COUNT(*) AS n FROM pin_v").collect()[0].n == 100
    log.create_or_replace_view("pin_v")  # re-register follows head
    assert spark.sql("SELECT COUNT(*) AS n FROM pin_v").collect()[0].n == 150
    # where= applies manifest-stats skipping at registration
    log.create_or_replace_view("pin_lo", where=[("id", "<", 100)])
    assert spark.sql("SELECT COUNT(*) AS n FROM pin_lo").collect()[0].n == 100
