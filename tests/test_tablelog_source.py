"""sources/tablelog_source.py: the manifest log as a NATIVE Spark data
source (Python Data Source API) — batch snapshot reads and the
snapshot-diff stream with SPARK'S OWN checkpoint carrying the version
offset, so compaction invisibility holds under engine-managed
exactly-once (the second inversion of the file-source redelivery
hazard)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from aoseventstreamer_spark.sources.tablelog_source import (
    register_tablelog_source,
)
from aoseventstreamer_spark.tablelog import TableLog


@pytest.fixture()
def registered(spark):
    register_tablelog_source(spark)
    return spark


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_batch_read_matches_tablelog_read(registered, tmp_path):
    spark = registered
    log = TableLog(spark, str(tmp_path / "t"))
    df = spark.range(200).select(
        "id", (F.col("id") % 7).alias("v"),
        F.concat(F.lit("s"), F.col("id") % 3).alias("s"),
    )
    log.append(df)
    log.append(df.withColumn("id", F.col("id") + 1000))
    native = spark.read.format("tablelog").load(log.path)
    assert _rows(native) == _rows(log.read())


def test_batch_read_pinned_snapshot(registered, tmp_path):
    spark = registered
    log = TableLog(spark, str(tmp_path / "t2"))
    log.append(spark.range(10).select("id"))
    log.append(spark.range(10, 30).select("id"))
    pinned = (
        spark.read.format("tablelog")
        .option("snapshotVersion", "1")
        .load(log.path)
    )
    assert pinned.count() == 10


def test_batch_read_partitioned_reattaches_partition_values(
    registered, tmp_path
):
    spark = registered
    log = TableLog(spark, str(tmp_path / "t3"))
    df = spark.range(40).select("id", (F.col("id") % 2).alias("p"))
    log.append(df, partition_by=["p"])
    native = spark.read.format("tablelog").load(log.path)
    assert _rows(native.select("id", "p")) == _rows(df)


def test_stream_replays_from_start_and_tails(registered, tmp_path):
    spark = registered
    log = TableLog(spark, str(tmp_path / "t4"))
    log.append(spark.range(10).select("id"))
    log.append(spark.range(10, 25).select("id"))
    ck = str(tmp_path / "ck4")
    got = []

    def sink(batch_df, batch_id):
        got.extend(r.id for r in batch_df.collect())

    q = (
        spark.readStream.format("tablelog")
        .load(log.path)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert sorted(got) == list(range(25))
    # tail: new append, restart from Spark's checkpoint
    log.append(spark.range(25, 30).select("id"))
    q = (
        spark.readStream.format("tablelog")
        .load(log.path)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert sorted(got) == list(range(30)) and len(got) == 30


def test_optimize_invisible_under_spark_checkpoint(registered, tmp_path):
    """kill -> OPTIMIZE the consumed region -> restart on the SAME
    Spark checkpoint: zero re-delivery, then new rows arrive exactly
    once — the engine-managed version of
    test_compaction_during_live_tail_redelivers_nothing."""
    spark = registered
    log = TableLog(spark, str(tmp_path / "t5"))
    for i in range(4):
        log.append(spark.range(i * 10, i * 10 + 10).select("id").repartition(3))
    ck = str(tmp_path / "ck5")
    got = []

    def sink(batch_df, batch_id):
        got.extend(r.id for r in batch_df.collect())

    def run_once():
        q = (
            spark.readStream.format("tablelog")
            .load(log.path)
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()
    assert sorted(got) == list(range(40))
    rep = log.optimize(min_files=2)
    assert rep["files_removed"] > 0
    run_once()  # restart over the optimize-only snapshot
    assert sorted(got) == list(range(40)), "compaction re-delivered rows"
    log.append(spark.range(40, 50).select("id"))
    run_once()
    assert sorted(got) == list(range(50)) and len(got) == 50


def test_starting_version_tail_only(registered, tmp_path):
    spark = registered
    log = TableLog(spark, str(tmp_path / "t6"))
    log.append(spark.range(10).select("id"))
    v = log.latest_version()
    log.append(spark.range(10, 20).select("id"))
    got = []

    q = (
        spark.readStream.format("tablelog")
        .option("startingVersion", str(v))
        .load(log.path)
        .writeStream.foreachBatch(
            lambda df, bid: got.extend(r.id for r in df.collect())
        )
        .option("checkpointLocation", str(tmp_path / "ck6"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert sorted(got) == list(range(10, 20))


def test_io_layer_reads_tablelog_format(spark, tmp_path):
    """sources/io.read_batch / read_stream accept fmt='tablelog' and
    self-register the data source."""
    from aoseventstreamer_spark.sources import io as IO

    log = TableLog(spark, str(tmp_path / "t7"))
    log.append(spark.range(30).select("id"))
    got = IO.read_batch(spark, log.path, fmt="tablelog")
    assert got.count() == 30
    rows = []
    q = (
        IO.read_stream(spark, log.path, fmt="tablelog")
        .writeStream.foreachBatch(
            lambda df, bid: rows.extend(r.id for r in df.collect())
        )
        .option("checkpointLocation", str(tmp_path / "ck7"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert sorted(rows) == list(range(30))


def test_batch_pushdown_prunes_files(registered, tmp_path):
    """Spark's own pushFilters hook drives manifest-stats skipping:
    a filtered native read plans FEWER InputPartitions, yet results
    stay exact (all filters are yielded back for row-level eval)."""
    from aoseventstreamer_spark.sources.tablelog_source import (
        TableLogBatchReader,
    )
    from pyspark.sql import datasource as DS

    spark = registered
    log = TableLog(spark, str(tmp_path / "pf"))
    for i in range(4):
        log.append(
            spark.range(i * 100, (i + 1) * 100)
            .select("id", (F.col("id") % 3).alias("v"))
            .coalesce(1)
        )
    # unit: the reader itself prunes partitions
    reader = TableLogBatchReader(log.path, log.schema(), None)
    leftover = list(
        reader.pushFilters([DS.GreaterThanOrEqual(("id",), 250)])
    )
    assert len(leftover) == 1  # everything yielded back to Spark
    assert len(reader.partitions()) == 2  # files [200,300) and [300,400)
    # e2e: results exact through the planner
    native = spark.read.format("tablelog").load(log.path)
    got = sorted(r.id for r in native.filter("id >= 250 AND v = 1").collect())
    assert got == [i for i in range(250, 400) if i % 3 == 1]
    # a filter the stats can't prune still answers exactly
    assert native.filter("v = 2").count() == len(
        [i for i in range(400) if i % 3 == 2]
    )


def test_batch_pushdown_handles_strings_and_null(registered, tmp_path):
    spark = registered
    log = TableLog(spark, str(tmp_path / "pf2"))
    log.append(
        spark.range(50).select(
            "id",
            F.concat(F.lit("a_"), F.col("id").cast("string")).alias("s"),
            F.when(F.col("id") < 25, F.col("id")).alias("m"),
        ).coalesce(1)
    )
    log.append(
        spark.range(50, 100).select(
            "id",
            F.concat(F.lit("b_"), F.col("id").cast("string")).alias("s"),
            F.lit(None).cast("long").alias("m"),
        ).coalesce(1)
    )
    from aoseventstreamer_spark.sources.tablelog_source import (
        TableLogBatchReader,
    )
    from pyspark.sql import datasource as DS

    reader = TableLogBatchReader(log.path, log.schema(), None)
    list(reader.pushFilters([DS.StringStartsWith(("s",), "b_")]))
    assert len(reader.partitions()) == 1
    reader2 = TableLogBatchReader(log.path, log.schema(), None)
    list(reader2.pushFilters([DS.IsNotNull(("m",))]))
    assert len(reader2.partitions()) == 1
    native = spark.read.format("tablelog").load(log.path)
    assert native.filter(F.col("s").startswith("b_")).count() == 50
    assert native.filter(F.col("m").isNotNull()).count() == 25


# ---------- streaming change data feed (readChangeFeed) ----------


def _cdf_stream_once(spark, path, ck, got):
    def sink(batch_df, batch_id):
        got.extend(
            (r.id, r.v, r._change_type, r._commit_version)
            for r in batch_df.collect()
        )

    q = (
        spark.readStream.format("tablelog")
        .option("readChangeFeed", "true")
        .load(path)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)


def test_cdf_stream_matches_batch_read_changes(registered, tmp_path):
    """The readChangeFeed stream over the full history must equal
    TableLog.read_changes(0): appends as inserts, a DELETE as its
    deleted rows only (copy-on-write survivors cancel), an UPDATE as
    delete+insert pre/post images — all stamped with the commit."""
    spark = registered
    log = TableLog(spark, str(tmp_path / "c1"))
    df = spark.range(40).select("id", (F.col("id") % 5).alias("v"))
    log.append(df.coalesce(1))
    log.append(df.withColumn("id", F.col("id") + 100).coalesce(1))
    log.delete_where([("v", "=", 2)])
    log.update_where([("id", "in", [0, 101])], {"v": "9"})
    got = []
    _cdf_stream_once(spark, log.path, str(tmp_path / "ckc1"), got)
    want = sorted(
        (r.id, r.v, r._change_type, r._commit_version)
        for r in log.read_changes(0).collect()
    )
    assert sorted(got) == want
    # spot semantics: the UPDATE commit carries pre AND post images
    upd_v = log.latest_version()
    upd = [g for g in got if g[3] == upd_v]
    assert sorted(upd) == sorted(
        [(0, 0, "delete", upd_v), (0, 9, "insert", upd_v),
         (101, 1, "delete", upd_v), (101, 9, "insert", upd_v)]
    )


def test_cdf_stream_exactly_once_across_restart(registered, tmp_path):
    """kill → more DML → restart on the SAME checkpoint: only the new
    commits' deltas arrive, nothing re-delivers; an OPTIMIZE advances
    the offset with zero rows even in CDF mode."""
    spark = registered
    log = TableLog(spark, str(tmp_path / "c2"))
    df = spark.range(30).select("id", (F.col("id") % 5).alias("v"))
    for lo in (0, 10, 20):
        log.append(
            df.filter((F.col("id") >= lo) & (F.col("id") < lo + 10)).coalesce(1)
        )
    ck = str(tmp_path / "ckc2")
    got = []
    _cdf_stream_once(spark, log.path, ck, got)
    assert len(got) == 30 and all(g[2] == "insert" for g in got)
    # DML + layout-only commit while the stream is down
    log.delete_where([("id", "=", 7)])
    v_del = log.latest_version()
    log.optimize(min_files=2, small_file_bytes=1 << 30)
    before = list(got)
    _cdf_stream_once(spark, log.path, ck, got)
    new = got[len(before):]
    assert new == [(7, 2, "delete", v_del)], new
    # idle restart delivers nothing
    _cdf_stream_once(spark, log.path, ck, got)
    assert len(got) == 31


def test_cdf_is_streaming_only_option(registered, tmp_path):
    spark = registered
    log = TableLog(spark, str(tmp_path / "c3"))
    log.append(spark.range(5).select("id"))
    with pytest.raises(Exception, match="read_changes"):
        (
            spark.read.format("tablelog")
            .option("readChangeFeed", "true")
            .load(log.path)
            .collect()
        )


def test_plain_tail_error_mentions_cdf(registered, tmp_path):
    spark = registered
    log = TableLog(spark, str(tmp_path / "c4"))
    log.append(spark.range(20).select("id", (F.col("id") % 3).alias("v")).coalesce(1))
    log.delete_where([("v", "=", 1)])
    got = []

    def sink(batch_df, batch_id):
        got.extend(batch_df.collect())

    q = (
        spark.readStream.format("tablelog")
        .load(log.path)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckc4"))
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(Exception, match="readChangeFeed"):
        q.awaitTermination(120)
        raise RuntimeError(q.exception() or "stream succeeded unexpectedly")


def test_batch_read_timestamp_as_of(registered, tmp_path):
    import time as _t

    spark = registered
    log = TableLog(spark, str(tmp_path / "ts"))
    log.append(spark.range(10).coalesce(1))
    _t.sleep(0.05)
    t_mid = int(_t.time() * 1000)
    _t.sleep(0.05)
    log.append(spark.range(10, 30).coalesce(1))
    got = (
        spark.read.format("tablelog")
        .option("timestampAsOf", str(t_mid))
        .load(log.path)
    )
    assert got.count() == 10
    assert spark.read.format("tablelog").load(log.path).count() == 30
    with pytest.raises(Exception, match="snapshotVersion OR timestampAsOf"):
        spark.read.format("tablelog").option(
            "timestampAsOf", str(t_mid)
        ).option("snapshotVersion", "1").load(log.path).count()


# ---------- native WRITER (DataSourceArrowWriter) ----------


def test_native_batch_write_append_and_overwrite(registered, tmp_path):
    spark = registered
    d = str(tmp_path / "w")
    df = spark.range(100).select("id", (F.col("id") % 7).alias("v"))
    df.write.format("tablelog").mode("append").save(d)
    df.selectExpr("id + 100 AS id", "v").write.format("tablelog").mode(
        "append"
    ).save(d)
    log = TableLog(spark, d)
    assert log.read().count() == 200
    assert [r["operation"] for r in log.history().collect()] == [
        "APPEND", "APPEND",
    ]
    # executor-computed exact stats power metadata count AND skipping
    assert all(e.get("stats") for e in log.snapshot_files())
    assert log.metadata_count() == 200
    kept, total = log.pruned_files([("id", "<", 50)])
    assert len(kept) < total
    # round-trip equality through BOTH read paths
    want = _rows(
        df.unionByName(df.selectExpr("id + 100 AS id", "v"))
    )
    assert _rows(log.read()) == want
    assert _rows(spark.read.format("tablelog").load(d)) == want
    # overwrite replaces the live set in one commit
    small = spark.range(5).select("id", F.lit(0).alias("v"))
    small.write.format("tablelog").mode("overwrite").save(d)
    assert log.read().count() == 5
    assert log.read(version=2).count() == 200  # prior snapshot intact


def test_native_write_schema_mismatch_refused(registered, tmp_path):
    spark = registered
    d = str(tmp_path / "ws")
    spark.range(5).select("id").write.format("tablelog").mode("append").save(d)
    with pytest.raises(Exception, match="does not match the"):
        spark.range(5).select(
            "id", F.lit(1).alias("extra")
        ).write.format("tablelog").mode("append").save(d)


def test_native_write_refused_on_constrained_or_partitioned(
    registered, tmp_path
):
    spark = registered
    # CHECK constraints cannot be validated by the plain-Python committer
    d1 = str(tmp_path / "wc")
    log = TableLog(spark, d1)
    log.append(spark.range(5).select("id").coalesce(1))
    log.add_constraint("pos", "id >= 0")
    with pytest.raises(Exception, match="CHECK constraints"):
        spark.range(5, 9).select("id").write.format("tablelog").mode(
            "append"
        ).save(d1)
    # hive layout: the native writer writes flat files only
    d2 = str(tmp_path / "wp")
    log2 = TableLog(spark, d2)
    log2.append(
        spark.range(10).select("id", (F.col("id") % 2).alias("p")),
        partition_by=["p"],
    )
    with pytest.raises(Exception, match="partitioned"):
        spark.range(10).select(
            "id", (F.col("id") % 2).alias("p")
        ).write.format("tablelog").mode("append").save(d2)


def test_native_stream_sink_exactly_once_across_batch_replay(
    registered, tmp_path
):
    """writeStream.format('tablelog'): delete the last checkpoint
    commit marker (the crash-between-sink-write-and-checkpoint state)
    and restart — the replayed batch carries the same batchId, the
    txn stamp recognizes it, zero duplicates."""
    import os

    spark = registered
    src = str(tmp_path / "src")
    table = str(tmp_path / "t")
    ck = str(tmp_path / "ck")
    spark.range(100).select("id", (F.col("id") * 2).alias("v")).coalesce(
        2
    ).write.parquet(src)

    def start():
        return (
            spark.readStream.schema("id long, v long")
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
            .writeStream.format("tablelog")
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start(table)
        )

    q = start()
    q.awaitTermination(120)
    log = TableLog(spark, table)
    assert log.read().count() == 100
    commits = os.path.join(ck, "commits")
    markers = sorted(f for f in os.listdir(commits) if not f.startswith("."))
    os.remove(os.path.join(commits, markers[-1]))
    crc = os.path.join(commits, f".{markers[-1]}.crc")
    if os.path.exists(crc):
        os.remove(crc)
    q2 = start()
    q2.awaitTermination(120)
    assert log.read().count() == 100  # replay recognized, no duplicates
    ops = {r["operation"] for r in log.history().collect()}
    assert ops == {"STREAMING UPDATE"}
    assert _rows(log.read()) == _rows(
        spark.range(100).select("id", (F.col("id") * 2).alias("v"))
    )


def test_native_and_jvm_committers_interoperate(registered, tmp_path):
    """The native writer's plain-Python committer (O_EXCL lock +
    rename) and TableLog's JVM committer (createNewFile lock + rename)
    target the SAME lock file and version namespace — concurrent blind
    appends through BOTH paths must all land exactly once. (The
    writer objects are driven directly: Spark's Python data-source
    REGISTRY is not visible from sibling Python threads — a lookup
    quirk, not a commit-protocol property.)"""
    from concurrent.futures import ThreadPoolExecutor

    import pyarrow as pa

    from aoseventstreamer_spark.sources.tablelog_source import (
        TableLogBatchWriter,
    )
    from pyspark.sql import types as T

    spark = registered
    d = str(tmp_path / "interop")
    spark.range(0, 10).select("id").write.format("tablelog").mode(
        "append"
    ).save(d)
    schema = T.StructType([T.StructField("id", T.LongType())])

    def native(i):
        w = TableLogBatchWriter(d, schema, overwrite=False)
        batch = pa.RecordBatch.from_pydict(
            {"id": list(range(100 * i, 100 * i + 10))}
        )
        msg = w.write(iter([batch]))
        w.commit([msg])

    def jvm(i):
        TableLog(spark, d).append(
            spark.range(1000 * i, 1000 * i + 10).select("id").coalesce(1)
        )

    with ThreadPoolExecutor(max_workers=6) as pool:
        futs = [pool.submit(native, i) for i in (1, 2, 3)]
        futs += [pool.submit(jvm, i) for i in (1, 2, 3)]
        for f in futs:
            f.result()

    log = TableLog(spark, d)
    assert log.latest_version() == 7  # 1 seed + 6 concurrent commits
    got = sorted(r.id for r in log.read().collect())
    want = sorted(
        list(range(10))
        + [x for i in (1, 2, 3) for x in range(100 * i, 100 * i + 10)]
        + [x for i in (1, 2, 3) for x in range(1000 * i, 1000 * i + 10)]
    )
    assert got == want


def test_stream_tails_parquet_checkpoint_table_across_optimize(
    registered, tmp_path
):
    """Native stream over a checkpoint_format='parquet' table: the
    pointer-seeded offset resolution and sidecar replay must deliver
    every append exactly once, and an OPTIMIZE of the consumed region
    must stay invisible across a restart — the r9 storage posture
    (pointer + sidecars) under Spark's own offsets."""
    spark = registered
    log = TableLog(
        spark,
        str(tmp_path / "pq_t"),
        checkpoint_interval=3,
        checkpoint_format="parquet",
    )
    for i in range(5):
        log.append(spark.range(i * 10, i * 10 + 10).select("id").coalesce(1))
    ck = str(tmp_path / "pq_ck")
    got = []

    def sink(batch_df, batch_id):
        got.extend(r.id for r in batch_df.collect())

    def run_once():
        q = (
            spark.readStream.format("tablelog")
            .load(log.path)
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()
    assert sorted(got) == list(range(50))
    rep = log.optimize(min_files=2)
    assert rep["files_removed"] > 0
    log.append(spark.range(50, 60).select("id").coalesce(1))
    run_once()
    assert sorted(got) == list(range(60)) and len(got) == 60


def test_mixed_committers_keep_pointer_coherent(spark, tmp_path):
    """A table written by BOTH the JVM TableLog (parquet checkpoints)
    and the plain-Python committer (JSON full-embed checkpoints):
    whichever checkpoint is NEWEST wins the pointer, and replay is
    correct through either kind (replay_seeded folds actions over a
    sidecar seed; replay_from stops at a full embed)."""
    import json as _json
    import os as _os
    import shutil as _shutil

    from aoseventstreamer_spark.logstore import PythonFSLogStore
    from aoseventstreamer_spark.tablelog import ManifestLog

    path = str(tmp_path / "mixed")
    log = TableLog(
        spark, path, checkpoint_interval=2, checkpoint_format="parquet"
    )
    for i in range(4):  # sidecars at v2, v4; pointer format=parquet
        log.append(spark.range(i * 5, i * 5 + 5).select("id").coalesce(1))
    assert log._log.read_pointer()["format"] == "parquet"
    # native committer appends v5, v6 (JSON checkpoint at v6)
    committer = ManifestLog(PythonFSLogStore(path), checkpoint_interval=2)
    schema_json = _json.loads(spark.range(1).select("id").schema.json())
    for k in range(2):
        spark.range(100 + k * 5, 105 + k * 5).select("id").coalesce(
            1
        ).write.parquet(f"{path}/stage{k}")
        part = next(
            f
            for f in _os.listdir(f"{path}/stage{k}")
            if f.endswith(".parquet")
        )
        final = f"native-{k}.parquet"
        _shutil.move(f"{path}/stage{k}/{part}", f"{path}/{final}")
        _shutil.rmtree(f"{path}/stage{k}")
        committer.commit(
            added=[{"path": final, "size": _os.path.getsize(f"{path}/{final}")}],
            removed=[],
            schema_json=schema_json,
            txn=None,
            operation="APPEND",
            op_metrics={},
            expected_version=4 + k,
        )
    ptr = log._log.read_pointer()
    assert ptr["version"] == 6 and ptr["format"] == "json"
    # both readers agree on the full row set at head and at v4
    want = sorted(list(range(20)) + list(range(100, 110)))
    assert sorted(r.id for r in log.read().collect()) == want
    assert sorted(r.id for r in log.read(version=4).collect()) == list(range(20))
    native = spark.read.format("tablelog")
    # (format() read needs the registering thread; spark fixture is it)
    from aoseventstreamer_spark.sources.tablelog_source import (
        register_tablelog_source,
    )

    register_tablelog_source(spark)
    got = sorted(
        r.id for r in spark.read.format("tablelog").load(path).collect()
    )
    assert got == want


def test_native_writer_hive_partitioned(registered, tmp_path):
    """df.write.format('tablelog').option('partitionBy', ...) writes a
    hive layout: one file per partition value per task, partition
    columns stored in the dir name (dropped from the parquet), values
    escaped Spark-style — and both the native reader and TableLog.read
    reproduce the rows exactly, including partition pruning."""
    spark = registered
    path = str(tmp_path / "npart")
    df = spark.range(40).select(
        "id",
        (F.col("id") % 3).alias("p"),
        F.concat(F.lit("v "), (F.col("id") % 2).cast("string")).alias("s"),
    )
    (
        df.coalesce(2)
        .write.format("tablelog")
        .option("partitionBy", "p,s")
        .mode("append")
        .save(path)
    )
    log = TableLog(spark, path)
    files = log.snapshot_files()
    # spaces are legal in hive dirs (Spark leaves them raw)
    assert all("p=" in e["path"] and "s=v " in e["path"] for e in files)
    assert _rows(log.read().select("id", "p", "s")) == _rows(df)
    native = spark.read.format("tablelog").load(path)
    assert _rows(native.select("id", "p", "s")) == _rows(df)
    # append must declare the SAME layout
    with pytest.raises(Exception, match="partitioned by"):
        df.coalesce(1).write.format("tablelog").mode("append").save(path)
    (
        spark.range(40, 50)
        .select(
            "id",
            (F.col("id") % 3).alias("p"),
            F.concat(F.lit("v "), (F.col("id") % 2).cast("string")).alias("s"),
        )
        .coalesce(1)
        .write.format("tablelog")
        .option("partitionBy", "p,s")
        .mode("append")
        .save(path)
    )
    assert log.read().count() == 50
    # null partition values take the hive default dir and read back null
    spark.createDataFrame(
        [(100, None, "v 0")], "id long, p long, s string"
    ).coalesce(1).write.format("tablelog").option("partitionBy", "p,s").mode(
        "append"
    ).save(path)
    row = log.read().filter(F.col("id") == 100).collect()[0]
    assert row.p is None and row.s == "v 0"
    # path-hostile partition values %XX-escape and round-trip exactly
    spark.createDataFrame(
        [(101, 1, "a/b=c%d")], "id long, p long, s string"
    ).coalesce(1).write.format("tablelog").option("partitionBy", "p,s").mode(
        "append"
    ).save(path)
    assert any("s=a%2Fb%3Dc%25d" in e["path"] for e in TableLog(spark, path).snapshot_files())
    row = log.read().filter(F.col("id") == 101).collect()[0]
    assert row.s == "a/b=c%d"
    native_row = (
        spark.read.format("tablelog").load(path).filter(F.col("id") == 101).collect()[0]
    )
    assert native_row.s == "a/b=c%d"


def test_native_stream_sink_partitioned(registered, tmp_path):
    """The exactly-once stream sink with option('partitionBy', ...):
    micro-batches land hive-partitioned with the txn stamp intact."""
    spark = registered
    src = str(tmp_path / "src_p")
    dst = str(tmp_path / "dst_p")
    TableLog(spark, src).append(
        spark.range(30).select("id", (F.col("id") % 3).alias("p")).coalesce(1)
    )
    q = (
        spark.readStream.format("tablelog")
        .load(src)
        .writeStream.format("tablelog")
        .option("checkpointLocation", str(tmp_path / "ck_p"))
        .option("partitionBy", "p")
        .option("txnApp", "psink")
        .trigger(availableNow=True)
        .start(dst)
    )
    q.awaitTermination(120)
    out = TableLog(spark, dst)
    assert out.read().count() == 30
    assert all("p=" in e["path"] for e in out.snapshot_files())
    assert out.last_txn_version("psink") >= 0


def test_cdf_stream_handles_array_columns(registered, tmp_path):
    """DML on a table with an ARRAY column must stream its change
    feed instead of crashing ('unhashable type: list' in the
    copy-on-write diff, r10 finding — hit by the ANN maintenance
    stream over an embedding corpus). Values round-trip arrow-native
    through the canonicalized multiset keys."""
    spark = registered
    log = TableLog(spark, str(tmp_path / "arr"))
    df = spark.range(20).select(
        "id", F.array(F.col("id") * 2, F.col("id") * 3).alias("emb")
    )
    log.append(df.coalesce(1))
    log.delete_where([("id", ">=", 15)])
    got = []

    def sink(batch_df, batch_id):
        got.extend(
            (r.id, tuple(r.emb), r._change_type, r._commit_version)
            for r in batch_df.collect()
        )

    q = (
        spark.readStream.format("tablelog")
        .option("readChangeFeed", "true")
        .load(log.path)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckarr"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    want = sorted(
        (r.id, tuple(r.emb), r._change_type, r._commit_version)
        for r in log.read_changes(0).collect()
    )
    assert sorted(got) == want
    dels = [g for g in got if g[2] == "delete"]
    assert sorted(g[0] for g in dels) == [15, 16, 17, 18, 19]
    assert all(g[1] == (g[0] * 2, g[0] * 3) for g in got)


# ---------- the manifest core's range and cost contracts ----------


def test_time_travel_past_the_head_is_refused(registered, tmp_path):
    """A version past the head is refused, naming the head, by every
    time-travel entry point: answering with the head snapshot would
    hand the caller rows of a version it did not ask for."""
    spark = registered
    log = TableLog(spark, str(tmp_path / "ph"))
    log.append(spark.range(4).select("id"))
    log.append(spark.range(4, 10).select("id"))
    head = "past the head of the log \\(latest version is 2\\)"
    with pytest.raises(ValueError, match=head):
        log.read(version=7)
    with pytest.raises(ValueError, match=head):
        log.snapshot_files(7)
    with pytest.raises(ValueError, match=head):
        log.read_changes(1, 7)
    with pytest.raises(Exception, match=head):
        spark.read.format("tablelog").option("snapshotVersion", 7).load(
            log.path
        ).collect()
    # the head itself still reads, on both paths
    assert log.read(version=2).count() == 10
    assert log.read_changes(1, 2).count() == 6
    assert spark.read.format("tablelog").option("snapshotVersion", 2).load(
        log.path
    ).count() == 10


class _CountingStore:
    """Wraps a LogStore and records each call made on it, with its
    arguments; the store's own internal calls are not counted."""

    def __init__(self, inner):
        self._inner = inner
        self.calls: list[tuple] = []

    def __getattr__(self, name):
        attr = getattr(self._inner, name)
        if not callable(attr):
            return attr

        def counted(*args, **kw):
            self.calls.append((name, *args))
            return attr(*args, **kw)

        return counted


@pytest.mark.parametrize("cdf", [False, True])
def test_stream_reader_hot_path_cost(spark, tmp_path, cdf):
    """The live tail runs latestOffset and partitions on every trigger:
    latestOffset is one fast_versions() call (no listing, no manifest
    read), and partitions(start, end) reads exactly the manifests in
    (start, end]."""
    from aoseventstreamer_spark.logstore import PythonFSLogStore
    from aoseventstreamer_spark.sources.tablelog_source import (
        TableLogCDFStreamReader,
        TableLogStreamReader,
    )
    from aoseventstreamer_spark.tablelog import ManifestLog

    path = str(tmp_path / "hot")
    log = TableLog(spark, path, checkpoint_interval=3)
    for i in range(7):  # checkpoints at 3 and 6; the pointer names 6
        log.append(spark.createDataFrame([(i,)], "id long"))
    store = _CountingStore(PythonFSLogStore(path))
    schema = log.schema()
    reader = (
        TableLogCDFStreamReader(path, schema, 0)
        if cdf
        else TableLogStreamReader(path, schema, 0)
    )
    reader.man = ManifestLog(store)

    assert reader.latestOffset() == {"version": 7}
    assert store.calls == [("fast_versions",)]

    store.calls.clear()  # the tail: one fast list, one manifest read
    assert len(reader.partitions({"version": 6}, {"version": 7})) == 1
    assert store.calls == [("fast_versions",), ("read", 7)]

    store.calls.clear()  # catch-up below the pointer lists in full once
    assert len(reader.partitions({"version": 2}, {"version": 6})) == 4
    assert [c for c in store.calls if c[0] == "read"] == [
        ("read", v) for v in (3, 4, 5, 6)
    ]
    assert [c[0] for c in store.calls if c[0] != "read"] == [
        "fast_versions", "versions",
    ]
