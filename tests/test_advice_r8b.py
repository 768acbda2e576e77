"""Round-8 second self-review tranche over the tablelog layer: the
vacuum no-commit guard and the append schema re-merge. (The tranche's
third finding, the driver-loop stream's position-file commit, went
with that stream: the native ``format("tablelog")`` stream keeps its
offset in Spark's own checkpoint.)

2. vacuum() on a table with zero commits computed an EMPTY keep set,
   so every data file under the root was "unreferenced" and eligible
   for deletion — catastrophic when pointed at a plain parquet dir or
   run before a first commit's staged files promote. Now a no-op.
3. append()'s commit-retry loop reused the schema merged BEFORE a
   lost race; if the intervening winner was a merge_schema append
   widening the table with a different column, the loser re-committed
   the stale merge and silently dropped the winner's column from the
   stored schema. Now the merge re-derives against the head on every
   attempt.
"""
from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from aoseventstreamer_spark.tablelog import TableLog


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


# ---------- 2. vacuum refuses a commit-less table ----------


def test_vacuum_is_noop_with_no_commits(spark, tmp_path):
    """Pointing vacuum at a directory of plain parquet files (no
    manifest) must delete NOTHING — the empty log would otherwise mark
    every file unreferenced."""
    d = tmp_path / "plain"
    spark.range(100).coalesce(2).write.parquet(str(d))
    before = sorted(p.name for p in d.rglob("*.parquet"))
    assert before
    log = TableLog(spark, str(d))
    assert log.vacuum(min_age_seconds=0.0) == []
    assert sorted(p.name for p in d.rglob("*.parquet")) == before


def test_vacuum_still_sweeps_after_first_commit(spark, tmp_path):
    d = str(tmp_path / "t")
    log = TableLog(spark, d)
    log.append(spark.range(10).coalesce(1))
    log.overwrite(spark.range(5).coalesce(1))
    swept = log.vacuum(retain_versions=1, min_age_seconds=0.0)
    assert swept  # the overwritten v1 file is unreferenced now
    assert log.read().count() == 5


# ---------- 3. append re-merges schema against the head ----------


def test_concurrent_merge_schema_appends_keep_both_columns(spark, tmp_path):
    """Writer A widens (id)->(id,a); writer B widens (id)->(id,b) but
    loses the commit race to A. B's retry must store the UNION schema
    (id,a,b), not its stale pre-race merge (id,b)."""
    d = str(tmp_path / "t")
    log_a = TableLog(spark, d)
    log_a.append(spark.range(3).coalesce(1))

    log_b = TableLog(spark, d)
    df_b = spark.range(3, 6).select(
        "id", F.lit(7).alias("b")
    ).coalesce(1)

    # interleave: force B's first commit attempt to collide by letting
    # A commit between B's schema derivation and B's commit
    orig_commit = log_b.commit
    state = {"raced": False}

    def racing_commit(*args, **kw):
        if not state["raced"]:
            state["raced"] = True
            log_a.append(
                spark.range(6, 9).select(
                    "id", F.lit("x").alias("a")
                ).coalesce(1),
                merge_schema=True,
            )
        return orig_commit(*args, **kw)

    log_b.commit = racing_commit
    log_b.append(df_b, merge_schema=True)

    final = TableLog(spark, d).schema()
    assert set(final.fieldNames()) == {"id", "a", "b"}, final
    out = TableLog(spark, d).read()
    assert out.count() == 9
    # A's rows keep their 'a' values; B's rows read a=null, b=7
    assert _rows(out.filter(F.col("b") == 7).select("id")) == [
        (3,), (4,), (5,)
    ]
    assert _rows(out.filter(F.col("a") == "x").select("id")) == [
        (6,), (7,), (8,)
    ]


def test_append_schema_mismatch_still_refused(spark, tmp_path):
    d = str(tmp_path / "t")
    log = TableLog(spark, d)
    log.append(spark.range(3).coalesce(1))
    with pytest.raises(ValueError, match="merge_schema"):
        log.append(
            spark.range(3).select("id", F.lit(1).alias("extra")).coalesce(1)
        )


# ---------- 4. mixed hive layouts are refused, not silently lossy ----------


def test_mixed_partition_layout_append_refused(spark, tmp_path):
    """Probed failure mode: a flat append onto a p=-partitioned table
    does not error on read — partition discovery under basePath
    silently DROPS rows (10 of 20 came back). The append must refuse
    up front."""
    from aoseventstreamer_spark.tablelog import TableLog

    d = str(tmp_path / "t")
    log = TableLog(spark, d)
    df = spark.range(10).select("id", (F.col("id") % 2).alias("p"))
    log.append(df, partition_by=["p"])
    with pytest.raises(ValueError, match="live layout"):
        log.append(df)  # flat onto partitioned
    with pytest.raises(ValueError, match="live layout"):
        log.append(df, partition_by=["id"])  # different key
    log.append(df.withColumn("id", F.col("id") + 10), partition_by=["p"])
    assert log.read().count() == 20
    # the reverse direction: partitioned onto flat
    log2 = TableLog(spark, str(tmp_path / "t2"))
    log2.append(df)
    with pytest.raises(ValueError, match="live layout"):
        log2.append(df, partition_by=["p"])
    # overwrite may change the layout (it replaces every live file)
    log2.overwrite(df, partition_by=["p"])
    assert log2.read().count() == 10
    log2.append(df.withColumn("id", F.col("id") + 50), partition_by=["p"])
    assert log2.read().count() == 20
