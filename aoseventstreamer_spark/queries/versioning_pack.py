"""Corpus-versioning pack: snapshot diff and incremental admission.

A training corpus is rebuilt in snapshots (crawl v1, v2, …); the two
operations between snapshots are "what changed" (diff drives
incremental re-tokenization — only added/changed docs re-enter the
pipeline) and "admit only genuinely new text" (exact-dedup a new
batch against everything already ingested, without rewriting the
corpus). Both queries derive their two corpus versions
deterministically from the fixture table (the same convention as the
TPC-H partsupp derivation) and are hash-exact against DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from aoseventstreamer_spark.operators.merge import incremental_admit, snapshot_diff
from aoseventstreamer_spark.queries import query, t


def _old(docs: DataFrame) -> DataFrame:
    return docs.filter(F.col("doc_id") % 7 != 0)


def _new(docs: DataFrame) -> DataFrame:
    # v2 snapshot: every 5th doc was dropped, every 11th rewritten
    return docs.filter(F.col("doc_id") % 5 != 0).withColumn(
        "text",
        F.when(
            F.col("doc_id") % 11 == 0, F.concat(F.col("text"), F.lit(" v2"))
        ).otherwise(F.col("text")),
    )


@query(
    "q_snapshot_diff",
    oracle="""
    WITH old AS (
      SELECT doc_id, text, source, lang FROM documents WHERE doc_id % 7 <> 0
    ), new AS (
      SELECT doc_id,
             CASE WHEN doc_id % 11 = 0 THEN text || ' v2' ELSE text END AS text,
             source, lang
      FROM documents WHERE doc_id % 5 <> 0
    )
    SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
           CASE WHEN o.doc_id IS NULL THEN 'added'
                WHEN n.doc_id IS NULL THEN 'removed'
                WHEN (o.text, o.source, o.lang) IS DISTINCT FROM
                     (n.text, n.source, n.lang) THEN 'changed'
           END AS status
    FROM old o FULL OUTER JOIN new n USING (doc_id)
    WHERE CASE WHEN o.doc_id IS NULL THEN 'added'
               WHEN n.doc_id IS NULL THEN 'removed'
               WHEN (o.text, o.source, o.lang) IS DISTINCT FROM
                    (n.text, n.source, n.lang) THEN 'changed'
          END IS NOT NULL
    """,
    stateful=True,
)
def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-to-snapshot corpus diff (operators/merge.snapshot_diff):
    classify every doc_id as added / removed / changed between the v1
    and v2 corpus versions, comparing 16-byte md5 fingerprints of the
    (text, source, lang) payload instead of shipping the payload
    through the join. The oracle compares the tuples directly — same
    semantics, which is the point of fingerprinting: equality of the
    hash IS equality of the row (mod md5 collisions). One full-outer
    join on the key; bucket both snapshots on doc_id at scale and it
    is shuffle-free."""
    docs = t(spark, sf_dir, "documents")
    return snapshot_diff(
        _old(docs), _new(docs), "doc_id", ["text", "source", "lang"]
    )


@query(
    "q_incremental_dedup",
    oracle="""
    WITH corpus AS (
      SELECT text FROM documents WHERE doc_id % 5 <> 0
    ), batch AS (
      SELECT doc_id, md5(text) AS fp FROM documents WHERE doc_id % 5 = 0
    ), seen AS (
      SELECT DISTINCT md5(text) AS fp FROM corpus
    ), fresh AS (
      SELECT b.doc_id, b.fp FROM batch b ANTI JOIN seen s USING (fp)
    )
    SELECT MIN(doc_id) AS doc_id, fp FROM fresh GROUP BY fp
    """,
    stateful=True,
)
def q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental exact-dedup admission
    (operators/merge.incremental_admit): a new ingest batch (every 5th
    doc) is admitted only where its text fingerprint is absent from
    the existing corpus (the other 4/5), min-id-wins within the batch
    — the batch-mode sibling of the streaming OnlineDeduper's exact
    tier. The corpus collapses to DISTINCT 16-byte fingerprints
    map-side before the anti-join; no corpus rewrite, no text
    shuffle."""
    docs = t(spark, sf_dir, "documents")
    return incremental_admit(
        docs.filter(F.col("doc_id") % 5 != 0), docs.filter(F.col("doc_id") % 5 == 0)
    )


@query(
    "q_tablelog_merge",
    oracle="""
    WITH target AS (
      SELECT doc_id, text, lang, source FROM documents WHERE doc_id % 3 <> 0
    ), src AS (
      SELECT doc_id, text || ' [v2]' AS text, lang, source
      FROM documents WHERE doc_id % 2 = 0
    )
    SELECT t.doc_id, t.text, t.lang, t.source
    FROM target t ANTI JOIN src s USING (doc_id)
    UNION ALL
    SELECT doc_id, text, lang, source FROM src
    """,
    stateful=True,
)
def q_tablelog_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE upsert through the real tablelog write path
    (tablelog.merge_into): the v1 corpus (doc_id % 3 <> 0, two ranged
    file slices) is upserted with a v2 source (every even doc_id,
    text suffixed) — matched rows replaced, unmatched inserted, as a
    copy-on-write rewrite of only the touched files. The read-back
    row set is hash-exact against the relational MERGE form (target
    anti source ∪ source), proving the transactional path changes
    nothing about the data semantics."""
    import tempfile

    from aoseventstreamer_spark.tablelog import TableLog

    docs = t(spark, sf_dir, "documents").select("doc_id", "text", "lang", "source")
    target = docs.filter(F.col("doc_id") % 3 != 0)
    mid = 250
    log = TableLog(spark, tempfile.mkdtemp(prefix="q_tablelog_merge_"))
    log.append(target.filter(F.col("doc_id") < mid).coalesce(1))
    log.append(target.filter(F.col("doc_id") >= mid).coalesce(1))
    src = docs.filter(F.col("doc_id") % 2 == 0).withColumn(
        "text", F.concat(F.col("text"), F.lit(" [v2]"))
    )
    log.merge_into(src, on=["doc_id"])
    return log.read().select("doc_id", "text", "lang", "source")


@query(
    "q_tablelog_update",
    oracle="""
    SELECT doc_id,
           CASE WHEN doc_id >= 100 AND doc_id < 200
                THEN text || ' [upd]' ELSE text END AS text,
           lang,
           CASE WHEN doc_id >= 100 AND doc_id < 200
                THEN n_chars + 6 ELSE n_chars END AS n_chars
    FROM documents
    """,
    stateful=True,
)
def q_tablelog_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UPDATE through the real tablelog write path
    (tablelog.update_where): the corpus lands in 4 ranged file slices,
    rows with doc_id in [100, 200) get two simultaneous assignments
    (text suffixed, n_chars bumped by the suffix length) evaluated
    against the OLD row — manifest stats prune candidate files, only
    files actually containing matches are rewritten (asserted:
    untouched files survive), and the read-back row set is hash-exact
    against the relational CASE form of the same UPDATE."""
    import tempfile

    from aoseventstreamer_spark.tablelog import TableLog

    docs = t(spark, sf_dir, "documents").select("doc_id", "text", "lang", "n_chars")
    log = TableLog(spark, tempfile.mkdtemp(prefix="q_tablelog_update_"))
    hi = 1 + (docs.agg(F.max("doc_id")).collect()[0][0] or 0)
    step = max(1, hi // 4)
    for lo in range(0, hi, step):
        log.append(
            docs.filter(
                (F.col("doc_id") >= lo) & (F.col("doc_id") < lo + step)
            ).coalesce(1)
        )
    before = {e["path"] for e in log.snapshot_files()}
    log.update_where(
        [("doc_id", ">=", 100), ("doc_id", "<", 200)],
        {"text": "concat(text, ' [upd]')", "n_chars": "n_chars + 6"},
    )
    after = {e["path"] for e in log.snapshot_files()}
    assert before & after, "untouched files must survive the rewrite"
    return log.read()


@query(
    "q_tablelog_cdf",
    oracle="""
    WITH base AS (
      SELECT doc_id, text, lang FROM documents
    ), v2 AS (
      SELECT * FROM base WHERE NOT (doc_id >= 100 AND doc_id < 200)
    )
    SELECT doc_id, text, lang,
           'delete' AS _change_type, CAST(2 AS BIGINT) AS _commit_version
    FROM base WHERE doc_id >= 100 AND doc_id < 200
    UNION ALL
    SELECT doc_id, text, lang, 'delete', CAST(3 AS BIGINT)
    FROM v2 WHERE doc_id IN (1, 2, 3)
    UNION ALL
    SELECT doc_id, text || ' [v2]' AS text, lang, 'insert', CAST(3 AS BIGINT)
    FROM v2 WHERE doc_id IN (1, 2, 3)
    """,
    stateful=True,
)
def q_tablelog_cdf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change data feed computed from the commit log
    (tablelog.read_changes): v1 appends the corpus in 4 ranged slices,
    v2 deletes [100, 200), v3 updates doc_ids {1,2,3} — the CDF over
    (1, 3] must surface EXACTLY the deleted rows (the copy-on-write
    survivors carried into rewritten files cancel under exceptAll) and
    each update as its delete+insert pre/post-image pair, stamped with
    the commit version. Hash-exact against the relational statement of
    the same change set; a single leaked survivor row or wrong version
    stamp breaks the hash."""
    import tempfile

    from aoseventstreamer_spark.tablelog import TableLog

    docs = t(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    log = TableLog(spark, tempfile.mkdtemp(prefix="q_tablelog_cdf_"))
    hi = 1 + (docs.agg(F.max("doc_id")).collect()[0][0] or 0)
    step = max(1, hi // 4)
    for lo in range(0, hi, step):
        log.append(
            docs.filter(
                (F.col("doc_id") >= lo) & (F.col("doc_id") < lo + step)
            ).coalesce(1)
        )
    # the ranged appends take an SF-dependent number of commits, so
    # the oracle's fixed 2/3 numbering is recovered by rebasing below
    v_base = log.latest_version()
    log.delete_where([("doc_id", ">=", 100), ("doc_id", "<", 200)])
    log.update_where(
        [("doc_id", "in", [1, 2, 3])], {"text": "concat(text, ' [v2]')"}
    )
    ch = log.read_changes(v_base)
    # rebase commit versions to the oracle's 2/3 numbering (the base
    # corpus takes `appended` commits, an SF-dependent offset)
    return ch.withColumn(
        "_commit_version",
        (F.col("_commit_version") - F.lit(v_base - 1)).cast("long"),
    )


@query(
    "q_tablelog_time_travel",
    oracle="""
    SELECT doc_id, text, lang FROM documents
    """,
    stateful=True,
)
def q_tablelog_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot time travel (tablelog.read(version=...)): after a
    DELETE and an UPDATE have rewritten files, reading the pre-DML
    version returns the original corpus bit-for-bit — data files are
    immutable and commits never delete them, so a pinned reader is
    isolated from every later rewrite. Hash-exact against the plain
    corpus scan."""
    import tempfile

    from aoseventstreamer_spark.tablelog import TableLog

    docs = t(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    log = TableLog(spark, tempfile.mkdtemp(prefix="q_tablelog_tt_"))
    log.append(docs.coalesce(2))
    v1 = log.latest_version()
    log.delete_where([("doc_id", ">=", 100), ("doc_id", "<", 200)])
    log.update_where([("doc_id", "in", [1, 2, 3])], {"lang": "'xx'"})
    return log.read(version=v1)


@query(
    "q_tablelog_delete",
    oracle="""
    SELECT doc_id, text, lang, n_chars FROM documents
    WHERE NOT (doc_id >= 100 AND doc_id < 200)
    """,
    stateful=True,
)
def q_tablelog_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DELETE through the real tablelog write path
    (tablelog.delete_where): the corpus lands in 4 ranged file slices,
    rows with doc_id in [100, 200) are deleted — manifest min/max
    stats prune the candidate files, only files actually containing
    matches are rewritten (asserted: at least one original file
    survives untouched), and the read-back row set is hash-exact
    against the plain SQL complement."""
    import tempfile

    from aoseventstreamer_spark.tablelog import TableLog

    docs = t(spark, sf_dir, "documents").select("doc_id", "text", "lang", "n_chars")
    log = TableLog(spark, tempfile.mkdtemp(prefix="q_tablelog_delete_"))
    hi = 1 + (docs.agg(F.max("doc_id")).collect()[0][0] or 0)
    step = max(1, hi // 4)
    for lo in range(0, hi, step):
        log.append(
            docs.filter(
                (F.col("doc_id") >= lo) & (F.col("doc_id") < lo + step)
            ).coalesce(1)
        )
    before = {e["path"] for e in log.snapshot_files()}
    log.delete_where([("doc_id", ">=", 100), ("doc_id", "<", 200)])
    after = {e["path"] for e in log.snapshot_files()}
    assert before & after, "untouched files must survive the rewrite"
    return log.read()


@query(
    "q_tablelog_restore",
    oracle="""
    SELECT doc_id, text, lang FROM documents
    """,
    stateful=True,
)
def q_tablelog_restore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RESTORE TABLE TO VERSION (tablelog.restore): after a DELETE and
    an UPDATE rewrote files, the table is rolled back to the pre-DML
    version as ONE NEW data-change commit — the diff of the two live
    sets, so only the files the DML rewrote move (asserted in-query),
    and the head read-back equals the original corpus bit-for-bit
    (hash-exact against the plain scan). History is preserved: the
    DELETE/UPDATE commits remain readable via time travel, and the
    restore commit is labeled RESTORE with the target version in its
    metrics."""
    import tempfile

    from aoseventstreamer_spark.tablelog import TableLog

    docs = t(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    log = TableLog(spark, tempfile.mkdtemp(prefix="q_tablelog_restore_"))
    hi = 1 + (docs.agg(F.max("doc_id")).collect()[0][0] or 0)
    step = max(1, hi // 4)
    for lo in range(0, hi, step):
        log.append(
            docs.filter(
                (F.col("doc_id") >= lo) & (F.col("doc_id") < lo + step)
            ).coalesce(1)
        )
    v0 = log.latest_version()
    untouched = {e["path"] for e in log.snapshot_files(v0)}
    log.delete_where([("doc_id", ">=", 100), ("doc_id", "<", 200)])
    log.update_where([("doc_id", "in", [1, 2, 3])], {"lang": "'xx'"})
    res = log.restore(v0)
    assert res["restored_version"] == v0
    # diff-based restore: files the DML never touched did not move
    assert res["files_added"] < len(untouched)
    return log.read()


@query(
    "q_tablelog_dv_delete",
    oracle="""
    SELECT doc_id, text, lang, n_chars FROM documents
    WHERE NOT (doc_id >= 100 AND doc_id < 200)
    """,
    stateful=True,
)
def q_tablelog_dv_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read DELETE through deletion vectors
    (tablelog.delete_where(use_dv=True)): the same predicate delete as
    q_tablelog_delete, but matching rows are MARKED in per-file
    position sidecars instead of rewriting the files — asserted
    in-query: the live data-file set is IDENTICAL before and after
    (zero rewrite amplification; write cost ∝ deleted rows), the
    marked entries carry exact cardinalities, and metadata_count
    answers the post-delete COUNT(*) from the manifest alone. The
    read-back applies the vectors via a position anti-join on the
    scan's _metadata row index and is hash-exact against the plain
    SQL complement — proving merge-on-read and copy-on-write produce
    the same logical table."""
    import tempfile

    from aoseventstreamer_spark.tablelog import TableLog

    docs = t(spark, sf_dir, "documents").select("doc_id", "text", "lang", "n_chars")
    log = TableLog(spark, tempfile.mkdtemp(prefix="q_tablelog_dv_"))
    hi = 1 + (docs.agg(F.max("doc_id")).collect()[0][0] or 0)
    step = max(1, hi // 4)
    for lo in range(0, hi, step):
        log.append(
            docs.filter(
                (F.col("doc_id") >= lo) & (F.col("doc_id") < lo + step)
            ).coalesce(1)
        )
    before = {e["path"] for e in log.snapshot_files()}
    n_total = log.metadata_count()
    res = log.delete_where(
        [("doc_id", ">=", 100), ("doc_id", "<", 200)], use_dv=True
    )
    after = log.snapshot_files()
    assert {e["path"] for e in after} == before, "dv delete must not rewrite"
    marked = [e for e in after if e.get("dv")]
    assert sum(e["dv"]["cardinality"] for e in marked) == res["rows_deleted"]
    assert log.metadata_count() == n_total - res["rows_deleted"]
    return log.read()


@query(
    "q_tablelog_meta_agg",
    oracle="""
    WITH live AS (
      SELECT doc_id FROM documents
      WHERE NOT (doc_id >= 150 AND doc_id < 200)
    )
    SELECT 'total' AS k, CAST(COUNT(*) AS BIGINT) AS n FROM live
    UNION ALL
    SELECT 'lt_100', COUNT(*) FROM live WHERE doc_id < 100
    UNION ALL
    SELECT 'ge_100', COUNT(*) FROM live WHERE doc_id >= 100
    UNION ALL
    SELECT 'ge_300', COUNT(*) FROM live WHERE doc_id >= 300
    """,
    stateful=True,
)
def q_tablelog_meta_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-only COUNT(*) (tablelog.metadata_count): the corpus
    lands in four FIXED range slices ([0,100) [100,200) [200,300)
    [300,∞)), a deletion-vector delete marks [150,200), and every
    count below — total, a pruned-to-one-slice predicate, an
    all-match predicate over the dv'd slice, a tail predicate — is
    answered from MANIFEST STATS ALONE (asserted: metadata_count
    returned non-None, i.e. every file classified all/none with dv
    cardinality subtracted; a None would mean a scan was needed).
    Hash-exact against DuckDB computing the same counts relationally
    — proving the no-scan answers are the scan answers."""
    import tempfile

    from aoseventstreamer_spark.tablelog import TableLog
    from pyspark.sql import types as T

    docs = t(spark, sf_dir, "documents").select("doc_id")
    log = TableLog(spark, tempfile.mkdtemp(prefix="q_tablelog_meta_"))
    hi = 1 + (docs.agg(F.max("doc_id")).collect()[0][0] or 0)
    for lo, up in [(0, 100), (100, 200), (200, 300), (300, hi)]:
        log.append(
            docs.filter(
                (F.col("doc_id") >= lo) & (F.col("doc_id") < up)
            ).coalesce(1)
        )
    log.delete_where(
        [("doc_id", ">=", 150), ("doc_id", "<", 200)], use_dv=True
    )
    probes = {
        "total": None,
        "lt_100": [("doc_id", "<", 100)],
        "ge_100": [("doc_id", ">=", 100)],
        "ge_300": [("doc_id", ">=", 300)],
    }
    rows = []
    for k, where in probes.items():
        n = log.metadata_count(where=where)
        assert n is not None, f"{k} must be provable from stats"
        rows.append((k, n))
    return spark.createDataFrame(
        rows,
        T.StructType(
            [
                T.StructField("k", T.StringType(), False),
                T.StructField("n", T.LongType(), False),
            ]
        ),
    )


@query(
    "q_tablelog_native_write",
    oracle="""
    SELECT doc_id, text, lang, n_chars FROM documents
    """,
    stateful=True,
)
def q_tablelog_native_write(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The native writer round trip: the corpus written through
    ``df.write.format("tablelog")`` (per-task Arrow→parquet staging
    with EXACT per-file stats computed inline — no post-write stats
    job) and read back through BOTH read paths (TableLog.read and the
    native format), asserted identical in-query; hash-exact against
    the plain scan proves the transactional write path loses and
    invents nothing. The manifest stats the executors computed are
    asserted present and consistent (metadata_count == scan count)."""
    import tempfile

    from aoseventstreamer_spark.sources.tablelog_source import (
        register_tablelog_source,
    )
    from aoseventstreamer_spark.tablelog import TableLog

    register_tablelog_source(spark)
    docs = t(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "n_chars"
    )
    d = tempfile.mkdtemp(prefix="q_tablelog_nw_") + "/t"
    docs.write.format("tablelog").mode("append").save(d)
    log = TableLog(spark, d)
    entries = log.snapshot_files()
    assert entries and all(e.get("stats") for e in entries)
    n = log.metadata_count()
    assert n is not None
    native = spark.read.format("tablelog").load(d)
    assert native.count() == n
    out = log.read()
    assert out.count() == n
    return out


@query(
    "q_tablelog_or_delete",
    oracle="""
    SELECT doc_id, text, lang FROM documents
    WHERE NOT (doc_id < 100 OR doc_id >= 300)
    """,
    stateful=True,
)
def q_tablelog_or_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CNF predicates through the whole tablelog stack: a DELETE whose
    single conjunct is an OR group (doc_id < 100 OR doc_id >= 300)
    over the range-sliced corpus — file skipping prunes to the two
    edge slices (asserted: the middle files are not even candidates),
    the deletion-vector path marks both, and the read-back is
    hash-exact against the relational complement."""
    import tempfile

    from aoseventstreamer_spark.tablelog import TableLog

    docs = t(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    log = TableLog(spark, tempfile.mkdtemp(prefix="q_tablelog_or_"))
    hi = 1 + (docs.agg(F.max("doc_id")).collect()[0][0] or 0)
    for lo, up in [(0, 100), (100, 200), (200, 300), (300, hi)]:
        log.append(
            docs.filter(
                (F.col("doc_id") >= lo) & (F.col("doc_id") < up)
            ).coalesce(1)
        )
    pred = [[("doc_id", "<", 100), ("doc_id", ">=", 300)]]
    kept, total = log.pruned_files(pred)
    assert len(kept) < total, "OR group must still prune middle slices"
    res = log.delete_where(pred, use_dv=True)
    assert res["rows_deleted"] > 0
    return log.read()


@query(
    "q_tablelog_sql",
    oracle="""
    SELECT lang,
           COUNT(*) AS n_docs,
           SUM(n_chars) AS sum_chars
    FROM documents
    WHERE NOT (doc_id >= 100 AND doc_id < 200)
    GROUP BY lang
    """,
    stateful=True,
)
def q_tablelog_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL surface over the table format
    (tablelog.create_or_replace_view + spark.sql): the corpus lands in
    the log, a DELETE rewrites a slice, the HEAD snapshot registers as
    a session view, and a plain spark.sql aggregate over the view is
    hash-exact against the relational complement. This is the
    Delta-user idiom — ``SELECT ... FROM t`` with the manifest, not a
    directory listing, deciding what the scan reads."""
    import tempfile

    from aoseventstreamer_spark.tablelog import TableLog

    docs = t(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "n_chars"
    )
    log = TableLog(spark, tempfile.mkdtemp(prefix="q_tablelog_sql_"))
    log.append(docs.coalesce(2))
    log.delete_where([("doc_id", ">=", 100), ("doc_id", "<", 200)])
    return log.sql(
        """
        SELECT lang, COUNT(*) AS n_docs, SUM(n_chars) AS sum_chars
        FROM tl_sql_head GROUP BY lang
        """,
        view="tl_sql_head",
    )


@query(
    "q_tablelog_sql_time_travel",
    oracle="""
    SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY lang
    """,
    stateful=True,
)
def q_tablelog_sql_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``VERSION AS OF`` through the SQL surface: after a DELETE and
    an UPDATE have rewritten files, a view registered AT the pre-DML
    version aggregates the ORIGINAL corpus — hash-exact against the
    plain scan. The view pins its snapshot (immutable data files), so
    the later DML is invisible to it by construction."""
    import tempfile

    from aoseventstreamer_spark.tablelog import TableLog

    docs = t(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    log = TableLog(spark, tempfile.mkdtemp(prefix="q_tablelog_sqltt_"))
    log.append(docs.coalesce(2))
    v1 = log.latest_version()
    log.delete_where([("doc_id", ">=", 100), ("doc_id", "<", 200)])
    log.update_where([("doc_id", "in", [1, 2, 3])], {"lang": "'xx'"})
    log.create_or_replace_view("tl_sql_v1", version=v1)
    return spark.sql(
        "SELECT lang, COUNT(*) AS n_docs FROM tl_sql_v1 GROUP BY lang"
    )


@query(
    "q_ivm_minmax",
    oracle="""
    WITH post AS (
      SELECT doc_id, lang,
             CASE WHEN doc_id % 31 = 0 THEN n_chars + 1000
                  ELSE n_chars END AS n_chars
      FROM documents
      WHERE NOT (doc_id >= 100 AND doc_id < 200)
    )
    SELECT lang, COUNT(*) AS n,
           MIN(n_chars) AS min_n_chars,
           MAX(n_chars) AS max_n_chars
    FROM post GROUP BY lang
    """,
    stateful=True,
)
def q_ivm_minmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental MIN/MAX view maintenance
    (tablelog.apply_minmax_delta): the corpus lands in the log, a
    DELETE and an UPDATE land as further commits, and the keyed
    COUNT/MIN/MAX state is maintained by folding EACH commit's CDF
    batch in sequence — inserts merge free, only batches deleting a
    group's current extremum re-derive those groups against the
    snapshot AT that commit (bounded rescan). The folded state is
    hash-exact against a fresh relational aggregate of the post-DML
    table — the invariant that makes the view trustworthy as a
    freshness dashboard at 100 TB (one partial-agg shuffle per CDF
    batch, never a base-table rescan)."""
    import tempfile

    from aoseventstreamer_spark.tablelog import TableLog, apply_minmax_delta

    docs = t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    log = TableLog(spark, tempfile.mkdtemp(prefix="q_ivm_minmax_"))
    log.append(docs.coalesce(2))
    log.delete_where([("doc_id", ">=", 100), ("doc_id", "<", 200)])
    # the where grammar has no modulo: enumerate the %31==0 ids up to
    # the corpus max (one scalar agg — same convention as the other
    # tablelog queries' id-offset derivation)
    hi = 1 + (docs.agg(F.max("doc_id")).collect()[0][0] or 0)
    log.update_where(
        [("doc_id", "in", list(range(0, hi, 31)))],
        {"n_chars": "n_chars + 1000"},
    )
    state = None
    for v in range(1, log.latest_version() + 1):
        changes = log.read_changes(v - 1, v)

        def rescan(keys_df, _v=v):
            return (
                log.read(version=_v)
                .join(F.broadcast(keys_df), on=["lang"])
                .groupBy("lang")
                .agg(
                    F.count(F.lit(1)).alias("n"),
                    F.min("n_chars").alias("min_n_chars"),
                    F.max("n_chars").alias("max_n_chars"),
                )
            )

        state = apply_minmax_delta(state, changes, ["lang"], ["n_chars"], rescan)
        # pin the fold (a real consumer checkpoints state per batch)
        state = spark.createDataFrame(state.collect(), state.schema)
    return state.select(
        "lang",
        "n",
        F.col("min_n_chars"),
        F.col("max_n_chars"),
    )


@query(
    "q_ivm_agg",
    oracle="""
    WITH post AS (
      SELECT doc_id, lang, n_chars FROM documents
      WHERE NOT (doc_id >= 100 AND doc_id < 200)
    )
    SELECT lang, COUNT(*) AS n, SUM(n_chars) AS sum_chars
    FROM post GROUP BY lang
    """,
    stateful=True,
)
def q_ivm_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental COUNT+SUM view maintenance
    (tablelog.apply_agg_delta) folded per commit over the CDF — the
    DELETE's pre-image rows subtract exactly, and the folded state is
    hash-exact against the fresh relational aggregate (no rescan
    anywhere: COUNT/SUM are fully invertible)."""
    import tempfile

    from aoseventstreamer_spark.tablelog import TableLog, apply_agg_delta

    docs = t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    log = TableLog(spark, tempfile.mkdtemp(prefix="q_ivm_agg_"))
    log.append(docs.coalesce(2))
    log.delete_where([("doc_id", ">=", 100), ("doc_id", "<", 200)])
    state = None
    for v in range(1, log.latest_version() + 1):
        changes = log.read_changes(v - 1, v)
        state = apply_agg_delta(
            state, changes, ["lang"], {"n_chars": "sum_chars"}
        )
        state = spark.createDataFrame(state.collect(), state.schema)
    return state


@query(
    "q_tablelog_timestamp_travel",
    oracle="""
    SELECT doc_id, text, lang FROM documents
    """,
    stateful=True,
)
def q_tablelog_timestamp_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIMESTAMP AS OF time travel (tablelog.read(as_of_timestamp_ms)
    via the binary-searched version_at): a timestamp taken between the
    corpus load and the DML reads back the original corpus bit-exact
    after a DELETE and an UPDATE rewrote files — the timestamp resolves
    to the pre-DML version because commit timestamps are monotone
    under the commit CAS. Hash-exact against the plain corpus scan."""
    import tempfile
    import time as _time

    from aoseventstreamer_spark.tablelog import TableLog

    docs = t(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    log = TableLog(spark, tempfile.mkdtemp(prefix="q_tablelog_ts_"))
    log.append(docs.coalesce(2))
    # manifest timestamps have millisecond granularity: ensure the
    # probe timestamp strictly separates the load from the DML
    _time.sleep(0.05)
    t_mid = int(_time.time() * 1000)
    _time.sleep(0.05)
    log.delete_where([("doc_id", ">=", 100), ("doc_id", "<", 200)])
    log.update_where([("doc_id", "in", [1, 2, 3])], {"lang": "'xx'"})
    return log.read(as_of_timestamp_ms=t_mid)


@query(
    "q_tablelog_column_mapping",
    oracle="""
    SELECT doc_id, text AS body, lang FROM documents
    WHERE NOT (doc_id >= 100 AND doc_id < 200)
    """,
    stateful=True,
)
def q_tablelog_column_mapping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The metadata-only schema-evolution tier (r11): load the corpus
    into a tablelog table, ``enable_column_mapping()``, RENAME
    text→body as ONE metadata commit (asserted: zero file actions),
    then run a DELETE through the mapped DML path and read back on
    the new logical name — hash-exact against the renamed/filtered
    plain scan. Also asserts the rename really was free (the live
    file set is untouched) and that data skipping still prunes on the
    renamed column via the physical stats key (tablelog.py column
    mapping; the 100 TB story in docs/SCALE.md)."""
    import tempfile

    from aoseventstreamer_spark.tablelog import TableLog

    docs = t(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    log = TableLog(spark, tempfile.mkdtemp(prefix="q_tablelog_map_"))
    hi = 1 + (docs.agg(F.max("doc_id")).collect()[0][0] or 0)
    step = max(1, hi // 4)
    for lo in range(0, hi, step):
        log.append(
            docs.filter(
                (F.col("doc_id") >= lo) & (F.col("doc_id") < lo + step)
            ).coalesce(1)
        )
    log.enable_column_mapping()
    before = {e["path"] for e in log.snapshot_files()}
    out = log.rename_column("text", "body")
    assert out["files_removed"] == 0, "mapped rename must be metadata-only"
    assert {e["path"] for e in log.snapshot_files()} == before
    log.delete_where([("doc_id", ">=", 100), ("doc_id", "<", 200)])
    # skipping on the renamed column: the doc_id-range files written
    # above must prune through the physical stats key
    surv, total = log.pruned_files([("doc_id", "<", step)])
    assert len(surv) < total, "stats must keep pruning after the rename"
    return log.read()
