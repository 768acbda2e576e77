"""``tablelog`` as a NATIVE Spark data source (PySpark 4 Python Data
Source API): ``spark.read.format("tablelog").load(path)`` for
snapshot-isolated batch reads and
``spark.readStream.format("tablelog").load(path)`` for the
snapshot-diff stream — with SPARK ITSELF checkpointing the offsets.

This is the only stream over a tablelog table: the manifest log
plugs into Spark's own micro-batch engine, so Structured Streaming's
checkpoint holds the stream position (``DemuxRunner`` and
``StreamGroupManager`` tail tables through it). Readers and writers
run on ``tablelog.ManifestLog``, the same manifest core ``TableLog``
uses:

- offsets are ``{"version": N}`` — the snapshot number, NOT file
  paths, so OPTIMIZE commits (``data_change=false``) advance the
  offset while contributing zero rows: compaction is invisible to a
  live tail under Spark's own exactly-once offset tracking (the
  file-source redelivery hazard inverted a second time, now inside
  the engine's checkpoint mechanism — see tests/test_tablelog_source.py
  kill → optimize → restart);
- ``partitions(start, end)`` lists the data-change ``add`` actions in
  ``(start, end]`` — one input partition per data file, so read
  parallelism scales with the files in the batch;
- ``read(partition)`` yields pyarrow RecordBatches straight from the
  parquet file (Arrow-native, no per-row Python), re-attaching hive
  ``k=v`` partition-dir values as constant columns cast to the stored
  schema's types;
- ``initialOffset`` honors ``option("startingVersion", ...)``
  (default 0 = replay from the first snapshot — the reference's
  DeliverPolicy::All, natsio.rs:176-182);
- ``option("readChangeFeed", "true")`` switches the stream to
  ROW-LEVEL DELTAS (Delta's streaming CDF): every data-change commit
  — including the DML rewrites the plain tail refuses — arrives as
  insert/delete rows with ``_change_type``/``_commit_version``, under
  Spark's own exactly-once offsets; appends fan out per-file, DML
  commits diff in one partition (bounded by the commit's touched
  files), OPTIMIZE advances the offset rowlessly.

Thread caveat: Spark resolves Python data sources through a registry
that is NOT visible from sibling Python threads (lookups there raise
DATA_SOURCE_NOT_FOUND even after re-registering) — do format()
reads/writes from the registering thread, or drive
``TableLogBatchWriter`` / ``TableLog`` directly from worker threads
(their commit protocols interoperate on the same lock, tested in
tests/test_tablelog_source.py).

Driver/executor I/O here is plain-Python (os/open), so the DATA path
covers ``file:`` paths, and the manifest log is read and committed
through ``PythonFSLogStore``. ``ManifestLog`` itself takes any
``logstore.LogStore`` (``ObjectStoreLogStore`` for S3-class stores:
one conditional PUT per commit, probed under the same concurrency
suite as the JVM path — tests/test_logstore.py), so the
offset/partition/Arrow protocol above is storage-agnostic.
"""

from __future__ import annotations

import os
from collections.abc import Iterator, Sequence

from dataclasses import dataclass

from pyspark.sql import types as T
from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamArrowWriter,
    DataSourceStreamReader,
    InputPartition,
    WriterCommitMessage,
)

from aoseventstreamer_spark.logstore import PythonFSLogStore, _strip_scheme
from aoseventstreamer_spark.tablelog import (
    CommitConflict,
    ManifestLog,
    _stat_encode,
    stats_columns_for,
)


def _manifests(path: str) -> ManifestLog:
    """The manifest core of a ``file:`` table, over the plain-Python
    log store (no JVM on executors)."""
    return ManifestLog(PythonFSLogStore(path))


class _StatsAgg:
    """Exact stats of one data file, folded over its Arrow batches
    while it is written (no post-write stats job). The columns come
    from ``stats_columns_for``, the policy every write path shares;
    the stored forms are those of ``TableLog._collect_stats``, Spark's
    own min/max: ``_stat_encode``d, ``None`` for a column with no
    non-null value and for a float max over a NaN (Spark orders NaN
    above every number; Arrow's min_max skips it), empty maps for a
    0-row file."""

    def __init__(self, cols: list[str]):
        self.cols = list(cols)
        self.num_rows = 0
        self.mins: dict = {}
        self.maxs: dict = {}
        self.nan_max: set = set()
        self.nulls: dict = {c: 0 for c in self.cols}

    def update(self, batch) -> None:
        """Fold one RecordBatch or Table in."""
        import pyarrow as pa
        import pyarrow.compute as pc

        self.num_rows += batch.num_rows
        names = set(batch.schema.names)
        for c in self.cols:
            if c not in names:
                continue
            col = batch.column(batch.schema.get_field_index(c))
            self.nulls[c] += col.null_count
            if col.null_count == len(col):
                continue
            if pa.types.is_floating(col.type) and pc.any(pc.is_nan(col)).as_py():
                self.nan_max.add(c)
            mm = pc.min_max(col)
            lo, hi = mm["min"].as_py(), mm["max"].as_py()
            if c not in self.mins or (
                lo is not None and lo < self.mins[c]
            ):
                self.mins[c] = lo
            if c not in self.maxs or (
                hi is not None and hi > self.maxs[c]
            ):
                self.maxs[c] = hi

    def result(self) -> dict:
        if not self.num_rows:
            return {"num_rows": 0, "min": {}, "max": {}, "null_count": {}}
        return {
            "num_rows": int(self.num_rows),
            "min": {c: _stat_encode(self.mins.get(c)) for c in self.cols},
            "max": {
                c: None if c in self.nan_max else _stat_encode(self.maxs.get(c))
                for c in self.cols
            },
            "null_count": {c: int(n) for c, n in self.nulls.items()},
        }


def write_arrow_files(
    batches, root: str, rel_dir: str, pcols: list[str], stats_cols: list[str]
) -> list["_StagedFile"]:
    """Write Arrow ``batches`` (RecordBatches or Tables) as parquet
    under ``root/rel_dir``: one file when ``pcols`` is empty, else one
    file per hive partition value (dynamic partitioning, Spark's
    writer shape: the partition columns move into the ``k=v`` dir
    names, escaped by ``_hive_dir``, and re-attach on read). A file
    opens at its first batch, even an empty one. Stats are folded in
    as each file is written, over the FULL rows (``stats_cols`` may
    name partition columns). Shared by the native writer's tasks and
    ``TableLog.append``'s driver-local commit; ``rel_path``s are
    relative to ``root``."""
    import uuid as _uuid

    import pyarrow as pa
    import pyarrow.parquet as pq

    open_files: dict[str, tuple] = {}  # part_dir -> (writer, path, agg)
    for batch in batches:
        if not pcols:
            pieces = [("", batch)]
        else:
            tbl = batch if isinstance(batch, pa.Table) else pa.Table.from_batches([batch])
            by_key: dict[tuple, list[int]] = {}
            keys = zip(*[tbl.column(c).to_pylist() for c in pcols])
            for i, k in enumerate(keys):
                by_key.setdefault(k, []).append(i)
            pieces = [(_hive_dir(pcols, k), tbl.take(ix)) for k, ix in by_key.items()]
        for part_dir, piece in pieces:
            data = piece.drop_columns(pcols) if pcols else piece
            slot = open_files.get(part_dir)
            if slot is None:
                sub = os.path.join(root, rel_dir, part_dir)
                os.makedirs(sub, exist_ok=True)
                fpath = os.path.join(sub, f"part-{_uuid.uuid4().hex}.parquet")
                slot = (pq.ParquetWriter(fpath, data.schema), fpath, _StatsAgg(stats_cols))
                open_files[part_dir] = slot
            slot[0].write(data)
            slot[2].update(piece)
    out = []
    for part_dir, (writer, fpath, agg) in open_files.items():
        writer.close()
        out.append(
            _StagedFile(
                os.path.relpath(fpath, root),
                os.path.getsize(fpath),
                agg.result(),
                part_dir,
            )
        )
    return out


@dataclass
class _StagedFile:
    rel_path: str  # within the hidden stage dir
    size: int
    stats: dict | None
    part_dir: str = ""  # "a=v1/b=v2" hive prefix, "" for flat


@dataclass
class _TaskFiles(WriterCommitMessage):
    files: list  # list[_StagedFile]; empty = empty task


class TableLogBatchWriter(DataSourceArrowWriter):
    """df.write.format("tablelog").mode("append"|"overwrite"): each
    task streams its Arrow batches straight into staged parquet files
    (stats computed inline), and commit() promotes the staged files +
    writes the manifest through the shared commit protocol — an
    all-or-nothing transactional write with a CAS retry against
    concurrent committers. ``option("partitionBy", "a,b")`` writes a
    hive layout (dynamic partitioning: one staged file per partition
    value per task, values Spark-escaped, partition columns live in
    the dir name and re-attach on read); appends to a partitioned
    table must declare the SAME layout. Refused on tables with CHECK
    constraints (the plain-Python committer cannot evaluate SQL
    expressions — write through TableLog.append instead)."""

    def __init__(
        self,
        path: str,
        schema: T.StructType,
        overwrite: bool,
        partition_by: list[str] | None = None,
    ):
        self.path = _strip_scheme(path)
        self.schema_ = schema
        self.overwrite = overwrite
        self.partition_by = list(partition_by or [])
        missing = [c for c in self.partition_by if c not in schema.names]
        if missing:
            raise ValueError(
                f"partitionBy columns {missing} not in the write schema"
            )
        self.write_id = __import__("uuid").uuid4().hex

    # -- executor side --

    def _data_schema(self) -> T.StructType:
        """The stored-file schema: partition columns live in the dir
        name (hive), not the parquet data."""
        if not self.partition_by:
            return self.schema_
        return T.StructType(
            [f for f in self.schema_.fields if f.name not in self.partition_by]
        )

    def write(self, iterator) -> _TaskFiles:
        rel_dir = f".dsstage-{self.write_id}"
        os.makedirs(os.path.join(self.path, rel_dir), exist_ok=True)
        return _TaskFiles(
            write_arrow_files(
                iterator,
                self.path,
                rel_dir,
                self.partition_by,
                stats_columns_for(self._data_schema()),
            )
        )

    # -- driver side --

    @staticmethod
    def _live_pcols(live: dict) -> list[str]:
        """Partition columns of the live layout (from any one path —
        the layout is uniform by construction of the write paths)."""
        for p in live:
            segs = [seg.partition("=")[0] for seg in p.split("/")[:-1] if "=" in seg]
            return segs
        return []

    def _guards(self, live: dict, constraints: dict) -> None:
        if constraints:
            raise ValueError(
                "table has CHECK constraints; the native writer cannot "
                "validate them — write through TableLog.append instead"
            )
        if not self.overwrite and live:
            have = self._live_pcols(live)
            if have != self.partition_by:
                raise ValueError(
                    f"table's live layout is partitioned by {have}; this "
                    f"write declares partitionBy={self.partition_by} — "
                    "match the layout (option('partitionBy', "
                    f"{','.join(have)!r})) or overwrite"
                )

    def _promote(self, messages) -> list[dict]:
        import shutil as _shutil
        import uuid as _uuid

        entries = []
        for m in messages:
            if not m:
                continue
            for f in m.files:
                if not f.rel_path:
                    continue
                prefix = f"{f.part_dir}/" if f.part_dir else ""
                final = f"{prefix}part-{_uuid.uuid4().hex}.parquet"
                dst = os.path.join(self.path, final)
                os.makedirs(os.path.dirname(dst), exist_ok=True)
                os.rename(os.path.join(self.path, f.rel_path), dst)
                e = {"path": final, "size": int(f.size)}
                if f.stats:
                    e["stats"] = f.stats
                entries.append(e)
        stage = os.path.join(self.path, f".dsstage-{self.write_id}")
        if os.path.isdir(stage):
            _shutil.rmtree(stage, ignore_errors=True)
        return entries

    def _schema_for_commit(self, stored_json: dict | None) -> dict | None:
        mine = self.schema_.jsonValue()
        if stored_json is not None and any(
            "tablelog.columnMapping.physicalName"
            in (f.get("metadata") or {})
            for f in stored_json["fields"]
        ):
            # column-mapped table: this writer stamps file columns
            # with the caller's LOGICAL names, which a mapped reader
            # would null-fill — refuse before any commit lands
            raise ValueError(
                f"table {self.path} uses column mapping; the native "
                "Arrow writer does not translate physical names yet — "
                "write through TableLog.append/overwrite"
            )
        if self.overwrite or stored_json is None:
            return mine
        stored_names = {f["name"] for f in stored_json["fields"]}
        my_names = {f["name"] for f in mine["fields"]}
        if stored_names != my_names:
            raise ValueError(
                f"write schema {sorted(my_names)} does not match the "
                f"table schema {sorted(stored_names)}; the native writer "
                "has no mergeSchema — use TableLog.append"
            )
        return None

    def _commit_entries(
        self,
        entries: list[dict],
        txn: tuple[str, int] | None,
        operation: str,
    ) -> int:
        man = _manifests(self.path)
        for _ in range(10):
            base = man.latest()
            live, schema_json, txns, cons = man.state(base)
            if txn is not None and int(txns.get(txn[0], -1)) >= int(txn[1]):
                # the stamp landed since our pre-check (a zombie driver
                # replaying the same batch concurrently: both passed the
                # check, the other won the CAS) — committing here would
                # duplicate the batch. Drop our promoted files and no-op
                # (round-9 ADVICE finding; TableLog.append re-checks
                # inside its retry loop for the same reason).
                for e in entries:
                    try:
                        os.unlink(os.path.join(self.path, e["path"]))
                    except OSError:
                        pass
                return base
            self._guards(live, cons)
            removed = (
                [
                    {
                        "path": e["path"],
                        **({"dv": e["dv"]} if e.get("dv") else {}),
                    }
                    for e in live.values()
                ]
                if self.overwrite
                else []
            )
            try:
                return man.commit(
                    added=entries,
                    removed=sorted(removed, key=lambda e: e["path"]),
                    schema_json=self._schema_for_commit(schema_json),
                    txn=txn,
                    operation=operation,
                    op_metrics={
                        "num_added_files": len(entries),
                        "num_added_bytes": sum(e["size"] for e in entries),
                    },
                    expected_version=base,
                )
            except CommitConflict:
                continue
        raise CommitConflict(
            "native tablelog write lost the commit race 10 times"
        )

    def commit(self, messages) -> None:
        entries = self._promote(messages)
        self._commit_entries(
            entries, None, "OVERWRITE" if self.overwrite else "APPEND"
        )

    def abort(self, messages) -> None:
        import shutil

        stage = os.path.join(self.path, f".dsstage-{self.write_id}")
        shutil.rmtree(stage, ignore_errors=True)


class TableLogStreamWriter(TableLogBatchWriter, DataSourceStreamArrowWriter):
    """spark.writeStream.format("tablelog"): the exactly-once native
    sink — every micro-batch commits with an idempotent-writer stamp
    ``(txnApp, batchId)``, so a crash-replayed batch is recognized in
    commit() and skipped (its staged files are deleted; Delta's
    txnAppId/txnVersion contract, the same idempotence the foreachBatch
    sink in sources/io.write_stream gets). ``option("txnApp", ...)``
    names the writer — REQUIRED to be distinct when several queries
    write one table; the default is derived from the table path, which
    is exactly-once for the common one-writer-per-table case and
    stable across restarts."""

    def __init__(
        self,
        path: str,
        schema: T.StructType,
        txn_app: str | None,
        partition_by: list[str] | None = None,
    ):
        super().__init__(path, schema, overwrite=False, partition_by=partition_by)
        self.txn_app = txn_app or f"tablelog-native-sink:{self.path}"

    def commit(self, messages, batchId: int) -> None:  # noqa: N803
        _live, _schema, txns, _cons = _manifests(self.path).state()
        stored = int(txns.get(self.txn_app, -1))
        if stored == int(batchId):
            # crash-replayed batch: drop the staged duplicates
            self.abort(messages, batchId)
            return
        if stored > int(batchId):
            # batchId runs BEHIND the stored stamp: a fresh checkpoint
            # against a table that already carries this app's stamp
            # (restarted query with a new checkpoint dir, or two
            # queries sharing the path-derived default txnApp). Silently
            # classifying these batches as replays is DATA LOSS — fail
            # loudly instead (round-9 ADVICE finding).
            self.abort(messages, batchId)
            raise ValueError(
                f"tablelog sink: batch {batchId} is behind the stored "
                f"txn stamp {stored} for app {self.txn_app!r}. This is "
                "a fresh checkpoint against an already-stamped table "
                "or a second query sharing the same txnApp — set a "
                "distinct .option('txnApp', ...) per query, or keep "
                "the original checkpoint directory."
            )
        entries = self._promote(messages)
        self._commit_entries(
            entries, (self.txn_app, int(batchId)), "STREAMING UPDATE"
        )

    def abort(self, messages, batchId: int) -> None:  # noqa: N803
        TableLogBatchWriter.abort(self, messages)


class _FilePartition(InputPartition):
    def __init__(self, rel_path: str, dv_rel: str | None = None):
        self.rel_path = rel_path
        self.dv_rel = dv_rel


class _ChangePartition(InputPartition):
    """One COMMIT's row-level delta: the data-change adds and removes
    of a single version (both sides must meet in one reader because
    copy-on-write survivors only cancel when diffed together). Sides
    are entry dicts (path + optional deletion vector) so dv-only
    commits diff LOGICAL rows."""

    def __init__(self, version: int, adds: list[dict], removes: list[dict]):
        self.version = version
        self.adds = adds
        self.removes = removes


_HIVE_ESCAPE = set('"#%\'*/:=?\\\x7f{[]^}') | {chr(c) for c in range(0x20)}


def _escape_hive(v: str) -> str:
    """Spark's escapePathName: %XX-encode the path-hostile chars so a
    hive dir written here reads back identically through Spark's own
    partition parsing."""
    return "".join(
        f"%{ord(ch):02X}" if ch in _HIVE_ESCAPE else ch for ch in v
    )


def _unescape_hive(v: str) -> str:
    """Spark's unescapePathName (%XX sequences only)."""
    out = []
    i = 0
    while i < len(v):
        if v[i] == "%" and i + 2 < len(v) + 1 and i + 3 <= len(v):
            try:
                out.append(chr(int(v[i + 1 : i + 3], 16)))
                i += 3
                continue
            except ValueError:
                pass
        out.append(v[i])
        i += 1
    return "".join(out)


def _hive_dir(pcols: list[str], key) -> str:
    """'a=v1/b=v2' for one partition-value tuple (Spark conventions:
    None -> __HIVE_DEFAULT_PARTITION__; values escaped)."""
    parts = []
    for c, v in zip(pcols, key):
        sv = (
            "__HIVE_DEFAULT_PARTITION__"
            if v is None
            else _escape_hive(str(v))
        )
        parts.append(f"{c}={sv}")
    return "/".join(parts)


def _dv_positions(root: str, dv_rel: str):
    """Deleted row positions of one data file: its dv sidecar is a
    parquet dir of ``pos`` values (``_dv/<commit>/__f=<key>/``)."""
    import pyarrow.parquet as pq

    return set(
        pq.read_table(os.path.join(root, dv_rel), columns=["pos"])
        .column("pos")
        .to_pylist()
    )


def _read_file_batches(
    root: str, rel_path: str, schema: T.StructType, dv_rel: str | None = None
) -> Iterator:
    """Arrow batches for one data file, with hive partition-dir values
    re-attached as constant columns, the entry's deletion vector
    applied (row positions masked out), and columns ordered per the
    stored schema. Column-mapped tables (the field's metadata carries
    a physical name) resolve file columns and hive-dir keys by the
    PHYSICAL name and emit the logical one — the same aliasing
    TableLog._scan_entries does JVM-side."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    arrow_schema = to_arrow_schema(schema)
    # physical lookup name per field (== field.name when unmapped)
    phys = [
        (f.metadata or {}).get(
            "tablelog.columnMapping.physicalName", f.name
        )
        for f in schema.fields
    ]
    part_vals = {}
    for seg in rel_path.split("/")[:-1]:
        if "=" in seg:
            k, _, v = seg.partition("=")
            # Spark-written dirs %XX-escape path-hostile chars; decode
            # so native reads match TableLog.read (r9)
            part_vals[k] = (
                None if v == "__HIVE_DEFAULT_PARTITION__" else _unescape_hive(v)
            )
    table = pq.read_table(os.path.join(root, rel_path))
    if dv_rel is not None:
        dead = _dv_positions(root, dv_rel)
        if dead:
            table = table.filter(
                pa.array(
                    [i not in dead for i in range(table.num_rows)],
                    type=pa.bool_(),
                )
            )
    n = table.num_rows
    cols = []
    for field, pname in zip(arrow_schema, phys):
        if pname in table.column_names:
            cols.append(table[pname].cast(field.type))
        elif pname in part_vals:
            cols.append(
                pa.array([part_vals[pname]] * n).cast(field.type)
            )
        else:
            cols.append(pa.nulls(n, field.type))
    out = pa.Table.from_arrays(cols, schema=arrow_schema)
    yield from out.to_batches(max_chunksize=1 << 16)


def _filter_to_clause(f) -> tuple | None:
    """Map a Spark DataSource Filter onto the tablelog (col, op, value)
    clause grammar; None = not stats-pruneable (ignored, Spark still
    evaluates it row-level)."""
    from pyspark.sql import datasource as DS

    attr = getattr(f, "attribute", None)
    if attr is None or len(attr) != 1:
        return None
    col = attr[0]
    if isinstance(f, DS.EqualTo):
        return (col, "=", f.value)
    if isinstance(f, DS.GreaterThan):
        return (col, ">", f.value)
    if isinstance(f, DS.GreaterThanOrEqual):
        return (col, ">=", f.value)
    if isinstance(f, DS.LessThan):
        return (col, "<", f.value)
    if isinstance(f, DS.LessThanOrEqual):
        return (col, "<=", f.value)
    if isinstance(f, DS.In):
        return (col, "in", list(f.value))
    if isinstance(f, DS.IsNull):
        return (col, "isnull")
    if isinstance(f, DS.IsNotNull):
        return (col, "notnull")
    if isinstance(f, DS.StringStartsWith):
        return (col, "startswith", f.value)
    return None


def _cdf_schema(schema: T.StructType) -> T.StructType:
    return T.StructType(
        list(schema.fields)
        + [
            T.StructField("_change_type", T.StringType(), False),
            T.StructField("_commit_version", T.LongType(), False),
        ]
    )


def _read_change_batches(
    root: str, part: _ChangePartition, schema: T.StructType
) -> Iterator:
    """Row-level delta of one commit as Arrow batches: multiset
    difference of (rows in added files) vs (rows in removed files),
    inserts = adds∖removes, deletes = removes∖adds — exactly
    ``tablelog.read_changes``'s exceptAll semantics, computed here
    with a Counter over row tuples because the partition reader runs
    plain Python on the executor. Memory is bounded by ONE commit's
    touched files (a selective DML rewrites MBs, not the table);
    one-sided commits (pure appends / retention deletes) skip the
    diff entirely. Array/map/struct columns are canonicalized to
    hashable tuples for the multiset keys (r10: a DML commit on a
    table with an array column — e.g. an embedding corpus feeding
    the ANN index maintenance stream — crashed the diff with
    'unhashable type: list'); a representative ORIGINAL row per key
    preserves the arrow-native value shapes for the output batches."""
    from collections import Counter

    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    base_schema = T.StructType(
        [
            f
            for f in schema.fields
            if f.name not in ("_change_type", "_commit_version")
        ]
    )
    names = [f.name for f in base_schema.fields]
    arrow_out = to_arrow_schema(schema)

    def canon(v):
        if isinstance(v, list):
            return tuple(canon(x) for x in v)
        if isinstance(v, dict):
            return tuple(sorted((k, canon(x)) for k, x in v.items()))
        return v

    def rows_of(entries: list[dict]) -> tuple[Counter, dict]:
        c: Counter = Counter()
        rep: dict = {}
        for e in entries:
            dv_rel = (e.get("dv") or {}).get("path")
            for batch in _read_file_batches(
                root, e["path"], base_schema, dv_rel
            ):
                for row in batch.to_pylist():
                    key = tuple(canon(row[n]) for n in names)
                    c[key] += 1
                    rep.setdefault(key, row)
        return c, rep

    adds, add_rep = rows_of(part.adds)
    removes, rem_rep = (
        rows_of(part.removes) if part.removes else (Counter(), {})
    )
    out_rows: list[dict] = []
    for kind, this, other, rep in (
        ("insert", adds, removes, add_rep),
        ("delete", removes, adds, rem_rep),
    ):
        for key, n in this.items():
            extra = n - other.get(key, 0)
            for _ in range(max(0, extra)):
                row = dict(rep[key])
                row["_change_type"] = kind
                row["_commit_version"] = part.version
                out_rows.append(row)
    if not out_rows:
        return
    table = pa.Table.from_pylist(out_rows, schema=arrow_out)
    yield from table.to_batches(max_chunksize=1 << 16)


class TableLogBatchReader(DataSourceReader):
    def __init__(self, path: str, schema: T.StructType, version: int | None):
        self.path = _strip_scheme(path)
        self.schema_ = schema
        self.version = version
        self.pushed: list[tuple] = []

    def pushFilters(self, filters):
        """Data skipping through Spark's own pushdown hook: supported
        conjuncts prune FILES against the manifest's exact per-file
        stats in partitions(). Every filter is yielded back — stats
        prove non-matching files, not matching rows, so Spark must
        still evaluate the predicate row-level (partial pushdown)."""
        for f in filters:
            clause = _filter_to_clause(f)
            if clause is not None:
                self.pushed.append(clause)
            yield f

    def partitions(self) -> Sequence[InputPartition]:
        from aoseventstreamer_spark.tablelog import (
            _file_survives,
            _norm_literal,
        )

        files, schema_doc, _txns, _cons = _manifests(self.path).state(
            self.version
        )
        if self.pushed and files:
            fields = {}
            pm = {}  # logical -> physical (stats are keyed physical)
            if schema_doc:
                for fld in T.StructType.fromJson(schema_doc).fields:
                    fields[fld.name] = fld.dataType
                    pm[fld.name] = (fld.metadata or {}).get(
                        "tablelog.columnMapping.physicalName", fld.name
                    )
            kept = {}
            for path, entry in files.items():
                ok = True
                for col, op, *rest in self.pushed:
                    lit = rest[0] if rest else None
                    if op == "in":
                        raw = [
                            _norm_literal(fields.get(col), x) for x in lit
                        ]
                        norm = [v for v in raw if v is not None]
                        if len(norm) != len(raw) or not norm:
                            # an un-normalizable IN literal may still
                            # match rows — pruning on the comparable
                            # subset could drop a matching file
                            continue
                    elif op in ("isnull", "notnull", "startswith"):
                        norm = lit
                    else:
                        norm = _norm_literal(fields.get(col), lit)
                        if norm is None:
                            continue
                    if not _file_survives(
                        entry.get("stats") if isinstance(entry, dict) else None,
                        pm.get(col, col),
                        op,
                        norm,
                    ):
                        ok = False
                        break
                if ok:
                    kept[path] = entry
            files = kept
        return [
            _FilePartition(
                p, ((files[p].get("dv") or {}).get("path"))
            )
            for p in sorted(files)
        ] or [_FilePartition("")]

    def read(self, partition: _FilePartition):
        if not partition.rel_path:
            return iter(())
        return _read_file_batches(
            self.path, partition.rel_path, self.schema_, partition.dv_rel
        )


class TableLogStreamReader(DataSourceStreamReader):
    def __init__(
        self,
        path: str,
        schema: T.StructType,
        starting: int,
        ignore_changes: bool = False,
    ):
        self.path = _strip_scheme(path)
        self.schema_ = schema
        self.starting = starting
        self.ignore_changes = ignore_changes
        self.man = _manifests(self.path)

    def initialOffset(self) -> dict:
        return {"version": self.starting}

    def latestOffset(self) -> dict:
        v = self.man.latest()
        return {"version": v if v else self.starting}

    def partitions(self, start: dict, end: dict) -> Sequence[InputPartition]:
        """The data-change adds in ``(start, end]``. A data-change
        REMOVE in the range (DELETE/MERGE rewrote consumed files) is
        refused unless ``ignoreChanges``: the rewritten files would
        re-deliver surviving rows (Delta's ignoreChanges contract)."""
        entries = []
        for v, adds, removes in self.man.changes(
            int(start["version"]), int(end["version"])
        ):
            if removes and not self.ignore_changes:
                raise ValueError(
                    f"version {v} contains a data-change remove; "
                    "set .option('readChangeFeed', 'true') to "
                    "stream row-level deltas, or "
                    ".option('ignoreChanges', 'true') to "
                    "deliver rewritten files whole (surviving "
                    "rows will re-deliver)"
                )
            entries.extend(adds)
        # an optimize-only (or empty) range still needs one partition:
        # Spark plans the batch either way, and an empty sequence is
        # rejected by the runner
        return [
            _FilePartition(e["path"], (e.get("dv") or {}).get("path"))
            for e in entries
        ] or [_FilePartition("")]

    def read(self, partition: _FilePartition):
        if not partition.rel_path:
            return iter(())
        return _read_file_batches(
            self.path, partition.rel_path, self.schema_, partition.dv_rel
        )

    def commit(self, end: dict) -> None:
        pass  # Spark's checkpoint is the source of truth


class TableLogCDFStreamReader(DataSourceStreamReader):
    """``option("readChangeFeed", "true")``: the stream delivers
    row-level CHANGES — every data-change commit (including the
    DELETE/UPDATE/MERGE rewrites the append-only tail refuses) becomes
    its insert/delete row deltas with ``_change_type`` +
    ``_commit_version`` columns, under Spark's own exactly-once offset
    tracking. Pure appends fan out one partition per file (full read
    parallelism, no diff); DML commits get one partition per commit
    (both sides of the copy-on-write diff must meet); layout-only
    OPTIMIZE commits advance the offset with zero rows. Same retention
    contract as tablelog.read_changes: the removed files in the range
    must not have been VACUUMed."""

    def __init__(self, path: str, schema: T.StructType, starting: int):
        self.path = _strip_scheme(path)
        self.schema_ = schema  # includes _change_type/_commit_version
        self.starting = starting
        self.man = _manifests(self.path)

    def initialOffset(self) -> dict:
        return {"version": self.starting}

    def latestOffset(self) -> dict:
        v = self.man.latest()
        return {"version": v if v else self.starting}

    def partitions(self, start: dict, end: dict) -> Sequence[InputPartition]:
        out: list[InputPartition] = []
        for v, adds, removes in self.man.changes(
            int(start["version"]), int(end["version"])
        ):
            if adds and removes:
                out.append(_ChangePartition(v, adds, removes))
            elif adds:
                out.extend(_ChangePartition(v, [e], []) for e in adds)
            else:
                out.extend(_ChangePartition(v, [], [e]) for e in removes)
        return out or [_ChangePartition(-1, [], [])]

    def read(self, partition: _ChangePartition):
        if partition.version < 0:
            return iter(())
        return _read_change_batches(self.path, partition, self.schema_)

    def commit(self, end: dict) -> None:
        pass


class TableLogDataSource(DataSource):
    """format("tablelog"): path = table root; options:
    ``snapshotVersion`` (batch: pin a snapshot), ``startingVersion``
    (stream: first version NOT yet delivered; default 0 = from the
    first snapshot), ``readChangeFeed`` (stream: deliver row-level
    change deltas with ``_change_type``/``_commit_version`` instead of
    refusing DML commits), ``ignoreChanges`` (stream: deliver rewritten
    files whole — surviving rows re-deliver)."""

    def _cdf(self) -> bool:
        return (
            str(self.options.get("readchangefeed", "false")).lower()
            == "true"
        )

    @classmethod
    def name(cls) -> str:
        return "tablelog"

    def _path(self) -> str:
        path = self.options.get("path")
        if not path:
            raise ValueError("tablelog requires .load(<table path>)")
        return path

    def schema(self) -> T.StructType:
        _, doc, _, _ = _manifests(self._path()).state()
        if doc is None:
            raise ValueError(
                f"tablelog table {self._path()} has no committed schema"
            )
        # column-mapped tables keep their mapping metadata on the
        # fields; _read_file_batches resolves file columns by the
        # PHYSICAL name each field's metadata records and emits the
        # logical name, so mapped tables stream like unmapped ones
        sch = T.StructType.fromJson(doc)
        return _cdf_schema(sch) if self._cdf() else sch

    def reader(self, schema: T.StructType) -> TableLogBatchReader:
        if self._cdf():
            raise ValueError(
                "readChangeFeed is a streaming option; for batch CDF "
                "use tablelog.TableLog.read_changes(from, to)"
            )
        v = self.options.get("snapshotversion")
        ts = self.options.get("timestampasof")
        if v is not None and ts is not None:
            raise ValueError("pass snapshotVersion OR timestampAsOf")
        if ts is not None:
            # epoch millis, or a local "YYYY-MM-DD[ HH:MM:SS]" string
            import datetime

            try:
                ts_ms = int(ts)
            except ValueError:
                s = str(ts).strip()
                fmt = "%Y-%m-%d %H:%M:%S" if " " in s else "%Y-%m-%d"
                ts_ms = int(
                    datetime.datetime.strptime(s, fmt).timestamp() * 1000
                )
            v = _manifests(self._path()).version_at(ts_ms)
        return TableLogBatchReader(
            self._path(), schema, int(v) if v is not None else None
        )

    def streamReader(self, schema: T.StructType):
        if self._cdf():
            return TableLogCDFStreamReader(
                self._path(),
                schema,
                int(self.options.get("startingversion", 0)),
            )
        return TableLogStreamReader(
            self._path(),
            schema,
            int(self.options.get("startingversion", 0)),
            str(self.options.get("ignorechanges", "false")).lower() == "true",
        )

    def _partition_by_opt(self) -> list[str] | None:
        raw = self.options.get("partitionby")
        if raw is None:
            return None
        return [c.strip() for c in str(raw).split(",") if c.strip()]

    def writer(self, schema: T.StructType, overwrite: bool):
        return TableLogBatchWriter(
            self._path(), schema, overwrite, self._partition_by_opt()
        )

    def streamWriter(self, schema: T.StructType, overwrite: bool):
        if overwrite:
            raise ValueError(
                "the tablelog stream sink supports append mode only"
            )
        return TableLogStreamWriter(
            self._path(),
            schema,
            self.options.get("txnapp"),
            self._partition_by_opt(),
        )


def register_tablelog_source(spark) -> None:
    """Idempotent ``spark.dataSource.register`` of the format. Also
    enables Python-source filter pushdown (off by default in 4.1) so
    pushFilters-driven file skipping actually participates in
    planning."""
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(TableLogDataSource)
