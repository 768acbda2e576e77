"""Minimal snapshot/manifest table format over the parquet event log.

Why this exists: the engine's write path emits many small parquet
files (streaming/groups.py mirrors the reference's 250 ms pull cadence,
natsio.rs:195-210), and round-7's in-place OPTIMIZE
(operators/compaction.py) demonstrated the structural limit of a
directory-is-the-table design — **file-source streaming readers
checkpoint file PATHS, so compacting a region a stream already
consumed makes the rewritten files look new and the stream re-delivers
those rows** (tests/test_compaction.py::
test_compaction_makes_live_file_stream_redeliver). At-least-once
consumers tolerate that; a production 100 TB log wants compaction
decoupled from read progress. The standard answer (Delta/Iceberg/Hudi)
is a transaction log; this module is the minimal, engine-portable form
of that idea:

- ``<table>/_tablelog/<version>.json`` — numbered manifests, each a
  list of ``add``/``remove`` file actions plus a ``data_change`` flag
  (False for layout-only rewrites, exactly Delta's semantics). Every
  ``checkpoint_interval``-th manifest also carries the FULL live file
  set, so state reconstruction replays a bounded suffix of the log —
  at a million files the read cost is one checkpoint manifest plus a
  few deltas, never the whole history.
- COMMIT = write the manifest to a hidden ``.tmp-*`` sibling, then
  rename to the next version number with a latest-version check
  (optimistic concurrency: a lost race raises ``CommitConflict`` and
  the caller re-derives against the new snapshot and retries). The
  check-and-rename is serialized through an atomic ``createNewFile``
  lock (atomic on HDFS and local FS both; stale locks from crashed
  committers are stolen after 60 s), so concurrent same-version
  committers cannot clobber each other even where rename(2)
  overwrites. A crash before the rename leaves only a hidden tmp
  (swept lazily); a crash after it IS a completed commit.
- READ = resolve the live file set AT A VERSION and scan exactly those
  files (``basePath`` keeps hive-style partition dirs working, so
  partition pruning survives). Data files are immutable and never
  deleted by commits, so a reader pinned to version N is isolated from
  concurrent appends AND from OPTIMIZE — no reader-visible swap window
  (the documented gap in operators/compaction.py's rename protocol).
- STREAM = ``spark.readStream.format("tablelog")``
  (sources/tablelog_source.py) keeps a SNAPSHOT VERSION (not file
  paths) as its offset in Spark's own checkpoint and delivers only
  ``add`` actions with ``data_change=True`` from versions it has not
  processed. Compaction commits its rewrite as ``remove(old)+add(new)``
  with ``data_change=False``, so a live tail skips it entirely — the
  exactly-once inversion of the round-7 hazard (tests assert zero
  re-delivery across a kill → optimize → restart).
- MANIFEST CORE = ``ManifestLog``, JVM-free over a ``LogStore``: head
  resolution, state at a version, ``version_at``, the data-change
  walk over a version range, and the commit. ``TableLog`` and the
  native source both run on it.
- OPTIMIZE = the small-file rewrite as ONE atomic commit; VACUUM
  deletes data files no retained snapshot references (age-guarded).
- DML = DELETE / UPDATE / MERGE / replaceWhere as copy-on-write
  rewrites of ONLY the files containing matches; CDF =
  ``read_changes`` derives row-level deltas from the commit log
  (survivors cancel under ``exceptAll``).
- DELETION VECTORS = ``delete_where(use_dv=True)`` marks matching
  rows in per-file position sidecars (``_dv/<commit>/__f=<key>/``)
  instead of rewriting — write cost ∝ deleted rows, measured 1411×
  less bytes written than copy-on-write for a 1%-spread delete
  (tools/tablelog_dv_probe.py, removed; last held by commit 0c581d3).
  Every read path applies dvs through ``_scan_entries`` (position
  anti-join on the scan's ``_metadata`` row index), OPTIMIZE
  physically purges them, VACUUM sweeps unreferenced generations,
  ``metadata_count`` subtracts cardinalities, and CDF diffs LOGICAL
  rows so a dv commit nets exactly the newly-marked deletes.
- METADATA-ONLY AGGREGATES = ``metadata_count`` / ``metadata_min_max``
  answer COUNT(*)/MIN/MAX from manifest stats alone when provable
  (file-level all/none/unknown classification; None = fall back to a
  scan, a non-None answer is always exact).
- TXN = idempotent-writer stamps (Delta's txnAppId/txnVersion):
  ``append(txn_app=, txn_version=)`` no-ops on a replayed stamp, which
  makes the foreachBatch sink (sources/io.write_stream) exactly-once
  across crash-replayed micro-batches.
- CONCURRENCY = every operation commits with the CAS pinned to the
  snapshot it derived from; a lost race is classified
  (``_commit_or_rebase``, Delta's ConflictChecker shape under
  WriteSerializable): commits disjoint from the files being replaced
  rebase for free (metadata retry only — no Spark job re-runs), while
  a concurrent rewrite of the same files raises
  ``ConcurrentModification`` and the DML loops RE-DERIVE against the
  new snapshot — never resurrecting deleted rows or duplicating
  survivors.
- RESTORE = roll back to an earlier version as one new data-change
  commit (diff of the two live sets; history preserved; bounded by the
  VACUUM retention window).
- CONSTRAINTS = ``add_constraint(name, sql)`` / ``drop_constraint``
  metadata commits (existing rows validated first); every row-adding
  write then enforces the CHECK set in one agg over only the written
  files and refuses violating writes (``ConstraintViolation``), with
  SQL semantics (NULL passes).

Reference parity: the log stores the same routed-event rows
(utils.rs:16-32 subjects; natsio.rs:131-147 publish fan-out) —
q_scan_events/q_replay_all row sets are unchanged when read through
the format (tests/test_tablelog.py::test_scan_parity_through_format).

Scale notes: manifests are driver-side metadata (KBs per commit; the
full set only every ``checkpoint_interval`` commits); data moves
through executor-side parquet jobs, except an append of a frame built
from driver data, whose rows are already on the driver (the emit
path: one ``toArrow()`` job, pyarrow files; see ``append``). Listing
never walks the data tree except in VACUUM (a maintenance job). The
single-writer assumption is per-COMMIT, not per-table: concurrent
appenders serialize through the version CAS and retry cheaply
(re-list + re-rename; the data files they staged are reused verbatim).
"""

from __future__ import annotations

import json
import math
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from aoseventstreamer_spark.logstore import (
    _LOCK_STALE_SECONDS,
    LOG_DIR,
    CommitConflict,
    HadoopLogStore,
    LogStore,
    PythonFSLogStore,
    checkpoint_name,
    checkpoint_versions,
    read_checkpoint,
    write_checkpoint,
)

DV_DIR = "_dv"  # deletion-vector sidecars: _dv/<commit>/[__f=<file>]/

# ---------- column mapping (metadata-only RENAME/DROP) ----------
#
# Delta's "name mode" column mapping, carried entirely in the stored
# schema's per-field metadata (the manifest format is unchanged —
# StructType JSON round-trips field metadata): each field records the
# PHYSICAL column name its data files use. On an upgraded table,
# RENAME COLUMN and DROP COLUMN become one metadata commit — the
# logical name changes, the physical name (and every data file, hive
# dir, and file stat) stays — instead of the table-scale rewrite
# tools/migration_cost_probe.py measures (~170 MiB/s/node: the first
# wall a schema-evolving 100 TB table hits). Readers scan files under
# physical names and alias to logical at the scan boundary
# (_scan_entries); writers rename logical→physical just before the
# parquet job; file stats are keyed by PHYSICAL name (stable across
# renames) and where= predicates translate at prune time. Columns
# added AFTER the upgrade get minted ``col-<uuid>`` physical names, so
# dropping a column and later re-adding its logical name can never
# resurrect the old bytes. Mapping covers TOP-LEVEL fields (renaming a
# nested struct field remains a rewrite). Upgrade is one-way, matching
# Delta.

COLUMN_MAPPING_KEY = "tablelog.columnMapping.physicalName"


def _phys_name(f: T.StructField) -> str:
    return (f.metadata or {}).get(COLUMN_MAPPING_KEY, f.name)


def _mapping_active(sch: T.StructType | None) -> bool:
    return sch is not None and any(
        COLUMN_MAPPING_KEY in (f.metadata or {}) for f in sch.fields
    )


def _physical_schema(sch: T.StructType) -> T.StructType:
    """The schema of the DATA FILES: field names replaced by their
    physical names (metadata dropped — files know nothing of it)."""
    return T.StructType(
        [
            T.StructField(_phys_name(f), f.dataType, f.nullable)
            for f in sch.fields
        ]
    )


def _phys_map(sch: T.StructType | None) -> dict[str, str]:
    if sch is None:
        return {}
    return {f.name: _phys_name(f) for f in sch.fields}


def _mint_physical() -> str:
    return f"col-{uuid.uuid4().hex[:16]}"


# CommitConflict is defined in logstore (the commit CAS lives there)
# and re-exported here for compatibility: tablelog callers catch the
# SAME class every LogStore implementation raises.


class ConcurrentModification(CommitConflict):
    """An intervening commit removed or re-wrote a file this operation
    read and is replacing (write-write conflict), or changed the
    table's constraint set. Rebasing blindly would resurrect deleted
    rows / duplicate survivors, so the operation must RE-DERIVE its
    rewrite against the new snapshot (the DML loops do; raw callers
    re-run). Subclasses CommitConflict so existing re-derive loops
    handle it."""


class ConstraintViolation(Exception):
    """Rows in a write violate a table CHECK constraint. ``violations``
    maps constraint name -> violating-row count; the staged files were
    deleted, the table is unchanged."""

    def __init__(self, msg: str, violations: dict[str, int]):
        super().__init__(msg)
        self.violations = dict(violations)


# ---------- file-level statistics (data skipping) ----------
#
# Delta/Iceberg's biggest scan win at scale is file skipping: each
# `add` action carries exact per-file min/max/null_count for a bounded
# set of leading atomic columns, and the reader drops files whose
# stats prove no row can match a conjunctive predicate — BEFORE any
# executor touches them. At 100 TB the manifest is KBs per commit and
# the pruning is a driver-side loop over metadata; the scan itself
# shrinks by the selectivity of the leading columns (measured by
# tools/tablelog_skipping_probe.py, removed; last held by commit
# 0c581d3). Stats here are EXACT (computed by a distributed agg over
# the just-written files, one job per commit),
# so unlike parquet footer stats there is no truncation caveat.

_STATS_ATOMIC = (
    T.ByteType, T.ShortType, T.IntegerType, T.LongType,
    T.FloatType, T.DoubleType, T.StringType, T.BooleanType,
    T.TimestampType, T.DateType,
)


def stats_columns_for(
    schema: T.StructType,
    stats_columns: list[str] | None = None,
    max_cols: int = 8,
    logical_to_phys: dict[str, str] | None = None,
) -> list[str]:
    """The columns a data file's stats cover, for every write path:
    an explicit ``stats_columns`` list (logical names, translated to
    the files' physical names through ``logical_to_phys`` on mapped
    tables) kept where ``schema`` has it, else the first ``max_cols``
    atomic columns of ``schema`` (the WRITTEN files' schema)."""
    if stats_columns is not None:
        m = logical_to_phys or {}
        have = set(schema.fieldNames())
        return [m.get(c, c) for c in stats_columns if m.get(c, c) in have]
    out = []
    for f in schema.fields:
        if isinstance(f.dataType, _STATS_ATOMIC):
            out.append(f.name)
        if len(out) >= max_cols:
            break
    return out


# Types the driver-local append hands to pyarrow: Spark reads the
# files pyarrow writes for these back as the same type (intervals,
# NullType, variants and UDTs stay on Spark's writer).
_ARROW_WRITABLE = (
    T.BooleanType, T.ByteType, T.ShortType, T.IntegerType, T.LongType,
    T.FloatType, T.DoubleType, T.DecimalType, T.StringType, T.BinaryType,
    T.DateType, T.TimestampType, T.TimestampNTZType,
)


def _arrow_writable(dt: T.DataType) -> bool:
    if isinstance(dt, T.ArrayType):
        return _arrow_writable(dt.elementType)
    if isinstance(dt, T.MapType):
        return _arrow_writable(dt.keyType) and _arrow_writable(dt.valueType)
    if isinstance(dt, T.StructType):
        return bool(dt.fields) and all(
            _arrow_writable(f.dataType) for f in dt.fields
        )
    return isinstance(dt, _ARROW_WRITABLE)


def _stat_encode(v):
    """JSON-encode one min/max scalar; None = no usable bound
    (conservative). Timestamps→µs, dates→ordinal days so the stored
    form and the prune-time literal normalize identically."""
    import datetime
    import math as _m

    if v is None or isinstance(v, (bool, int, str)):
        return v
    if isinstance(v, float):
        return None if (_m.isnan(v) or _m.isinf(v)) else v
    if isinstance(v, datetime.datetime):
        return int(v.timestamp() * 1_000_000)
    if isinstance(v, datetime.date):
        return v.toordinal()
    return None


def _norm_literal(dtype, v):
    """Normalize a prune-time literal the same way `_stat_encode`
    normalized the stored bound. Returns None when the literal cannot
    be compared against stored stats (→ file survives)."""
    import datetime

    if v is None:
        return None
    if isinstance(dtype, T.TimestampType):
        if isinstance(v, datetime.datetime):
            return int(v.timestamp() * 1_000_000)
        return None
    if isinstance(dtype, T.DateType):
        if isinstance(v, datetime.datetime):
            return v.date().toordinal()
        if isinstance(v, datetime.date):
            return v.toordinal()
        return None
    if isinstance(v, (bool, int, float, str)):
        return v
    return None


def _file_survives(stats: dict | None, col: str, op: str, lit) -> bool:
    """Can ANY row in a file with these stats match `col op lit`?
    Missing/partial stats → True (never prune on ignorance)."""
    if not stats:
        return True
    mins, maxs = stats.get("min", {}), stats.get("max", {})
    nulls, nrows = stats.get("null_count", {}), stats.get("num_rows")
    if nrows == 0:
        return False  # a zero-row file has no matching row
    nc = nulls.get(col)
    if op == "isnull":
        return True if nc is None else nc > 0
    if op == "notnull":
        if nc is None or nrows is None:
            return True
        return nc < nrows
    # value-matching ops: an all-null file has no matchable row
    if nc is not None and nrows is not None and nc == nrows:
        return False
    mn, mx = mins.get(col), maxs.get(col)
    if op == "startswith":
        if not isinstance(lit, str):
            return True
        lo = True if mn is None or not isinstance(mn, str) else mn[: len(lit)] <= lit
        hi = True if mx is None or not isinstance(mx, str) else mx >= lit
        return lo and hi
    if op == "!=":
        # no row can match only when EVERY row equals the literal
        # (constant file, no nulls — null rows don't match != either
        # but they also can't make the file prunable, since a non-null
        # differing row may still exist unless mn==mx pins them all)
        if (
            mn is not None
            and mx is not None
            and _comparable(mn, lit)
            and mn == mx == lit
            and nc == 0
        ):
            return False
        return True
    vals = list(lit) if op == "in" else [lit]
    for v in vals:
        if v is None:
            continue  # NULL literal matches nothing; try the others
        lo_ok = mn is None or not _comparable(mn, v) or _cmp_ge(v, mn, op)
        hi_ok = mx is None or not _comparable(mx, v) or _cmp_le(v, mx, op)
        if lo_ok and hi_ok:
            return True
    return False


def _comparable(a, b) -> bool:
    num = (int, float)
    if isinstance(a, bool) != isinstance(b, bool):
        return False
    if isinstance(a, num) and isinstance(b, num):
        return True
    return type(a) is type(b)


def _cmp_ge(v, mn, op) -> bool:
    """Lower-bound check: could some row >= mn satisfy `row op v`?"""
    if op in ("=", "in", ">", ">="):
        return True if op in (">", ">=") else v >= mn
    if op == "<":
        return v > mn
    if op == "<=":
        return v >= mn
    return True


def _cmp_le(v, mx, op) -> bool:
    """Upper-bound check: could some row <= mx satisfy `row op v`?"""
    if op in ("=", "in", "<", "<="):
        return True if op in ("<", "<=") else v <= mx
    if op == ">":
        return v < mx
    if op == ">=":
        return v <= mx
    return True


def _file_all_match(stats: dict | None, col: str, op: str, lit) -> bool:
    """Does EVERY row in a file with these stats provably match
    ``col op lit``? The dual of ``_file_survives``: False on any
    ignorance, so the caller falls back to a scan rather than
    answering wrong. Powers metadata-only aggregation."""
    if not stats:
        return False
    mins, maxs = stats.get("min", {}), stats.get("max", {})
    nulls, nrows = stats.get("null_count", {}), stats.get("num_rows")
    nc = nulls.get(col)
    if nrows is None:
        return False
    if nrows == 0:
        return True  # vacuously: every row of a zero-row file matches
    if op == "isnull":
        return nc is not None and nc == nrows
    if op == "notnull":
        return nc == 0
    if nc != 0:
        return False  # a NULL row matches no value predicate
    mn, mx = mins.get(col), maxs.get(col)
    if mn is None or mx is None:
        return False
    if op == "startswith":
        if not (
            isinstance(lit, str)
            and isinstance(mn, str)
            and isinstance(mx, str)
        ):
            return False
        # both bounds carry the prefix → every value between them does
        return mn.startswith(lit) and mx.startswith(lit)
    if op == "in":
        return (
            mn == mx
            and _comparable(mn, mn)
            and any(_comparable(mn, v) and mn == v for v in lit)
        )
    if not (_comparable(mn, lit) and _comparable(mx, lit)):
        return False
    return {
        "=": mn == lit and mx == lit,
        "!=": mx < lit or mn > lit,
        "<": mx < lit,
        "<=": mx <= lit,
        ">": mn > lit,
        ">=": mn >= lit,
    }[op]


_WHERE_OPS = {"=", "!=", "<", "<=", ">", ">=", "in", "startswith", "isnull", "notnull"}

_ZORDER_BITS = 8


def _with_zvalue(df: DataFrame, cols: list[str], zcol: str) -> DataFrame:
    """Append an interleaved-bits Z-value column for up to 4 numeric/
    timestamp/date columns. Each column is quantile-bucketed to
    ``_ZORDER_BITS`` bits with a DISTRIBUTED approxQuantile (never a
    global window — rank-based z-ordering funnels the whole table into
    one task), then the buckets' bits are interleaved JVM-side
    (shift/and/or column expressions, codegen-friendly). Strings have
    no meaningful quantile form here — use optimize(cluster_by=...)
    for them."""
    from pyspark.sql import functions as F

    if not 1 <= len(cols) <= 4:
        raise ValueError("zorder_by takes 1-4 columns")
    fields = {f.name: f.dataType for f in df.schema.fields}
    casted = []
    for c in cols:
        dt = fields.get(c)
        if dt is None:
            raise ValueError(f"zorder column {c!r} not in {sorted(fields)}")
        if isinstance(dt, (T.TimestampType, T.DateType)):
            casted.append(F.col(c).cast("long").cast("double"))
        elif isinstance(dt, T.NumericType):
            casted.append(F.col(c).cast("double"))
        else:
            raise ValueError(
                f"zorder_by needs numeric/timestamp/date columns; {c!r} is "
                f"{dt.simpleString()} — use cluster_by for strings"
            )
    tmp_names = [f"__zq_{i}" for i in range(len(cols))]
    probe = df.select(*[e.alias(n) for e, n in zip(casted, tmp_names)])
    n_buckets = 1 << _ZORDER_BITS
    probs = [i / n_buckets for i in range(1, n_buckets)]
    all_cuts = probe.approxQuantile(tmp_names, probs, 0.01)
    z = F.lit(0)
    for j, (expr, cuts) in enumerate(zip(casted, all_cuts)):
        cuts = sorted(set(cuts))
        if not cuts:  # all-null column: everything buckets to 0
            continue
        bucket = F.size(
            F.filter(F.lit(cuts), lambda cut: cut <= expr)  # noqa: B023
        )
        for i in range(_ZORDER_BITS):
            bit = F.shiftright(bucket, i).bitwiseAND(F.lit(1))
            z = z.bitwiseOR(F.shiftleft(bit, i * len(cols) + j))
    return df.withColumn(zcol, z)


def _is_or_group(clause) -> bool:
    """A conjunct is either one ``(col, op[, value])`` clause or a
    non-empty LIST of such clauses meaning their DISJUNCTION (OR) —
    the where grammar is a conjunction of these groups (CNF)."""
    return (
        isinstance(clause, list)
        and bool(clause)
        and all(isinstance(b, (tuple, list)) and len(b) >= 2 for b in clause)
        and not isinstance(clause[0], str)
    )


def _branch_to_column(clause) -> "F.Column":
    from pyspark.sql import functions as F

    col, op = clause[0], clause[1]
    lit = clause[2] if len(clause) > 2 else None
    if op not in _WHERE_OPS:
        raise ValueError(
            f"unsupported where op {op!r}; use {sorted(_WHERE_OPS)}"
        )
    c = F.col(col)
    if op == "isnull":
        return c.isNull()
    if op == "notnull":
        return c.isNotNull()
    if op == "in":
        return c.isin(list(lit))
    if op == "startswith":
        return c.startswith(lit)
    return {"=": c == lit, "!=": c != lit, "<": c < lit,
            "<=": c <= lit, ">": c > lit, ">=": c >= lit}[op]


def _where_to_column(schema: T.StructType, where: list) -> "F.Column":
    from pyspark.sql import functions as F

    cond = F.lit(True)
    for clause in where:
        if _is_or_group(clause):
            group = _branch_to_column(clause[0])
            for b in clause[1:]:
                group = group | _branch_to_column(b)
            cond = cond & group
        else:
            cond = cond & _branch_to_column(clause)
    return cond


def replay_from(
    versions: list[int], read_manifest, version: int
) -> tuple[dict[str, dict], dict | None, dict[str, int], dict[str, str]]:
    """Pure replay (``resolve_state``'s path on JSON-checkpoint
    tables, and its fallback): walk BACKWARD only
    until a checkpoint manifest (one carrying ``full``), then fold the
    bounded suffix forward. Returns ({rel_path -> entry}, schema doc,
    {txn app_id -> last committed txn version},
    {constraint name -> CHECK sql}). ``read_manifest`` is any
    version→dict callable."""
    vs = [v for v in versions if v <= version]
    if not vs:
        return {}, None, {}, {}
    suffix: list[dict] = []
    for i in range(len(vs) - 1, -1, -1):
        m = read_manifest(vs[i])
        suffix.append(m)
        if m.get("full") is not None:
            break
    suffix.reverse()
    schema_doc = None
    constraints: dict[str, str] = {}
    for m in suffix:
        if m.get("schema") is not None:
            schema_doc = m["schema"]  # newest wins
        if m.get("constraints") is not None:
            # full map stored on every change (and re-embedded by
            # checkpoints), so newest-wins replay mirrors the schema
            constraints = dict(m["constraints"])
    base: dict[str, dict] = {}
    start = 0
    # checkpoint manifests re-embed the accumulated txn map (like the
    # schema), so idempotent-writer state survives the bounded walk
    txns: dict[str, int] = dict(suffix[0].get("txns") or {})
    if suffix[0].get("full") is not None:
        # the checkpoint's own actions are already folded into full
        base = {e["path"]: e for e in suffix[0]["full"]}
        start = 1
    for m in suffix[start:]:
        if m.get("txn"):
            app, tv = m["txn"]
            txns[app] = max(int(tv), txns.get(app, -(10**18)))
        for a in m["actions"]:
            if a["op"] == "add":
                base[a["path"]] = {
                    "path": a["path"],
                    "size": a.get("size", 0),
                    "data_change": a.get("data_change", True),
                    **({"stats": a["stats"]} if a.get("stats") else {}),
                    **({"dv": a["dv"]} if a.get("dv") else {}),
                }
            else:
                base.pop(a["path"], None)
    return base, schema_doc, txns, constraints


def replay_seeded(
    versions: list[int],
    read_manifest,
    version: int,
    seed_version: int,
    seed: tuple,
) -> tuple[dict[str, dict], dict | None, dict[str, int], dict[str, str]]:
    """Fold the JSON manifests in ``(seed_version, version]`` onto a
    checkpoint-seeded state. Correct regardless of ``full`` embeds in
    the range (a checkpoint manifest's own actions are included in its
    ``full``, so folding just the actions onto the correct prior state
    yields the same result — the embed is a shortcut for UNseeded
    walks, not extra state)."""
    files, schema_doc, txns, constraints = seed
    files = {k: dict(v) for k, v in files.items()}
    txns = dict(txns)
    constraints = dict(constraints)
    for v in versions:
        if not (seed_version < v <= version):
            continue
        m = read_manifest(v)
        if m.get("schema") is not None:
            schema_doc = m["schema"]
        if m.get("constraints") is not None:
            constraints = dict(m["constraints"])
        if m.get("txn"):
            app, tv = m["txn"]
            txns[app] = max(int(tv), txns.get(app, -(10**18)))
        for a in m["actions"]:
            if a["op"] == "add":
                files[a["path"]] = {
                    "path": a["path"],
                    "size": a.get("size", 0),
                    "data_change": a.get("data_change", True),
                    **({"stats": a["stats"]} if a.get("stats") else {}),
                    **({"dv": a["dv"]} if a.get("dv") else {}),
                }
            else:
                files.pop(a["path"], None)
    return files, schema_doc, txns, constraints


def resolve_state(
    log: LogStore, version: int, versions: list[int] | None = None
) -> tuple[dict[str, dict], dict | None, dict[str, int], dict[str, str]]:
    """``replay_from`` generalized over a LogStore: seed from the
    newest readable PARQUET checkpoint sidecar at or below ``version``
    (pointer first — one aux read; the sidecar listing only as a
    fallback for time travel below the pointer), then fold the JSON
    tail. Tables with only JSON ``full`` checkpoints take the
    classic backward walk. JVM-free; ``ManifestLog.state`` calls it
    for ``TableLog`` and the native data source alike."""
    vs = versions if versions is not None else log.fast_versions()
    ptr = log.read_pointer()
    if ptr is None or ptr.get("format") != "parquet":
        # JSON-checkpoint table (or no checkpoint yet): the classic
        # backward walk; no sidecar listing on this path
        return replay_from(vs, log.read, version)
    def candidates():
        first = None
        if ptr["version"] <= version:
            first = int(ptr["version"])
            yield first
        # time travel below the pointer, or a torn pointer sidecar:
        # fall back to the aux listing (bounded — old sidecars are
        # retired on checkpoint write). Lazy: the happy path costs
        # one pointer read, never a listing.
        for c in reversed([c for c in checkpoint_versions(log) if c <= version]):
            if c != first:
                yield c

    for c in candidates():
        seed = read_checkpoint(log, c)
        if seed is None:
            continue  # torn/missing sidecar: try an older checkpoint
        if vs and vs[0] > c + 1 and version > c:
            # the fast list starts above the seed; the fold needs
            # every manifest in (c, version]
            vs = log.versions()
        return replay_seeded(vs, log.read, version, c, seed)
    # no readable sidecar at all (every checkpoint torn/expired): the
    # fast list may START at the pointer, whose manifest carries no
    # full embed in parquet mode — the unseeded walk needs the whole
    # retained log
    full_vs = [v for v in log.versions() if v <= version]
    if full_vs and full_vs[0] > 1:
        # expire_manifests dropped history below full_vs[0]; in
        # parquet mode the retained JSON manifests carry no 'full'
        # embed, so an unseeded fold would SILENTLY start from an
        # empty base and return a wrong, near-empty live set (r9
        # ADVICE). Refuse loudly unless some retained manifest is a
        # replayable anchor — mirror the 'predates the retained log'
        # refusal.
        if not any(
            log.read(v).get("full") is not None for v in reversed(full_vs)
        ):
            raise ValueError(
                f"no replayable checkpoint anchor for version {version}: "
                f"every parquet checkpoint sidecar is unreadable and the "
                f"retained manifests (oldest {full_vs[0]}) carry no "
                "'full' embed — replay would silently yield a wrong "
                "(near-empty) table"
            )
    return replay_from(full_vs, log.read, version)


def build_commit_doc(
    version: int,
    *,
    added: list[dict] | None,
    removed: list | None,
    data_change: bool,
    schema_json: dict | None,
    txn: tuple[str, int] | None,
    operation: str | None,
    op_metrics: dict | None,
    constraints: dict[str, str] | None,
    checkpoint_state: tuple | None,
) -> dict:
    """Pure manifest-document builder of ``ManifestLog.commit`` (the
    one commit path of ``TableLog`` and the native writer) — ONE
    place defines the action
    ordering (removes before adds: a deletion-vector commit re-adds
    the same path), the checkpoint embedding (full live set + schema +
    txns + constraints so backward replay stops there), and the field
    shapes. ``checkpoint_state`` is the ``replay_from`` 4-tuple at the
    BASE version when this commit lands on a checkpoint boundary, else
    None."""
    actions = [
        # a remove may carry the removed entry's deletion vector
        # (dict form) so CDF can diff the PRE-commit logical rows
        {
            "op": "remove",
            "path": p["path"] if isinstance(p, dict) else p,
            "data_change": bool(data_change),
            **(
                {"dv": p["dv"]}
                if isinstance(p, dict) and p.get("dv")
                else {}
            ),
        }
        for p in (removed or [])
    ] + [
        {
            "op": "add",
            "path": e["path"],
            "size": int(e.get("size", 0)),
            "data_change": bool(data_change),
            **({"stats": e["stats"]} if e.get("stats") else {}),
            **({"dv": e["dv"]} if e.get("dv") else {}),
        }
        for e in (added or [])
    ]
    doc = {
        "version": version,
        "timestamp_ms": int(time.time() * 1000),
        "actions": actions,
        "schema": schema_json,
    }
    if txn is not None:
        doc["txn"] = [str(txn[0]), int(txn[1])]
    if operation is not None:
        doc["operation"] = str(operation)
    if op_metrics:
        doc["op_metrics"] = {k: int(v) for k, v in op_metrics.items()}
    if constraints is not None:
        # FULL map on every change ({} = all dropped), so replay's
        # newest-wins rule needs no per-constraint delta handling
        doc["constraints"] = {
            str(k): str(v) for k, v in constraints.items()
        }
    if checkpoint_state is not None:
        live, prior_schema, prior_txns, prior_cons = checkpoint_state
        live = dict(live)
        for a in actions:
            if a["op"] == "add":
                live[a["path"]] = {
                    "path": a["path"],
                    "size": a["size"],
                    "data_change": a["data_change"],
                    **({"stats": a["stats"]} if a.get("stats") else {}),
                    **({"dv": a["dv"]} if a.get("dv") else {}),
                }
            else:
                live.pop(a["path"], None)
        doc["full"] = sorted(live.values(), key=lambda e: e["path"])
        if doc["schema"] is None:
            # re-embed so backward replay stops here for schema too
            doc["schema"] = prior_schema
        if constraints is None and prior_cons:
            # re-embed constraints the same way (absent key would
            # make replay see an empty map past this checkpoint)
            doc["constraints"] = prior_cons
        # re-embed accumulated txns (incl. this commit's own stamp)
        # so last_txn_version's walk stops here as well
        merged = dict(prior_txns)
        if txn is not None:
            app, tv = str(txn[0]), int(txn[1])
            merged[app] = max(tv, merged.get(app, -(10**18)))
        if merged:
            doc["txns"] = merged
    return doc


class ManifestLog:
    """The manifest log of one table over a ``LogStore``, with no JVM:
    head resolution, the state at a version, timestamp search, the
    data-change walk over a version range, and the commit. ``TableLog``
    and the native ``format("tablelog")`` source
    (sources/tablelog_source.py) both run on it, so the two paths share
    one implementation of each."""

    def __init__(
        self,
        log: LogStore,
        checkpoint_interval: int = 10,
        checkpoint_format: str = "json",
    ):
        if checkpoint_format not in ("json", "parquet"):
            raise ValueError(
                f"checkpoint_format must be 'json' or 'parquet', got "
                f"{checkpoint_format!r}"
            )
        self.log = log
        self.checkpoint_interval = checkpoint_interval
        # 'json' embeds the full live set in every Nth manifest (the
        # original format — fine to ~10^4 commits / 10^4 files);
        # 'parquet' writes Delta-style sidecar checkpoints + the
        # _last_checkpoint pointer instead, keeping manifests O(delta)
        # and version resolution O(tail) at 10^5-10^6 commits
        # (measured: tools/tablelog_logscale_probe.py)
        self.checkpoint_format = checkpoint_format

    def latest(self) -> int:
        """Head version, 0 = empty table. One pointer read + O(tail)
        existence probes once a checkpoint pointer exists; a full
        listing before that."""
        vs = self.log.fast_versions()
        return vs[-1] if vs else 0

    def _versions(self, lo: int | None, hi: int | None) -> list[int]:
        """Version list for a read of ``lo..hi``: the pointer-seeded
        list, re-listed in full only when ``lo`` lies below it (time
        travel). ``hi`` past the head and ``lo`` below the retained log
        (expire_manifests gave up that history) are refused, naming the
        bound: a past-head read would silently return the head, an
        expired one an empty or partial table."""
        vs = self.log.fast_versions()
        head = vs[-1] if vs else 0
        if hi is not None and hi > head:
            raise ValueError(
                f"version {hi} is past the head of the log (latest "
                f"version is {head})"
            )
        if lo is not None and vs and 0 < lo < vs[0]:
            vs = self.log.versions()
            if vs and 0 < lo < vs[0]:
                raise ValueError(
                    f"version {lo} predates the retained log (oldest "
                    f"manifest is {vs[0]}; expire_manifests removed "
                    "older history)"
                )
        return vs

    def state(
        self, version: int | None = None
    ) -> tuple[dict[str, dict], dict | None, dict[str, int], dict[str, str]]:
        """Live file set {rel_path -> entry} at ``version`` (None = the
        head) plus the stored schema doc, the idempotent-writer txn map
        and the constraint map, via ``resolve_state``."""
        vs = self._versions(version, version)
        if version is None:
            version = vs[-1] if vs else 0
        return resolve_state(self.log, version, vs)

    def version_at(self, timestamp_ms: int) -> int:
        """Newest version committed at or before ``timestamp_ms``, 0 if
        none (commit timestamps are monotone under the commit CAS).
        Binary search over the version list: O(log N) manifest reads."""
        vs = self.log.versions()
        lo, hi, best = 0, len(vs) - 1, 0
        while lo <= hi:
            mid = (lo + hi) // 2
            if self.log.read(vs[mid]).get("timestamp_ms", 0) <= timestamp_ms:
                best = vs[mid]
                lo = mid + 1
            else:
                hi = mid - 1
        return best

    def changes(
        self, start: int, end: int
    ) -> list[tuple[int, list[dict], list[dict]]]:
        """``(version, adds, removes)`` of every commit in ``(start,
        end]`` with data-change actions; entries are the path plus the
        deletion vector, if any. Reads only the manifests in the range;
        layout-only commits (OPTIMIZE, ``data_change=False``) are
        skipped."""
        out = []
        for v in self._versions(start + 1, end):
            if not start < v <= end:
                continue
            adds: list[dict] = []
            removes: list[dict] = []
            for a in self.log.read(v)["actions"]:
                if a.get("data_change", True):
                    (adds if a["op"] == "add" else removes).append(
                        {"path": a["path"], **({"dv": a["dv"]} if a.get("dv") else {})}
                    )
            if adds or removes:
                out.append((v, adds, removes))
        return out

    def commit(
        self,
        *,
        expected_version: int,
        added: list[dict] | None = None,
        removed: list | None = None,
        data_change: bool = True,
        schema_json: dict | None = None,
        txn: tuple[str, int] | None = None,
        operation: str | None = None,
        op_metrics: dict | None = None,
        constraints: dict[str, str] | None = None,
        base_state: tuple | None = None,
    ) -> int:
        """Publish manifest ``expected_version + 1`` through the store's
        CAS (a lost race raises CommitConflict) and return it. On a
        checkpoint boundary, JSON mode embeds the full state in the
        manifest and advances the pointer; parquet mode writes the
        sidecar. ``base_state`` is the state at ``expected_version``
        when the caller already holds it (no replay then).

        Checkpoint bookkeeping is POST-commit and best-effort: a crash
        there only means replay walks to the previous checkpoint. Old
        sidecars are retired by expire_manifests together with the
        manifests they anchor (retiring them here would starve expire
        of an anchor at its cutoff)."""
        version = expected_version + 1
        on_boundary = version % self.checkpoint_interval == 0
        json_mode = self.checkpoint_format == "json"
        doc = build_commit_doc(
            version,
            added=added,
            removed=removed,
            data_change=data_change,
            schema_json=schema_json,
            txn=txn,
            operation=operation,
            op_metrics=op_metrics,
            constraints=constraints,
            checkpoint_state=(
                (base_state or self.state(expected_version))
                if on_boundary and json_mode
                else None
            ),
        )
        self.log.write_atomic(version, doc)
        if on_boundary:
            try:
                if json_mode:
                    self.log.write_pointer(version, {"format": "json"})
                else:
                    write_checkpoint(
                        self.log,
                        version,
                        *(
                            replay_seeded(
                                [version], lambda _v: doc, version,
                                expected_version, base_state,
                            )
                            if base_state is not None
                            else self.state(version)
                        ),
                    )
            except Exception:
                pass  # derived state; the committed manifest stands
        return version


def _fs(spark: SparkSession, path: str):
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(spark._jsc.hadoopConfiguration()), jpath, jvm


class TableLog:
    """Transaction log over one table directory. Stateless: every
    operation re-resolves the latest version from the log listing."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        checkpoint_interval: int = 10,
        stats_columns: list[str] | None = None,
        max_stats_columns: int = 8,
        log_store: LogStore | None = None,
        checkpoint_format: str = "json",
    ):
        self.spark = spark
        self.path = path.rstrip("/")
        # data-skipping stats: explicit column list, or (default) the
        # first `max_stats_columns` atomic columns of the written frame
        # — Delta's "first 32" convention, tightened because stats are
        # driver metadata replicated into every checkpoint manifest
        self.stats_columns = stats_columns
        self.max_stats_columns = max_stats_columns
        self._fs, self._root, self._jvm = _fs(spark, self.path)
        self._Path = self._jvm.org.apache.hadoop.fs.Path
        # the JVM's absolute path of a ``file:`` table (a relative
        # table path must name the same directory for the JVM and for
        # Python I/O); None on every other scheme
        self._local_root = (
            self._fs.makeQualified(self._root).toUri().getPath()
            if self._fs.getUri().getScheme() == "file"
            else None
        )
        # ``log_store`` swaps the COMMIT protocol, not the data I/O.
        # Default: PythonFSLogStore on ``file:`` tables (the same
        # O_EXCL-lock + rename CAS and manifest bytes as the JVM store,
        # without a py4j round trip per log call), HadoopLogStore on
        # every other Hadoop scheme (HDFS rename-CAS). Pass
        # ObjectStoreLogStore for S3-class conditional PUT — data files
        # are invisible until a manifest names them, so they need no
        # atomic namespace ops on any store (see logstore module doc).
        if log_store is None:
            if self._local_root is not None:
                log_store = PythonFSLogStore(self._local_root)
            else:
                log_store = HadoopLogStore(spark, self.path)
        self._log: LogStore = log_store
        self._core = ManifestLog(log_store, checkpoint_interval, checkpoint_format)
        # version THIS instance committed last: an optimistic CAS base
        # for the next bare commit (None = resolve from the log). A
        # stale value only costs one CommitConflict + re-resolve; it
        # can never be ahead of the true head.
        self._head_cache: int | None = None

    # ---------- log primitives (delegated to the LogStore) ----------

    def _list_versions(self) -> list[int]:
        """FULL manifest listing — maintenance paths only (history,
        expire, vacuum). Hot paths use the pointer-seeded
        ``fast_versions`` via latest_version/_replay."""
        return self._log.versions()

    def latest_version(self) -> int:
        """0 = empty table (no commits); see ``ManifestLog.latest``."""
        return self._core.latest()

    def _read_manifest(self, version: int) -> dict:
        return self._log.read(version)

    # ---------- state reconstruction ----------

    def _replay(
        self, version: int | None
    ) -> tuple[dict[str, dict], dict | None, dict[str, int], dict[str, str]]:
        """Live file set {rel_path -> entry} at ``version`` (None = the
        head) plus the stored schema doc, the idempotent-writer txn
        map, and the constraint map (``ManifestLog.state``: bounded
        replay from the newest checkpoint; a version past the head or
        below the retained log is refused)."""
        return self._core.state(version)

    def snapshot_files(self, version: int | None = None) -> list[dict]:
        files, _, _, _ = self._replay(version)
        return sorted(files.values(), key=lambda e: e["path"])

    def schema(self, version: int | None = None) -> T.StructType | None:
        _, doc, _, _ = self._replay(version)
        return T.StructType.fromJson(doc) if doc else None

    def constraints(self, version: int | None = None) -> dict[str, str]:
        """The table's CHECK constraints {name -> sql expression} at a
        version (latest by default). Enforced on every row-adding
        write path (append / UPDATE / MERGE / overwrite / replaceWhere)
        with standard SQL CHECK semantics: a row fails only when the
        expression is FALSE — NULL (unknown) passes. NOT NULL is the
        special case ``col IS NOT NULL``."""
        _, _, _, cons = self._replay(version)
        return cons

    # ---------- column mapping ----------

    def column_mapping_active(self, version: int | None = None) -> bool:
        """True when this table has been upgraded to column mapping
        (``enable_column_mapping``): RENAME/DROP COLUMN are
        metadata-only, files/stats/hive dirs use physical names."""
        return _mapping_active(self.schema(version))

    def enable_column_mapping(self) -> int:
        """One-way upgrade to column mapping: stamp every field's
        CURRENT name as its physical name (existing data files and
        hive dirs therefore stay valid byte-for-byte) in one
        metadata-only commit. After this, ``rename_column`` /
        ``drop_column`` are O(manifest) instead of O(table), and
        columns added later get minted ``col-<uuid>`` physical names.
        Idempotent (returns the current version when already active).
        Caveats, enforced with loud errors where they bite: the
        native Arrow WRITER does not translate physical names and
        refuses mapped tables (the batch/streaming/CDF SOURCE does
        translate — mapped tables stream fine; write them through
        ``append``/``overwrite``); nested fields are not mapped
        (renaming one remains a rewrite)."""
        sch = self.schema()
        if sch is None:
            raise ValueError(
                f"table {self.path} has no commits; column mapping is "
                "enabled on an existing table (the first write fixes "
                "the physical names)"
            )
        if _mapping_active(sch):
            return self.latest_version()
        stamped = T.StructType(
            [
                T.StructField(
                    f.name,
                    f.dataType,
                    f.nullable,
                    {**(f.metadata or {}), COLUMN_MAPPING_KEY: f.name},
                )
                for f in sch.fields
            ]
        )
        return self.commit(
            added=[], removed=[], data_change=False, schema=stamped,
            operation="ENABLE COLUMN MAPPING",
        )

    def _attach_mapping(
        self,
        schema: T.StructType,
        stored: T.StructType,
        mint_cache: dict[str, str],
    ) -> T.StructType:
        """``schema`` (a write's logical schema) with physical names
        attached: carried over from ``stored`` by logical name, else
        from the field's own metadata, else MINTED (``mint_cache``
        keeps mints stable across commit-retry re-derivations — the
        data files were written once, under the first mint)."""
        by_name = {f.name: f for f in stored.fields}
        out = []
        for f in schema.fields:
            md = dict(f.metadata or {})
            if COLUMN_MAPPING_KEY not in md:
                prior = by_name.get(f.name)
                if prior is not None and COLUMN_MAPPING_KEY in (
                    prior.metadata or {}
                ):
                    md[COLUMN_MAPPING_KEY] = prior.metadata[
                        COLUMN_MAPPING_KEY
                    ]
                else:
                    if f.name not in mint_cache:
                        mint_cache[f.name] = _mint_physical()
                    md[COLUMN_MAPPING_KEY] = mint_cache[f.name]
            out.append(T.StructField(f.name, f.dataType, f.nullable, md))
        return T.StructType(out)

    def _logical_pcols(
        self, rel_paths: list[str], sch: T.StructType | None = None
    ) -> list[str]:
        """Hive partition columns of ``rel_paths`` as LOGICAL names
        (dir segments carry physical names on mapped tables). ``sch``
        is the stored schema when the caller already resolved it."""
        phys = self._partition_cols(rel_paths)
        if sch is None:
            sch = self.schema()
        if not _mapping_active(sch):
            return phys
        inv = {p: l for l, p in _phys_map(sch).items()}
        return [inv.get(c, c) for c in phys]

    def last_txn_version(self, app_id: str, version: int | None = None) -> int:
        """Latest transaction version committed by idempotent writer
        ``app_id`` (-1 if it never committed) — Delta's ``txnVersion``
        contract: a writer that stamps monotone versions can replay a
        batch safely because the already-committed stamp makes the
        retry a no-op (see ``append(txn_app=...)``)."""
        _, _, txns, _ = self._replay(version)
        return int(txns.get(app_id, -1))

    # ---------- commit ----------

    def commit(
        self,
        added: list[dict] | None = None,
        removed: list[str] | None = None,
        data_change: bool = True,
        schema: T.StructType | None = None,
        expected_version: int | None = None,
        txn: tuple[str, int] | None = None,
        operation: str | None = None,
        op_metrics: dict | None = None,
        constraints: dict[str, str] | None = None,
        _base_state: tuple | None = None,
    ) -> int:
        """Commit one snapshot; returns the new version. ``added``
        entries are {'path': rel, 'size': int}; ``removed`` is rel
        paths. ``expected_version`` asserts the CAS precondition
        explicitly (defaults to the latest observed now). ``txn``
        stamps this commit with an idempotent-writer
        ``(app_id, txn_version)`` pair recorded in the manifest (and
        folded into every checkpoint manifest's ``txns`` map).
        ``operation``/``op_metrics`` label the commit for ``history()``
        (Delta's DESCRIBE HISTORY operation + operationMetrics).

        Head resolution: with ``expected_version=None`` the base is
        the version THIS instance last committed when known (the CAS
        makes a stale guess safe — losing it re-resolves the real
        head and retries), else one resolution round-trip. On an
        object store that skips the pointer GET + HEAD + LIST every
        sequential commit paid (r10: 5.82 → ~2.8 requests/commit);
        an explicit ``expected_version`` still raises on loss — that
        is the serializability contract _commit_or_rebase builds on.

        ``_base_state`` is the resolved state at ``expected_version``
        when the caller already holds it (``append``): a commit on a
        checkpoint boundary then builds the checkpoint from it instead
        of replaying the log again."""
        if expected_version is None:
            _base_state = None
        attempts = 0
        while True:
            base = (
                expected_version
                if expected_version is not None
                else (
                    self._head_cache
                    if self._head_cache is not None
                    else self.latest_version()
                )
            )
            try:
                version = self._core.commit(
                    expected_version=base,
                    added=added,
                    removed=removed,
                    data_change=data_change,
                    schema_json=schema.jsonValue() if schema is not None else None,
                    txn=txn,
                    operation=operation,
                    op_metrics=op_metrics,
                    constraints=constraints,
                    base_state=_base_state,
                )
                break
            except CommitConflict:
                # a stale optimistic base is OUR bookkeeping, not a
                # caller-visible race: drop the cache and re-resolve.
                # Explicit expected_version keeps raising (the caller
                # pinned the snapshot deliberately).
                self._head_cache = None
                attempts += 1
                if expected_version is not None or attempts > 20:
                    raise
        self._head_cache = version
        return version

    def _commit_or_rebase(
        self,
        base: int,
        added: list[dict] | None = None,
        removed: list[str] | None = None,
        **kw,
    ) -> int:
        """Commit with the CAS pinned to the snapshot the operation
        DERIVED FROM (``expected_version=base``), then classify a lost
        race the way Delta's ConflictChecker does under
        WriteSerializable:

        - every intervening commit is DISJOINT from our ``removed``
          set (blind appends, DML on other files) → REBASE: advance
          the CAS and re-try the metadata commit only; the staged data
          files are reused verbatim and serializing our operation
          FIRST yields exactly the committed outcome, so no Spark job
          re-runs;
        - an intervening commit touched a file we read-and-are-
          replacing, or changed the constraint set our write was
          validated under → ``ConcurrentModification``: the rewrite is
          stale and MUST be re-derived (the DML loops catch it, being
          a CommitConflict, and re-run against the new snapshot).

        Without the pinned CAS, commit() re-resolves the head and a
        concurrent OPTIMIZE/DML that rewrote the same files would be
        silently overwritten — resurrecting deleted rows and
        duplicating survivors (regression-tested in
        tests/test_tablelog_restore.py)."""
        dep = {
            p["path"] if isinstance(p, dict) else p for p in (removed or [])
        }
        while True:
            try:
                return self.commit(
                    added=added,
                    removed=removed,
                    expected_version=base,
                    **kw,
                )
            except ConcurrentModification:
                raise
            except CommitConflict:
                head = self.latest_version()
                if head <= base:
                    raise  # lock starvation, not a version race
                for v in range(base + 1, head + 1):
                    m = self._read_manifest(v)
                    if m.get("constraints") is not None:
                        raise ConcurrentModification(
                            f"commit {v} changed the table constraints "
                            "concurrently; re-validate and re-derive"
                        )
                    for a in m["actions"]:
                        if a["path"] in dep:
                            raise ConcurrentModification(
                                f"file {a['path']} was touched by "
                                f"concurrent commit {v} "
                                f"({m.get('operation') or a['op']}); "
                                "re-derive against the new snapshot"
                            )
                base = head

    # ---------- write path ----------

    def _collect_stats(
        self,
        added: list[dict],
        schema: T.StructType,
        logical_to_phys: dict[str, str] | None = None,
    ) -> None:
        """Attach exact per-file min/max/null_count/num_rows to each
        `add` entry — ONE distributed agg job over exactly the files
        just written, grouped by input_file_name. Mutates `added`.
        ``schema`` is the WRITTEN files' schema; on mapped tables that
        is the physical one, so stats are keyed by PHYSICAL name
        (stable across renames — old files' stats stay valid) and a
        user-configured ``stats_columns`` list (logical names) is
        translated via ``logical_to_phys``."""
        from urllib.parse import unquote

        from pyspark.sql import functions as F

        cols = stats_columns_for(
            schema, self.stats_columns, self.max_stats_columns, logical_to_phys
        )
        if not added or not cols:
            return
        paths = [f"{self.path}/{e['path']}" for e in added]
        df = (
            self.spark.read.option("basePath", self.path)
            .schema(schema)
            .parquet(*paths)
        )
        have = set(df.columns)
        cols = [c for c in cols if c in have]
        if not cols:
            return
        aggs = [F.count(F.lit(1)).alias("__n")]
        for c in cols:
            aggs += [
                F.min(c).alias(f"__mn_{c}"),
                F.max(c).alias(f"__mx_{c}"),
                F.sum(F.col(c).isNull().cast("long")).alias(f"__nc_{c}"),
            ]
        rows = (
            df.groupBy(F.input_file_name().alias("__f"))
            .agg(*aggs)
            .collect()
        )  # bounded: one row per file just written
        # input_file_name() is a URI: a hive dir value holding '%' or
        # a space (p=a%2Fb on disk) arrives %-encoded again, so decode
        # before matching, or the file's stats read as 0 rows
        by_suffix = {}
        for r in rows:
            by_suffix[unquote(r["__f"])] = r
        for e in added:
            match = None
            for uri, r in by_suffix.items():
                if uri.endswith("/" + e["path"]) or uri.endswith(e["path"]):
                    match = r
                    break
            if match is None:
                # every file with >=1 row appears in the group-by, so
                # no match means PROVABLY empty — record that (powers
                # metadata_count and lets rewrites drop empty outputs)
                e["stats"] = {
                    "num_rows": 0, "min": {}, "max": {}, "null_count": {},
                }
                continue
            e["stats"] = {
                "num_rows": int(match["__n"]),
                "min": {c: _stat_encode(match[f"__mn_{c}"]) for c in cols},
                "max": {c: _stat_encode(match[f"__mx_{c}"]) for c in cols},
                "null_count": {c: int(match[f"__nc_{c}"]) for c in cols},
            }

    def _enforce_constraints(
        self,
        added: list[dict],
        schema: T.StructType,
        cons: dict[str, str],
        rename_to_logical: list[tuple[str, str]] | None = None,
    ) -> None:
        """Validate just-promoted (still uncommitted) files against the
        CHECK constraints in ONE aggregate job — per-constraint
        violating-row counts via sum(expr IS FALSE), so NULL (unknown)
        passes per the SQL standard. On any violation the promoted
        files are deleted (they are referenced by no manifest, so this
        only tidies what VACUUM would sweep) and ConstraintViolation
        carries the counts; the table is unchanged. On mapped tables
        the files carry physical names; ``rename_to_logical`` (pairs
        of (physical, logical)) restores the logical view the
        constraint SQL was written against."""
        from pyspark.sql import functions as F

        if not cons or not added:
            return
        df = (
            self.spark.read.option("basePath", self.path)
            .schema(schema)
            .parquet(*[f"{self.path}/{e['path']}" for e in added])
        )
        if rename_to_logical:
            df = df.select(
                *[F.col(p).alias(l) for p, l in rename_to_logical]
            )
        aggs = [
            F.sum(
                (~F.coalesce(F.expr(expr), F.lit(True))).cast("long")
            ).alias(name)
            for name, expr in sorted(cons.items())
        ]
        row = df.agg(*aggs).collect()[0]
        bad = {
            name: int(row[name] or 0)
            for name in cons
            if int(row[name] or 0) > 0
        }
        if bad:
            for e in added:
                self._fs.delete(self._Path(f"{self.path}/{e['path']}"), False)
            detail = ", ".join(
                f"{n} ({c} rows, CHECK {cons[n]!r})" for n, c in sorted(bad.items())
            )
            raise ConstraintViolation(
                f"write violates table constraints: {detail}", bad
            )

    def _stage_dir(self) -> str:
        return f".stage-{uuid.uuid4().hex}"

    def _promote_staged(self, stage_rel: str) -> list[dict]:
        """Move every data file Spark wrote under the hidden stage dir
        into the table root, PRESERVING its hive ``k=v`` subpath — so
        all partition dirs share the one root Spark's partition
        discovery demands. Part file names carry per-task UUIDs, so
        collisions can't happen. Returns the promoted rel-path entries.
        A crash mid-promote leaves uncommitted orphans that VACUUM
        sweeps (they are referenced by no manifest)."""
        stage_root = f"{self.path}/{stage_rel}"
        out: list[dict] = []
        it = self._fs.listFiles(self._Path(stage_root), True)
        moves: list[tuple] = []
        while it.hasNext():
            st = it.next()
            name = st.getPath().getName()
            if name.startswith(("_", ".")):
                continue
            full = st.getPath().toUri().getPath()
            rel_in_stage = full.split(f"/{stage_rel}/", 1)[1]
            moves.append((st.getPath(), rel_in_stage, st.getLen()))
        for src, rel, size in moves:
            dst = self._Path(f"{self.path}/{rel}")
            parent = dst.getParent()
            if not self._fs.exists(parent):
                self._fs.mkdirs(parent)
            if not self._fs.rename(src, dst):
                raise IOError(f"failed to promote staged file {rel}")
            out.append({"path": rel, "size": size})
        self._fs.delete(self._Path(stage_root), True)
        return out

    def _driver_local(self, df: DataFrame, partition_by: list[str]) -> bool:
        """Whether ``append`` can commit ``df`` on the driver: a
        ``file:`` table; no hive partitioning (Spark's writer splits a
        partition's rows into one file per input task, and file
        skipping over a partitioned table leans on that split); column
        types pyarrow writes the way Spark reads them back; and a frame
        whose every optimized-plan leaf holds driver data — a
        ``LocalRelation``, or a ``LogicalRDD`` whose RDD lineage ends
        only in ``ParallelCollectionRDD``s (what ``createDataFrame`` of
        a Python list, pandas frame or Arrow table makes). The walk
        cannot see into the Python functions of a ``PythonRDD`` in
        that lineage (``createDataFrame(list)`` has one too), so a
        frame built from ``sc.parallelize(...)`` and Python transforms
        is collected as well: its rows are whatever those functions
        yield, not only the parallelized list."""
        if self._local_root is None or partition_by:
            return False
        sch = df.schema
        names = [n.lower() for n in sch.fieldNames()]
        if not names or len(set(names)) != len(names):
            return False  # Spark's writer refuses these; keep its error
        if not all(_arrow_writable(f.dataType) for f in sch.fields):
            return False
        leaves = df._jdf.queryExecution().optimizedPlan().collectLeaves().iterator()
        while leaves.hasNext():
            leaf = leaves.next()
            kind = leaf.getClass().getSimpleName()
            if kind == "LocalRelation":
                continue
            if kind != "LogicalRDD":
                return False
            stack = [leaf.rdd()]
            while stack:
                rdd = stack.pop()
                deps = rdd.dependencies().iterator()
                if not deps.hasNext() and (
                    rdd.getClass().getSimpleName() != "ParallelCollectionRDD"
                ):
                    return False
                while deps.hasNext():
                    stack.append(deps.next().rdd())
        return True

    def _write_local(self, df: DataFrame, stats_cols: list[str]) -> list[dict]:
        """The driver-local write of ``append``: ONE ``toArrow()`` job,
        then pyarrow writes one parquet file straight into the table
        root (data files are invisible until a manifest names them, so
        there is nothing to stage), folding its stats in as it goes.
        An empty frame still writes one (empty) file, as Spark's writer
        does."""
        from aoseventstreamer_spark.sources.tablelog_source import write_arrow_files

        files = write_arrow_files([df.toArrow()], self._local_root, "", [], stats_cols)
        return [
            {"path": f.rel_path, "size": f.size, "stats": f.stats} for f in files
        ]

    def append(
        self,
        df: DataFrame,
        partition_by: list[str] | None = None,
        max_commit_retries: int = 10,
        merge_schema: bool = False,
        txn_app: str | None = None,
        txn_version: int | None = None,
    ) -> int:
        """Write ``df``'s rows as new immutable data files and commit
        them as one snapshot. The write runs ONCE; only the metadata
        commit retries on a version race. The table state is resolved
        once before the write and once per commit attempt (none when
        the head has not moved since), and that one state feeds the
        layout check, the schema merge, the column mapping, the
        constraints and the txn check.

        Two writes, one commit protocol:

        - **driver-local** (``_driver_local``): an unpartitioned
          append, on a ``file:`` table, of a frame whose plan reads
          only driver data — e.g. the ``createDataFrame(list)`` of an
          emit call routed by ``route_emits`` — is collected with ONE
          ``toArrow()`` job and written by pyarrow as one file, stats
          folded in as it writes (``_StatsAgg``). The rows already sit
          on the driver (in the Python list, pandas frame or
          ``LocalRelation`` the frame was built from), so collecting
          them holds the driver to the order of what its caller
          already holds: the routed rows plus one Arrow copy.
        - **distributed**: every other frame goes through Spark's
          parquet writer, a staged promote and one stats job
          (``_collect_stats``).

        Both give the same rows, the same per-file stats and the same
        manifest actions; on a table with CHECK constraints both run
        ``_enforce_constraints`` (one job).

        Schema evolution: an append whose columns are a SUPERSET of
        the table schema is accepted with ``merge_schema=True`` (the
        Delta mergeSchema contract) — the commit stores the widened
        schema and older files read back with the new columns null.
        Dropping or renaming columns is refused either way (that
        rewrite is a migration, not an append).

        Idempotent writes: pass ``txn_app`` + ``txn_version`` (Delta's
        ``txnAppId``/``txnVersion`` contract) and the append commits
        ONLY if ``txn_version`` is newer than the app's last recorded
        stamp — a replayed micro-batch (same version) becomes a no-op
        BEFORE any parquet job runs, and a replay that loses a commit
        race to its own earlier attempt is caught by the re-check
        inside the retry loop. This is what makes the foreachBatch
        tablelog sink exactly-once (sources/io.write_stream)."""
        if (txn_app is None) != (txn_version is None):
            raise ValueError("pass txn_app and txn_version together")
        txn = (
            (str(txn_app), int(txn_version)) if txn_app is not None else None
        )
        base = self.latest_version()
        state = self._replay(base)
        if txn is not None and int(state[2].get(txn[0], -1)) >= txn[1]:
            return base  # replayed batch: no-op

        orig_fields: set | None = None  # stored fields at FIRST derivation

        def derive_schema(stored: T.StructType | None) -> T.StructType | None:
            """Validate df against the stored schema of the state being
            committed on and return the schema to commit (None =
            unchanged). Re-run on every commit attempt: a concurrent
            merge_schema append may have widened the table between our
            derivation and our commit, and re-committing the PRE-race
            merge would silently drop the winner's new column from the
            stored schema (round-8 self-review finding;
            regression-tested in tests/test_advice_r8b.py). The
            caller's contract is pinned to the schema they DERIVED
            AGAINST: df must cover every field that existed then
            (dropping columns stays refused), while columns a
            concurrent writer added since are fine — this append's
            files simply read back with them null."""
            nonlocal orig_fields
            if stored is None:
                return df.schema
            stored_names = set(stored.fieldNames())
            if orig_fields is None:
                orig_fields = set(stored_names)
            dfc = set(df.columns)
            if dfc == stored_names:
                return None
            if orig_fields <= dfc:
                extra = [
                    f for f in df.schema.fields if f.name not in stored_names
                ]
                if not extra and dfc <= stored_names:
                    # a concurrent merge_schema append widened the
                    # table under us; nothing for US to add
                    return None
                if merge_schema and extra:
                    return T.StructType(list(stored.fields) + extra)
            raise ValueError(
                f"append schema {sorted(df.columns)} does not match "
                f"the table schema {sorted(stored.fieldNames())}; "
                "pass merge_schema=True to ADD columns"
            )

        def check_layout(live: dict, stored: T.StructType | None) -> None:
            """Refuse an append whose hive layout differs from the
            live table's: mixing partition-dir depths under one
            basePath makes Spark's partition discovery silently DROP
            rows on read (probed: a flat append onto a p=-partitioned
            table read back 10 of 20 rows — not even an error).
            An empty live set accepts any layout; ``overwrite``
            replaces every file so it may change the layout freely."""
            if not live:
                return
            existing = self._logical_pcols(list(live), stored)
            if existing != list(partition_by or []):
                raise ValueError(
                    f"append partition_by={list(partition_by or [])} does "
                    f"not match the table's live layout {existing}; mixed "
                    "hive depths silently lose rows on read — use "
                    "overwrite() to change the partitioning"
                )

        def stored_of(st: tuple) -> T.StructType | None:
            return T.StructType.fromJson(st[1]) if st[1] else None

        from pyspark.sql import functions as F

        stored0 = stored_of(state)
        check_layout(state[0], stored0)
        new_schema = derive_schema(stored0)  # validate BEFORE the write
        # column mapping: files store PHYSICAL names. Convert once,
        # before the write; mint_cache keeps physical names for
        # merge_schema's new columns stable across commit retries.
        mapped = _mapping_active(stored0)
        mint_cache: dict[str, str] = {}
        if mapped:
            attached0 = self._attach_mapping(
                new_schema if new_schema is not None else stored0,
                stored0,
                mint_cache,
            )
            pm = _phys_map(attached0)
            write_df = df.select(
                *[F.col(c).alias(pm.get(c, c)) for c in df.columns]
            )
            write_pb = [pm.get(c, c) for c in partition_by or []]
            to_logical = [(pm.get(c, c), c) for c in df.columns]
        else:
            pm = None
            write_df, write_pb, to_logical = df, list(partition_by or []), None
        if self._driver_local(write_df, write_pb):
            added = self._write_local(
                write_df,
                stats_columns_for(
                    write_df.schema, self.stats_columns,
                    self.max_stats_columns, pm,
                ),
            )
        else:
            rel = self._stage_dir()
            w = write_df.write.mode("overwrite")
            if write_pb:
                w = w.partitionBy(*write_pb)
            w.parquet(f"{self.path}/{rel}")
            added = self._promote_staged(rel)
            self._collect_stats(added, write_df.schema, logical_to_phys=pm)
        validated = state[3]
        self._enforce_constraints(
            added, write_df.schema, validated, rename_to_logical=to_logical
        )
        for _ in range(max_commit_retries):
            head = self.latest_version()
            if head != base:
                base, state = head, self._replay(head)
            if txn is not None and int(state[2].get(txn[0], -1)) >= txn[1]:
                # a concurrent attempt of the SAME batch won the race;
                # our written files are orphans (no manifest references
                # them) — VACUUM sweeps them
                return base
            if state[3] != validated:
                # a constraint landed since the files were validated
                validated = state[3]
                self._enforce_constraints(
                    added, write_df.schema, validated,
                    rename_to_logical=to_logical,
                )
            stored = stored_of(state)
            check_layout(state[0], stored)  # a racing first-append may have set one
            new_schema = derive_schema(stored)  # re-merge against the head
            if mapped and new_schema is not None:
                # re-attach the SAME minted physical names the files
                # were written under (mint_cache pins them)
                new_schema = self._attach_mapping(
                    new_schema, stored or stored0, mint_cache
                )
            try:
                # the CAS is pinned so a concurrent attempt of the SAME
                # stamped batch cannot slip in between the txn re-check
                # above and this commit — without it, both replays pass
                # the check and the loser rebases silently, committing
                # the batch twice despite the idempotence stamps
                return self.commit(
                    added=added,
                    data_change=True,
                    schema=new_schema,
                    expected_version=base,
                    txn=txn,
                    operation="STREAMING UPDATE" if txn else "APPEND",
                    op_metrics={
                        "num_added_files": len(added),
                        "num_added_bytes": sum(e["size"] for e in added),
                    },
                    _base_state=state,
                )
            except CommitConflict:
                continue
        raise CommitConflict(
            f"append lost the commit race {max_commit_retries} times"
        )

    # ---------- read path ----------

    def _dv_rows(self, entries: list[dict]) -> DataFrame | None:
        """(``__tl_key``, ``__tl_pos``) rows of every deletion
        vector referenced by ``entries`` — None when none carry one.
        DV sidecars are parquet position lists partitioned by the data
        file's KEY — md5 of its rel path (part-file NAMES repeat
        across hive partition dirs: one write job stamps the same
        task uuid into every partition, so the name alone is NOT
        unique; md5 of the rel path is, and needs no partition-value
        escaping). Laid out ``_dv/<commit>/__f=<key>/``; reading the
        referenced partition dirs under the commit's basePath
        materializes ``__f`` back as a column, so one read per DV
        generation covers every touched file."""
        from pyspark.sql import functions as F

        refs = sorted({e["dv"]["path"] for e in entries if e.get("dv")})
        if not refs:
            return None
        by_parent: dict[str, list[str]] = {}
        for r in refs:
            parent = r.rsplit("/", 1)[0]  # _dv/<commit>
            by_parent.setdefault(parent, []).append(r)
        # explicit schema including the partition column: without it,
        # Spark's partition-value TYPE INFERENCE parses __f, and an md5
        # hex key that happens to parse numerically (32 digits, or a
        # digits-e-digits string read as double) round-trips to a
        # DIFFERENT string, so the anti-join in _scan_entries misses
        # and dv-deleted rows resurrect (round-9 ADVICE finding)
        dv_schema = T.StructType(
            [
                T.StructField("pos", T.LongType()),
                T.StructField("__f", T.StringType()),
            ]
        )
        pieces = []
        for parent, rels in sorted(by_parent.items()):
            df = (
                self.spark.read.schema(dv_schema)
                .option("basePath", f"{self.path}/{parent}")
                .parquet(*[f"{self.path}/{r}" for r in rels])
            )
            pieces.append(
                df.select(
                    F.col("__f").alias("__tl_key"),
                    F.col("pos").alias("__tl_pos"),
                )
            )
        out = pieces[0]
        for p in pieces[1:]:
            out = out.unionByName(p)
        return out

    def _scan_entries(
        self,
        entries: list[dict],
        sch: T.StructType | None,
        with_meta: bool = False,
    ) -> DataFrame:
        """The LOGICAL rows of ``entries``: a parquet scan of exactly
        those files with each entry's deletion vector applied (position
        anti-join on the scan's ``_metadata`` file name + row index —
        physical row positions are stable for parquet). Every
        row-reading path (read / DML touched-file scans / OPTIMIZE
        rewrite / CDF) goes through here so DV'd rows can never
        resurrect. ``with_meta=True`` keeps ``__tl_key``/``__tl_pos``
        for DML bookkeeping."""
        from pyspark.sql import functions as F

        if not entries:
            if sch is None:
                raise ValueError(f"table {self.path} has no commits")
            df = self.spark.createDataFrame([], sch)
            if with_meta:
                df = df.withColumn(
                    "__tl_key", F.lit(None).cast("string")
                ).withColumn("__tl_pos", F.lit(None).cast("long"))
            return df
        mapped = _mapping_active(sch)
        reader = self.spark.read.option("basePath", self.path)
        if sch is not None:
            # mapped tables: the FILES carry physical names (hive dirs
            # included), so the scan schema is the physical one; the
            # logical aliasing happens below, after the position
            # metadata columns are materialized (_metadata resolves on
            # the scan relation, not through an arbitrary projection)
            reader = reader.schema(_physical_schema(sch) if mapped else sch)
        df = reader.parquet(*[f"{self.path}/{e['path']}" for e in entries])
        for c in ("__tl_key", "__tl_pos"):
            if c in df.columns or (sch is not None and c in sch.fieldNames()):
                raise ValueError(
                    f"table schema may not contain reserved column {c!r}"
                )
        dv = self._dv_rows(entries)
        need_meta = with_meta or dv is not None
        if need_meta:
            df = df.withColumn(
                "__tl_key", F.md5(self._rel_path_expr())
            ).withColumn("__tl_pos", F.col("_metadata.row_index"))
        if mapped:
            cols = [F.col(_phys_name(f)).alias(f.name) for f in sch.fields]
            if need_meta:
                cols += [F.col("__tl_key"), F.col("__tl_pos")]
            df = df.select(*cols)
        if not need_meta:
            return df
        if dv is not None:
            df = df.join(
                dv,
                (df["__tl_key"] == dv["__tl_key"])
                & (df["__tl_pos"] == dv["__tl_pos"]),
                "left_anti",
            )
        if not with_meta:
            df = df.drop("__tl_key", "__tl_pos")
        return df

    def _rel_path_expr(self):
        """Column expression: the scan row's data-file path RELATIVE
        to the table root, derived from ``_metadata.file_path`` by
        splitting on the root prefix (scheme-stripped — the URI form
        varies between file:/x and file:///x, but the plain abs-path
        substring appears in all of them)."""
        import re as _re

        from pyspark.sql import functions as F

        norm = _re.sub(r"^[A-Za-z0-9+.\-]+:/+", "/", self.path.rstrip("/"))
        return F.element_at(
            F.split(F.col("_metadata.file_path"), _re.escape(norm + "/")),
            -1,
        )

    def _entries_for_keys(
        self, entries: list[dict], keys: set[str] | list[str]
    ) -> list[dict]:
        """Resolve scan-derived ``__tl_key`` values back to entries,
        failing LOUDLY on a mismatch: the scan side derives the key
        from ``_metadata.file_path`` (``_rel_path_expr``) and the
        metadata side from the manifest rel path — if a filesystem
        URI-encodes characters of the table root differently, the two
        md5s diverge and a silent miss here would mean DML touching
        the wrong file set."""
        by_key = {self._entry_key(e): e for e in entries}
        missing = [k for k in keys if k not in by_key]
        if missing:
            raise ValueError(
                f"{len(missing)} scan-derived file keys did not resolve "
                f"to manifest entries (first: {missing[0]!r}); the table "
                f"root {self.path!r} likely contains characters the "
                "filesystem URI-encodes differently in _metadata.file_path"
            )
        return [by_key[k] for k in sorted(keys)]

    @staticmethod
    def _entry_key(e: dict) -> str:
        """Table-wide-unique key of a data file: md5 of its rel path.
        The file NAME alone is NOT unique — one partitioned write
        stamps the same part-number + task-uuid file name into every
        hive dir it touches."""
        import hashlib

        return hashlib.md5(e["path"].encode("utf-8")).hexdigest()

    def version_at(self, timestamp_ms: int) -> int:
        """Time travel: the newest version committed at or before
        ``timestamp_ms``, 0 if none (``ManifestLog.version_at``:
        O(log N) manifest reads at N commits)."""
        return self._core.version_at(timestamp_ms)

    @staticmethod
    def _norm_branch(fields: dict, clause) -> tuple:
        """(col, op, norm, known) for one branch clause; known=False
        means the branch cannot be evaluated against stats (the file
        conservatively survives / classification is unknown)."""
        col, op = clause[0], clause[1]
        lit = clause[2] if len(clause) > 2 else None
        if op not in _WHERE_OPS:
            raise ValueError(
                f"unsupported where op {op!r}; use {sorted(_WHERE_OPS)}"
            )
        dt = fields.get(col)
        if op == "in":
            norm = [_norm_literal(dt, v) for v in lit]
            kept = [v for v in norm if v is not None]
            return col, op, kept, bool(kept) and len(kept) == len(norm)
        if op in ("isnull", "notnull", "startswith"):
            return col, op, lit, True
        norm = _norm_literal(dt, lit)
        return col, op, norm, norm is not None

    def pruned_files(
        self, where: list, version: int | None = None
    ) -> tuple[list[dict], int]:
        """Data skipping: (surviving entries, total live files) for a
        CNF predicate — each conjunct is one ``(col, op, value)``
        clause or a LIST of them meaning their OR; ops ``= != < <= >
        >= in startswith isnull notnull``. Driver-side loop over
        manifest metadata only; a file is dropped ONLY when its exact
        min/max/null stats prove no row can match — for an OR group,
        when EVERY branch is provably empty (missing stats or a
        non-normalizable literal always survive)."""
        if version is None:
            version = self.latest_version()  # pin once (see read())
        entries = self.snapshot_files(version)
        sch = self.schema(version)
        fields = {f.name: f.dataType for f in sch.fields} if sch else {}
        # stats are keyed by PHYSICAL column name (stable across
        # renames); predicates arrive logical — translate for lookup
        pm = _phys_map(sch) if _mapping_active(sch) else {}
        survivors = []
        for e in entries:
            stats = e.get("stats")
            ok = True
            for clause in where:
                branches = clause if _is_or_group(clause) else [clause]
                alive = False
                for b in branches:
                    col, op, norm, known = self._norm_branch(fields, b)
                    if not known or _file_survives(
                        stats, pm.get(col, col), op, norm
                    ):
                        alive = True
                        break
                if not alive:
                    ok = False
                    break
            if ok:
                survivors.append(e)
        return survivors, len(entries)

    def metadata_count(
        self,
        where: list[tuple] | None = None,
        version: int | None = None,
    ) -> int | None:
        """COUNT(*) answered from manifest stats ALONE — no scan, no
        Spark job (Delta/Iceberg's metadata-only query). Returns None
        whenever the count is not PROVABLE from per-file stats, so the
        caller falls back to ``read(where=...).count()``; a non-None
        answer is always exact.

        Per file, each conjunct (a clause, or a LIST of clauses = OR)
        classifies as NONE (every branch ``_file_survives`` false →
        contributes 0 rows), ALL (some branch ``_file_all_match`` —
        every row provably matches the group), or UNKNOWN (anything
        else → give up). At 100 TB an unfiltered count, a
        partition-aligned count, or a count over a clustered column's
        range reads KBs of manifest instead of the table."""
        v = self.latest_version() if version is None else version
        entries = self.snapshot_files(v)
        sch = self.schema(v)
        fields = {f.name: f.dataType for f in sch.fields} if sch else {}
        pm = _phys_map(sch) if _mapping_active(sch) else {}
        groups: list[list[tuple]] = []
        for clause in where or []:
            branches = clause if _is_or_group(clause) else [clause]
            normed = []
            for b in branches:
                col, op, norm, known = self._norm_branch(fields, b)
                if not known:
                    return None  # un-normalizable branch: not provable
                normed.append((pm.get(col, col), op, norm))
            groups.append(normed)
        total = 0
        for e in entries:
            stats = e.get("stats") or {}
            if any(
                all(
                    not _file_survives(stats, col, op, norm)
                    for col, op, norm in grp
                )
                for grp in groups
            ):
                continue  # provably zero matching rows
            if stats.get("num_rows") is None:
                return None
            if all(
                any(
                    _file_all_match(stats, col, op, norm)
                    for col, op, norm in grp
                )
                for grp in groups
            ):
                # logical rows = physical minus the deletion vector;
                # all-physical-match implies all-logical-match
                card = int((e.get("dv") or {}).get("cardinality") or 0)
                total += int(stats["num_rows"]) - card
            else:
                return None  # partially-matching file: needs a scan
        return total

    def metadata_min_max(
        self, col: str, version: int | None = None
    ) -> tuple | None:
        """(min, max) of ``col`` over the live table from manifest
        stats alone (SQL MIN/MAX semantics: nulls ignored). None when
        not provable — any live file missing stats for the column, or
        a file whose bound is absent without being provably all-null.
        Timestamp/date bounds decode back to datetime/date."""
        import datetime

        v = self.latest_version() if version is None else version
        entries = self.snapshot_files(v)
        sch = self.schema(v)
        dt = None
        if sch is not None and col in sch.fieldNames():
            dt = sch[col].dataType
        if _mapping_active(sch):
            col = _phys_map(sch).get(col, col)  # stats keys: physical
        lo = hi = None
        for e in entries:
            if e.get("dv"):
                # stats bound PHYSICAL rows; the extremum might be a
                # dv-deleted row, so the logical bound is unprovable
                return None
            stats = e.get("stats")
            if not stats:
                return None
            nrows = stats.get("num_rows")
            if nrows == 0:
                continue
            nc = (stats.get("null_count") or {}).get(col)
            mn = (stats.get("min") or {}).get(col)
            mx = (stats.get("max") or {}).get(col)
            if mn is None or mx is None:
                if nc is not None and nrows is not None and nc == nrows:
                    continue  # provably all-null: contributes nothing
                return None
            if lo is None:
                lo, hi = mn, mx
            else:
                if not (_comparable(lo, mn) and _comparable(hi, mx)):
                    return None
                lo, hi = min(lo, mn), max(hi, mx)
        if lo is None:
            return None

        def _decode(x):
            if isinstance(dt, T.TimestampType):
                return datetime.datetime.fromtimestamp(x / 1_000_000)
            if isinstance(dt, T.DateType):
                return datetime.date.fromordinal(x)
            return x

        return _decode(lo), _decode(hi)

    def read(
        self,
        version: int | None = None,
        as_of_timestamp_ms: int | None = None,
        where: list[tuple] | None = None,
    ) -> DataFrame:
        """Snapshot-isolated batch read: scans exactly the files the
        manifest names (never a directory listing), with ``basePath``
        so hive-style partition dirs still yield partition columns —
        and therefore partition pruning. The STORED schema is applied
        explicitly, so files written before a merge_schema append read
        back with the later columns null (footer inference would pick
        one file's schema and silently drop them). Pass ``version``
        or ``as_of_timestamp_ms`` (not both) to time-travel.

        ``where`` (list of ``(col, op, value)`` conjuncts) enables
        FILE skipping via the manifest's exact per-file stats and then
        applies the same predicate row-level, so the result equals
        ``read().filter(...)`` exactly — the stats only shrink the
        scan (see pruned_files)."""
        if as_of_timestamp_ms is not None:
            if version is not None:
                raise ValueError("pass version OR as_of_timestamp_ms")
            version = self.version_at(as_of_timestamp_ms)
        if version is None:
            # pin the snapshot ONCE: schema() and snapshot_files()
            # each re-resolve latest_version(), and a commit landing
            # between the two would hand back one snapshot's schema
            # with another's files (round-8 self-review finding)
            version = self.latest_version()
        sch = self.schema(version)
        if where:
            entries, _total = self.pruned_files(where, version)
        else:
            entries = self.snapshot_files(version)
        df = self._scan_entries(entries, sch)
        if where:
            df = df.filter(_where_to_column(df.schema, where))
        return df

    def _dv_only_delta(
        self,
        adds: list[dict],
        removes: list[dict],
        sch: T.StructType,
        cols: list[str],
    ) -> list[tuple] | None:
        """CDF fast path for a DV-ONLY commit (same data-path set on
        both sides, only the deletion vectors changed — what a
        merge-on-read DELETE without appended files produces): the
        row-level delta is exactly the rows at the SYMMETRIC
        DIFFERENCE of the two position sets, so instead of scanning
        the touched files twice and shuffling every row through
        ``exceptAll``, scan them ONCE with position metadata and
        semi-join the (tiny) position diff. Returns None when the
        commit isn't dv-only (generic path applies)."""
        from pyspark.sql import functions as F

        if not adds or not removes:
            return None
        if {e["path"] for e in adds} != {e["path"] for e in removes}:
            return None
        new_dv = self._dv_rows(adds)
        old_dv = self._dv_rows(removes)
        if new_dv is None:
            return None  # dv fully cleared: not the marking shape
        empty = self.spark.createDataFrame(
            [], "__tl_key string, __tl_pos long"
        )
        old_dv = old_dv if old_dv is not None else empty
        marked = new_dv.exceptAll(old_dv)  # newly-deleted positions
        unmarked = old_dv.exceptAll(new_dv)  # re-surfaced (RESTORE-ish)
        # one physical scan with position metadata, NO dv application:
        # the position sets address PHYSICAL rows
        base = [{"path": e["path"]} for e in adds]
        scan = self._scan_entries(base, sch, with_meta=True)
        out: list[tuple] = []
        for kind, pos in (("delete", marked), ("insert", unmarked)):
            out.append(
                (
                    kind,
                    scan.join(
                        pos,
                        (scan["__tl_key"] == pos["__tl_key"])
                        & (scan["__tl_pos"] == pos["__tl_pos"]),
                        "leftsemi",
                    ).select(*cols),
                )
            )
        return out

    def read_changes(
        self, from_version: int, to_version: int | None = None
    ) -> DataFrame:
        """Change data feed: the row-level delta between two snapshots,
        derived from the commit log alone (Delta's CDF shape, computed
        rather than stored). For every data-change commit in
        ``(from_version, to_version]``:

        - rows in added files minus rows in removed files (multiset
          ``exceptAll``) are ``insert``s,
        - rows in removed files minus rows in added files are
          ``delete``s.

        Copy-on-write rewrites carry every surviving row into the new
        files unchanged, so survivors cancel exactly and only genuine
        changes surface; an UPDATE appears as its delete+insert pair
        (pre/post image). Layout-only commits (OPTIMIZE/zorder,
        ``data_change=False``) contribute nothing. Result columns =
        table schema (at ``to_version``) + ``_change_type`` +
        ``_commit_version``.

        Requires the removed files in the range to still exist —
        i.e. VACUUM has not swept past ``from_version`` (same
        retention contract as Delta CDF). A range that starts below the
        retained log or ends past the head is refused."""
        from pyspark.sql import functions as F

        to = self.latest_version() if to_version is None else to_version
        commits = self._core.changes(from_version, to)
        sch = self.schema(to)
        if sch is None:
            raise ValueError(f"table {self.path} has no commits")
        cols = sch.fieldNames()
        out_schema = T.StructType(
            list(sch.fields)
            + [
                T.StructField("_change_type", T.StringType(), False),
                T.StructField("_commit_version", T.LongType(), False),
            ]
        )
        def rows_of(entries: list[dict]) -> DataFrame:
            # LOGICAL rows: each action's deletion vector applied, so
            # a dv-only commit (remove(path, old dv) + add(path, new
            # dv)) nets exactly the newly-marked rows as deletes
            return self._scan_entries(entries, sch).select(*cols)

        pieces: list[DataFrame] = []
        for v, adds, removes in commits:
            # one-sided commits skip exceptAll entirely: a pure append
            # is all-inserts and a pure retention delete all-deletes —
            # this keeps the dominant append history linear-scan cheap
            # (measured 11.4 s → sub-second on a 16-append history by
            # tools/tablelog_dml_probe.py, removed; last held by commit
            # 0c581d3) instead of paying a two-sided anti-join per commit
            dv_delta = self._dv_only_delta(adds, removes, sch, cols)
            if dv_delta is not None:
                deltas = dv_delta
            elif adds and removes:
                adf, rdf = rows_of(adds), rows_of(removes)
                deltas = [
                    ("insert", adf.exceptAll(rdf)),
                    ("delete", rdf.exceptAll(adf)),
                ]
            elif adds:
                deltas = [("insert", rows_of(adds))]
            else:
                deltas = [("delete", rows_of(removes))]
            for kind, delta in deltas:
                pieces.append(
                    delta.withColumn("_change_type", F.lit(kind)).withColumn(
                        "_commit_version", F.lit(v).cast("long")
                    )
                )
        if not pieces:
            return self.spark.createDataFrame([], out_schema)
        out = pieces[0]
        for p in pieces[1:]:
            out = out.unionByName(p)
        return out

    def create_or_replace_view(
        self,
        name: str,
        version: int | None = None,
        as_of_timestamp_ms: int | None = None,
        where: list | None = None,
    ) -> str:
        """SQL surface: register a SNAPSHOT of this table as a session
        temp view, so ``spark.sql`` queries it like any table —
        including time travel (``version=`` / ``as_of_timestamp_ms=``
        are Delta's ``VERSION AS OF`` / ``TIMESTAMP AS OF`` idiom; see
        docs/MIGRATION.md for worked examples). The view PINS the
        snapshot resolved at registration: data files are immutable,
        so later commits/OPTIMIZE/DML never change what the view
        reads — re-register (same name) to follow the head. ``where``
        pre-applies a predicate so manifest-stats file skipping runs
        at registration and the SQL plan scans only surviving files.
        Returns ``name`` for chaining into ``spark.sql``."""
        df = self.read(
            version=version,
            as_of_timestamp_ms=as_of_timestamp_ms,
            where=where,
        )
        df.createOrReplaceTempView(name)
        return name

    def sql(self, statement: str, view: str = "t", **view_kw) -> DataFrame:
        """One-shot SQL over a snapshot: registers the view and runs
        the statement (``log.sql("SELECT lang, count(*) FROM t GROUP
        BY lang")``). ``view_kw`` forwards to create_or_replace_view
        (version/as_of_timestamp_ms/where)."""
        self.create_or_replace_view(view, **view_kw)
        return self.spark.sql(statement)

    def history(self, limit: int | None = None) -> DataFrame:
        """DESCRIBE HISTORY: one row per commit, newest first —
        version, commit timestamp, the operation that produced it
        (APPEND / STREAMING UPDATE / DELETE / UPDATE / MERGE /
        REPLACE WHERE / OVERWRITE / OPTIMIZE; null for commits made
        through the raw ``commit()`` API), its integer operation
        metrics, file add/remove counts, the data_change flag, and the
        idempotent-writer stamp if any. Driver-side manifest walk
        (metadata only, KBs per commit); ``limit`` bounds it to the
        newest N commits — pass it on long-lived tables."""
        vs = sorted(self._list_versions(), reverse=True)
        if limit is not None:
            vs = vs[:limit]
        rows = []
        for v in vs:
            m = self._read_manifest(v)
            adds = sum(1 for a in m["actions"] if a["op"] == "add")
            removes = sum(1 for a in m["actions"] if a["op"] == "remove")
            txn = m.get("txn")
            rows.append(
                {
                    "version": v,
                    "timestamp_ms": int(m.get("timestamp_ms", 0)),
                    "operation": m.get("operation"),
                    "op_metrics": {
                        k: int(x)
                        for k, x in (m.get("op_metrics") or {}).items()
                    },
                    "num_added_files": adds,
                    "num_removed_files": removes,
                    "data_change": any(
                        a.get("data_change", True) for a in m["actions"]
                    ),
                    "txn_app": txn[0] if txn else None,
                    "txn_version": int(txn[1]) if txn else None,
                }
            )
        schema = T.StructType(
            [
                T.StructField("version", T.LongType(), False),
                T.StructField("timestamp_ms", T.LongType(), False),
                T.StructField("operation", T.StringType(), True),
                T.StructField(
                    "op_metrics",
                    T.MapType(T.StringType(), T.LongType()),
                    True,
                ),
                T.StructField("num_added_files", T.LongType(), False),
                T.StructField("num_removed_files", T.LongType(), False),
                T.StructField("data_change", T.BooleanType(), False),
                T.StructField("txn_app", T.StringType(), True),
                T.StructField("txn_version", T.LongType(), True),
            ]
        )
        return self.spark.createDataFrame(rows, schema)

    # ---------- maintenance ----------

    def optimize(
        self,
        target_file_bytes: int = 128 * 1024 * 1024,
        small_file_bytes: int = 32 * 1024 * 1024,
        min_files: int = 4,
        cluster_by: list[str] | None = None,
        zorder_by: list[str] | None = None,
    ) -> dict:
        """Small-file compaction as ONE layout-only commit
        (``data_change=False``): rewrite groups of small files into
        ~target-sized ones, commit remove(old)+add(new). Readers at any
        pinned version are untouched (old files stay on disk until
        VACUUM); streams skip the rewrite entirely. Groups by the
        file's parent dir so hive partitions compact independently.

        ``cluster_by``: range-sort the rewrite on these columns
        (repartitionByRange + sortWithinPartitions), so output files
        carry DISJOINT value ranges and the manifest's min/max stats
        prune hard on the leading column — the lakehouse answer to a
        query-heavy column that isn't the partition key. ``zorder_by``:
        multi-column locality instead — each (numeric/timestamp/date)
        column is quantile-bucketed to 8 bits (distributed
        approxQuantile; no global window) and the bits interleaved, so
        pruning works on EVERY listed column at once, each somewhat
        looser than a dedicated sort. Either one forces a full rewrite
        of every group (clustering IS the point), still layout-only:
        a live tablelog stream skips it, row sets are identical."""
        if cluster_by and zorder_by:
            raise ValueError("pass cluster_by OR zorder_by, not both")
        clustering = bool(cluster_by or zorder_by)
        base_version = self.latest_version()
        entries = self.snapshot_files(base_version)
        # group by the LOGICAL partition (the hive k=v subpath), not the
        # physical parent dir: small files from many separate appends to
        # the same partition must merge into one rewrite
        groups: dict[str, list[dict]] = {}
        for e in entries:
            segs = e["path"].split("/")[:-1]
            hive = "/".join(s for s in segs if "=" in s)
            groups.setdefault(hive, []).append(e)
        removed: list[str] = []
        added: list[dict] = []
        rewritten_groups = 0
        for parent, es in sorted(groups.items()):
            n, total = len(es), sum(e["size"] for e in es)
            # a group carrying deletion vectors is always eligible:
            # the rewrite applies and PURGES them (Delta's REORG PURGE)
            has_dv = any(e.get("dv") for e in es)
            if not clustering and not has_dv and (
                n <= min_files or (total // max(n, 1)) >= small_file_bytes
            ):
                continue
            rewritten_groups += 1
            n_out = max(1, math.ceil(total / target_file_bytes))
            # preserve the hive k=v subpath so every data file keeps a
            # CONSISTENT partition-dir depth under basePath (mixing
            # flat and partitioned layouts trips Spark's conflicting-
            # directory-structures assertion); the partition columns a
            # basePath read materializes are dropped again before the
            # write — their values live in the dir name, exactly as in
            # the original layout
            hive_segs = [s for s in parent.split("/") if "=" in s]
            sub = "/".join(hive_segs)
            stage = self._stage_dir()
            rel = stage + (f"/{sub}" if sub else "")
            # dv-applied scan: the rewrite physically PURGES deleted
            # rows, and the fresh entries carry no dv
            sch0 = self.schema(base_version)
            df = self._scan_entries(es, sch0)
            # hive dir segments carry PHYSICAL names on mapped tables;
            # the scanned frame is logical — translate before dropping
            pm0 = _phys_map(sch0) if _mapping_active(sch0) else {}
            inv0 = {p: l for l, p in pm0.items()}
            pcols = [
                inv0.get(s.split("=", 1)[0], s.split("=", 1)[0])
                for s in hive_segs
            ]
            if pcols:
                df = df.drop(*pcols)
            if cluster_by:
                shaped = df.repartitionByRange(
                    n_out, *cluster_by
                ).sortWithinPartitions(*cluster_by)
            elif zorder_by:
                zcol = "__z"
                while zcol in df.columns:
                    zcol += "_"
                shaped = (
                    _with_zvalue(df, zorder_by, zcol)
                    .repartitionByRange(n_out, zcol)
                    .sortWithinPartitions(zcol)
                    .drop(zcol)
                )
            else:
                shaped = df.coalesce(n_out)
            if pm0:
                # files store physical names (clustering/zorder ran on
                # the logical frame above — the rename is the last step)
                from pyspark.sql import functions as F

                shaped = shaped.select(
                    *[
                        F.col(c).alias(pm0.get(c, c))
                        for c in shaped.columns
                    ]
                )
            shaped.write.mode("overwrite").parquet(f"{self.path}/{rel}")
            added.extend(self._promote_staged(stage))
            removed.extend(
                {"path": e["path"], **({"dv": e["dv"]} if e.get("dv") else {})}
                for e in es
            )
        if not removed:
            return {"version": base_version, "rewritten_groups": 0,
                    "files_removed": 0, "files_added": 0}
        sch = self.schema(base_version)
        if sch is not None:
            if _mapping_active(sch):
                self._collect_stats(
                    added, _physical_schema(sch),
                    logical_to_phys=_phys_map(sch),
                )
            else:
                self._collect_stats(added, sch)
        # rebase-aware CAS: concurrent APPENDs never touch our removed
        # set, so they rebase for free; a concurrent DML that rewrote a
        # file we are compacting raises ConcurrentModification —
        # committing anyway would resurrect its deleted rows inside our
        # compacted group (re-run optimize to pick up the new layout)
        v = self._commit_or_rebase(
            base_version,
            added=added,
            removed=removed,
            data_change=False,
            operation="OPTIMIZE",
            op_metrics={
                "num_removed_files": len(removed),
                "num_added_files": len(added),
            },
        )
        return {
            "version": v,
            "rewritten_groups": rewritten_groups,
            "files_removed": len(removed),
            "files_added": len(added),
        }

    # ---------- row-level operations (copy-on-write) ----------

    def _partition_cols(self, rel_paths: list[str]) -> list[str]:
        cols: list[str] = []
        for p in rel_paths:
            for seg in p.split("/")[:-1]:
                if "=" in seg:
                    k = seg.split("=", 1)[0]
                    if k not in cols:
                        cols.append(k)
        return cols

    def _write_rewrite(
        self,
        df: DataFrame,
        pcols: list[str],
        mapped_schema: T.StructType | None = None,
    ) -> list[dict]:
        """Stage + promote a copy-on-write rewrite, preserving the
        table's hive layout; returns stats-annotated add entries.
        CHECK constraints are enforced on the written files (UPDATE /
        MERGE / overwrite can introduce violations; a DELETE's
        survivors trivially pass — the check is one agg over only the
        rewritten files). An ``overwrite`` whose new schema drops a
        constraint's column fails loudly at expression analysis —
        drop the constraint first.

        ``df`` and ``pcols`` are LOGICAL; on a mapped table the frame
        is renamed to physical names before the parquet job
        (``mapped_schema`` overrides the stored schema as the mapping
        source when the caller is changing the schema, e.g.
        ``overwrite`` adding columns)."""
        from pyspark.sql import functions as F

        msch = mapped_schema if mapped_schema is not None else self.schema()
        if _mapping_active(msch):
            pm = _phys_map(msch)
            to_logical = [(pm.get(c, c), c) for c in df.columns]
            df = df.select(
                *[F.col(c).alias(pm.get(c, c)) for c in df.columns]
            )
            pcols = [pm.get(c, c) for c in pcols]
        else:
            pm, to_logical = None, None
        stage = self._stage_dir()
        w = df.write.mode("overwrite")
        if pcols:
            w = w.partitionBy(*pcols)
        w.parquet(f"{self.path}/{stage}")
        added = self._promote_staged(stage)
        self._collect_stats(added, df.schema, logical_to_phys=pm)
        # drop provably-empty outputs (e.g. a DELETE that emptied its
        # file): committing them would only accumulate dead files
        empty = [
            e for e in added
            if (e.get("stats") or {}).get("num_rows") == 0
        ]
        for e in empty:
            self._fs.delete(self._Path(f"{self.path}/{e['path']}"), False)
        added = [e for e in added if e not in empty]
        self._enforce_constraints(
            added, df.schema, self.constraints(),
            rename_to_logical=to_logical,
        )
        return added

    def _write_dv(self, matched: DataFrame) -> tuple[str, dict[str, int]]:
        """Stage ``matched`` (``__f`` file name, ``pos``) as one DV
        generation ``_dv/<commit>/__f=<file>/...`` and return
        (generation rel dir, {file name -> cardinality}). ONE
        distributed write partitioned by file; cardinalities come from
        one bounded agg (a row per touched file). A crash before the
        rename leaves a hidden stage dir vacuum sweeps; after it, an
        uncommitted generation dv-vacuum sweeps."""
        from pyspark.sql import functions as F

        gen = f"{DV_DIR}/{uuid.uuid4().hex}"
        stage = f"{self.path}/.stage-dv-{uuid.uuid4().hex}"
        matched.write.mode("overwrite").partitionBy("__f").parquet(stage)
        cards = {
            r["__f"]: int(r["n"])
            for r in matched.groupBy("__f")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }  # bounded: one row per touched file
        parent = self._Path(f"{self.path}/{DV_DIR}")
        if not self._fs.exists(parent):
            self._fs.mkdirs(parent)
        if not self._fs.rename(
            self._Path(stage), self._Path(f"{self.path}/{gen}")
        ):
            raise IOError(f"failed to stage deletion vectors at {gen}")
        # drop the _SUCCESS marker so only __f= dirs remain
        marker = self._Path(f"{self.path}/{gen}/_SUCCESS")
        if self._fs.exists(marker):
            self._fs.delete(marker, False)
        return gen, cards

    def _mark_entries(
        self, touched: list[dict], marked: DataFrame
    ) -> tuple[list[dict], list[dict]]:
        """Build the (added, removed) action entries that MARK the
        ``marked`` (``__f`` = file key, ``pos``) rows of ``touched``
        entries as deleted: each touched file is re-added with a new
        deletion vector covering its OLD positions ∪ the new marks,
        and removed with its old dv (so CDF diffs logical rows).
        Shared by the dv paths of DELETE, UPDATE, and MERGE."""
        from pyspark.sql import functions as F

        old_dv = self._dv_rows(touched)
        if old_dv is not None:
            marked = marked.unionByName(
                old_dv.select(
                    F.col("__tl_key").alias("__f"),
                    F.col("__tl_pos").alias("pos"),
                )
            )
        gen, cards = self._write_dv(marked)
        added = [
            {
                "path": e["path"],
                "size": e.get("size", 0),
                **({"stats": e["stats"]} if e.get("stats") else {}),
                "dv": {
                    "path": f"{gen}/__f={self._entry_key(e)}",
                    "cardinality": cards[self._entry_key(e)],
                },
            }
            for e in touched
        ]
        removed = [
            {"path": e["path"], **({"dv": e["dv"]} if e.get("dv") else {})}
            for e in touched
        ]
        return added, removed

    def _delete_where_dv(self, where: list[tuple], max_retries: int) -> dict:
        """Merge-on-read DELETE: mark matching rows in per-file
        deletion vectors instead of rewriting the files (Delta's DV
        mode). The commit re-adds each touched file with a NEW dv
        (old positions ∪ new matches) and removes its old entry —
        write cost is proportional to the DELETED ROW COUNT, not the
        touched files' size, which at 100 TB turns a 0.1% delete from
        a multi-GB rewrite into an MB-scale sidecar write. Readers
        apply dvs via a position anti-join (``_scan_entries``);
        OPTIMIZE physically purges them later."""
        from pyspark.sql import functions as F

        last_exc: Exception | None = None
        for _ in range(max_retries):
            base = self.latest_version()
            sch = self.schema(base)
            if sch is None:
                raise ValueError(f"table {self.path} has no commits")
            candidates, _total = self.pruned_files(where, base)
            if not candidates:
                return {"version": base, "files_marked": 0, "rows_deleted": 0}
            scan = self._scan_entries(candidates, sch, with_meta=True)
            pred = _where_to_column(sch, where)
            matched = scan.filter(F.coalesce(pred, F.lit(False))).select(
                F.col("__tl_key").alias("__f"),
                F.col("__tl_pos").alias("pos"),
            )
            touched_names = [
                r["__f"] for r in matched.select("__f").distinct().collect()
            ]  # bounded: one row per touched file
            if not touched_names:
                return {"version": base, "files_marked": 0, "rows_deleted": 0}
            n_del = matched.count()
            touched = self._entries_for_keys(candidates, touched_names)
            added, removed = self._mark_entries(touched, matched)
            try:
                v = self._commit_or_rebase(
                    base,
                    added=added,
                    removed=removed,
                    data_change=True,
                    operation="DELETE",
                    op_metrics={
                        "num_dv_files": len(touched),
                        "num_deleted_rows": int(n_del),
                    },
                )
                return {
                    "version": v,
                    "files_marked": len(touched),
                    "rows_deleted": int(n_del),
                }
            except CommitConflict as e:
                last_exc = e  # re-derive against the new snapshot
                continue
        raise CommitConflict(
            f"delete_where(dv) lost the commit race {max_retries} times"
        ) from last_exc

    def delete_where(
        self,
        where: list[tuple],
        max_retries: int = 10,
        use_dv: bool = False,
    ) -> dict:
        """DELETE rows matching the conjunction (same clause grammar
        as read(where=...)) by rewriting ONLY the files that actually
        contain matches: manifest stats prune candidates, a distinct
        file-identity scan (the _metadata rel-path key) pins the touched set, survivors (predicate
        false or NULL — SQL DELETE semantics) are rewritten in the
        original hive layout, and remove(touched)+add(new) commits as
        one data-change snapshot. Untouched files never move — at
        100 TB a selective delete rewrites MBs, not the table.

        Concurrency: a lost commit race re-runs the whole operation
        against the new snapshot (orphaned staged files are swept by
        VACUUM). Every re-derive implies ANOTHER writer committed, so
        the system always makes progress and a writer needs at most
        W-1 re-derives against W fully-colliding writers —
        ``max_retries=10`` therefore tolerates ~11 writers rewriting
        the SAME files simultaneously (measured in
        tools/tablelog_concurrency_probe.py probe B). Live tablelog
        streams refuse data-change removes unless opened with
        ignore_changes (Delta's contract).

        ``use_dv=True`` switches to merge-on-read: matching rows are
        marked in per-file deletion vectors and nothing is rewritten
        (see ``_delete_where_dv``)."""
        from pyspark.sql import functions as F

        if not where:
            raise ValueError("delete_where requires at least one clause")
        if use_dv:
            return self._delete_where_dv(where, max_retries)
        last_exc: Exception | None = None
        for _ in range(max_retries):
            base = self.latest_version()
            sch = self.schema(base)
            if sch is None:
                raise ValueError(f"table {self.path} has no commits")
            candidates, _total = self.pruned_files(where, base)
            if not candidates:
                return {"version": base, "files_rewritten": 0, "rows_deleted": 0}
            cdf = self._scan_entries(candidates, sch, with_meta=True)
            pred = _where_to_column(sch, where)
            touched_names = {
                r[0]
                for r in cdf.filter(pred)
                .select("__tl_key")
                .distinct()
                .collect()
            }  # bounded: one row per touched file
            touched_entries = self._entries_for_keys(
                candidates, touched_names
            )
            if not touched_entries:
                return {"version": base, "files_rewritten": 0, "rows_deleted": 0}
            touched = [e["path"] for e in touched_entries]
            tdf = self._scan_entries(touched_entries, sch)
            n_match = tdf.filter(pred).count()
            survivors = tdf.filter(~F.coalesce(pred, F.lit(False)))
            added = self._write_rewrite(
                survivors, self._logical_pcols(touched)
            )
            try:
                v = self._commit_or_rebase(
                    base,
                    added=added,
                    removed=[
                        {
                            "path": e["path"],
                            **({"dv": e["dv"]} if e.get("dv") else {}),
                        }
                        for e in touched_entries
                    ],
                    data_change=True,
                    operation="DELETE",
                    op_metrics={
                        "num_rewritten_files": len(touched),
                        "num_deleted_rows": int(n_match),
                    },
                )
                return {
                    "version": v,
                    "files_rewritten": len(touched),
                    "rows_deleted": int(n_match),
                }
            except CommitConflict as e:
                last_exc = e  # re-derive everything against the new snapshot
                continue
        raise CommitConflict(
            f"delete_where lost the commit race {max_retries} times"
        ) from last_exc

    def update_where(
        self,
        where: list[tuple],
        set_exprs: dict[str, str],
        max_retries: int = 10,
        use_dv: bool = False,
    ) -> dict:
        """UPDATE ... SET: rows matching the conjunction get each
        ``set_exprs`` column replaced by its SQL expression (evaluated
        against the OLD row, all assignments simultaneously — standard
        UPDATE semantics); non-matching rows (predicate false or NULL)
        are untouched. Same copy-on-write discipline as delete_where:
        manifest stats prune candidate files, a distinct
        file-identity scan (the _metadata rel-path key) pins the touched set, and only touched
        files are rewritten — an update hitting one key rewrites one
        file, never the table. Expressions may not assign partition
        columns (that is a row MOVE between hive dirs — use
        delete+append) and must preserve the column's type.

        ``use_dv=True`` switches to merge-on-read: the matched rows'
        pre-images are MARKED in deletion vectors and only the
        post-image rows are appended as a new file — write cost ∝
        updated rows, not touched-file bytes. CDF semantics are
        identical (delete pre-image + insert post-image)."""
        from pyspark.sql import functions as F

        if not where:
            raise ValueError("update_where requires at least one clause")
        if not set_exprs:
            raise ValueError("update_where requires at least one assignment")
        last_exc: Exception | None = None
        for _ in range(max_retries):
            base = self.latest_version()
            sch = self.schema(base)
            if sch is None:
                raise ValueError(f"table {self.path} has no commits")
            cols = sch.fieldNames()
            bad = [c for c in set_exprs if c not in cols]
            if bad:
                raise ValueError(f"SET columns not in schema: {bad}")
            candidates, _total = self.pruned_files(where, base)
            if not candidates:
                return {"version": base, "files_rewritten": 0, "rows_updated": 0}
            pcols = self._logical_pcols([e["path"] for e in candidates])
            clash = [c for c in set_exprs if c in pcols]
            if clash:
                raise ValueError(
                    f"cannot SET partition columns {clash}: that moves rows "
                    "between hive directories — delete_where + append instead"
                )
            cdf = self._scan_entries(candidates, sch, with_meta=True)
            pred = _where_to_column(sch, where)
            touched_names = {
                r[0]
                for r in cdf.filter(pred)
                .select("__tl_key")
                .distinct()
                .collect()
            }  # bounded: one row per touched file
            touched_entries = self._entries_for_keys(
                candidates, touched_names
            )
            if not touched_entries:
                return {"version": base, "files_rewritten": 0, "rows_updated": 0}
            touched = [e["path"] for e in touched_entries]
            hit = F.coalesce(pred, F.lit(False))

            def post_image(src: DataFrame, all_hit: bool) -> DataFrame:
                # one select over the old row: every assignment sees
                # the PRE-update values even when one SET column feeds
                # another
                cond = F.lit(True) if all_hit else hit
                out = src.select(
                    *[
                        F.when(cond, F.expr(set_exprs[c]))
                        .otherwise(F.col(c))
                        .alias(c)
                        if c in set_exprs
                        else F.col(c)
                        for c in cols
                    ]
                )
                for c in set_exprs:
                    want = sch[c].dataType
                    if out.schema[c].dataType != want:
                        out = out.withColumn(c, F.col(c).cast(want))
                return out

            if use_dv:
                matched_meta = cdf.filter(hit).filter(
                    F.col("__tl_key").isin(list(touched_names))
                )
                n_match = matched_meta.count()
                marked = matched_meta.select(
                    F.col("__tl_key").alias("__f"),
                    F.col("__tl_pos").alias("pos"),
                )
                new_rows = post_image(
                    matched_meta.drop("__tl_key", "__tl_pos"), all_hit=True
                )
                dv_added, removed = self._mark_entries(
                    touched_entries, marked
                )
                added = dv_added + self._write_rewrite(
                    new_rows, self._logical_pcols(touched)
                )
            else:
                tdf = self._scan_entries(touched_entries, sch)
                n_match = tdf.filter(pred).count()
                new_rows = post_image(tdf, all_hit=False)
                added = self._write_rewrite(
                    new_rows, self._logical_pcols(touched)
                )
                removed = [
                    {
                        "path": e["path"],
                        **({"dv": e["dv"]} if e.get("dv") else {}),
                    }
                    for e in touched_entries
                ]
            try:
                v = self._commit_or_rebase(
                    base,
                    added=added,
                    removed=removed,
                    data_change=True,
                    operation="UPDATE",
                    op_metrics={
                        ("num_dv_files" if use_dv else "num_rewritten_files"):
                            len(touched),
                        "num_updated_rows": int(n_match),
                    },
                )
                return {
                    "version": v,
                    "files_rewritten": 0 if use_dv else len(touched),
                    "files_marked": len(touched) if use_dv else 0,
                    "rows_updated": int(n_match),
                }
            except CommitConflict as e:
                last_exc = e  # re-derive everything against the new snapshot
                continue
        raise CommitConflict(
            f"update_where lost the commit race {max_retries} times"
        ) from last_exc

    def overwrite(
        self,
        df: DataFrame,
        partition_by: list[str] | None = None,
        max_retries: int = 10,
        operation: str = "OVERWRITE",
    ) -> dict:
        """Full-table INSERT OVERWRITE as ONE commit: stage ``df``'s
        files, then remove(every live file)+add(new) atomically —
        readers pinned to the prior version keep it; nobody observes
        an empty table (the directory-overwrite hazard this format
        exists to remove). The new schema replaces the stored one."""
        last_exc: Exception | None = None
        added = None
        # column mapping survives an overwrite (Delta's contract):
        # matching logical names keep their physical names, new
        # columns mint fresh ones — committed schema + written files
        # agree via the shared attached schema
        stored0 = self.schema()
        if _mapping_active(stored0):
            commit_schema = self._attach_mapping(df.schema, stored0, {})
        else:
            commit_schema = df.schema
        for _ in range(max_retries):
            base = self.latest_version()
            live = [
                {"path": e["path"], **({"dv": e["dv"]} if e.get("dv") else {})}
                for e in self.snapshot_files(base)
            ]
            if added is None:  # stage once; only the commit retries
                added = self._write_rewrite(
                    df, partition_by or [], mapped_schema=commit_schema
                )
            try:
                v = self.commit(
                    added=added,
                    removed=live,
                    data_change=True,
                    schema=commit_schema,
                    expected_version=base,
                    operation=operation,
                    op_metrics={
                        "num_removed_files": len(live),
                        "num_added_files": len(added),
                    },
                )
                return {"version": v, "files_removed": len(live)}
            except CommitConflict as e:
                last_exc = e
                continue
        raise CommitConflict(
            f"overwrite lost the commit race {max_retries} times"
        ) from last_exc

    def overwrite_where(
        self, df: DataFrame, where: list[tuple], max_retries: int = 10
    ) -> dict:
        """INSERT OVERWRITE a predicate slice (Delta's ``replaceWhere``,
        the backfill idiom): atomically replace every row matching the
        conjunction with ``df``'s rows, in ONE commit — readers see
        either the old slice or the new one, never neither (unlike the
        directory-swap compactor's documented window). Refuses rows in
        ``df`` that do NOT satisfy the predicate (they would silently
        leak outside the slice being replaced — Delta's constraint).
        Only files containing matches are rewritten."""
        from pyspark.sql import functions as F

        if not where:
            raise ValueError("overwrite_where requires at least one clause")
        last_exc: Exception | None = None
        for _ in range(max_retries):
            base = self.latest_version()
            sch = self.schema(base)
            if sch is None:
                raise ValueError(f"table {self.path} has no commits")
            cols = sch.fieldNames()
            if set(df.columns) != set(cols):
                raise ValueError(
                    f"overwrite columns {sorted(df.columns)} must equal "
                    f"the table schema {sorted(cols)}"
                )
            pred = _where_to_column(sch, where)
            n_outside = df.filter(~F.coalesce(pred, F.lit(False))).count()
            if n_outside:
                raise ValueError(
                    f"{n_outside} replacement rows do not satisfy the "
                    "replaceWhere predicate — they would escape the slice"
                )
            candidates, _total = self.pruned_files(where, base)
            touched: list[str] = []
            touched_entries: list[dict] = []
            survivors = None
            if candidates:
                cdf = self._scan_entries(candidates, sch, with_meta=True)
                touched_names = {
                    r[0]
                    for r in cdf.filter(pred)
                    .select("__tl_key")
                    .distinct()
                    .collect()
                }
                touched_entries = self._entries_for_keys(
                    candidates, touched_names
                )
                touched = [e["path"] for e in touched_entries]
                if touched_entries:
                    tdf = self._scan_entries(touched_entries, sch)
                    survivors = tdf.filter(~F.coalesce(pred, F.lit(False)))
            new_data = df.select(*cols)
            if survivors is not None:
                new_data = survivors.select(*cols).unionByName(new_data)
            added = self._write_rewrite(
                new_data, self._logical_pcols(touched)
            )
            try:
                v = self._commit_or_rebase(
                    base,
                    added=added,
                    removed=[
                        {
                            "path": e["path"],
                            **({"dv": e["dv"]} if e.get("dv") else {}),
                        }
                        for e in touched_entries
                    ],
                    data_change=True,
                    operation="REPLACE WHERE",
                    op_metrics={
                        "num_rewritten_files": len(touched),
                        "num_added_files": len(added),
                    },
                )
                return {"version": v, "files_rewritten": len(touched)}
            except CommitConflict as e:
                last_exc = e
                continue
        raise CommitConflict(
            f"overwrite_where lost the commit race {max_retries} times"
        ) from last_exc

    def merge_into(
        self,
        source: DataFrame,
        on: list[str],
        when_matched: str = "update",
        when_not_matched: str | None = "insert",
        max_retries: int = 10,
        use_dv: bool = False,
    ) -> dict:
        """MERGE (upsert): source rows matching a target row on the
        key replace it (``when_matched='update'``, full-row) or delete
        it (``'delete'``); unmatched source rows are inserted
        (``when_not_matched='insert'``) or dropped (None). Copy-on-
        write over ONLY the files containing matches — the same
        touched-file discipline as delete_where, so an upsert touching
        one key rewrites one file. The source must be unique on the
        key (a 1:N merge is ambiguous; refused up front, Delta's
        ``MERGE`` cardinality rule). Source columns must equal the
        table schema (full-row semantics keep the operation
        oracle-checkable; partial-column update is a projection the
        caller can build).

        ``use_dv=True`` switches to merge-on-read: matched target
        rows are MARKED in deletion vectors and only the replacement
        + insert rows append as a new file — an upsert's write cost
        tracks the source size, not the touched files' bytes."""
        from pyspark.sql import functions as F

        if when_matched not in ("update", "delete"):
            raise ValueError("when_matched must be 'update' or 'delete'")
        if when_not_matched not in ("insert", None):
            raise ValueError("when_not_matched must be 'insert' or None")
        if not on:
            raise ValueError("merge_into requires a non-empty key")
        last_exc: Exception | None = None
        for _ in range(max_retries):
            base = self.latest_version()
            sch = self.schema(base)
            if sch is None:
                raise ValueError(f"table {self.path} has no commits")
            cols = sch.fieldNames()
            if set(source.columns) != set(cols):
                raise ValueError(
                    f"source columns {sorted(source.columns)} must equal "
                    f"the table schema {sorted(cols)}"
                )
            missing = [k for k in on if k not in cols]
            if missing:
                raise ValueError(f"merge key columns not in schema: {missing}")
            dup = (
                source.groupBy(*on)
                .count()
                .filter(F.col("count") > 1)
                .limit(1)
                .count()
            )
            if dup:
                raise ValueError(
                    "merge source has duplicate keys — a 1:N merge is ambiguous"
                )
            entries = self.snapshot_files(base)
            src = source.select(*cols)
            if not entries:
                if when_not_matched is None:
                    return {"version": base, "files_rewritten": 0,
                            "rows_updated": 0, "rows_inserted": 0,
                            "rows_deleted": 0}
                n_ins = src.count()
                added = self._write_rewrite(src, [])
                try:
                    v = self._commit_or_rebase(
                        base,
                        added=added,
                        data_change=True,
                        operation="MERGE",
                        op_metrics={"num_inserted_rows": int(n_ins)},
                    )
                    return {"version": v, "files_rewritten": 0,
                            "rows_updated": 0, "rows_inserted": int(n_ins),
                            "rows_deleted": 0}
                except CommitConflict as e:
                    last_exc = e
                    continue
            # the file identity is captured AT THE SCAN by
            # _scan_entries (_metadata columns; an expression added
            # after the join would evaluate on shuffled rows)
            tdf_all = self._scan_entries(entries, sch, with_meta=True)
            touched_names = {
                r[0]
                for r in tdf_all.join(
                    src.select(*on), on=on, how="leftsemi"
                )
                .select("__tl_key")
                .distinct()
                .collect()
            }
            touched_entries = self._entries_for_keys(entries, touched_names)
            touched = [e["path"] for e in touched_entries]
            tdf = self._scan_entries(touched_entries, sch)
            # any source row matching the target matches inside a
            # touched file by construction, so the anti-joins below
            # only ever need tdf, never the full table
            matched_src = src.join(
                tdf.select(*on), on=on, how="leftsemi"
            )
            n_upd = n_del = 0
            if when_matched == "update":
                n_upd = matched_src.count()
            else:
                n_del = matched_src.count()
            n_ins = 0
            inserts = None
            if when_not_matched == "insert":
                inserts = src.join(tdf.select(*on), on=on, how="left_anti")
                n_ins = inserts.count()
            if not touched and n_ins == 0:
                return {"version": base, "files_rewritten": 0,
                        "rows_updated": 0, "rows_inserted": 0,
                        "rows_deleted": 0}
            pcols = self._logical_pcols([e["path"] for e in entries])
            if use_dv:
                # mark every matched target row; append only the
                # replacement rows (update) and the inserts
                marked = (
                    tdf_all.join(src.select(*on), on=on, how="leftsemi")
                    .select(
                        F.col("__tl_key").alias("__f"),
                        F.col("__tl_pos").alias("pos"),
                    )
                )
                dv_added, removed = (
                    self._mark_entries(touched_entries, marked)
                    if touched_entries
                    else ([], [])
                )
                pieces = []
                if when_matched == "update":
                    pieces.append(matched_src.select(*cols))
                if inserts is not None:
                    pieces.append(inserts.select(*cols))
                added = list(dv_added)
                if pieces:
                    new_data = pieces[0]
                    for p in pieces[1:]:
                        new_data = new_data.unionByName(p)
                    added += self._write_rewrite(new_data, pcols)
            else:
                survivors = tdf.join(
                    src.select(*on), on=on, how="left_anti"
                )
                pieces = [survivors.select(*cols)]
                if when_matched == "update":
                    pieces.append(matched_src.select(*cols))
                if inserts is not None:
                    pieces.append(inserts.select(*cols))
                new_data = pieces[0]
                for p in pieces[1:]:
                    new_data = new_data.unionByName(p)
                added = self._write_rewrite(new_data, pcols)
                removed = [
                    {
                        "path": e["path"],
                        **({"dv": e["dv"]} if e.get("dv") else {}),
                    }
                    for e in touched_entries
                ]
            try:
                v = self._commit_or_rebase(
                    base,
                    added=added,
                    removed=removed,
                    data_change=True,
                    operation="MERGE",
                    op_metrics={
                        ("num_dv_files" if use_dv else "num_rewritten_files"):
                            len(touched),
                        "num_updated_rows": int(n_upd),
                        "num_inserted_rows": int(n_ins),
                        "num_deleted_rows": int(n_del),
                    },
                )
                return {
                    "version": v,
                    "files_rewritten": 0 if use_dv else len(touched),
                    "files_marked": len(touched) if use_dv else 0,
                    "rows_updated": int(n_upd),
                    "rows_inserted": int(n_ins),
                    "rows_deleted": int(n_del),
                }
            except CommitConflict as e:
                last_exc = e
                continue
        raise CommitConflict(
            f"merge_into lost the commit race {max_retries} times"
        ) from last_exc

    def restore(self, version: int, max_retries: int = 10) -> dict:
        """RESTORE TABLE TO VERSION: roll the table back to an earlier
        snapshot as ONE NEW data-change commit — history is never
        rewritten (Delta's RESTORE shape). The commit re-adds exactly
        the target version's files missing from the head and removes
        head files the target lacks; files live in both snapshots are
        untouched, so restoring across a selective DELETE moves only
        the files that DELETE rewrote. Time travel to versions after
        the restore still works, the CDF shows the restore as genuine
        row-level deltas (survivor rows cancel under the two-sided
        exceptAll in read_changes), and a second restore can roll the
        roll-back forward again.

        Refuses (before committing anything) when a re-added file has
        been swept by VACUUM — the retention window bounds how far back
        RESTORE reaches, exactly Delta's contract. The restored rows
        are NOT re-validated against CHECK constraints added after the
        target version (they were valid when written; Delta likewise
        skips re-validation on RESTORE). The stored schema is rolled
        back too when it changed since the target."""
        last_exc: Exception | None = None
        for _ in range(max_retries):
            base = self.latest_version()
            if version > base or version < 0:
                raise ValueError(
                    f"cannot restore to version {version}: table is at {base}"
                )
            target = {e["path"]: e for e in self.snapshot_files(version)}
            cur = {e["path"]: e for e in self.snapshot_files(base)}
            # ENTRY-level diff: a path present in both snapshots still
            # restores when its entry changed (e.g. a deletion vector
            # added since) — the re-add is paired with a remove
            # carrying the CURRENT dv so CDF nets exactly the
            # restored rows
            adds = [
                e for p, e in sorted(target.items()) if cur.get(p) != e
            ]
            removes = [
                {
                    "path": p,
                    **({"dv": cur[p]["dv"]} if cur[p].get("dv") else {}),
                }
                for p in sorted(cur)
                if p not in target or cur[p] != target[p]
            ]
            missing = [
                rel
                for e in adds
                for rel in (
                    [e["path"]]
                    + ([e["dv"]["path"]] if e.get("dv") else [])
                )
                if not self._fs.exists(self._Path(f"{self.path}/{rel}"))
            ]
            if missing:
                raise ValueError(
                    f"cannot restore to version {version}: {len(missing)} "
                    f"data files were removed by VACUUM (first: "
                    f"{missing[0]!r}) — the retention window bounds RESTORE"
                )
            sch_t, sch_b = self.schema(version), self.schema(base)
            schema_arg = (
                sch_t if sch_t is not None and sch_t != sch_b else None
            )
            if not adds and not removes and schema_arg is None:
                return {
                    "version": base,
                    "restored_version": version,
                    "files_added": 0,
                    "files_removed": 0,
                }
            try:
                v = self._commit_or_rebase(
                    base,
                    added=adds,
                    removed=removes,
                    data_change=True,
                    schema=schema_arg,
                    operation="RESTORE",
                    op_metrics={
                        "restored_version": version,
                        "num_restored_files": len(adds),
                        "num_removed_files": len(removes),
                    },
                )
                return {
                    "version": v,
                    "restored_version": version,
                    "files_added": len(adds),
                    "files_removed": len(removes),
                }
            except CommitConflict as e:
                last_exc = e  # re-derive the diff against the new head
                continue
        raise CommitConflict(
            f"restore lost the commit race {max_retries} times"
        ) from last_exc

    # ---------- constraints ----------

    def add_constraint(
        self, name: str, expr: str, max_retries: int = 10
    ) -> int:
        """ALTER TABLE ADD CONSTRAINT name CHECK (expr): validates the
        CURRENT rows first (one filter-count scan — a constraint the
        existing data violates is refused with the violating count,
        Delta's behavior), then commits the new constraint map as a
        metadata-only manifest (no file actions, ``data_change=False``
        so live tails skip it). From that commit on, every row-adding
        write validates against the constraint and a violating write
        raises ConstraintViolation with per-constraint counts.
        SQL CHECK semantics: NULL passes; spell NOT NULL as
        ``col IS NOT NULL``."""
        from pyspark.sql import functions as F

        if not name or not expr:
            raise ValueError("add_constraint requires a name and a CHECK sql")
        last_exc: Exception | None = None
        for _ in range(max_retries):
            base = self.latest_version()
            cons = self.constraints(base)
            if cons.get(name) == expr:
                return base  # idempotent re-add
            if name in cons:
                raise ValueError(
                    f"constraint {name!r} already exists with a different "
                    f"expression {cons[name]!r}; drop it first"
                )
            sch = self.schema(base)
            if sch is None:
                raise ValueError(f"table {self.path} has no commits")
            n_bad = (
                self.read(version=base)
                .filter(~F.coalesce(F.expr(expr), F.lit(True)))
                .count()
            )
            if n_bad:
                raise ConstraintViolation(
                    f"cannot add constraint {name!r}: {n_bad} existing rows "
                    f"violate CHECK {expr!r}",
                    {name: int(n_bad)},
                )
            try:
                # plain pinned commit, NOT _commit_or_rebase: a blind
                # rebase over a concurrent append would let that
                # append's rows skip validation — any intervening
                # commit must restart the validate-then-commit cycle
                return self.commit(
                    expected_version=base,
                    data_change=False,
                    operation="ADD CONSTRAINT",
                    constraints={**cons, name: expr},
                )
            except CommitConflict as e:
                last_exc = e  # re-validate against the new snapshot
                continue
        raise CommitConflict(
            f"add_constraint lost the commit race {max_retries} times"
        ) from last_exc

    def drop_constraint(self, name: str, max_retries: int = 10) -> int:
        """ALTER TABLE DROP CONSTRAINT: metadata-only commit storing
        the shrunken (possibly empty) full map. Dropping an unknown
        constraint is a no-op returning the current version."""
        last_exc: Exception | None = None
        for _ in range(max_retries):
            base = self.latest_version()
            cons = self.constraints(base)
            if name not in cons:
                return base
            try:
                return self._commit_or_rebase(
                    base,
                    data_change=False,
                    operation="DROP CONSTRAINT",
                    constraints={
                        k: v for k, v in cons.items() if k != name
                    },
                )
            except CommitConflict as e:
                last_exc = e
                continue
        raise CommitConflict(
            f"drop_constraint lost the commit race {max_retries} times"
        ) from last_exc

    def _migrate_columns(
        self, transform, new_pcols: list[str], operation: str
    ) -> dict:
        """Shared core of rename_column / drop_column: an HONEST
        full-rewrite migration (no column-mapping indirection layer —
        every read path keeps working on physical names) committed as
        ONE overwrite: readers pinned to prior versions see the old
        schema, the head sees the new one atomically. Refused while
        CHECK constraints exist (their SQL may reference the migrated
        column; drop them first, re-add rewritten). CDF caveat, same
        as Delta's: a change feed crossing the migration commit reads
        the removed files under the NEW schema, so the migrated
        column's pre-images read as null — consume the feed up to the
        migration first.

        The CAS is PINNED to the snapshot the rewrite was staged from
        (no rebase): the rewrite is derived from version ``base``, so
        a commit landing during the (table-scale) rewrite would have
        its rows silently DROPPED by a rebased retry — instead the
        migration raises ConcurrentModification and the caller re-runs
        it (round-9 ADVICE finding; previously routed through
        ``overwrite()``, whose retry re-lists the live set)."""
        cons = self.constraints()
        if cons:
            raise ValueError(
                f"table has CHECK constraints {sorted(cons)}; drop them "
                "before a column migration and re-add rewritten forms"
            )
        base = self.latest_version()
        live = [
            {"path": e["path"], **({"dv": e["dv"]} if e.get("dv") else {})}
            for e in self.snapshot_files(base)
        ]
        df = transform(self.read(version=base))
        added = self._write_rewrite(df, new_pcols or [])
        try:
            v = self.commit(
                added=added,
                removed=live,
                data_change=True,
                schema=df.schema,
                expected_version=base,
                operation=operation,
                op_metrics={
                    "num_removed_files": len(live),
                    "num_added_files": len(added),
                },
            )
        except CommitConflict as e:
            raise ConcurrentModification(
                f"{operation} was staged from version {base} but the "
                "table advanced during the rewrite; re-run the "
                "migration (a rebase would silently drop the "
                "concurrent rows)"
            ) from e
        return {
            "version": v,
            "files_removed": len(live),
            "operation": operation,
        }

    def rename_column(self, old: str, new: str) -> dict:
        """ALTER TABLE RENAME COLUMN. On a column-mapped table
        (``enable_column_mapping``) this is ONE metadata commit — the
        logical name changes, the physical name and every data file,
        hive dir, and file stat stay put. On an unmapped table it
        remains the honest full rewrite whose table-scale cost
        tools/migration_cost_probe.py measures. Refused while CHECK
        constraints exist either way (their SQL may reference the
        column; drop them first, re-add rewritten)."""
        sch = self.schema()
        if sch is None:
            raise ValueError(f"table {self.path} has no commits")
        names = sch.fieldNames()
        if old not in names:
            raise ValueError(f"column {old!r} not in {sorted(names)}")
        if new in names:
            raise ValueError(f"column {new!r} already exists")
        if _mapping_active(sch):
            cons = self.constraints()
            if cons:
                raise ValueError(
                    f"table has CHECK constraints {sorted(cons)}; drop "
                    "them before a column migration and re-add "
                    "rewritten forms"
                )
            stamped = T.StructType(
                [
                    T.StructField(
                        new if f.name == old else f.name,
                        f.dataType,
                        f.nullable,
                        dict(f.metadata or {}),
                    )
                    for f in sch.fields
                ]
            )
            v = self.commit(
                added=[], removed=[], data_change=False, schema=stamped,
                operation="RENAME COLUMN",
                op_metrics={"metadata_only": 1},
            )
            return {
                "version": v, "files_removed": 0,
                "operation": "RENAME COLUMN",
            }
        pcols = self._partition_cols(
            [e["path"] for e in self.snapshot_files()]
        )
        new_pcols = [new if c == old else c for c in pcols]
        return self._migrate_columns(
            lambda df: df.withColumnRenamed(old, new),
            new_pcols,
            "RENAME COLUMN",
        )

    def drop_column(self, col: str) -> dict:
        """ALTER TABLE DROP COLUMN. On a column-mapped table this is
        ONE metadata commit: the field leaves the schema, readers stop
        projecting its physical column, and a LATER column with the
        same logical name gets a fresh minted physical name — the old
        bytes can never resurrect (regression-tested). Dropping a
        partition column on a mapped table is refused (the hive layout
        is built on it; flattening is a real rewrite — use an
        overwrite). On an unmapped table it remains the honest full
        rewrite."""
        sch = self.schema()
        if sch is None:
            raise ValueError(f"table {self.path} has no commits")
        names = sch.fieldNames()
        if col not in names:
            raise ValueError(f"column {col!r} not in {sorted(names)}")
        if len(names) == 1:
            raise ValueError("cannot drop the table's only column")
        if _mapping_active(sch):
            cons = self.constraints()
            if cons:
                raise ValueError(
                    f"table has CHECK constraints {sorted(cons)}; drop "
                    "them before a column migration and re-add "
                    "rewritten forms"
                )
            pcols_logical = self._logical_pcols(
                [e["path"] for e in self.snapshot_files()]
            )
            if col in pcols_logical:
                raise ValueError(
                    f"column {col!r} is a hive partition column; "
                    "dropping it flattens the layout, which is a real "
                    "rewrite — overwrite() with the new layout instead"
                )
            stamped = T.StructType(
                [f for f in sch.fields if f.name != col]
            )
            v = self.commit(
                added=[], removed=[], data_change=False, schema=stamped,
                operation="DROP COLUMN",
                op_metrics={"metadata_only": 1},
            )
            return {
                "version": v, "files_removed": 0,
                "operation": "DROP COLUMN",
            }
        pcols = self._partition_cols(
            [e["path"] for e in self.snapshot_files()]
        )
        new_pcols = [c for c in pcols if c != col]
        return self._migrate_columns(
            lambda df: df.drop(col), new_pcols, "DROP COLUMN"
        )

    def expire_manifests(self, retain_versions: int = 100) -> list[int]:
        """Log retention (Delta's logRetentionDuration analogue, by
        version count): delete manifests OLDER than the newest
        checkpoint manifest at or below ``latest - retain_versions +
        1``. Checkpoint manifests embed the full live set / schema /
        txn map / constraints, so every surviving version still
        replays from the surviving prefix — reads, time travel, and
        stream positions WITHIN the retained window are unaffected;
        time travel past it raises a missing-manifest error (give up
        history, not correctness). Nothing is deleted when no
        checkpoint exists at or below the cutoff. Returns the expired
        version numbers.

        Ordering note: run BEFORE vacuum when shrinking retention —
        vacuum's keep-set walks the retained snapshots, so expired
        history's exclusive files become sweepable on the next
        vacuum."""
        if retain_versions < 1:
            raise ValueError("retain_versions must be >= 1")
        vs = self._list_versions()
        if not vs:
            return []
        cutoff = vs[-1] - retain_versions + 1
        # a checkpoint is a full-embed JSON manifest OR a readable
        # parquet sidecar — either anchors replay of everything above
        sidecars = set(checkpoint_versions(self._log))
        anchor = None  # newest checkpoint <= cutoff
        for v in vs:
            if v > cutoff:
                break
            if v in sidecars and read_checkpoint(self._log, v) is not None:
                anchor = v
            elif self._read_manifest(v).get("full") is not None:
                anchor = v
        if anchor is None:
            return []
        expired = [v for v in vs if v < anchor]
        for v in expired:
            self._log.delete_version(v)
            if v in sidecars:
                self._log.delete_aux(checkpoint_name(v))
        return expired

    def vacuum(
        self, retain_versions: int = 1, min_age_seconds: float = 0.0
    ) -> list[str]:
        """Delete data files referenced by NO retained snapshot
        (latest ``retain_versions`` versions), skipping files younger
        than ``min_age_seconds`` (in-flight stages commit soon).
        Returns deleted rel paths. Also prunes tmp manifest litter.

        A table with NO commits is refused (no-op returning []): with
        an empty log every file under the root is "unreferenced", so
        proceeding would delete data a first commit is about to claim
        — or a plain parquet directory the caller pointed at by
        mistake (round-8 self-review finding)."""
        latest = self.latest_version()
        if latest == 0:
            return []
        keep: set[str] = set()
        keep_dv_gens: set[str] = set()  # _dv/<commit> dirs still referenced
        for v in range(max(1, latest - retain_versions + 1), latest + 1):
            for e in self.snapshot_files(v):
                keep.add(e["path"])
                if e.get("dv"):
                    keep_dv_gens.add(e["dv"]["path"].rsplit("/", 1)[0])
        now = time.time()
        deleted: list[str] = []
        # deletion-vector generations live under _dv/ (hidden from the
        # data walk below); sweep whole generations no retained
        # snapshot references, with the same age guard. A generation
        # referenced by NO manifest at all is either crash litter or a
        # commit IN FLIGHT (_write_dv renames into _dv/ before the
        # manifest commit) — sweep those only past the commit window,
        # regardless of min_age_seconds, or a racing vacuum would
        # delete sidecars the landing commit is about to reference
        # (round-9 ADVICE finding). Superseded generations (present in
        # some retained manifest's actions) are committed history and
        # sweep under the caller's age policy as before.
        #
        # The reference scan is BOUNDED: it only changes the verdict
        # for generations YOUNGER than the stale window (older ones
        # sweep regardless), and a young generation's referencing
        # commit is equally recent — so walk manifests newest-first
        # and stop once commit timestamps fall behind the window
        # (plus slack), instead of reading all O(history) manifests.
        referenced_in_log: set[str] = set()
        horizon_ms = (now - 2 * _LOCK_STALE_SECONDS) * 1000
        for v in reversed(self._list_versions()):
            m = self._read_manifest(v)
            for a in m.get("actions", []):
                if a.get("dv"):
                    referenced_in_log.add(
                        a["dv"]["path"].rsplit("/", 1)[0]
                    )
            if m.get("timestamp_ms", 0) < horizon_ms:
                break
        dv_root = self._Path(f"{self.path}/{DV_DIR}")
        if self._fs.exists(dv_root):
            for st in self._fs.listStatus(dv_root):
                gen_rel = f"{DV_DIR}/{st.getPath().getName()}"
                if gen_rel in keep_dv_gens:
                    continue
                age_floor = (
                    min_age_seconds
                    if gen_rel in referenced_in_log
                    else max(min_age_seconds, _LOCK_STALE_SECONDS)
                )
                if st.getModificationTime() / 1000.0 > now - age_floor:
                    continue
                self._fs.delete(st.getPath(), True)
                deleted.append(gen_rel)
        if self._fs.exists(self._root):
            it = self._fs.listFiles(self._root, True)
            base = self._root.toUri().getPath().rstrip("/")
            while it.hasNext():
                st = it.next()
                full = st.getPath().toUri().getPath()
                rel = full[len(base):].lstrip("/")
                # skip the log itself, hidden files, and live stages
                if any(
                    seg.startswith(("_", ".")) for seg in rel.split("/")
                ):
                    continue
                if rel in keep:
                    continue
                if st.getModificationTime() / 1000.0 > now - min_age_seconds:
                    continue
                self._fs.delete(st.getPath(), False)
                deleted.append(rel)
        self._log.sweep_tmp(min_age_seconds)
        # sweep abandoned hidden stage dirs (writer died pre-promote)
        if not self._fs.exists(self._root):
            return deleted
        for st in self._fs.listStatus(self._root):
            n = st.getPath().getName()
            if (
                st.isDirectory()
                and n.startswith(".stage-")
                and st.getModificationTime() / 1000.0 < now - min_age_seconds
            ):
                self._fs.delete(st.getPath(), True)
                deleted.append(n)
        return deleted


def apply_count_delta(
    state: DataFrame | None,
    changes: DataFrame,
    keys: list[str],
    count_col: str = "n",
) -> DataFrame:
    """Incremental materialized-view maintenance for a keyed COUNT:
    fold one CDF batch (``_change_type`` insert/delete rows) into the
    running ``keys → count`` state — inserts +1, deletes −1, keys whose
    count reaches zero drop out. Pure DataFrame transform: one
    partial-aggregated shuffle over the BATCH (not the base table) plus
    an outer join against the state, which is the whole point — the
    view never rescans the table, at 100 TB a one-file UPDATE costs a
    two-row delta. Equivalence ``state == table.groupBy(keys).count()``
    is asserted across append/DELETE/UPDATE in
    tests/test_tablelog_txn.py."""
    from pyspark.sql import functions as F

    delta = (
        changes.groupBy(*keys)
        .agg(
            F.sum(
                F.when(F.col("_change_type") == "insert", F.lit(1))
                .when(F.col("_change_type") == "delete", F.lit(-1))
                .otherwise(F.lit(0))
            ).alias("__delta")
        )
    )
    if state is None:
        merged = delta.select(
            *keys, F.col("__delta").alias(count_col)
        )
    else:
        merged = (
            state.join(delta, on=keys, how="full_outer")
            .select(
                *keys,
                (
                    F.coalesce(F.col(count_col), F.lit(0))
                    + F.coalesce(F.col("__delta"), F.lit(0))
                ).alias(count_col),
            )
        )
    return merged.filter(F.col(count_col) != 0)


def apply_agg_delta(
    state: DataFrame | None,
    changes: DataFrame,
    keys: list[str],
    sum_cols: dict[str, str],
    count_col: str = "n",
) -> DataFrame:
    """``apply_count_delta`` generalized to keyed COUNT + SUMs: fold
    one CDF batch into running ``keys → (count, Σcol…)`` state —
    inserts add, deletes subtract, an UPDATE's delete+insert pair nets
    the value difference. ``sum_cols`` maps source column → state
    column. NULL summands contribute 0 (the incremental form of SQL
    SUM's null-skipping; a group whose values are all NULL therefore
    carries 0, not NULL — use the count to distinguish). Keys whose
    count reaches zero drop out. Same scale shape as the count
    version: one partial-agg shuffle over the BATCH plus an outer
    join against the state — never a base-table rescan. Equivalence
    to a fresh groupBy agg across append/DELETE/UPDATE is asserted in
    tests/test_tablelog_txn.py."""
    from pyspark.sql import functions as F

    sign = (
        F.when(F.col("_change_type") == "insert", F.lit(1))
        .when(F.col("_change_type") == "delete", F.lit(-1))
        .otherwise(F.lit(0))
    )
    aggs = [F.sum(sign).alias("__dn")] + [
        F.sum(sign * F.coalesce(F.col(src), F.lit(0))).alias(f"__d_{dst}")
        for src, dst in sum_cols.items()
    ]
    delta = changes.groupBy(*keys).agg(*aggs)
    if state is None:
        merged = delta.select(
            *keys,
            F.col("__dn").alias(count_col),
            *[
                F.col(f"__d_{dst}").alias(dst)
                for dst in sum_cols.values()
            ],
        )
    else:
        merged = state.join(delta, on=keys, how="full_outer").select(
            *keys,
            (
                F.coalesce(F.col(count_col), F.lit(0))
                + F.coalesce(F.col("__dn"), F.lit(0))
            ).alias(count_col),
            *[
                (
                    F.coalesce(F.col(dst), F.lit(0))
                    + F.coalesce(F.col(f"__d_{dst}"), F.lit(0))
                ).alias(dst)
                for dst in sum_cols.values()
            ],
        )
    return merged.filter(F.col(count_col) != 0)


def apply_minmax_delta(
    state: DataFrame | None,
    changes: DataFrame,
    keys: list[str],
    cols: list[str],
    rescan,
    count_col: str = "n",
) -> DataFrame:
    """Incremental keyed COUNT + MIN/MAX maintenance from one CDF
    batch. MIN/MAX are not groupwise-invertible (deleting the current
    extremum reveals an unknown runner-up), so the fold is hybrid:

    - inserts merge for free: new_min = least(state, batch_min);
    - a group is RE-DERIVED only when the batch DELETES a value that
      ties its current extremum (``del_min <= state_min`` — values
      come from the table, so <= means "could be the minimum"; a tie
      is conservative under duplicates). ``rescan(keys_df)`` is the
      caller's bounded re-aggregation of exactly those groups against
      the CURRENT table (e.g. ``table.read().join(broadcast(keys_df),
      keys).groupBy(keys).agg(...)``), so the cost is proportional to
      extremum-touching groups, never the table.

    State columns: keys, ``count_col``, and ``min_<c>``/``max_<c>``
    per tracked column. Keys whose count reaches zero drop out.
    Equivalence to a fresh groupBy after every DML kind is asserted in
    tests/test_tablelog_txn.py."""
    from pyspark.sql import functions as F

    sign = (
        F.when(F.col("_change_type") == "insert", F.lit(1))
        .when(F.col("_change_type") == "delete", F.lit(-1))
        .otherwise(F.lit(0))
    )
    ins = F.col("_change_type") == "insert"
    dele = F.col("_change_type") == "delete"
    aggs = [F.sum(sign).alias("__dn")]
    for c in cols:
        aggs += [
            F.min(F.when(ins, F.col(c))).alias(f"__imin_{c}"),
            F.max(F.when(ins, F.col(c))).alias(f"__imax_{c}"),
            F.min(F.when(dele, F.col(c))).alias(f"__dmin_{c}"),
            F.max(F.when(dele, F.col(c))).alias(f"__dmax_{c}"),
        ]
    delta = changes.groupBy(*keys).agg(*aggs)
    if state is None:
        fresh = delta.filter(F.col("__dn") != 0)
        return fresh.select(
            *keys,
            F.col("__dn").alias(count_col),
            *[
                x
                for c in cols
                for x in (
                    F.col(f"__imin_{c}").alias(f"min_{c}"),
                    F.col(f"__imax_{c}").alias(f"max_{c}"),
                )
            ],
        )
    merged = state.join(delta, on=keys, how="full_outer")
    n_new = F.coalesce(F.col(count_col), F.lit(0)) + F.coalesce(
        F.col("__dn"), F.lit(0)
    )
    merged = merged.withColumn("__n_new", n_new).filter(
        F.col("__n_new") != 0
    )
    # a delete touching a current extremum (or a delete against a
    # group the state never saw) forces a bounded re-derive
    flag = F.lit(False)
    for c in cols:
        flag = (
            flag
            | (F.col(f"__dmin_{c}") <= F.col(f"min_{c}"))
            | (F.col(f"__dmax_{c}") >= F.col(f"max_{c}"))
            | (
                F.col(count_col).isNull()
                & F.col(f"__dmin_{c}").isNotNull()
            )
        )
    flag = F.coalesce(flag, F.lit(False))
    ok = merged.filter(~flag).select(
        *keys,
        F.col("__n_new").alias(count_col),
        *[
            x
            for c in cols
            for x in (
                F.least(F.col(f"min_{c}"), F.col(f"__imin_{c}")).alias(
                    f"min_{c}"
                ),
                F.greatest(
                    F.col(f"max_{c}"), F.col(f"__imax_{c}")
                ).alias(f"max_{c}"),
            )
        ],
    )
    stale = merged.filter(flag).select(*keys)
    return ok.unionByName(rescan(stale))


def apply_hll_delta(
    state: DataFrame | None,
    changes: DataFrame,
    keys: list[str],
    key_col: str,
    rescan,
    p: int = 6,
) -> DataFrame:
    """Incremental keyed DISTINCT-COUNT maintenance via the portable
    HLL registers (operators/hll.py). Registers are max-mergeable, so
    INSERT batches fold for free (register-wise MAX of the batch
    sketch); HLL supports no deletion, so any group the batch DELETES
    from is re-derived by ``rescan(keys_df)`` — the caller's bounded
    re-sketch of exactly those groups against the current table.
    Groups that vanish entirely return no rescan rows and drop out.

    State: (keys, bucket, max_rho) register rows per group — feed to
    ``operators.hll.hll_estimate(state, p, group_cols=keys)`` for the
    estimates. Register-exact equality with a fresh sketch after
    every DML kind is asserted in tests/test_tablelog_txn.py."""
    from pyspark.sql import functions as F

    from aoseventstreamer_spark.operators.hll import hll_sketch

    ins = changes.filter(F.col("_change_type") == "insert")
    del_groups = (
        changes.filter(F.col("_change_type") == "delete")
        .select(*keys)
        .distinct()
    )
    batch = hll_sketch(ins, key_col, p, group_cols=keys)
    merged = batch if state is None else state.unionByName(batch)
    merged = merged.groupBy(*keys, "bucket").agg(
        F.max("max_rho").alias("max_rho")
    )
    # deletes invalidate the whole group register set: drop + re-derive
    kept = merged.join(del_groups, on=keys, how="left_anti")
    return kept.unionByName(rescan(del_groups))
