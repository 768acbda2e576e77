"""Ingest-path routing pipeline (reference write path, Spark-first).

Re-expresses the reference's EmitEvent path
(`/root/reference/src/server/internal_event_server.rs:18-66` →
`/root/reference/src/stream_handler/natsio.rs:60-148`) as one
declarative DataFrame pipeline:

    raw_emits
      → token-equality filter            (internal_event_server.rs:24-45)
      → explode(relations)               (internal_event_server.rs:51-63)
      → resource-type dispatch           (natsio.rs:78-129)
          PROJECT     → 1 project subject
          COLLECTION  → 1 collection subject
          OBJECT      → 1 object-group subject PER relation.object_groups
                        element + 1 object subject  (natsio.rs:104-127)
          OBJECTGROUP → 1 object-group subject per element (natsio.rs:89-103)
      → inline (fan-out: one routed-event row per subject, = the
        concurrent publish loop at natsio.rs:131-135)

Note the reference quirk replicated on purpose: in both the OBJECT and
OBJECTGROUP branches the *event's own resource_id* is placed in the
object-group-id position of the subject (natsio.rs:97 and :112) — for
Object events the object id is reused as the group id.

Everything is built-in expressions (`when`, `transform`, `concat`,
`inline`) — no UDFs, so Catalyst sees the whole plan: the token filter
pushes into the scan, and the fan-out is whole-stage-codegen'd. At
100 TB the pipeline is shuffle-free (narrow: filter/explode/project);
only the optional final `partitionBy("project_id")` write re-buckets.
"""

from __future__ import annotations

import threading

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from aoseventstreamer_spark import schemas
from aoseventstreamer_spark.functions import subjects as S


def filter_token(df: DataFrame, secret: str, token_col: str = "token") -> DataFrame:
    """Token-equality auth filter (internal_event_server.rs:24-45).

    Note (r8 review): the secret is a plan LITERAL — it appears in
    ``explain()`` output and the Spark UI's SQL tab, like any literal
    predicate. The reference compares plaintext bearer tokens the same
    way (its gRPC metadata is equally visible to its own tracing);
    deployments that must keep plan text secret-free should pre-hash
    the token column and filter on the digest instead."""
    return df.filter(F.col(token_col) == F.lit(secret))


def _null_str() -> Column:
    return F.lit(None).cast("string")


def _entry(
    subject: Column,
    project: Column,
    collection: Column,
    kind: Column,
    shared: Column,
    leaf: Column,
) -> Column:
    """One routed-subject struct; consistent shape across all branches."""
    return F.struct(
        subject.alias("subject"),
        project.cast("string").alias("project_id"),
        collection.cast("string").alias("collection_id"),
        kind.cast("string").alias("kind"),
        shared.cast("string").alias("shared_id"),
        leaf.cast("string").alias("leaf_id"),
    )


def subjects_for_relation(
    event_resource: Column,
    resource_id: Column,
    relation: Column,
    on_unknown: str = "drop",
) -> Column:
    """Array<struct> of routed subjects for one (event, relation) pair —
    the `match event_resource` dispatch of natsio.rs:78-129."""
    rid = resource_id.cast("string")
    groups = F.coalesce(relation["object_groups"], F.array())

    project_entry = _entry(
        S.project_subject_col(rid), rid, _null_str(), _null_str(), _null_str(), _null_str()
    )
    collection_entry = _entry(
        S.collection_subject_col(relation["project"], rid),
        relation["project"],
        rid,
        _null_str(),
        _null_str(),
        _null_str(),
    )
    # natsio.rs:89-103 / :107-115 — one subject per containing object
    # group; resource_id sits in the group-id slot (id-reuse quirk).
    group_entries = F.transform(
        groups,
        lambda og: _entry(
            S.object_group_subject_col(
                relation["project"],
                relation["collection"],
                og["shared_object_group_id"],
                rid,
            ),
            relation["project"],
            relation["collection"],
            F.lit(S.OBJECT_GROUP_NAME),
            og["shared_object_group_id"],
            rid,
        ),
    )
    object_entry = _entry(
        S.object_subject_col(
            relation["project"], relation["collection"], relation["shared_object"], rid
        ),
        relation["project"],
        relation["collection"],
        F.lit(S.OBJECT_NAME),
        relation["shared_object"],
        rid,
    )

    return (
        F.when(event_resource == schemas.RESOURCE_PROJECT, F.array(project_entry))
        .when(event_resource == schemas.RESOURCE_COLLECTION, F.array(collection_entry))
        .when(event_resource == schemas.RESOURCE_OBJECT_GROUP, group_entries)
        .when(
            event_resource == schemas.RESOURCE_OBJECT,
            F.concat(group_entries, F.array(object_entry)),
        )
        # Unspecified / All are todo!() panics in the reference
        # (natsio.rs:79,128). Default: drop them (a panic inside a
        # distributed pipeline is the wrong failure mode); strict mode
        # reproduces the reference's loud failure at execution time.
        .otherwise(
            F.array(
                _entry(
                    F.raise_error(
                        F.concat(
                            F.lit("unsupported resource_type: "),
                            event_resource.cast("string"),
                        )
                    ),
                    _null_str(), _null_str(), _null_str(), _null_str(), _null_str(),
                )
            )
            if on_unknown == "error"
            else F.array().cast(
                "array<struct<subject:string,project_id:string,collection_id:string,"
                "kind:string,shared_id:string,leaf_id:string>>"
            )
        )
    )


# The three projection lists of ``route_emits``, built once per
# (has_ts, on_unknown) and reused by every later call: rebuilding the
# ``subjects_for_relation`` tree costs ~1,600 py4j commands per call,
# reusing it under 100. Columns are JVM objects of one gateway, so the
# cache is owned by the gateway it was built on (compared by identity)
# and dropped when a new one appears.
_PROJECTIONS: tuple[object, dict] = (None, {})
_PROJECTIONS_LOCK = threading.Lock()


def _routing_projections(gateway, has_ts: bool, on_unknown: str) -> tuple:
    global _PROJECTIONS
    with _PROJECTIONS_LOCK:
        if _PROJECTIONS[0] is not gateway:
            _PROJECTIONS = (gateway, {})
        built = _PROJECTIONS[1]
        key = (has_ts, on_unknown)
        if key not in built:
            built[key] = _build_projections(has_ts, on_unknown)
        return built[key]


def _build_projections(has_ts: bool, on_unknown: str) -> tuple:
    emit = [F.col(c) for c in ("emit_id", "event_resource", "resource_id", "event_type")]
    explode_relations = [
        *emit,
        (F.col("ts") if has_ts else F.lit(None).cast("timestamp")).alias("ts"),
        F.explode(F.col("relations")).alias("relation"),
    ]
    fan_out = [
        *emit,
        F.col("ts"),
        F.inline(
            subjects_for_relation(
                F.col("event_resource"),
                F.col("resource_id"),
                F.col("relation"),
                on_unknown=on_unknown,
            )
        ),
    ]
    # EventNotificationMessage projection (natsio.rs:67-74): payload is
    # {resource, updated_type, resource_id}; we keep it as typed columns
    # (columnar) rather than opaque protobuf bytes.
    routed = [
        *[F.col(c) for c in ("subject", "project_id", "collection_id", "kind",
                             "shared_id", "leaf_id")],
        F.col("event_resource").alias("resource"),
        F.col("event_type").alias("updated_type"),
        F.col("resource_id"),
        F.col("emit_id").alias("seq"),
        F.col("ts"),
    ]
    return explode_relations, fan_out, routed


def route_emits(
    raw_emits: DataFrame, secret: str | None = None, on_unknown: str = "drop"
) -> DataFrame:
    """Full write path: raw emit requests → routed event-log rows.

    Output schema matches FIXTURES.md §2 (subject + hierarchy
    components + EventNotificationMessage payload fields + seq/ts).
    ``seq`` is populated from ``emit_id`` (the reference hardcodes 0,
    public_event_server.rs:427 — we keep real provenance); ``ts``
    passes through if present, else null (the reference sends None,
    public_event_server.rs:428-429).
    """
    df = raw_emits
    if secret is not None:
        df = filter_token(df, secret)
    explode_relations, fan_out, routed = _routing_projections(
        df.sparkSession.sparkContext._gateway, "ts" in df.columns, on_unknown
    )
    return df.select(*explode_relations).select(*fan_out).select(*routed)


def write_event_log(
    routed: DataFrame,
    path: str,
    mode: str = "append",
    partition_by: tuple[str, ...] | None = ("project_id",),
) -> None:
    """Publish sink (natsio.rs:131-147) → Parquet event log.

    Partitioning by project_id gives dynamic partition pruning for
    exact-level and project-subtree queries at scale; pass
    ``partition_by=None`` for a flat layout (streaming-source tests).
    """
    writer = routed.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)
