"""Demux runner: ONE streaming scan serving many stream groups.

Per-group streaming queries (streaming/groups.py) are the faithful
reference shape, but at thousands of groups the N-scans cost dominates.
The demux job amortizes: a single ``readStream`` over the event log,
and each micro-batch is matched against ALL registered groups in ONE
Spark job — every event enumerates its candidate query subjects
(bounded-depth grammar => <= 4 keys, subjects.candidate_query_subjects),
rows whose key is some group's ``filter_subject`` are kept, and the
result is collected to the driver as one Arrow table. The driver sorts
it by key, cuts it into runs, and wraps each run in a
``createDataFrame(arrow_slice)`` — a ``LocalRelation``, so a
subscriber's actions on its chunk are planned and answered on the
driver with no Spark job. Groups registered on the same key share one
frame; groups with no matches this batch all receive ONE shared empty
frame (``runner.empty_frame``, built once at start). Per-batch cluster
work is therefore one job, flat in the number of registered AND
matching groups (A/B against the earlier one-job-per-matching-group
design: docs/SCALE.md, "Read path").

Driver memory: the collected table holds at most 4 rows per event of
the batch (one per candidate key that some group registered), however
many groups share a key — the bound is the grammar depth, not the
fleet size. Size batches (``max_files_per_trigger``, commit size) so
that 4x a batch fits the driver comfortably.

Chunk ids stay per-group (batch_id), the checkpoint is shared — commit
happens only after ALL groups accepted the batch, preserving
(coarsening) the at-least-once contract: a failed deliver for any
group replays the batch for all. That coarsening is the deliberate
trade: one scan + one checkpoint vs per-group offsets. Groups that
need isolated progress stay on ``StreamGroupManager``; fleets of cheap
subscribers ride the demux.
"""

from __future__ import annotations

import json
import os
from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from aoseventstreamer_spark import schemas
from aoseventstreamer_spark.functions import subjects as S


@dataclass
class DemuxGroup:
    id: str
    filter_subject: str
    deliver: Callable[[int, DataFrame], None]


class DemuxRunner:
    def __init__(
        self,
        spark: SparkSession,
        events_path: str,
        checkpoint: str,
        deliver_concurrency: int | None = None,
        log_format: str = "parquet",
    ):
        """``log_format='tablelog'`` tails the log through the native
        snapshot-diff source instead of the parquet FILE source: the
        checkpoint then carries a snapshot VERSION, not file paths, so
        compacting (OPTIMIZE) a region the fleet already consumed
        re-delivers NOTHING on restart — fleet-wide exactly-once
        across layout maintenance, the same inversion
        StreamGroupManager(log_format='tablelog') gets per-group.

        ``deliver_concurrency`` (default min(16, cpus)) runs the
        per-group ``deliver`` callbacks CONCURRENTLY across groups
        within a batch — callbacks MUST therefore be thread-safe with
        respect to each other (a single group's own deliveries stay
        strictly ordered across batches; foreachBatch is serial). Pass
        ``deliver_concurrency=1`` for the strict single-threaded,
        registration-order delivery contract."""
        if log_format not in ("parquet", "tablelog"):
            raise ValueError(
                f"log_format must be 'parquet' or 'tablelog', got {log_format!r}"
            )
        self.spark = spark
        self.events_path = events_path
        self.checkpoint = checkpoint
        self.log_format = log_format
        # Per-group deliveries within one batch run CONCURRENTLY from a
        # bounded driver pool: each deliver's action is tiny (a local
        # chunk, or the shared empty frame) but pays a serial py4j +
        # planning floor, which a 1000-group fleet would otherwise
        # serialize into seconds per batch — far over the 250 ms
        # trigger. Contract: deliver callbacks must be thread-safe
        # ACROSS GROUPS within a batch (a single group's deliveries
        # stay ordered across batches — foreachBatch is serial); every
        # deliver is awaited and the first error re-raises after the
        # pool drains, so a partial failure still fails the batch and
        # replays it for all groups. Set deliver_concurrency=1 for
        # strict in-order single-threaded delivery.
        self.deliver_concurrency = deliver_concurrency or min(
            16, os.cpu_count() or 4
        )
        self._groups: list[DemuxGroup] = []
        self._started = False
        # ONE empty frame shared by every idle group in every batch:
        # zero per-group construction or planning cost. Built as a
        # LocalRelation folded empty by Catalyst — NOT
        # createDataFrame([], schema), whose RDD backing carries
        # defaultParallelism empty partitions and turns every idle
        # subscriber's count() into a 32-task job (measured 533 ms vs
        # 65 ms per action, tools/demux_scale.py)
        one_null_row = [tuple(None for _ in schemas.ROUTED_EVENTS_SCHEMA.fields)]
        self.empty_frame = spark.createDataFrame(
            one_null_row, schemas.ROUTED_EVENTS_SCHEMA
        ).where(F.lit(False))

    def register(
        self, group_id: str, filter_subject: str, deliver: Callable[[int, DataFrame], None]
    ) -> None:
        if self._started:
            # the running foreachBatch closes over the group snapshot
            # taken at start(); accepting a late registration would be
            # silent total data loss for that subscriber
            raise RuntimeError(
                "DemuxRunner already started; stop it and start a new "
                "runner to change the group set"
            )
        if not S.is_canonical_query_subject(filter_subject):
            # candidate-key matching is exact only for grammar-built
            # query subjects; anything else would silently match nothing
            raise ValueError(
                f"filter_subject {filter_subject!r} is not a canonical "
                "query subject (utils.rs:35-147); compile it with "
                "compile_query_subject / the *_query builders"
            )
        self._groups.append(DemuxGroup(group_id, filter_subject, deliver))

    def _check_group_set(self, group_ids: list[str], allow_missed_history: bool) -> None:
        """A shared checkpoint means a group added on restart starts at
        the committed offsets — it silently misses all prior history
        (unlike per-group StreamGroupManager queries, which replay from
        the start). Detect that and make it explicit. The manifest
        lives next to the Spark checkpoint; ``file:`` URIs are
        normalized, other schemes skip the guard (the checkpoint store
        is then not locally addressable — the added-group hazard still
        holds, so deployments on remote checkpoints should keep their
        own group manifest)."""
        ck = self.checkpoint
        if "://" in ck and not ck.startswith("file:"):
            return
        if ck.startswith("file:"):
            ck = ck[len("file:"):]
            while ck.startswith("//"):
                ck = ck[1:]
        manifest = os.path.join(ck, "demux_groups.json")
        previous: list[str] = []
        if os.path.exists(manifest):
            with open(manifest) as f:
                previous = json.load(f)
        new_groups = sorted(set(group_ids) - set(previous))
        if previous and new_groups and not allow_missed_history:
            raise ValueError(
                f"groups {new_groups} were added to an existing demux "
                "checkpoint and would miss all previously committed "
                "history; replay them via StreamGroupManager first, or "
                "pass allow_missed_history=True to accept the gap"
            )
        os.makedirs(ck, exist_ok=True)
        # persist only the CURRENT set (not the historical union): a
        # group that was removed and later re-registered ALSO missed
        # the in-between batches, and must trip the guard above just
        # like a brand-new group
        with open(manifest, "w") as f:
            json.dump(sorted(set(group_ids)), f)

    def start(
        self,
        trigger: dict | None = None,
        max_files_per_trigger: int = 64,
        allow_missed_history: bool = False,
    ):
        groups = list(self._groups)
        if not groups:
            raise ValueError("no groups registered")
        self._check_group_set([g.id for g in groups], allow_missed_history)
        self._started = True

        # each event's candidate keys (filter_subject verbatim — exact
        # filters equal the publish subject, subtree filters equal
        # `<ancestor base>.>`) and the registered-key match, built ONCE
        # per start: `isin` sends one literal per registered key, so a
        # per-batch build would grow with the fleet
        keyed = [
            F.explode(S.candidate_query_subjects()).alias("__key"),
            *[F.col(f.name) for f in schemas.ROUTED_EVENTS_SCHEMA.fields],
        ]
        registered = F.col("__key").isin(sorted({g.filter_subject for g in groups}))

        def fan_out(batch_df: DataFrame, batch_id: int) -> None:
            # the batch's ONE Spark job: the candidate keys some group
            # registered, collected to the driver
            matched = (
                batch_df.select(*keyed)
                .where(registered)
                .toArrow()
                .sort_by("__key")
            )
            # one Arrow run per matching key, shared by every group on
            # that key; each becomes a LocalRelation chunk (~20 py4j
            # round trips apiece, so they are built on the deliver pool)
            runs = pc.run_end_encode(matched.column("__key").combine_chunks())
            rows = matched.drop_columns(["__key"])
            ends = runs.run_ends.to_pylist()
            slices = {
                key: rows.slice(begin, end - begin)
                for key, begin, end in zip(runs.values.to_pylist(), [0, *ends], ends)
            }

            def chunk(arrow_slice):
                return self.spark.createDataFrame(
                    arrow_slice, schemas.ROUTED_EVENTS_SCHEMA
                )

            def deliver_one(g: DemuxGroup) -> None:
                g.deliver(batch_id, chunks.get(g.filter_subject, self.empty_frame))

            if self.deliver_concurrency > 1 and len(groups) > 1:
                with ThreadPoolExecutor(
                    max_workers=self.deliver_concurrency,
                    thread_name_prefix="demux-deliver",
                ) as pool:
                    chunks = dict(zip(slices, pool.map(chunk, slices.values())))
                    futures = [pool.submit(deliver_one, g) for g in groups]
                # the with-block joined every future; surface the
                # FIRST failure (deterministic: registration order)
                # so a partial failure fails the whole batch and
                # the shared checkpoint replays it for all groups
                for fut in futures:
                    err = fut.exception()
                    if err is not None:
                        raise err
            else:
                chunks = {key: chunk(s) for key, s in slices.items()}
                for g in groups:
                    deliver_one(g)

        if self.log_format == "tablelog":
            from aoseventstreamer_spark.sources.tablelog_source import (
                register_tablelog_source,
            )

            register_tablelog_source(self.spark)
            # snapshot-diff offsets: OPTIMIZE commits advance the
            # offset rowlessly, so compaction never re-delivers;
            # batching follows commit ranges (maxFilesPerTrigger is a
            # file-source knob and does not apply)
            stream = self.spark.readStream.format("tablelog").load(
                self.events_path
            )
        else:
            stream = (
                self.spark.readStream.schema(schemas.ROUTED_EVENTS_SCHEMA)
                .option("maxFilesPerTrigger", str(max_files_per_trigger))
                .parquet(self.events_path)
            )
        return (
            stream.writeStream.foreachBatch(fan_out)
            .option("checkpointLocation", self.checkpoint)
            .trigger(**(trigger or {"processingTime": "250 milliseconds"}))
            .start()
        )
