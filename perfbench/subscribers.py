"""Subscriber-side helpers for the streaming workloads: an inbox that
records what every group's deliver callback received, and the
correctness oracle that derives what each group should have received
from a batch ``subject_filter`` scan of the final log."""

from __future__ import annotations

import threading
import time
from collections import Counter

CALL_STRIDE = 100_000  # seq = call_id * CALL_STRIDE + emit index


class Inbox:
    """Thread-safe record of deliveries. The demux runs the callbacks
    of one batch concurrently across groups, so every update holds the
    lock; waiters block on the condition until a predicate holds."""

    def __init__(self, tracer, layer: str):
        self.tracer = tracer
        self.span_name = f"{layer}.deliver"
        self.cond = threading.Condition()
        self.rows: dict[str, Counter] = {}
        self.per_call: dict[tuple[str, int], int] = {}
        self.expect: dict[tuple[str, int], int] = {}
        # (gid, call) -> perf_counter of the delivery that completed it
        self.done_at: dict[tuple[str, int], float] = {}
        self.first_at: dict[str, float] = {}
        # batch_id -> groups that received rows in that batch
        self.matched: dict[int, int] = {}

    def deliver_fn(self, gid: str):
        """A deliver callback for group ``gid``. It collects the slice's
        identity columns: the consuming work a real subscriber does."""

        def deliver(batch_id: int, df) -> None:
            with self.tracer.span(self.span_name, op=gid):
                got = [(r[0], r[1]) for r in df.select("subject", "seq").collect()]
            now = time.perf_counter()
            with self.cond:
                if got:
                    self.first_at.setdefault(gid, now)
                    self.matched[batch_id] = self.matched.get(batch_id, 0) + 1
                box = self.rows.setdefault(gid, Counter())
                for subject, seq in got:
                    box[(subject, seq)] += 1
                    k = (gid, seq // CALL_STRIDE)
                    self.per_call[k] = self.per_call.get(k, 0) + 1
                    if self.per_call[k] >= self.expect.get(k, float("inf")):
                        self.done_at.setdefault(k, now)
                self.cond.notify_all()

        return deliver

    def wait_call(self, call_id: int, expect: dict[str, int], timeout: float) -> float | None:
        """Block until every group in ``expect`` holds its rows of
        ``call_id``; returns the perf_counter of the last of those
        deliveries, or None on timeout."""
        keys = [(g, call_id) for g in expect]
        with self.cond:
            for g, n in expect.items():
                self.expect[(g, call_id)] = n
                if self.per_call.get((g, call_id), 0) >= n:
                    self.done_at.setdefault((g, call_id), time.perf_counter())
            ok = self.cond.wait_for(
                lambda: all(k in self.done_at for k in keys), timeout=timeout
            )
            return max(self.done_at[k] for k in keys) if ok else None


def expected_by_group(log_df, groups: list[tuple[str, str, int | None]]) -> dict[str, Counter]:
    """What each ``(gid, filter_subject, event_type)`` group must
    receive: the ``(subject, seq)`` multiset of a batch scan of the
    final log under ``streaming.groups.subject_filter``. One job for
    all groups: each row carries the indices of the groups it matches."""
    from pyspark.sql import functions as F

    from aoseventstreamer_spark.streaming.groups import subject_filter

    hits = []
    for i, (_gid, fs, event_type) in enumerate(groups):
        cond = subject_filter(fs)
        if event_type is not None:
            cond = cond & (F.col("updated_type") == event_type)
        hits.append(F.when(cond, F.lit(i)))
    rows = log_df.select(
        "subject", "seq", F.explode(F.array_compact(F.array(*hits))).alias("g")
    ).collect()
    out = {gid: Counter() for gid, _fs, _et in groups}
    for subject, seq, g in rows:
        out[groups[g][0]][(subject, seq)] += 1
    return out


def mismatches(inbox: Inbox, expected: dict[str, Counter]) -> list[tuple[str, int, str]]:
    """``(gid, call, problem)`` for every group and emit call whose
    deliveries differ from the oracle: rows missing, extra (an idle
    group receiving anything counts here) or delivered twice."""
    out = []
    for gid, want in expected.items():
        got = inbox.rows.get(gid, Counter())
        for key in set(want) | set(got):
            w, g = want.get(key, 0), got.get(key, 0)
            if w != g:
                kind = "missing" if g < w else ("duplicate" if w else "extra")
                out.append((gid, key[1] // CALL_STRIDE, f"{kind} {key[0]} seq={key[1]}"))
    return out
