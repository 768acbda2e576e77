"""Connected components (operators/components.py): correctness on
known graph shapes, determinism, and the corpus canonicalization
wrapper."""

from __future__ import annotations

from aoseventstreamer_spark.operators.components import (
    connected_components,
    dedup_components,
)


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "doc_a long, doc_b long")


def _comp_map(df):
    return {r.node: r.component for r in df.collect()}


def test_chain_resolves_to_min(spark):
    # 1-2-3-4-5 chain: diameter > 1 forces multiple propagation rounds
    comp = _comp_map(connected_components(_edges(spark, [(1, 2), (2, 3), (3, 4), (4, 5)])))
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1}


def test_two_cliques_and_direction_independence(spark):
    # edge direction must not matter (the graph is undirected)
    comp = _comp_map(
        connected_components(
            _edges(spark, [(10, 11), (12, 11), (20, 21), (22, 21), (21, 23)])
        )
    )
    assert comp == {10: 10, 11: 10, 12: 10, 20: 20, 21: 20, 22: 20, 23: 20}


def test_long_chain_within_max_iter(spark):
    # 40-node path: worst-case diameter; still converges (min label
    # travels > 1 hop/round from the min side of every join)
    n = 40
    comp = _comp_map(connected_components(_edges(spark, [(i, i + 1) for i in range(n)])))
    assert set(comp.values()) == {0}
    assert len(comp) == n + 1


def test_dedup_components_keeps_isolated_docs(spark):
    docs = spark.createDataFrame([(i,) for i in range(8)], "doc_id long")
    out = dedup_components(docs, _edges(spark, [(1, 2), (5, 6)]))
    rows = {r.doc_id: (r.component, r.is_keeper) for r in out.collect()}
    assert rows == {
        0: (0, True),
        1: (1, True),
        2: (1, False),
        3: (3, True),
        4: (4, True),
        5: (5, True),
        6: (5, False),
        7: (7, True),
    }


def test_deterministic_across_runs(spark):
    edges = _edges(spark, [(3, 7), (7, 9), (2, 4), (9, 11), (4, 8)])
    a = sorted(map(tuple, connected_components(edges).collect()))
    b = sorted(map(tuple, connected_components(edges).collect()))
    assert a == b


def test_components_match_python_bfs_on_random_graphs(spark):
    """Property check vs an independent BFS oracle: deterministic
    pseudo-random graphs of varying density."""
    import random

    for seed in range(4):
        rng = random.Random(seed)
        n = 30
        edges = sorted(
            {
                (min(a, b), max(a, b))
                for _ in range(rng.randint(5, 60))
                for a, b in [(rng.randrange(n), rng.randrange(n))]
                if a != b
            }
        )
        if not edges:
            continue
        # python BFS oracle
        adj: dict[int, set[int]] = {}
        for a, b in edges:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
        expected = {}
        for start in sorted(adj):
            if start in expected:
                continue
            seen, todo = {start}, [start]
            while todo:
                cur = todo.pop()
                for nxt in adj[cur]:
                    if nxt not in seen:
                        seen.add(nxt)
                        todo.append(nxt)
            root = min(seen)
            for node in seen:
                expected[node] = root
        got = _comp_map(connected_components(_edges(spark, edges)))
        assert got == expected, (seed, edges)


def test_keep_best_per_component_argmax_and_ties(spark):
    from aoseventstreamer_spark.operators.components import keep_best_per_component

    docs = spark.createDataFrame(
        [(1, 10), (2, 30), (3, 30), (4, 5), (9, 99)],
        "doc_id long, quality long",
    )
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4)], "doc_a long, doc_b long"
    )
    out = {r.doc_id: (r.component, r.is_keeper)
           for r in keep_best_per_component(docs, edges, "quality").collect()}
    # cluster {1,2,3,4}: quality argmax is 30 shared by 2 and 3 — the
    # smaller id (2) wins the tie; isolated 9 keeps itself
    assert out == {
        1: (1, False), 2: (1, True), 3: (1, False), 4: (1, False), 9: (9, True),
    }


def test_empty_edges_returns_empty_labels(spark):
    # AQE's empty-relation propagation can prune Observation nodes; the
    # empty graph must short-circuit before the observe-based loop
    out = connected_components(_edges(spark, []))
    assert out.columns == ["node", "component"]
    assert out.count() == 0


def test_resolve_job_count_is_logarithmic(spark):
    """Regression gate for the round-4 verdict's #1 item: the resolve
    protocol must run O(log diameter / checkpoint_every) Spark jobs —
    convergence detection rides the checkpoint job as an observe()
    metric, never a separate count() job. The old per-round
    count()+double-localCheckpoint protocol synchronized the driver
    2x per ROUND; the block protocol synchronizes once per BLOCK
    (ceil(rounds/checkpoint_every)), with convergence read off the
    checkpoint job itself. Raw Spark-job count is a looser proxy
    (AQE materializes each query stage as its own job), so the gate
    is on driver sync points, with a coarse job ceiling on top."""
    sc = spark.sparkContext
    edges = _edges(spark, [(i, i + 1) for i in range(32)])  # 33-node path
    group = "cc-jobcount-gate"
    sc.setJobGroup(group, "cc job count gate")
    stats: dict = {}
    try:
        comp = _comp_map(connected_components(edges, stats=stats))
    finally:
        sc.setJobGroup("cc-jobcount-done", "")
    assert set(comp.values()) == {0} and len(comp) == 33
    # diameter 32: pointer doubling halves distance per round, so
    # rounds ~ log2(32)+slack, blocks = ceil(rounds/2)
    assert stats["blocks"] <= 5, stats
    assert stats["rounds"] <= 10, stats
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    # ~13 AQE stage-jobs per 2-round block (each exchange is a job),
    # plus adj-checkpoint/isEmpty setup; the old protocol added a
    # convergence count() JOB GROUP per round on top
    assert 0 < len(jobs) <= 14 * stats["blocks"] + 4, (len(jobs), stats)


def test_max_iter_cap_reports_unconverged(spark):
    """Hitting ``max_iter`` before a fixed point must not pass silently:
    a 33-node path needs ~6 rounds, so a 2-round cap leaves labels
    unconverged — flagged in stats and warned, off the same observe()
    metric (no extra job). An uncapped run reports converged=True."""
    import pytest

    edges = _edges(spark, [(i, i + 1) for i in range(32)])
    stats: dict = {}
    with pytest.warns(RuntimeWarning, match="max_iter=2"):
        comp = _comp_map(connected_components(edges, max_iter=2, stats=stats))
    assert stats["converged"] is False and stats["rounds"] == 2, stats
    assert set(comp.values()) != {0}  # genuinely unconverged labels

    stats = {}
    connected_components(edges, stats=stats)
    assert stats["converged"] is True, stats
