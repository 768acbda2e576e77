"""batch_headline: the headline batch queries in their registered
forms, built and executed on every pass.

The query list is ``bench.HEADLINE`` plus ``q_dedup_components``, all
from the ``queries`` registry: each pass calls the registered builder
(the driver-side plan build, including any eager pins) and then
executes the plan into the noop sink. One untimed warm pass comes
first; the timed passes follow, each over the whole list. The plans the
last timed pass built are collected afterwards, untimed, and checked.
No streaming.
"""

from __future__ import annotations

import os
import sys
import time
from concurrent.futures import ThreadPoolExecutor

from gen import write_tables
from harness import REPO_ROOT, cpus, median, spark_jobs, sum_jobs

sys.path.insert(0, os.path.join(REPO_ROOT, "tools"))
from parity import rows_to_multiset  # noqa: E402

# bench.HEADLINE plus q_dedup_components, pinned here so the workload
# does not move when bench.py's list does
QUERIES = [
    "q_route_emits", "q_agg_events_by_type", "q_filter_subtree_prefix",
    "q_join_multiway", "q_agg_multi", "q_rank_events_per_user",
    "q_session_window", "q_window_sliding", "q_topk_per_group",
    "q_doc_exact_dedup", "q_doc_minhash_band", "q_doc_simhash",
    "q_near_dup_verified", "q_text_stats", "q_cosine_topk", "q_asof_join",
    "q_range_join", "q_percentiles", "q_ann_lsh", "q_dedup_components",
]
FULL = {"sf": 0.01, "setups": 2, "sec_per_pass": 14.0, "queries": QUERIES}
SMOKE = {"sf": 0.001, "setups": 1, "sec_per_pass": 1e9,
         "queries": ["q_route_emits", "q_agg_events_by_type", "q_ann_lsh"]}
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _oracle(names: list[str], sf_dir: str) -> dict[str, tuple[list[str], list[str]]]:
    """Each query of ``names`` that has an ``ORACLE_SQL`` entry: DuckDB's
    columns and result over the same files, canonicalized as by
    ``tools/parity.py``."""
    import duckdb

    from aoseventstreamer_spark import queries as Q

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")

    def one(name):
        rel = con.cursor().sql(Q.ORACLE_SQL[name])
        return rel.columns, rows_to_multiset(rel.columns, rel.fetchall())

    # a few slow queries dominate; run them side by side
    with ThreadPoolExecutor(max_workers=cpus()) as pool:
        futures = {name: pool.submit(one, name) for name in names if name in Q.ORACLE_SQL}
    out = {name: f.result() for name, f in futures.items()}
    con.close()
    return out


def _check(results: dict, oracle: dict, counts: dict) -> list[str]:
    """The last timed pass's collected results against the DuckDB oracle
    where there is one, and against the warm pass's ``counts`` (row
    counts) elsewhere."""
    problems = []
    for name, (cols, rows) in results.items():
        if name not in oracle:
            if len(rows) != counts[name]:
                problems.append(f"{name}: {len(rows)} rows on the last timed pass, "
                                f"{counts[name]} on the warm pass")
            continue
        ocols, orows = oracle[name]
        if sorted(c.lower() for c in cols) != sorted(c.lower() for c in ocols):
            problems.append(f"{name}: columns {sorted(cols)} != oracle {sorted(ocols)}")
        elif rows_to_multiset(cols, rows) != orows:
            problems.append(f"{name}: last timed pass result differs from the DuckDB oracle")
    return problems


def run(spark, ctx) -> dict:
    from aoseventstreamer_spark import queries as Q
    from aoseventstreamer_spark.session import load_table

    cfg = SMOKE if ctx.smoke else FULL
    tr = ctx.tracer
    sc = spark.sparkContext
    names = cfg["queries"]

    # -- set-up: generate the tables (benchmark code, not timed), then,
    #    repeatedly, open each through the package (schema resolution)
    sf_dir = os.path.join(ctx.work, "tables")
    sizes = write_tables(sf_dir, ctx.seed, cfg["sf"])
    setups = []
    for rep in range(cfg["setups"]):
        t0 = time.perf_counter()
        with tr.span("setup.tables", op=f"setup{rep}"):
            for t in TABLES:
                with tr.span("session.load_table", op=t):
                    load_table(spark, sf_dir, t)
        setups.append(time.perf_counter() - t0)

    # -- warm pass (untimed): build and run every query, collecting
    #    those without an oracle (their row counts are checked against
    #    the last pass) and writing the rest to the noop sink. The
    #    queries run concurrently (Spark takes jobs from many driver
    #    threads) only to shorten this untimed pass; the code paths it
    #    warms are the same as a serial pass's.
    def run_one(name, df, keep):
        df = Q.QUERIES[name](spark, sf_dir) if df is None else df
        if not keep:
            df.write.format("noop").mode("overwrite").save()
            return None
        return df.columns, [tuple(r) for r in df.collect()]

    def run_all(dfs: dict, keep: set) -> dict:
        """Results of the queries in ``keep``, run concurrently; the
        slowest queries are last in the list, so they start first."""
        with ThreadPoolExecutor(max_workers=cpus()) as pool:
            futures = {name: pool.submit(run_one, name, dfs[name], name in keep)
                       for name in reversed(dfs)}
        return {name: futures[name].result() for name in dfs if name in keep}

    t0 = time.perf_counter()
    warm = run_all(dict.fromkeys(names), {n for n in names if n not in Q.ORACLE_SQL})
    warm_s = time.perf_counter() - t0

    # -- timed phase: whole passes over the list, build + execute each
    n_passes = max(1, round(ctx.seconds / cfg["sec_per_pass"]))
    build = {n: [] for n in names}
    execute = {n: [] for n in names}
    last = {}
    ctx.timed_start()
    for p in range(n_passes):
        for name in names:
            op = f"{name}#{p}"
            sc.setJobGroup(f"perfbench:{op}", op)
            with tr.span("queries.run", op=op):
                t0 = time.perf_counter()
                with tr.span("queries.build", op=op):
                    df = Q.QUERIES[name](spark, sf_dir)
                t1 = time.perf_counter()
                with tr.span("queries.execute", op=op):
                    df.write.format("noop").mode("overwrite").save()
                t2 = time.perf_counter()
            build[name].append((t1 - t0) * 1000)
            execute[name].append((t2 - t1) * 1000)
            last[name] = df
    ctx.timed_end()
    sc.setJobGroup("perfbench-other", "harness")

    # -- correctness (untimed): each table's row count as loaded; the
    #    plans the last timed pass built, collected now, against the
    #    DuckDB oracle, or, without one, against the warm pass's row
    #    count. The oracle runs beside the Spark side.
    with ThreadPoolExecutor(max_workers=1) as pool:
        oracle = pool.submit(_oracle, names, sf_dir)
        problems = [f"table {t}: loaded {n} rows, wrote {sizes[t]}" for t in TABLES
                    if (n := load_table(spark, sf_dir, t).count()) != sizes[t]]
        results = run_all(last, set(names))
        oracle = oracle.result()
    counts = {name: len(rows) for name, (_cols, rows) in warm.items()}
    problems += _check(results, oracle, counts)
    checks = len(TABLES) + len(names)
    failed_names = {p.split(":")[0] for p in problems}
    failed = len(names) if any(p.startswith("table ") for p in problems) else len(
        failed_names & set(names))

    per_query = {n: median([b + e for b, e in zip(build[n], execute[n])]) for n in names}
    total_ms = sum(per_query.values())
    rows_per_pass = sum(len(r[1]) for r in results.values())
    res = {
        "attempted": len(names),
        "failed": failed,
        "problems": problems,
        "checks": checks,
        "setup_reps": setups,
        # the warm pass runs once; it counts into set-up so that work a
        # builder moves into its first call (a cache) shows there
        "warmup_s": warm_s,
        "ack_ms": [sum(median(build[n]) for n in names)],
        "latency_ms": [total_ms],
        "build_ms": [b for n in names for b in build[n]],
        "ops": len(names) * n_passes,
        "detail": {
            "batch_total_s": total_ms / 1000,
            "passes": n_passes,
            "warm_pass_s": warm_s,
            "sf": cfg["sf"],
            "rows_per_pass": rows_per_pass,
        },
    }
    if ctx.trace:
        jobs = spark_jobs(spark, ctx.win_ms[0], ctx.win_ms[1])
        layers = {}
        for n in names:
            mine = [j for j in jobs if (j["group"] or "").startswith(f"perfbench:{n}#")]
            layers[f"{n}.build_ms"] = median(build[n])
            layers[f"{n}.exec_ms"] = median(execute[n])
            layers[f"{n}.jobs"] = len(mine) / n_passes
            layers[f"{n}.stages"] = sum(j["stages"] for j in mine) / n_passes
        res.update({"layers": layers, "jobs": sum_jobs(jobs)})
    return res
