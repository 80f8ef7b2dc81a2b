"""``browse``: one analyst in a closed loop over the light dashboard rows.

Each cycle sends a fixed, Zipf-shaped multiset of registry rows in an
order drawn from the seed; whole cycles repeat until the run's time is
up (at least two).
The catalog is a seeded TESTDATA.md-shaped star schema small enough to
stay in memory, so Spark-driver-side planning, codegen reuse and task
counts set the latency. Every answer is checked against the row's
DuckDB oracle, computed once in set-up.
"""

from __future__ import annotations

import concurrent.futures as cf
import time

import numpy as np

import gen
import metrics
import tracing

SF = 0.01
#: (row, requests per cycle): the landing view most often, then the
#: filter and facet views, the tail once each. The landing view sits in
#: the middle of the latency range, so the median request is one of its
#: samples whatever the order.
ROWS = (
    ("flagship_pricing_summary", 5),  # landing aggregate
    ("f7_priority_subset_recent", 2),  # filter
    ("f4_f5_window_facets", 2),  # facets
    ("t4_t6_topk_limits", 1),  # top-N
    ("x2_radar_coverage", 1),  # governance radar (pipelines.merge)
    ("dd_exact_dedup", 1),  # duplicate report (operators.dedup)
    ("e4_batch_similarity", 1),  # vector search
    ("rt_bm25_topk", 1),  # BM25 retrieval
    ("g1_u3_g4_g5_node_layout", 1),  # lineage node layout
)
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()
PREP_REPEATS = 3
WARM_PASSES = 3
#: the measured window runs at least this many cycles
MIN_CYCLES = 2


def canon(rows) -> list[tuple]:
    return sorted((tuple(r) for r in rows), key=repr)


def oracle_answers(sf_dir: str, registry) -> dict[str, list[tuple]]:
    import duckdb

    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(f"create view {t} as select * from '{sf_dir}/{t}.parquet'")
        return {r: canon(con.execute(registry[r].oracle).fetchall()) for r, _ in ROWS}
    finally:
        con.close()


def answer_ok(row: str, got, expected: dict, truth: dict) -> bool:
    """``got`` equals the row's oracle answer and, for the duplicate
    report, finds every planted cluster whole."""
    ok = canon(got) == expected[row]
    if row == "dd_exact_dedup":
        found = sorted(r["n_copies"] for r in got if r["n_copies"] > 1)
        ok &= found == sorted(len(g) for g in truth["dup_groups"])
    return ok


def schedule(seed: int) -> list[str]:
    """One cycle of requests in seeded order."""
    reqs = [r for r, k in ROWS for _ in range(k)]
    order = np.random.default_rng([seed, 10]).permutation(len(reqs))
    return [reqs[i] for i in order]


def trace_load_table(h) -> None:
    """Wrap ``sources.tpch.load_table`` where the query modules bound it,
    so its time shows as its own layer (traced runs only)."""
    import regpulse_lakehouse_spark.queries as Q
    from regpulse_lakehouse_spark.sources import tpch

    orig = tpch.load_table

    def load_table(spark, sf_dir, name):
        with h.span("sources.load_table"):
            return orig(spark, sf_dir, name)

    for mod in list(vars(Q).values()):
        if getattr(mod, "load_table", None) is orig:
            mod.load_table = load_table


def run(h) -> dict:
    from regpulse_lakehouse_spark.queries import load_all

    registry = load_all()
    sf_dir = h.data_dir("catalog")
    prep = []
    for _ in range(PREP_REPEATS):
        t0 = time.perf_counter()
        truth = gen.write_catalog(sf_dir, h.seed, SF)
        expected = oracle_answers(sf_dir, registry)
        prep.append(time.perf_counter() - t0)
    spark = h.start_session()
    t0 = time.perf_counter()
    # the first (cold: codegen, JIT) and next calls of every row, four
    # rows at a time
    with cf.ThreadPoolExecutor(4) as pool:
        for _ in range(WARM_PASSES):
            list(pool.map(lambda r: registry[r].fn(spark, sf_dir).collect(), [r for r, _ in ROWS]))
    warm_s = time.perf_counter() - t0
    setup_s = h.session_start_s + metrics.median(prep) + warm_s
    if h.trace:
        trace_load_table(h)

    lat: list[float] = []
    cpu: list[float] = []
    answers = []
    per_row: dict[str, list[float]] = {r: [] for r, _ in ROWS}
    cycle = schedule(h.seed)
    deadline = h.deadline()
    while len(lat) < MIN_CYCLES * len(cycle) or time.perf_counter() < deadline:
        for row in cycle:
            q = registry[row]
            with h.request(f"browse.{row}"):
                c0 = tracing.tree_cpu_s()
                t0 = time.perf_counter()
                with h.span("queries.plan"):
                    df = q.fn(spark, sf_dir)
                with h.span("queries.exec"):
                    got = df.collect()
                dt = time.perf_counter() - t0
                cpu.append(tracing.tree_cpu_s() - c0)
            lat.append(dt)
            per_row[row].append(dt)
            answers.append((row, got))
    for row, got in answers:
        h.tally.record(row, answer_ok(row, got, expected, truth),
                       "differs from the DuckDB oracle or the planted clusters")

    e2e = {"setup_s": setup_s, "cpu_s_per_op": sum(cpu) / len(cpu), "peak_rss_mb": h.rss.mb()}
    tail_p, tail_s = metrics.tail(lat)
    layer = {
        "run.latency_p50_s": metrics.median(lat),
        "run.latency_tail_s": tail_s,
        "run.throughput_per_s": len(lat) / sum(lat),
        "run.cpu_s_per_op": e2e["cpu_s_per_op"],
        **{f"browse.row.{r}_s": metrics.median(v) for r, v in per_row.items()},
    }
    return {"e2e": e2e, "layer": layer, "meta": {"requests": len(lat), "tail_percentile": tail_p, "warm_s": warm_s}}
