"""``query_suite``: notebook-style analytics over the registered queries.

A pinned subset of the ``bench.py`` headline queries, at least one per
family, runs in an order shuffled by the seed against the sf0.001
testdata tables copied into ``perfbench/data``. Each query's result is
collected (which materializes every output column) and, after the
timed passes, its canonical hash is compared with the DuckDB oracle's,
stored in ``oracle_sf0.001.json`` by ``make_oracle.py``.

Set-up runs one untimed pass, so first-use costs (lazy start-up paths
several queries share, plan code generation, JIT compilation) are not
charged to the timed part. The timed part goes round the suite, each
pass in a fresh seeded order, until ``--seconds`` have passed (and one
whole pass at least). Throughput is queries per second over the window,
each query counted by its share of a pass (``common.window_rate``), so
a partial last pass counts by the work it did. Nothing is released or
garbage-collected between queries, so state one query leaves behind
(cached or checkpointed intermediates, shuffle files) is paid for by
whichever query the seeded order runs next.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import time

from statistics import median

from common import window_rate

HERE = os.path.dirname(os.path.abspath(__file__))
DATA = os.path.join(HERE, "data", "sf0.001")
ORACLE = os.path.join(HERE, "oracle_sf0.001.json")
LAYERS = ("queries",)  # per-layer metric prefixes it drives

# (query, family): the full headline set takes minutes per pass on a
# 4-core machine, so a subset with every family runs. Of the slowest
# rows only d_dup_clusters is kept; d_containment_prefix,
# g_pagerank_nation_trade, t_bm25_more_like_this and mm_flac_roundtrip
# (3-10 s each in a fresh session) would take a run past its time budget
SUITE = [
    ("q1_pricing_summary", "tpch"),
    ("q5_region_revenue_rollup", "tpch"),
    ("w1_latest_import_dedup", "finance"),
    ("j3_override_coalesce_overlay", "finance"),
    ("j_asof_purchase_last_view", "relational_ops"),
    ("st_session_window", "streaming"),
    ("d_exact_dedup", "llm_dedup"),
    ("d_dup_clusters", "llm_dedup"),
    ("t_simhash_fingerprints", "llm_text"),
    ("mm_media_features", "llm_media"),
    ("s_cosine_topk_bruteforce", "llm_ann"),
]
# rows with their own per-layer metrics besides their family's
ROWS = ["d_dup_clusters"]


def result_hash(columns: list[str], rows: list[tuple]) -> str:
    """Hash of the oracle harness's canonical form (columns sorted by
    name, cells type-tagged, rows sorted)."""
    from tests.oracle import canonical

    return hashlib.sha256(repr(canonical(columns, rows)).encode()).hexdigest()


def run(spark, tracer, seed: int, seconds: float, smoke: bool = False) -> dict:
    from doin_fine_ance__spark.queries import load_registry

    queries, _ = load_registry()
    with open(ORACLE) as f:
        oracle = json.load(f)
    plan = list(SUITE)
    if smoke:  # one query per family
        plan = list({fam: (q, fam) for q, fam in reversed(SUITE)}.values())
    order = random.Random(seed)
    order.shuffle(plan)
    errors = []
    for name, _ in plan:
        try:
            queries[name](spark, DATA).collect()
        except Exception as e:  # noqa: BLE001 - counted as a failure
            errors.append(f"{name} (warm-up): {type(e).__name__}: {str(e)[:200]}")
    setup_done = time.time()
    start = time.perf_counter()
    deadline = start + seconds
    times, results, passes, runs = [], [], [], []
    per_query: dict[str, list[float]] = {}
    while not passes or time.perf_counter() < deadline:
        order.shuffle(plan)
        t_pass = time.perf_counter()
        for name, fam in plan:
            if passes and time.perf_counter() >= deadline:
                break
            t0 = time.perf_counter()
            try:
                with tracer.span(f"queries.{fam}", query=name):
                    df = queries[name](spark, DATA)
                    rows = [tuple(r) for r in df.collect()]
                times.append(time.perf_counter() - t0)
                runs.append((name, t0 - start, t0 - start + times[-1]))
                per_query.setdefault(name, []).append(round(times[-1], 4))
                results.append((name, df.columns, rows))
            except Exception as e:  # noqa: BLE001 - a failed query is a sample
                errors.append(f"{name}: {type(e).__name__}: {str(e)[:200]}")
        else:
            passes.append(time.perf_counter() - t_pass)
    window = max(seconds, passes[0])  # the first pass runs whole
    failures = list(errors)
    for name, cols, rows in results:
        want = oracle[name]
        if cols != want["columns"] or result_hash(cols, rows) != want["sha256"]:
            failures.append(f"{name}: result differs from the DuckDB oracle")
    m = {
        "ops_per_s": window_rate(runs, window),
        "queries.query_p50_ms": median(times) * 1000.0 if times else 0.0,
        "queries.suite_s": median(passes),
    }
    if tracer.enabled:
        spans = [s for sp in tracer.by_name().values() for s in sp]
        for row in ROWS:
            mine = [s for s in spans if s.counts.get("query") == row]
            if mine:
                m[f"queries.{row}.ms"] = sum(s.self_ms for s in mine) / len(mine)
                m[f"queries.{row}.jobs"] = sum(s.jobs for s in mine) / len(mine)
    details = {"passes": passes, "queries": per_query, "failures": failures[:20],
               "setup_done": setup_done}
    return {"metrics": m, "attempted": len(times) + len(errors),
            "failed": len(failures), "details": details}
