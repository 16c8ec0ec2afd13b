"""Mini-bench: time a NAMED SUBSET of headline queries with the exact
bench.py methodology (JMH-style sf0.001 warmup of the same queries,
noop sink, min-of-N, per-query gc + JVM System.gc between queries) so
per-change before/after numbers are directly comparable to the full
bench without paying its 72-query wall time.

Each repeat also runs in its own job group, and the MIN job count over
the repeats is reported next to the min time (the fixed-latency tax
meter: a job costs ~0.2 s of pure scheduling at sf0.1; the count is
deterministic per plan, and the min guards against a stray concurrent
job landing in the group).

Usage: python tools/minibench.py q1_pricing_summary d_exact_dedup ...
       [--repeat 3] [--sf-dir /root/testdata/sf0.1] [--out FILE]
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from doin_fine_ance__spark.queries import load_registry  # noqa: E402
from doin_fine_ance__spark.session import get_spark  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--repeat", type=int, default=3)
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--warm-dir", default="/root/testdata/sf0.001")
    ap.add_argument("--out", default=None)
    args = ap.parse_args()

    queries, _ = load_registry()
    unknown = [n for n in args.names if n not in queries]
    if unknown:
        sys.exit(f"unknown queries: {unknown}")

    spark = get_spark("minibench")
    spark.sparkContext.setLogLevel("ERROR")

    from doin_fine_ance__spark.sources.testdata import load_table

    # same session warmup as bench.py: Python worker pool full-width,
    # parquet footers, then every named query once at the warm SF
    queries["a6_count_total"](spark, args.sf_dir).collect()
    queries["t_simhash_fingerprints"](spark, args.sf_dir).write.format(
        "noop"
    ).mode("overwrite").save()
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        load_table(spark, args.sf_dir, t).count()
    for name in args.names:
        queries[name](spark, args.warm_dir).write.format("noop").mode(
            "overwrite"
        ).save()
    gc.collect()

    sc = spark.sparkContext
    timings: dict[str, float] = {}
    jobs: dict[str, int] = {}
    for name in args.names:
        best = n_jobs = None
        for i in range(args.repeat):
            group = f"minibench-{name}-{i}"
            sc.setJobGroup(group, f"minibench: {name}")
            t0 = time.perf_counter()
            df = queries[name](spark, args.sf_dir)
            df.write.format("noop").mode("overwrite").save()
            dt = time.perf_counter() - t0
            sc.setJobGroup(None, None)
            n = len(sc.statusTracker().getJobIdsForGroup(group))
            best = dt if best is None else min(best, dt)
            n_jobs = n if n_jobs is None else min(n_jobs, n)
            del df
            gc.collect()
        try:
            spark.sparkContext._jvm.System.gc()
        except Exception:
            pass
        timings[name] = round(best, 4)
        jobs[name] = n_jobs
        print(f"{name:40s} {best:7.3f}s  jobs={n_jobs}", flush=True)
    if args.out:
        with open(args.out, "w") as f:
            json.dump({"sf_dir": args.sf_dir, "repeat": args.repeat,
                       "queries": timings, "jobs": jobs}, f, indent=1)
            f.write("\n")
    spark.stop()


if __name__ == "__main__":
    main()
