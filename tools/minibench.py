"""Mini-bench: time a NAMED SUBSET of registered queries (the bench
headline set when none are named) with bench.py's own warm-up and
timed loop, so per-change before/after numbers are directly comparable
to the full bench without paying its 72-query wall time. Each query
reports its min time and min Spark job count over the repeats.

``--plans FILE`` also writes each query's pre-execution
``explain("formatted")`` into one markdown file (the format of the
committed ``PLANS.md``); with ``--repeat 0`` it writes the plans and
times nothing.

Usage: python tools/minibench.py [query ...] [--repeat 3] [--sf-dir DIR]
       [--out FILE] [--plans FILE]
"""

from __future__ import annotations

import argparse
import contextlib
import io
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import HEADLINE, timed, warm_up  # noqa: E402
from doin_fine_ance__spark.queries import load_registry  # noqa: E402
from doin_fine_ance__spark.session import get_spark  # noqa: E402


def write_plans(spark, queries, names, sf_dir: str, path: str, command: str) -> None:
    """Write the formatted physical plan of each query, built at
    ``sf_dir`` and not yet executed, as one markdown section each."""
    out = [
        "# PLANS — formatted physical plans of the bench headline queries",
        "",
        f"Generated by `{command}`.",
        "Shapes to verify: broadcast dims, PushedFilters / pruned ReadSchema,",
        "partial aggregation below exchanges, TakeOrderedAndProject top-k,",
        "vectorized (Arrow) Python only in the sketch/media kernels.",
        "",
    ]
    for name in names:
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            queries[name](spark, sf_dir).explain("formatted")
        out.append(f"## {name}\n\n```\n{buf.getvalue().strip()}\n```\n")
    with open(path, "w") as f:
        f.write("\n".join(out))


def minibench(spark, names, sf_dir: str, repeat: int, plans: str | None = None,
              out: str | None = None) -> dict:
    """Plans (when ``plans`` names a file), then the bench warm-up and
    min-of-``repeat`` timing of ``names`` at ``sf_dir``; returns the
    JSON body, also written to ``out`` when given. Leaves the session
    running."""
    queries, _ = load_registry()
    unknown = [n for n in names if n not in queries]
    if unknown:
        raise KeyError(f"unknown queries: {unknown}")
    if plans:
        command = f"python tools/minibench.py --repeat {repeat} --sf-dir {sf_dir}"
        if list(names) != HEADLINE:
            command += " " + " ".join(names)
        write_plans(spark, queries, names, sf_dir, plans,
                    f"{command} --plans {os.path.basename(plans)}")
        print(f"wrote {plans}", flush=True)
    timings: dict[str, float] = {}
    jobs: dict[str, int] = {}
    if repeat > 0:
        warm_up(spark, queries, sf_dir, names)
        for name in names:
            fn = queries[name]
            t = timed(spark, lambda: fn(spark, sf_dir), repeat, f"minibench-{name}")
            if t.error:
                raise RuntimeError(f"{name}: {t.error}")
            timings[name] = round(t.sec, 4)
            jobs[name] = t.jobs
            print(f"{name:40s} {t.sec:7.3f}s  jobs={t.jobs}", flush=True)
    body = {"sf_dir": sf_dir, "repeat": repeat, "queries": timings, "jobs": jobs}
    if out:
        with open(out, "w") as f:
            json.dump(body, f, indent=1)
            f.write("\n")
    return body


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*", help="queries to run (default: bench HEADLINE)")
    ap.add_argument("--repeat", type=int, default=3, help="0 = plans only")
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--out", default=None)
    ap.add_argument("--plans", default=None,
                    help="markdown file for the formatted physical plans")
    args = ap.parse_args()

    spark = get_spark("minibench")
    spark.sparkContext.setLogLevel("ERROR")
    try:
        minibench(spark, args.names or HEADLINE, args.sf_dir, args.repeat,
                  args.plans, args.out)
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
