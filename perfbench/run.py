"""Repository benchmark: one command, seeded workloads, checked outputs.

    python3 perfbench/run.py --workload serve_mixed --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --smoke      # every workload, tiny inputs, both modes

Run from the repository root. The last stdout line is one JSON object
with ``correct``, ``attempted``, ``failed`` and ``metrics``: the
``end_to_end`` metrics of ``BENCHMARK.json`` with ``--trace 0``, its
``per_layer`` metrics with ``--trace 1``. The line before it is the run
fingerprint. The full record (both metric sets that were measured,
check details, fingerprint) and the spans of a traced run are written
under ``.perfbench/out/``.

The engine runs in the session ``session.get_spark()`` builds, with one
core slot per CPU; the benchmark sets no Spark conf of its own.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

T_START = time.time()

HERE = os.path.dirname(os.path.abspath(__file__))
if HERE not in sys.path:
    sys.path.insert(0, HERE)

import serve  # noqa: E402
import suite  # noqa: E402
from common import (  # noqa: E402
    ROOT, WORK, RssSampler, cpu_times, fingerprint, jvm_gc_ms, start_spark, steal_share,
    stop_spark,
)
from spans import Tracer  # noqa: E402

WORKLOADS = {"serve_mixed": serve, "query_suite": suite}
SPAN_STATS = {"ms": "self_ms", "jobs": "jobs", "task_ms": "task_ms", "idle_ms": "idle_ms",
              "shuffle_bytes": "shuffle_bytes", "spill_bytes": "spill_bytes",
              "bytes_written": "bytes_written"}


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def run_workload(spark, name: str, seed: int, seconds: float, trace: bool,
                 smoke: bool, t_start: float) -> dict:
    """Run one workload; returns every metric it measured plus counts."""
    module = WORKLOADS[name]
    tracer = Tracer(spark, trace)
    steal0 = cpu_times()
    gc0 = jvm_gc_ms(spark)
    with RssSampler() as rss:
        try:
            res = module.run(spark, tracer, seed, seconds, smoke=smoke)
        finally:
            tracer.unwrap_all()
    metrics = dict(res["metrics"])
    metrics["setup_s"] = res["details"]["setup_done"] - t_start
    metrics["session.peak_rss_mb"] = rss.peak
    metrics["session.cpu_steal_share"] = steal_share(steal0, cpu_times())
    metrics["session.gc_ms"] = float(jvm_gc_ms(spark) - gc0)
    if trace:
        metrics["trace.bookkeeping_ms"] = tracer.bookkeeping_s * 1000.0
        for sname, spans in tracer.by_name().items():
            for stat, attr in SPAN_STATS.items():
                vals = [getattr(s, attr) for s in spans]
                metrics.setdefault(f"{sname}.{stat}", sum(vals) / len(vals))
    res["metrics"] = metrics
    res["tracer"] = tracer
    res["layers"] = set(module.LAYERS) | {"session", "trace"}
    return res


def select(spec: dict, metrics: dict, trace: bool, layers: set[str]) -> dict:
    """The metric set the spec names for this mode, with units. Metrics
    of layers the workload does not drive, and span stats of calls it
    never made, are 0; any other missing metric is a benchmark bug."""
    out = {}
    for m in spec["per_layer" if trace else "end_to_end"]:
        name = m["name"]
        if name in metrics:
            value = metrics[name]
        elif trace and (name.split(".", 1)[0] not in layers
                        or name.rsplit(".", 1)[-1] in SPAN_STATS | {"calls": 0}):
            value = 0.0
        else:
            raise KeyError(f"metric {name} was not measured")
        out[name] = {"value": float(value), "unit": m["unit"]}
    return out


def write_record(name: str, seed: int, trace: bool, res: dict, fp: dict) -> None:
    out_dir = os.path.join(WORK, "out")
    os.makedirs(out_dir, exist_ok=True)
    stem = os.path.join(out_dir, f"{name}-seed{seed}-trace{int(trace)}")
    with open(stem + ".json", "w") as f:
        json.dump({"fingerprint": fp, "metrics": res["metrics"],
                   "attempted": res["attempted"], "failed": res["failed"],
                   "details": res["details"]}, f, indent=1, default=str)
    if trace:
        res["tracer"].dump(stem + ".spans.jsonl")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=None)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="run every workload on tiny inputs in both modes and "
                         "check that every metric is emitted")
    args = ap.parse_args(argv)
    spec = load_spec()
    if not args.smoke and not args.workload:
        ap.error("--workload is required")
    seconds = args.seconds if args.seconds is not None else spec["run_seconds"]
    spark = start_spark("perfbench")
    try:
        if args.smoke:
            return smoke(spark, spec, args.seed)
        res = run_workload(spark, args.workload, args.seed, seconds, bool(args.trace),
                           False, T_START)
        fp = fingerprint(spark, args.seed, res["metrics"]["session.cpu_steal_share"])
        fp["workload"] = args.workload
        write_record(args.workload, args.seed, bool(args.trace), res, fp)
        result = {
            "correct": res["failed"] == 0,
            "attempted": int(res["attempted"]),
            "failed": int(res["failed"]),
            "metrics": select(spec, res["metrics"], bool(args.trace), res["layers"]),
        }
    finally:
        stop_spark(spark)
    print(json.dumps({"fingerprint": fp}))
    print(json.dumps(result), flush=True)
    return 0


def smoke(spark, spec: dict, seed: int) -> int:
    """Both workloads, tiny inputs, a few seconds each, untraced then
    traced: every check must pass and every metric must be emitted."""
    ok = True
    for name in WORKLOADS:
        for trace in (False, True):
            t0 = time.time()
            res = run_workload(spark, name, seed, 3.0, trace, True, t0)
            metrics = select(spec, res["metrics"], trace, res["layers"])
            good = res["failed"] == 0 and res["attempted"] > 0
            ok &= good
            print(json.dumps({"workload": name, "trace": trace, "correct": good,
                              "attempted": res["attempted"], "failed": res["failed"],
                              "failures": res["details"].get("failures", [])[:5],
                              "metrics": len(metrics)}), flush=True)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
