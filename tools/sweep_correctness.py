"""Driver-style correctness sweep: every oracle-backed registered query
vs its DuckDB oracle at a given SF, using tests/oracle.py's dual-gate
comparison (exact-value + pandas-roundtrip replica of the driver hash).

``--out FILE`` records the per-query ``{ok, wall_sec, rows}`` map
(``detail`` on a failure) as JSON — the shape of the committed
``SWEEP_*.json`` scale evidence. ``wall_sec`` includes the DuckDB
oracle side, which dominates the minhash-family queries at sf1 (the
all-pairs ground-truth SQL is quadratic).

Usage: python tools/sweep_correctness.py [sf_dir] [name_filter ...]
       [--out FILE] [--skip name ...]
"""

from __future__ import annotations

import argparse
import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from doin_fine_ance__spark.queries import load_registry  # noqa: E402
from doin_fine_ance__spark.session import get_spark  # noqa: E402
from tests.conftest import SF_CORRECT  # noqa: E402
from tests.oracle import compare_query  # noqa: E402


def sweep(spark, sf_dir: str, name_filter=(), skip=(), out: str | None = None) -> dict:
    """Compare every oracle-backed query whose name contains one of
    ``name_filter`` (all when empty) and is not in ``skip``; returns
    the JSON body, also written to ``out`` when given. Leaves the
    session running."""
    queries, oracles = load_registry()
    names = [n for n in queries if n in oracles and n not in skip]
    if name_filter:
        names = [n for n in names if any(f in n for f in name_filter)]
    no_oracle = [n for n in queries if n not in oracles]
    results: dict[str, dict] = {}
    for i, name in enumerate(names):
        t0 = time.time()
        try:
            ok, detail = compare_query(spark, name, sf_dir, queries, oracles)
        except Exception as e:  # noqa: BLE001
            ok, detail = False, f"EXCEPTION {type(e).__name__}: {e}"
        dt = time.time() - t0
        entry = {"ok": ok, "wall_sec": round(dt, 2)}
        if ok:
            entry["rows"] = int(re.search(r"(\d+) rows", detail).group(1))
        else:
            entry["detail"] = detail[:500]
        results[name] = entry
        tag = "ok " if ok else "FAIL"
        print(f"[{i + 1:3d}/{len(names)}] {tag} {name:40s} {dt:6.2f}s  {detail[:160]}",
              flush=True)
    fails = [n for n, e in results.items() if not e["ok"]]
    summary = (f"{len(names) - len(fails)}/{len(names)} oracle-backed green; "
               f"{len(no_oracle)} rows-only: {', '.join(no_oracle)}")
    print(f"\n{summary}")
    for name in fails:
        print(f"FAIL {name}: {results[name]['detail']}")
    body = {"sf_dir": sf_dir, "summary": summary, "queries": results}
    if out:
        with open(out, "w") as f:
            json.dump(body, f, indent=1)
            f.write("\n")
    return body


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("sf_dir", nargs="?", default=SF_CORRECT)
    ap.add_argument("name_filter", nargs="*", help="name substrings to run")
    ap.add_argument("--out", default=None, help="JSON file for the per-query results")
    ap.add_argument("--skip", nargs="*", default=[], help="query names to leave out")
    args = ap.parse_args()

    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    try:
        body = sweep(spark, args.sf_dir, args.name_filter, args.skip, args.out)
    finally:
        spark.stop()
    return 1 if any(not e["ok"] for e in body["queries"].values()) else 0


if __name__ == "__main__":
    raise SystemExit(main())
