"""Compute the stored oracle for ``query_suite``.

    python3 perfbench/make_oracle.py

Runs each suite query's registered DuckDB oracle (or the harness's
procedural oracle where ``tests/oracle.py`` defines one) on the tables
in ``perfbench/data/sf0.001`` and writes the result columns, row count
and canonical hash to ``perfbench/oracle_sf0.001.json``. The oracle
depends only on the data, so it is computed once, not on every run.
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

from suite import DATA, ORACLE, SUITE, result_hash  # noqa: E402


def main() -> int:
    from doin_fine_ance__spark.queries import load_registry
    from tests.oracle import PROCEDURAL_ORACLES, duck_connection

    _, oracles = load_registry()
    out = {}
    for name, _ in SUITE:
        con = duck_connection(DATA)
        try:
            sql = oracles[name]
            if name in PROCEDURAL_ORACLES:
                sql = PROCEDURAL_ORACLES[name](con)
            res = con.execute(sql)
            cols = [d[0] for d in res.description]
            rows = res.fetchall()
        finally:
            con.close()
        out[name] = {"columns": cols, "rows": len(rows), "sha256": result_hash(cols, rows)}
        print(f"{name}: {len(rows)} rows", file=sys.stderr)
    with open(ORACLE, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
