"""The measurement and oracle-sweep tools, called as functions on the
shared session at smoke scale: each leaves the session running."""

from __future__ import annotations

import json

from tools.minibench import minibench
from tools.sweep_correctness import sweep

NAMES = ["q6_forecast_revenue", "q3_top_unshipped_orders"]


def test_minibench_times_and_writes_plans(spark, sf_dir, tmp_path):
    plans, out = tmp_path / "PLANS.md", tmp_path / "MINI.json"
    body = minibench(spark, NAMES, sf_dir, repeat=1, plans=str(plans), out=str(out))
    assert json.loads(out.read_text()) == body
    assert set(body["queries"]) == set(body["jobs"]) == set(NAMES)
    assert all(n > 0 for n in body["jobs"].values())
    sections = plans.read_text().split("\n## ")[1:]
    assert [s.split("\n", 1)[0] for s in sections] == NAMES
    for s in sections:
        assert "== Physical Plan ==" in s
    assert spark.range(1).count() == 1


def test_minibench_repeat_zero_writes_plans_only(spark, sf_dir, tmp_path):
    plans = tmp_path / "PLANS.md"
    body = minibench(spark, NAMES[:1], sf_dir, repeat=0, plans=str(plans))
    assert body["queries"] == body["jobs"] == {}
    assert "== Physical Plan ==" in plans.read_text()


def test_sweep_writes_the_sweep_artifact_shape(spark, sf_dir, tmp_path):
    names = ["q1_pricing_summary", "q6_forecast_revenue"]
    out = tmp_path / "SWEEP.json"
    sweep(spark, sf_dir, names, out=str(out))
    body = json.loads(out.read_text())
    assert set(body) == {"sf_dir", "summary", "queries"}
    assert body["sf_dir"] == sf_dir
    assert body["summary"].startswith("2/2 oracle-backed green")
    assert set(body["queries"]) == set(names)
    for entry in body["queries"].values():
        assert set(entry) == {"ok", "wall_sec", "rows"}
        assert entry["ok"] is True and entry["rows"] > 0
    assert spark.range(1).count() == 1
