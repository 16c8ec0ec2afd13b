"""Tooling guard: the engine builds frames from Python-side rows only
through ``session.local_frame``, which hands Spark an Arrow table (a JVM
local relation). A direct ``createDataFrame`` call over a Python list
builds a pickled ``parallelize`` RDD instead, so every action over the
frame pays a Spark stage run by Python workers.

``tools/`` is not covered: its quality and fuzz tools build their
corpora with ``createDataFrame`` and run outside the serving and query
paths."""

from __future__ import annotations

import ast
import pathlib

ROOT = pathlib.Path(__file__).resolve().parent.parent


def create_dataframe_calls(root: pathlib.Path, dirs=("doin_fine_ance__spark",)) -> list[str]:
    """``path:line`` for every ``createDataFrame`` call outside the
    ``local_frame`` helper."""
    found = []
    for d in dirs:
        for path in sorted((root / d).rglob("*.py")):
            tree = ast.parse(path.read_text(), str(path))
            allowed: set[int] = set()
            for node in ast.walk(tree):
                if isinstance(node, ast.FunctionDef) and node.name == "local_frame":
                    allowed.update(id(n) for n in ast.walk(node))
            lines = sorted(
                node.lineno
                for node in ast.walk(tree)
                if isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "createDataFrame"
                and id(node) not in allowed
            )
            found += [f"{path.relative_to(root)}:{ln}" for ln in lines]
    return found


def test_create_dataframe_only_in_local_frame():
    assert create_dataframe_calls(ROOT) == []


def test_guard_flags_calls_outside_local_frame(tmp_path):
    (tmp_path / "pkg").mkdir()
    (tmp_path / "pkg" / "session.py").write_text(
        "def local_frame(spark, rows, schema):\n"
        "    return spark.createDataFrame(to_table(rows), schema=schema)\n"
    )
    (tmp_path / "pkg" / "caller.py").write_text(
        "df = local_frame(spark, rows, S)\n"
        "doc = 'spark.createDataFrame(rows)'\n"
        "bad = spark.createDataFrame(rows, S)\n"
        "def helper(s):\n"
        "    return s.createDataFrame([], 'a long')\n"
    )
    assert create_dataframe_calls(tmp_path, dirs=("pkg",)) == [
        "pkg/caller.py:3",
        "pkg/caller.py:5",
    ]
