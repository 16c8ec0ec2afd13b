"""Tooling guard: the engine and its tools read
``spark.sql.shuffle.partitions`` only through
``operators.skew.shuffle_width``, so every caller handles a
non-numeric setting (e.g. ``"auto"``) the same way. Writing the setting
(a builder ``.config(...)`` or ``conf.set(...)``) is not a read."""

from __future__ import annotations

import ast
import pathlib

ROOT = pathlib.Path(__file__).resolve().parent.parent
KEY = "spark.sql.shuffle.partitions"


def shuffle_width_reads(root: pathlib.Path, dirs=("doin_fine_ance__spark", "tools")) -> list[str]:
    """``path:line`` for every use of the setting's name outside the
    ``shuffle_width`` helper that is not the key of a write."""
    found = []
    for d in dirs:
        for path in sorted((root / d).rglob("*.py")):
            tree = ast.parse(path.read_text(), str(path))
            allowed: set[int] = set()
            for node in ast.walk(tree):
                if isinstance(node, ast.FunctionDef) and node.name == "shuffle_width":
                    allowed.update(id(n) for n in ast.walk(node))
                elif (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr in ("config", "set")
                    and node.args
                ):
                    allowed.add(id(node.args[0]))
            lines = sorted(
                node.lineno
                for node in ast.walk(tree)
                if isinstance(node, ast.Constant) and node.value == KEY and id(node) not in allowed
            )
            found += [f"{path.relative_to(root)}:{ln}" for ln in lines]
    return found


def test_shuffle_partitions_read_only_in_shuffle_width():
    assert shuffle_width_reads(ROOT) == []


def test_guard_flags_reads_but_not_writes(tmp_path):
    (tmp_path / "pkg").mkdir()
    (tmp_path / "pkg" / "helper.py").write_text(
        "def shuffle_width(spark):\n"
        f"    return int(spark.conf.get({KEY!r}))\n"
    )
    (tmp_path / "pkg" / "session.py").write_text(
        f"b = builder.config({KEY!r}, '8')\n"
        f"spark.conf.set({KEY!r}, '4')\n"
    )
    (tmp_path / "pkg" / "reader.py").write_text(
        f"w = int(spark.conf.get({KEY!r}, '32'))\n"
        f"KEY = {KEY!r}\n"
    )
    assert shuffle_width_reads(tmp_path, dirs=("pkg",)) == [
        "pkg/reader.py:1",
        "pkg/reader.py:2",
    ]
