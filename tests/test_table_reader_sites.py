"""Tooling guard: serving and the model registry read tables only
through the table reader (``Warehouse.read`` / ``SnapshotTable.read``).

The engine's tables are versioned-manifest roots. A direct
``spark.read.schema(S).parquet(root)`` on such a root silently returns
0 rows, and ``spark.read.parquet(root)`` fails schema inference; only
the reader resolves the published version's files."""

from __future__ import annotations

import ast
import pathlib

ROOT = pathlib.Path(__file__).resolve().parent.parent
GUARDED = ("doin_fine_ance__spark/serving", "doin_fine_ance__spark/ml/registry.py")


def _session_name(node: ast.expr) -> str:
    if isinstance(node, ast.Name):
        return node.id
    if isinstance(node, ast.Attribute):
        return node.attr
    return ""


def spark_read_sites(root: pathlib.Path, paths=GUARDED) -> list[str]:
    """``path:line`` of every ``<session>.read`` attribute (a session
    being any name or attribute that mentions ``spark``)."""
    found = []
    for p in paths:
        target = root / p
        files = sorted(target.rglob("*.py")) if target.is_dir() else [target]
        for path in files:
            tree = ast.parse(path.read_text(), str(path))
            found += [
                f"{path.relative_to(root)}:{node.lineno}"
                for node in ast.walk(tree)
                if isinstance(node, ast.Attribute)
                and node.attr == "read"
                and "spark" in _session_name(node.value).lower()
            ]
    return sorted(found)


def test_serving_and_registry_read_through_the_table_reader():
    assert spark_read_sites(ROOT) == []


def test_guard_flags_direct_session_reads(tmp_path):
    (tmp_path / "pkg").mkdir()
    (tmp_path / "pkg" / "app.py").write_text(
        "df = wh.read('public', 'user_categories')\n"
        "doc = 'spark.read.parquet(path)'\n"
        "bad = spark.read.schema(S).parquet(path)\n"
        "def helper(self):\n"
        "    return self.spark.read.parquet(self.path)\n"
        "other = df.sparkSession.read.parquet(p)\n"
    )
    (tmp_path / "pkg" / "registry.py").write_text(
        "reg = SnapshotTable(path).read(spark)\n"
        "raw = spark.read.parquet(path)\n"
    )
    assert spark_read_sites(tmp_path, paths=("pkg",)) == [
        "pkg/app.py:3",
        "pkg/app.py:5",
        "pkg/app.py:6",
        "pkg/registry.py:2",
    ]
    assert spark_read_sites(tmp_path, paths=("pkg/registry.py",)) == ["pkg/registry.py:2"]
