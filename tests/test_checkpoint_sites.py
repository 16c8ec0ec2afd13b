"""Tooling guard: the engine cuts lineage only through
``operators.checkpoint.materialize``, which takes a reliable checkpoint
when the session has a checkpoint directory and a local one otherwise,
and holds the one fallback for sessions with no SparkContext (Spark
Connect). A direct ``localCheckpoint`` or ``checkpoint`` call elsewhere
ignores the directory, and its own fallback can swallow a failed
checkpoint."""

from __future__ import annotations

import ast
import pathlib

ROOT = pathlib.Path(__file__).resolve().parent.parent
OWNER = pathlib.Path("doin_fine_ance__spark/operators/checkpoint.py")


def checkpoint_calls(root: pathlib.Path, pkg="doin_fine_ance__spark", owner=OWNER) -> list[str]:
    """``path:line`` for every ``.localCheckpoint(`` or ``.checkpoint(``
    call in ``pkg`` outside ``owner``."""
    found = []
    for path in sorted((root / pkg).rglob("*.py")):
        rel = path.relative_to(root)
        if rel == owner:
            continue
        tree = ast.parse(path.read_text(), str(path))
        lines = sorted(
            node.lineno
            for node in ast.walk(tree)
            if isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr in ("localCheckpoint", "checkpoint")
        )
        found += [f"{rel}:{ln}" for ln in lines]
    return found


def test_checkpoint_calls_only_in_materialize():
    assert checkpoint_calls(ROOT) == []


def test_guard_flags_checkpoint_calls_outside_owner(tmp_path):
    (tmp_path / "pkg" / "operators").mkdir(parents=True)
    (tmp_path / "pkg" / "operators" / "checkpoint.py").write_text(
        "def materialize(df):\n"
        "    if df.sparkSession.sparkContext.getCheckpointDir():\n"
        "        return df.checkpoint(eager=True)\n"
        "    return df.localCheckpoint(eager=True)\n"
    )
    (tmp_path / "pkg" / "caller.py").write_text(
        "df = materialize(df)\n"
        "doc = 'df.localCheckpoint(eager=True)'\n"
        "bad = df.localCheckpoint(eager=True)\n"
        "def helper(d):\n"
        "    return d.checkpoint()\n"
    )
    owner = pathlib.Path("pkg/operators/checkpoint.py")
    assert checkpoint_calls(tmp_path, pkg="pkg", owner=owner) == [
        "pkg/caller.py:3",
        "pkg/caller.py:5",
    ]
