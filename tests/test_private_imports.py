"""Tooling guard: no module of the engine, of ``tools/`` or
``bench.py`` imports an underscore name from another engine package. A
helper another package needs gets a public name in its home module
instead."""

from __future__ import annotations

import ast
import pathlib

ROOT = pathlib.Path(__file__).resolve().parent.parent
PKG = ROOT / "doin_fine_ance__spark"


def private_cross_package_imports(pkg: pathlib.Path, also=()) -> list[str]:
    """``path:line imports module.name`` for every ``from X import _name``
    of a module X of ``pkg`` whose (sub)package differs from the
    importing file's; the files scanned are those under ``pkg`` and in
    the files and directories ``also`` beside it."""
    root = pkg.parent
    paths = list(pkg.rglob("*.py"))
    for extra in also:
        paths += extra.rglob("*.py") if extra.is_dir() else [extra]

    def package_of(module: str) -> str:
        is_pkg = root.joinpath(*module.split(".")).is_dir()
        return module if is_pkg else module.rpartition(".")[0]

    found = []
    for path in sorted(paths):
        parts = path.relative_to(root).with_suffix("").parts
        package = ".".join(parts[:-1])
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if not isinstance(node, ast.ImportFrom):
                continue
            if node.level:
                base = package.split(".")[: len(package.split(".")) - node.level + 1]
                target = ".".join(base + ([node.module] if node.module else []))
            else:
                target = node.module or ""
            if target.split(".")[0] != pkg.name:
                continue
            for alias in node.names:
                name = alias.name
                private = name.startswith("_") and not name.startswith("__")
                if private and package_of(target) != package:
                    rel = path.relative_to(root)
                    found.append(f"{rel}:{node.lineno} imports {target}.{name}")
    return found


def test_no_private_imports_across_packages():
    also = (ROOT / "tools", ROOT / "bench.py")
    assert private_cross_package_imports(PKG, also) == []


def test_guard_flags_cross_package_but_not_sibling_modules(tmp_path):
    pkg = tmp_path / "eng"
    for sub in ("a", "b"):
        (pkg / sub).mkdir(parents=True)
        (pkg / sub / "__init__.py").write_text("")
    (pkg / "__init__.py").write_text("")
    (pkg / "a" / "core.py").write_text("def _helper():\n    pass\n")
    (pkg / "a" / "near.py").write_text("from .core import _helper\n")
    (pkg / "b" / "far.py").write_text(
        "from ..a.core import _helper\nfrom eng.a import core\n"
    )
    (pkg / "top.py").write_text("from eng.a.core import _helper, __doc__\n")
    (tmp_path / "tools").mkdir()
    (tmp_path / "tools" / "t.py").write_text(
        "from eng.a.core import _helper\nfrom tools.u import _own\n"
    )
    (tmp_path / "run.py").write_text("from eng.a import core\n")
    also = (tmp_path / "tools", tmp_path / "run.py")
    assert private_cross_package_imports(pkg, also) == [
        "eng/b/far.py:1 imports eng.a.core._helper",
        "eng/top.py:1 imports eng.a.core._helper",
        "tools/t.py:1 imports eng.a.core._helper",
    ]
