"""Every name a library module imports is used in that module.

Pure AST, no Spark. Package ``__init__.py`` files are exempt: they
re-export by design. Anything else a module imports but never reads is
dead weight (and, for the query tiers, hides which operator a query
really runs).
"""

from __future__ import annotations

import ast
import pathlib

PKG = pathlib.Path(__file__).resolve().parent.parent / "lookup_transform_spark"


def _unused_imports(tree: ast.Module) -> list[str]:
    bound: dict[str, int] = {}
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for a in node.names:
                bound[a.asname or a.name.split(".")[0]] = node.lineno
        elif isinstance(node, ast.ImportFrom) and node.module != "__future__":
            for a in node.names:
                if a.name != "*":
                    bound[a.asname or a.name] = node.lineno
    used = {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)}
    return sorted(f"{name} (line {line})" for name, line in bound.items()
                  if name not in used)


def test_library_modules_use_every_import():
    modules = [p for p in sorted(PKG.rglob("*.py")) if p.name != "__init__.py"]
    assert modules
    unused = {
        str(p.relative_to(PKG.parent)): names
        for p in modules
        if (names := _unused_imports(ast.parse(p.read_text())))
    }
    assert not unused, unused
