"""Dead-code guards over the repository's Python. Pure AST, no Spark.

1. Every name a module imports is used in that module. This covers the
   library, ``scripts/``, ``bench.py``, ``__spark_entry__.py`` and
   ``tests/``; ``perfbench/`` is the fixed benchmark and is left out.
   Package ``__init__.py`` files are exempt: they re-export by design.
   Anything else a module imports but never reads is dead weight (and,
   for the query tiers, hides which operator a query really runs).
2. Every top-level ``def`` / ``class`` in the library has a caller
   outside ``tests/``. Code that only tests call belongs in the test
   that calls it. The guard matches names, not objects: a library
   function named like a method that a non-test caller calls on some
   other object slips past it (a test-only ``stats.unregister`` did,
   named like DuckDB's ``con.unregister`` in ``perfbench/check.py``).
3. Every import in ``bench.py``, ``__spark_entry__.py`` and
   ``scripts/``, nested ones included, resolves to a module with the
   repository root and ``scripts/`` on the path, and ``from M import
   a`` finds ``a`` in ``M``. No test runs the scripts, so this is what
   catches one left importing a deleted module or name.
"""

from __future__ import annotations

import ast
import importlib.util
import pathlib
from importlib.machinery import PathFinder

ROOT = pathlib.Path(__file__).resolve().parent.parent
PKG = ROOT / "lookup_transform_spark"

#: Python outside the library that may call it. Test files are not callers.
_NON_TEST_CALLERS = (
    ROOT / "bench.py",
    ROOT / "__spark_entry__.py",
    *sorted((ROOT / "scripts").glob("*.py")),
    *(p for p in sorted((ROOT / "perfbench").rglob("*.py"))
      if "tests" not in p.relative_to(ROOT).parts),
)

#: Library entry points that nothing in the repository calls but a user
#: does. ``run_pipeline`` runs a CDAP pipeline config, the paper's own
#: interface; ``test_docs_example_runs_unchanged`` drives it.
_USER_ENTRY_POINTS = {("plans/cdap_compat.py", "run_pipeline")}

_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


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


def _assert_imports_used(files: list[pathlib.Path]) -> None:
    unused = {
        str(p.relative_to(ROOT)): names
        for p in files
        if (names := _unused_imports(ast.parse(p.read_text())))
    }
    assert not unused, unused


def test_library_modules_use_every_import():
    modules = [p for p in sorted(PKG.rglob("*.py")) if p.name != "__init__.py"]
    assert modules
    _assert_imports_used(modules)


def test_scripts_entry_points_and_tests_use_every_import():
    files = [
        *sorted(ROOT.glob("*.py")),
        *sorted((ROOT / "scripts").glob("*.py")),
        *sorted((ROOT / "tests").rglob("*.py")),
    ]
    assert ROOT / "bench.py" in files and ROOT / "tests" / "conftest.py" in files
    _assert_imports_used(files)


def _references(tree: ast.Module) -> set[str]:
    """Names a module reads: ``Name`` ids, ``Attribute`` attrs and
    imported names. A top-level definition's reads of its own name
    (recursion) do not count."""
    refs: set[str] = set()
    for top in tree.body:
        found: set[str] = set()
        for n in ast.walk(top):
            if isinstance(n, ast.Name):
                found.add(n.id)
            elif isinstance(n, ast.Attribute):
                found.add(n.attr)
            elif isinstance(n, (ast.Import, ast.ImportFrom)):
                found.update(a.name.rsplit(".", 1)[-1] for a in n.names)
        if isinstance(top, _DEFS):
            found.discard(top.name)
        refs |= found
    return refs


def _is_registered_query(node: ast.AST) -> bool:
    for dec in getattr(node, "decorator_list", ()):
        fn = dec.func if isinstance(dec, ast.Call) else dec
        if isinstance(fn, ast.Name) and fn.id == "_q":
            return True
    return False


def test_library_definitions_have_a_non_test_caller():
    lib = {p: ast.parse(p.read_text()) for p in sorted(PKG.rglob("*.py"))}
    refs: set[str] = set()
    for tree in lib.values():
        refs |= _references(tree)
    for p in _NON_TEST_CALLERS:
        refs |= _references(ast.parse(p.read_text()))
    orphans = sorted(
        f"{p.relative_to(PKG)}:{node.name}"
        for p, tree in lib.items()
        for node in tree.body
        if isinstance(node, _DEFS)
        and node.name not in refs
        and not _is_registered_query(node)
        and (str(p.relative_to(PKG)), node.name) not in _USER_ENTRY_POINTS
    )
    assert not orphans, orphans


#: Where the entry points and scripts import from: ``bench.py`` puts the
#: root on ``sys.path`` and each script puts the root beside its own dir.
_IMPORT_PATH = [str(ROOT), str(ROOT / "scripts")]


def _find_spec(name: str):
    """Spec of module ``name``, found without importing it or its
    parents: repository modules first, then the installed ones."""
    top, *rest = name.split(".")
    spec = PathFinder.find_spec(top, _IMPORT_PATH) or importlib.util.find_spec(top)
    for i in range(1, len(rest) + 1):
        if spec is None or not spec.submodule_search_locations:
            return None
        spec = PathFinder.find_spec(
            ".".join([top, *rest[:i]]), list(spec.submodule_search_locations)
        )
    return spec


def _top_level_names(tree: ast.Module) -> set[str] | None:
    """Names a module binds at top level, through ``if`` / ``try``
    blocks too; None when they cannot be known statically (a star
    import or a module ``__getattr__``)."""
    names: set[str] = set()
    todo = list(tree.body)
    while todo:
        node = todo.pop()
        if isinstance(node, _DEFS):
            names.add(node.name)
        elif isinstance(node, (ast.Import, ast.ImportFrom)):
            for a in node.names:
                if a.name == "*":
                    return None
                names.add(a.asname or a.name.split(".")[0])
        elif isinstance(node, (ast.Assign, ast.AnnAssign, ast.AugAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            for t in targets:
                names |= {n.id for n in ast.walk(t) if isinstance(n, ast.Name)}
        elif isinstance(node, (ast.If, ast.Try, ast.With)):
            todo += [
                n for block in ("body", "orelse", "finalbody", "handlers")
                for n in getattr(node, block, [])
            ]
        elif isinstance(node, ast.ExceptHandler):
            todo += node.body
    return None if "__getattr__" in names else names


def _defines(spec, name: str) -> bool:
    if spec.submodule_search_locations and PathFinder.find_spec(
        f"{spec.name}.{name}", list(spec.submodule_search_locations)
    ):
        return True
    if not (spec.origin or "").endswith(".py"):
        return True  # compiled or built-in: nothing to parse
    names = _top_level_names(ast.parse(pathlib.Path(spec.origin).read_bytes()))
    return names is None or name in names


def test_scripts_and_entry_points_imports_resolve():
    files = [
        ROOT / "bench.py",
        ROOT / "__spark_entry__.py",
        *sorted((ROOT / "scripts").glob("*.py")),
    ]
    broken = []
    for p in files:
        for node in ast.walk(ast.parse(p.read_text())):
            if isinstance(node, ast.Import):
                wanted = [(a.name, None) for a in node.names]
            elif isinstance(node, ast.ImportFrom):
                assert node.level == 0, f"{p.name}: relative import"
                wanted = [(node.module, a.name) for a in node.names]
            else:
                continue
            for module, name in wanted:
                where = f"{p.relative_to(ROOT)}:{node.lineno}"
                spec = _find_spec(module)
                if spec is None:
                    broken.append(f"{where} {module}")
                elif name not in (None, "*") and not _defines(spec, name):
                    broken.append(f"{where} {module}.{name}")
    assert not broken, broken
