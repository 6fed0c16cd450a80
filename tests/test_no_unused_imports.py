"""Dead-code guards over the repository's Python. Pure AST, no Spark.

1. Every name a module imports is used in that module. This covers the
   library, ``scripts/``, ``bench.py``, ``__spark_entry__.py`` and
   ``tests/``; ``perfbench/`` is the fixed benchmark and is left out.
   Package ``__init__.py`` files are exempt: they re-export by design.
   Anything else a module imports but never reads is dead weight (and,
   for the query tiers, hides which operator a query really runs).
2. Every top-level ``def`` / ``class`` in the library has a caller
   outside ``tests/``. Code that only tests call belongs in the test
   that calls it. A definition is used when a non-test root reaches
   it, with names resolved as Python does: to a definition in the same
   module, to a ``from lookup_transform_spark.X import n`` binding, or
   to ``alias.attr`` on an imported library module. A re-export alone
   uses nothing, and a call from an unreachable definition does not
   count.
3. Every import in ``bench.py``, ``__spark_entry__.py`` and
   ``scripts/``, nested ones included, resolves to a module with the
   repository root and ``scripts/`` on the path, and ``from M import
   a`` finds ``a`` in ``M``. No test runs the scripts, so this is what
   catches one left importing a deleted module or name.
4. Every defaulted parameter of a library function (top level or
   method) is passed by some call in the repository: library,
   ``tests/``, ``scripts/``, ``perfbench/`` and the two entry points.
   Calls match by the function's bare name; a call with ``*args`` or
   ``**kwargs`` passes everything. A parameter no call passes is a
   setting with one value, which belongs in a module constant.
   Nested closures are out of scope.
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


def _module_name(path: pathlib.Path, base: pathlib.Path) -> str:
    parts = path.relative_to(base).with_suffix("").parts
    return ".".join(parts[:-1] if parts[-1] == "__init__" else parts)


def _is_registered_query(node: ast.AST) -> bool:
    for dec in getattr(node, "decorator_list", ()):
        fn = dec.func if isinstance(dec, ast.Call) else dec
        if isinstance(fn, ast.Name) and fn.id == "_q":
            return True
    return False


class _Library:
    """The library's modules with what each top-level name is bound to:
    a top-level definition, or an import of a library module or name."""

    def __init__(self, pkg: pathlib.Path):
        self.pkg = pkg.name
        self.trees = {
            _module_name(p, pkg.parent): (p, ast.parse(p.read_text()))
            for p in sorted(pkg.rglob("*.py"))
        }
        # packages without an __init__.py are modules too
        self.modules = {
            ".".join(m.split(".")[:i])
            for m in self.trees for i in range(1, m.count(".") + 2)
        }
        self.bindings = {
            mod: {
                **self.imports([n for n in tree.body if not isinstance(n, _DEFS)]),
                **{n.name: ("def", mod, n.name) for n in tree.body if isinstance(n, _DEFS)},
            }
            for mod, (_, tree) in self.trees.items()
        }

    def imports(self, nodes: list[ast.AST]) -> dict[str, tuple]:
        """Names the imports anywhere in ``nodes`` bind to the library."""
        out: dict[str, tuple] = {}
        for node in (n for top in nodes for n in ast.walk(top)):
            if isinstance(node, ast.Import):
                for a in node.names:
                    if a.name.split(".")[0] == self.pkg:
                        out[a.asname or self.pkg] = (
                            "mod", a.name if a.asname else self.pkg)
            elif isinstance(node, ast.ImportFrom) and not node.level and (
                node.module.split(".")[0] == self.pkg
            ):
                for a in node.names:
                    out[a.asname or a.name] = ("from", node.module, a.name)
        return out

    def resolve(self, binding: tuple | None, seen: frozenset = frozenset()):
        """A binding followed through re-exports to ``("mod", m)`` or
        ``("def", m, name)``; None when it leaves the library."""
        if binding is None or binding[0] != "from":
            return binding
        _, mod, name = binding
        if f"{mod}.{name}" in self.modules:
            return ("mod", f"{mod}.{name}")
        if (mod, name) in seen:
            return None
        return self.resolve(
            self.bindings.get(mod, {}).get(name), seen | {(mod, name)})

    def references(self, node: ast.AST, scope: dict[str, tuple]) -> set[tuple]:
        """Library definitions ``node`` reads: names bound in ``scope``
        or by an import inside ``node``, and attributes of library
        modules."""
        scope = {**scope, **self.imports([node])}

        def target(expr: ast.AST):
            if isinstance(expr, ast.Name):
                return self.resolve(scope.get(expr.id))
            if isinstance(expr, ast.Attribute):
                owner = target(expr.value)
                if owner and owner[0] == "mod":
                    return self.resolve(("from", owner[1], expr.attr))
            return None

        return {
            t for n in ast.walk(node)
            if isinstance(n, (ast.Name, ast.Attribute))
            and (t := target(n)) and t[0] == "def"
        }


def _unreachable_definitions(
    pkg: pathlib.Path,
    callers: tuple[pathlib.Path, ...],
    entry_points: set[tuple[str, str]],
) -> list[str]:
    """Top-level definitions of the package at ``pkg`` that no root
    reaches. The roots are ``callers`` (whole files), the library's
    module-level statements other than imports and definitions,
    ``@_q`` queries and ``entry_points`` (``(relative path, name)``).
    A definition reaches what it reads; a re-export reaches nothing."""
    lib = _Library(pkg)
    edges: dict[tuple, set[tuple]] = {}
    todo: set[tuple] = set()
    for p in callers:
        todo |= lib.references(ast.parse(p.read_text()), {})
    for mod, (p, tree) in lib.trees.items():
        scope = lib.bindings[mod]
        for node in tree.body:
            if isinstance(node, _DEFS):
                edges[("def", mod, node.name)] = lib.references(node, scope)
                if _is_registered_query(node) or (
                    str(p.relative_to(pkg)), node.name) in entry_points:
                    todo.add(("def", mod, node.name))
            elif not isinstance(node, (ast.Import, ast.ImportFrom)):
                todo |= lib.references(node, scope)
    reached: set[tuple] = set()
    while todo:
        d = todo.pop()
        if d not in reached:
            reached.add(d)
            todo |= edges.get(d, set())
    return sorted(
        f"{lib.trees[mod][0].relative_to(pkg)}:{name}"
        for (_, mod, name) in edges.keys() - reached
    )


def test_library_definitions_have_a_non_test_caller():
    orphans = _unreachable_definitions(PKG, _NON_TEST_CALLERS, _USER_ENTRY_POINTS)
    assert not orphans, orphans


def test_unreachable_definitions_resolves_names_by_module(tmp_path):
    """The three ways a name-pooling guard lets dead code through: a
    definition only a package ``__init__`` re-exports, a same-module
    cluster nothing outside calls, and a definition named like a live
    one in another module. Each is reported; the live paths are not."""
    pkg = tmp_path / "toy"
    files = {
        "__init__.py": "from toy.exported import only_reexported, via_package\n",
        "exported.py": "def only_reexported(): pass\ndef via_package(): pass\n",
        "cluster.py": "def helper(): pass\ndef entry(): return helper()\n",
        "live.py": (
            "from toy import exported\n"
            "def register(): return exported.via_package()\n"
            "@_q('x')\ndef q_x(): return _local()\n"
            "def _local(): pass\n"
        ),
        "other.py": "def register(): pass\ndef api(): pass\n",
    }
    pkg.mkdir()
    for name, text in files.items():
        (pkg / name).write_text(text)
    caller = tmp_path / "caller.py"
    caller.write_text("import toy.live as lv\nlv.register()\n")
    got = _unreachable_definitions(pkg, (caller,), {("other.py", "api")})
    assert got == [
        "cluster.py:entry",
        "cluster.py:helper",
        "exported.py:only_reexported",
        "other.py:register",
    ]


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


_FUNCS = (ast.FunctionDef, ast.AsyncFunctionDef)

#: Python whose calls can pass a library function's parameters.
_ALL_CALLERS = (
    *sorted(PKG.rglob("*.py")),
    *sorted((ROOT / "tests").rglob("*.py")),
    *sorted((ROOT / "scripts").glob("*.py")),
    *sorted((ROOT / "perfbench").rglob("*.py")),
    ROOT / "bench.py",
    ROOT / "__spark_entry__.py",
)

_TOPK_FLAG = (
    "the top-k operators share one exclude_self flag: "
    "test_approx_topk_exclude_self_escape_hatch passes it to lsh_bucket_topk "
    "and ivf_topk through a loop variable, test_ivf_probe_exclude_self_flag "
    "to ivf_probe_topk"
)

#: Defaulted parameters that no call passes by name, kept on purpose:
#: (library path, function, parameter) -> the caller that justifies it.
_KEPT_DEFAULTS = {
    ("operators/similarity.py", "cosine_topk", "exclude_self"): _TOPK_FLAG,
    ("operators/similarity.py", "lsh_bucket_topk", "exclude_self"): _TOPK_FLAG,
    ("operators/similarity.py", "ivf_topk", "exclude_self"): _TOPK_FLAG,
    ("streaming/ingest.py", "stream_ingest_neardedup", "compact_every"): (
        "the ingest entry points share one signature; test_streaming.py "
        "sets compact_every on stream_ingest_dedup and ingest_batch_neardedup"
    ),
    ("streaming/sketch_rollup.py", "stream_quantile_rollup", "compact_every"): (
        "test_streaming.py sets compact_every on its sibling "
        "stream_sketch_rollup; both forward it to _maintain_sketch_state"
    ),
}


def _defaulted_parameters(pkg: pathlib.Path) -> list[tuple]:
    """``(path, function, parameter, positional index)`` for every
    defaulted parameter of a top-level function or method; the index is
    None for keyword-only parameters, and a method's ``self`` / ``cls``
    does not count toward it."""
    out = []
    for p in sorted(pkg.rglob("*.py")):
        body = ast.parse(p.read_text()).body
        fns = [(n, False) for n in body if isinstance(n, _FUNCS)] + [
            (m, True) for c in body if isinstance(c, ast.ClassDef)
            for m in c.body if isinstance(m, _FUNCS)
        ]
        for fn, is_method in fns:
            a, site = fn.args, (str(p.relative_to(pkg)), fn.name)
            pos = a.posonlyargs + a.args
            shift = int(is_method and bool(pos) and pos[0].arg in ("self", "cls"))
            first = len(pos) - len(a.defaults)
            out += [(*site, arg.arg, i - shift)
                    for i, arg in enumerate(pos) if i >= first]
            out += [(*site, arg.arg, None)
                    for arg, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None]
    return out


def _passes(call: ast.Call, param: str, index: int | None) -> bool:
    if any(isinstance(a, ast.Starred) for a in call.args) or any(
        k.arg is None for k in call.keywords
    ):
        return True
    return any(k.arg == param for k in call.keywords) or (
        index is not None and index < len(call.args)
    )


def _unpassed_defaults(
    pkg: pathlib.Path, callers: tuple[pathlib.Path, ...]
) -> list[tuple[str, str, str]]:
    """Defaulted parameters of ``pkg`` that no call in ``callers`` to a
    function of the same name passes, by keyword or by position."""
    calls: dict[str, list[ast.Call]] = {}
    for p in callers:
        for n in ast.walk(ast.parse(p.read_text())):
            if isinstance(n, ast.Call):
                f = n.func
                name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
                calls.setdefault(name, []).append(n)
    return sorted(
        (path, fn, param)
        for path, fn, param, i in _defaulted_parameters(pkg)
        if not any(_passes(c, param, i) for c in calls.get(fn, ()))
    )


def test_defaulted_parameters_have_a_caller_that_passes_them():
    unpassed, kept = set(_unpassed_defaults(PKG, _ALL_CALLERS)), set(_KEPT_DEFAULTS)
    assert not unpassed - kept, sorted(unpassed - kept)
    # an entry whose parameter gained a caller, or went, is stale
    assert not kept - unpassed, sorted(kept - unpassed)


def test_unpassed_defaults_counts_positions_keywords_and_unpacking(tmp_path):
    """The scan's matching rules on a toy package: a method's ``self``
    shifts positions, a keyword or a long enough positional call passes
    a parameter, ``*args`` / ``**kwargs`` pass everything, and nested
    closures are not scanned."""
    pkg = tmp_path / "toy"
    pkg.mkdir()
    (pkg / "ops.py").write_text(
        "def f(a, b=1, c=2, *, d=3): pass\n"
        "def g(x=0): pass\n"
        "def h(y=0):\n    def inner(z=0): pass\n"
        "class K:\n    def m(self, p=0, q=0): pass\n"
    )
    caller = tmp_path / "caller.py"
    caller.write_text("f(0, 1)\nf(0, d=4)\ng(*args)\nK().m(5)\n")
    assert _unpassed_defaults(pkg, (caller,)) == [
        ("ops.py", "f", "c"),
        ("ops.py", "h", "y"),
        ("ops.py", "m", "q"),
    ]
