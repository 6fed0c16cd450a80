"""Single-mechanism guards over the library. Pure AST, no Spark.

Some mechanisms exist exactly once on purpose, and a second hand-copied
site is how they drift apart:

1. ``foreachBatch``: every continuous-ingest entry point drains its
   arrivals through ``streaming/ingest.py::_drive``.
2. ``spark.conf.set``: ``session.set_confs`` is the one writer of
   session conf; ``session.scoped_confs`` builds on it.
"""

from __future__ import annotations

import ast
import pathlib

PKG = pathlib.Path(__file__).resolve().parent.parent / "lookup_transform_spark"


def _call_sites(attr: str, owner: str | None = None) -> list[str]:
    """``path::function`` of every call ``x.<attr>(...)`` in the library
    (``x.<owner>.<attr>(...)`` when ``owner`` is given), named by the
    top-level definition that contains it."""
    sites = []
    for p in sorted(PKG.rglob("*.py")):
        tree = ast.parse(p.read_text())
        for top in tree.body:
            for n in ast.walk(top):
                if not (
                    isinstance(n, ast.Call)
                    and isinstance(n.func, ast.Attribute)
                    and n.func.attr == attr
                ):
                    continue
                if owner is not None and not (
                    isinstance(n.func.value, ast.Attribute)
                    and n.func.value.attr == owner
                ):
                    continue
                where = getattr(top, "name", f"line {n.lineno}")
                sites.append(f"{p.relative_to(PKG)}::{where}")
    return sites


def test_one_foreach_batch_driver():
    assert _call_sites("foreachBatch") == ["streaming/ingest.py::_drive"]


def test_one_session_conf_writer():
    assert _call_sites("set", owner="conf") == ["session.py::set_confs"]
