"""Every public top-level function or class in ``operators/``, ``streaming/``,
``sources/`` and ``ml/`` must be named by some code outside ``tests/``: the
package itself, ``tools/``, ``perfbench/``, ``examples/``, ``bench.py`` or
``__spark_entry__.py``. A def that only its own tests call is code the system
never runs; delete it with its tests, or list it in ``ALLOWED`` with the reason
it stays. Methods are not checked.
"""

from __future__ import annotations

import ast
import os
import re

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = os.path.join(ROOT, "weatherdatapipeline_spark")
CHECKED = ("operators", "streaming", "sources", "ml")
CALLER_ROOTS = ("weatherdatapipeline_spark", "tools", "perfbench", "examples")
CALLER_FILES = ("bench.py", "__spark_entry__.py")
WORD = re.compile(r"[A-Za-z_]\w*")
DEF_HEADER = re.compile(r"\b(?:def|class)\s+\w+")

# name -> why it stays without a non-test caller
ALLOWED = {
    "dedup_late_data": "SURVEY ST5: the fix for the reference's duplicate-append bug",
}


def _py_files(top: str):
    for dirpath, dirnames, filenames in os.walk(top):
        dirnames[:] = [d for d in dirnames if d not in ("tests", "__pycache__")]
        for f in filenames:
            if f.endswith(".py"):
                yield os.path.join(dirpath, f)


def public_defs() -> dict[str, str]:
    """Public top-level def/class name -> defining file, over the checked packages."""
    out = {}
    for sub in CHECKED:
        for path in _py_files(os.path.join(PACKAGE, sub)):
            with open(path) as f:
                tree = ast.parse(f.read(), path)
            for node in tree.body:
                if isinstance(
                    node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
                ) and not node.name.startswith("_"):
                    out[node.name] = os.path.relpath(path, ROOT)
    return out


def names_used() -> set[str]:
    """Every word the non-test code names outside a ``def``/``class`` header:
    a call, an import, or a comment or docstring that points a reader at it."""
    paths = [p for r in CALLER_ROOTS for p in _py_files(os.path.join(ROOT, r))]
    paths += [os.path.join(ROOT, f) for f in CALLER_FILES]
    used = set()
    for path in paths:
        with open(path) as f:
            used.update(WORD.findall(DEF_HEADER.sub("", f.read())))
    return used


def test_every_public_def_has_a_non_test_caller():
    used = names_used()
    defs = public_defs()
    uncalled = sorted(
        f"{path}::{name}"
        for name, path in defs.items()
        if name not in used and name not in ALLOWED
    )
    assert not uncalled, f"{len(uncalled)} public defs only tests reach: {uncalled}"
    # an allowlist entry for a name that is gone or now has a caller is stale
    assert {n for n in ALLOWED if n in defs and n not in used} == set(ALLOWED)
