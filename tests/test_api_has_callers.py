"""Every public top-level function or class, and every public method of a
top-level class, in ``operators/``, ``streaming/``, ``sources/`` and ``ml/``
must be reached by some code outside ``tests/``: the package itself,
``tools/``, ``perfbench/``, ``examples/``, ``bench.py`` or
``__spark_entry__.py``. A def that only its own tests call is code the system
never runs; delete it with its tests, or list it in ``ALLOWED`` with the reason
it stays.

A name counts as reached only where code names it: a ``Name`` or
``Attribute`` node, an import, or a string constant equal to the identifier
(``getattr`` and registry lookups). Comments and docstrings do not count, and
neither does a use inside the def's own body. Private and dunder methods, and
methods the framework calls (those that override an attribute of a base class,
such as the ``pyds.py`` reader callbacks, and those of a class a decorator
wraps, such as a ``@udtf``), are not checked.
"""

from __future__ import annotations

import ast
import importlib
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = os.path.join(ROOT, "weatherdatapipeline_spark")
CHECKED = ("operators", "streaming", "sources", "ml")
CALLER_ROOTS = ("weatherdatapipeline_spark", "tools", "perfbench", "examples")
CALLER_FILES = ("bench.py", "__spark_entry__.py")
DEF_NODES = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)

# name -> why it stays without a non-test caller
ALLOWED = {
    "dedup_late_data": "SURVEY ST5: the fix for the reference's duplicate-append bug",
    "cosine_similarity_hof": "the higher-order-function reference the Arrow cosine is tested against",
    "ingest": "SURVEY S1/S2: the reference extract.py path (fetch, parse, load), listed in the README",
}


def _py_files(top: str):
    for dirpath, dirnames, filenames in os.walk(top):
        dirnames[:] = [d for d in dirnames if d not in ("tests", "__pycache__")]
        for f in filenames:
            if f.endswith(".py"):
                yield os.path.join(dirpath, f)


def _parse(path: str) -> ast.Module:
    with open(path) as f:
        return ast.parse(f.read(), path)


def _overrides(module: str, cls: str, name: str) -> bool:
    """True when ``name`` is an attribute of a base class of ``module.cls``,
    or when a class decorator handed the class to a framework (``@udtf``),
    which then calls its methods."""
    klass = getattr(importlib.import_module(module), cls)
    if not isinstance(klass, type):
        return True
    return any(hasattr(base, name) for base in klass.__mro__[1:])


def public_defs() -> list[tuple[str, str, ast.AST]]:
    """(file, qualified name, node) for each checked public def and method."""
    out = []
    for sub in CHECKED:
        for path in _py_files(os.path.join(PACKAGE, sub)):
            rel = os.path.relpath(path, ROOT)
            module = rel[: -len(".py")].replace(os.sep, ".")
            for node in _parse(path).body:
                if not isinstance(node, DEF_NODES):
                    continue
                if not node.name.startswith("_"):
                    out.append((rel, node.name, node))
                if not isinstance(node, ast.ClassDef):
                    continue
                for m in node.body:
                    if (
                        isinstance(m, DEF_NODES)
                        and not m.name.startswith("_")
                        and not _overrides(module, node.name, m.name)
                    ):
                        out.append((rel, f"{node.name}.{m.name}", m))
    return out


def _uses(tree: ast.Module):
    """(identifier, line) for each place the code under ``tree`` names one."""
    for n in ast.walk(tree):
        if isinstance(n, ast.Name):
            yield n.id, n.lineno
        elif isinstance(n, ast.Attribute):
            yield n.attr, n.end_lineno
        elif isinstance(n, ast.alias):
            for part in n.name.split("."):
                yield part, n.lineno
        elif (
            isinstance(n, ast.Constant)
            and isinstance(n.value, str)
            and n.value.isidentifier()
        ):
            yield n.value, n.lineno


def uses() -> dict[str, set[tuple[str, int]]]:
    """identifier -> the (file, line) places the non-test code names it."""
    paths = [p for r in CALLER_ROOTS for p in _py_files(os.path.join(ROOT, r))]
    paths += [os.path.join(ROOT, f) for f in CALLER_FILES]
    out: dict[str, set[tuple[str, int]]] = {}
    for path in paths:
        rel = os.path.relpath(path, ROOT)
        for name, line in _uses(_parse(path)):
            out.setdefault(name, set()).add((rel, line))
    return out


def uncalled() -> list[str]:
    """``file::name`` of each checked def that no code outside its own body
    names."""
    used = uses()
    out = []
    for path, qual, node in public_defs():
        if not any(
            p != path or not node.lineno <= line <= node.end_lineno
            for p, line in used.get(node.name, ())
        ):
            out.append(f"{path}::{qual}")
    return sorted(out)


def test_every_public_def_has_a_non_test_caller():
    found = uncalled()
    missing = [n for n in found if n.rsplit("::", 1)[1] not in ALLOWED]
    assert not missing, f"{len(missing)} public defs only tests reach: {missing}"
    # an allowlist entry for a name that is gone or now has a caller is stale
    assert {n.rsplit("::", 1)[1] for n in found} == set(ALLOWED)
