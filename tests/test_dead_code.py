"""Dead-code guards over the package's top-level functions and classes:

1. every one must be referenced somewhere other than its own definition;
2. every one must be referenced from outside ``tests/`` (the package, the
   scripts, the benchmark or the Spark entry point), unless it is on the
   commented ``TEST_ONLY`` allowlist below.

A reference is a name, an attribute, an imported name (or its alias) or a
string constant that is exactly the identifier (``getattr``/registry
lookups), found in the package, the tests, the scripts, the benchmark or
the Spark entry point. Name matching is by identifier only, so a guard
pass means "possibly used"; a failure means nothing can reach the code,
or only a test can.
"""

import ast
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(ROOT, "rlis2osm_spark")
TESTS = os.path.join(ROOT, "tests")
SEARCH = [PKG, TESTS, os.path.join(ROOT, "scripts"),
          os.path.join(ROOT, "perfbench"),
          os.path.join(ROOT, "__spark_entry__.py")]
DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)

# Package definitions that only tests call. The list may only shrink: give
# an entry a production caller or delete it with its tests.
TEST_ONLY = {
    # reference implementations the tests check the engine against
    "functions/wkb.py:decode_linestring",
    "spatial/proj.py:lonlat_to_feet",
    "operators/similarity.py:brute_force_topk",
}


def _py_files(path: str) -> list[str]:
    if path.endswith(".py"):
        return [path]
    return sorted(os.path.join(d, f) for d, _dirs, files in os.walk(path)
                  for f in files if f.endswith(".py"))


def _names(node: ast.AST):
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            yield n.id
        elif isinstance(n, ast.Attribute):
            yield n.attr
        elif isinstance(n, ast.alias):
            yield n.name.rsplit(".", 1)[-1]
            if n.asname:
                yield n.asname
        elif (isinstance(n, ast.Constant) and isinstance(n.value, str)
              and n.value.isidentifier()):
            yield n.value


def _scan():
    """Package definitions as (file, name), and every reference as
    name -> {(file, enclosing top-level definition or None)}."""
    defs, refs = [], {}
    for path in SEARCH:
        for f in _py_files(path):
            with open(f) as fh:
                tree = ast.parse(fh.read(), f)
            for top in tree.body:
                owner = top.name if isinstance(top, DEFS) else None
                if owner and f.startswith(PKG + os.sep):
                    defs.append((f, owner))
                for name in _names(top):
                    refs.setdefault(name, set()).add((f, owner))
    return defs, refs


def test_no_unreferenced_top_level_definitions():
    defs, refs = _scan()
    dead = [f"{os.path.relpath(f, ROOT)}:{name}" for f, name in defs
            if not refs.get(name, set()) - {(f, name)}]
    assert not dead, f"referenced nowhere but their own definition: {dead}"


def test_no_definitions_referenced_only_from_tests():
    defs, refs = _scan()
    test_only = set()
    for f, name in defs:
        others = refs.get(name, set()) - {(f, name)}
        if others and all(g.startswith(TESTS + os.sep) for g, _ in others):
            test_only.add(f"{os.path.relpath(f, PKG)}:{name}")
    new = sorted(test_only - TEST_ONLY)
    assert not new, f"referenced only from tests/: {new}"
    # an entry that gained a production caller or was deleted must go
    stale = sorted(TEST_ONLY - test_only)
    assert not stale, f"no longer test-only, drop from TEST_ONLY: {stale}"
