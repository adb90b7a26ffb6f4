"""Dead-code guards over the package's top-level functions and classes:

1. every one must be referenced somewhere other than its own definition;
2. every one must be referenced from outside ``tests/`` (the package, the
   scripts, the benchmark or the Spark entry point), unless it is on the
   commented ``TEST_ONLY`` allowlist below;
3. every defaulted parameter of a package function must be passed by some
   call outside ``tests/``, unless it is on the commented
   ``TEST_ONLY_PARAMS`` allowlist below: an option only tests set is a
   second configuration nothing else runs;
4. no package file references ``pandas_udf``, ``mapInPandas`` or
   ``applyInPandas``: every Python UDF and map kernel takes and returns
   Arrow, so there is one Python boundary.

A reference is a name, an attribute, an imported name (or its alias) or a
string constant that is looked up by name: the name argument of
``getattr``/``hasattr``. Any other string, such as a column name read by
``F.col``, ``select`` or ``.alias``, is not a reference. References are
found in the package, the tests, the scripts, the benchmark or the Spark
entry point. A call passes a parameter when it names it as a
keyword, reaches its position, or spreads ``*args``/``**kwargs``; calls
match functions by name only (a class name calls its ``__init__``).
Name matching is by identifier only, so a guard pass means "possibly
used"; a failure means nothing can reach the code, or only a test can.
"""

import ast
import functools
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

# Defaulted parameters that only tests pass, as ``path:function(param)``.
# The list may only shrink: give an entry a production caller, or make it
# a constant and delete the branch it selects.
TEST_ONLY_PARAMS = {
    # reference implementation: the seeded hash the oracles are built on
    "functions/xxh64.py:xxh64(seed)",
    # path a test redirects
    "driver_support.py:build_package_zip(zip_path)",
    # test-data size
    "datagen.py:ensure_dataset(n_streets)",
    "datagen.py:ensure_dataset(n_trails)",
    # north-star skew handling (explicit salting and hot-bucket guards)
    "spatial/joins.py:knn_join(n_salts)",
    "operators/similarity.py:cosine_neardup_pairs(max_bucket)",
}


def _py_files(path: str) -> list[str]:
    if path.endswith(".py"):
        return [path]
    return sorted(os.path.join(d, f) for d, _dirs, files in os.walk(path)
                  for f in files if f.endswith(".py"))


def _names(node: ast.AST):
    looked_up = {id(n.args[1]) for n in ast.walk(node)
                 if isinstance(n, ast.Call) and isinstance(n.func, ast.Name)
                 and n.func.id in ("getattr", "hasattr") and len(n.args) > 1}
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            yield n.id
        elif isinstance(n, ast.Attribute):
            yield n.attr
        elif isinstance(n, ast.alias):
            yield n.name.rsplit(".", 1)[-1]
            if n.asname:
                yield n.asname
        elif isinstance(n, ast.Constant) and id(n) in looked_up:
            yield n.value


def _defaulted_params(fn: ast.FunctionDef, cls: str | None):
    """(callable name, parameter, positional index or None) of each
    defaulted parameter; a method's index skips ``self``/``cls``."""
    a = fn.args
    pos = [p.arg for p in a.posonlyargs + a.args]
    bound = cls is not None and not any(
        isinstance(d, ast.Name) and d.id == "staticmethod"
        for d in fn.decorator_list)
    name = cls if cls is not None and fn.name == "__init__" else fn.name
    for p in pos[len(pos) - len(a.defaults):]:
        yield name, p, pos.index(p) - bound
    for p, d in zip(a.kwonlyargs, a.kw_defaults):
        if d is not None:
            yield name, p.arg, None


def _call(node: ast.Call):
    """(callee name, positional count, keyword names, spreads anything)."""
    f = node.func
    name = (f.id if isinstance(f, ast.Name)
            else f.attr if isinstance(f, ast.Attribute) else None)
    kws = {k.arg for k in node.keywords}
    spreads = None in kws or any(isinstance(a, ast.Starred)
                                 for a in node.args)
    return name, len(node.args), kws, spreads


@functools.lru_cache(maxsize=None)
def _scan():
    """One AST pass over every searched file. Returns package definitions
    as (file, name), every reference as name -> {(file, enclosing
    top-level definition or None)}, the package's defaulted parameters as
    (file, callable, param, positional index), and every call as
    name -> [(file, line, positional count, keyword names, spreads)]."""
    defs, refs, params, calls = [], {}, [], {}
    for path in SEARCH:
        for f in _py_files(path):
            with open(f) as fh:
                tree = ast.parse(fh.read(), f)
            in_pkg = f.startswith(PKG + os.sep)
            for top in tree.body:
                owner = top.name if isinstance(top, DEFS) else None
                if owner and in_pkg:
                    defs.append((f, owner))
                for name in _names(top):
                    refs.setdefault(name, set()).add((f, owner))
            methods = {id(m): c.name for c in ast.walk(tree)
                       if isinstance(c, ast.ClassDef) for m in c.body}
            for n in ast.walk(tree):
                if in_pkg and isinstance(n, (ast.FunctionDef,
                                             ast.AsyncFunctionDef)):
                    params += [(f, *p) for p in
                               _defaulted_params(n, methods.get(id(n)))]
                elif isinstance(n, ast.Call):
                    name, *rest = _call(n)
                    if name:
                        calls.setdefault(name, []).append(
                            (f, n.lineno, *rest))
    return defs, refs, params, calls


def test_no_unreferenced_top_level_definitions():
    defs, refs, _params, _calls = _scan()
    dead = [f"{os.path.relpath(f, ROOT)}:{name}" for f, name in defs
            if not refs.get(name, set()) - {(f, name)}]
    assert not dead, f"referenced nowhere but their own definition: {dead}"


def test_no_definitions_referenced_only_from_tests():
    defs, refs, _params, _calls = _scan()
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


def test_no_parameter_only_tests_set():
    _defs, _refs, params, calls = _scan()
    test_only = set()
    for f, fn, param, idx in params:
        passed = any(
            not g.startswith(TESTS + os.sep)
            and (spreads or param in kws or (idx is not None and n_pos > idx))
            for g, _line, n_pos, kws, spreads in calls.get(fn, []))
        if not passed:
            test_only.add(f"{os.path.relpath(f, PKG)}:{fn}({param})")
    new = sorted(test_only - TEST_ONLY_PARAMS)
    assert not new, f"defaulted parameters no call outside tests/ sets: {new}"
    # an entry that gained a production caller or was deleted must go
    stale = sorted(TEST_ONLY_PARAMS - test_only)
    assert not stale, (
        f"no longer test-only, drop from TEST_ONLY_PARAMS: {stale}")


def test_one_python_boundary():
    _defs, refs, _params, calls = _scan()
    forms = ("pandas_udf", "mapInPandas", "applyInPandas")
    in_pkg = PKG + os.sep
    found = sorted(f"{os.path.relpath(f, ROOT)}:{owner}" for name in forms
                   for f, owner in refs.get(name, ()) if f.startswith(in_pkg))
    sites = sorted(f"{os.path.relpath(f, ROOT)}:{line} {name}"
                   for name in forms for f, line, *_ in calls.get(name, [])
                   if f.startswith(in_pkg))
    assert not found, (
        f"pandas UDF forms referenced in {found}; call sites ({len(sites)}): "
        f"{sites}; take and return Arrow (arrow_udf, mapInArrow) instead")
