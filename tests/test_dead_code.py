"""Dead-code guard: every top-level function and class in the package must
be referenced somewhere other than its own definition.

A reference is a name, an attribute, an imported name (or its alias) or a
string constant that is exactly the identifier (``getattr``/registry
lookups), found in the package, the tests, the scripts, the benchmark or
the Spark entry point. Name matching is by identifier only, so a guard
pass means "possibly used"; a failure means nothing can reach the code.
"""

import ast
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(ROOT, "rlis2osm_spark")
SEARCH = [PKG, os.path.join(ROOT, "tests"), os.path.join(ROOT, "scripts"),
          os.path.join(ROOT, "perfbench"),
          os.path.join(ROOT, "__spark_entry__.py")]
DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


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


def test_no_unreferenced_top_level_definitions():
    defs = []  # (file, name)
    refs = {}  # name -> {(file, enclosing top-level definition or None)}
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
    dead = [f"{os.path.relpath(f, ROOT)}:{name}" for f, name in defs
            if not refs.get(name, set()) - {(f, name)}]
    assert not dead, f"referenced nowhere but their own definition: {dead}"
