"""Dead-definition guard: every top-level function, class and constant in the
package must be used by name somewhere outside its own body.

A use is an `ast.Name` or `ast.Attribute` load, or a string constant equal to
the name (`getattr`, registries). Imports and `__all__` re-exports do not
count, so a helper that is only imported somewhere is still dead. No Spark."""

import ast
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = os.path.join(ROOT, "osm_public_space_mapper_spark")
SEARCHED = [
    PACKAGE,
    os.path.join(ROOT, "__spark_entry__.py"),
    os.path.join(ROOT, "bench.py"),
    os.path.join(ROOT, "bench_extra.py"),
    os.path.join(ROOT, "scripts"),
    os.path.join(ROOT, "perfbench"),
    os.path.join(ROOT, "tests"),
    os.path.join(ROOT, ".drive_check.py"),
]


def _py_files(path):
    if os.path.isfile(path):
        yield path
        return
    for dirpath, _, names in os.walk(path):
        for name in sorted(names):
            if name.endswith(".py"):
                yield os.path.join(dirpath, name)


def _defined_names(stmt):
    if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        return [stmt.name]
    targets = stmt.targets if isinstance(stmt, ast.Assign) else [stmt.target] if isinstance(stmt, ast.AnnAssign) else []
    names = []
    for t in targets:
        for node in ast.walk(t):
            if isinstance(node, ast.Name):
                names.append(node.id)
    return names


def _uses(node):
    for n in ast.walk(node):
        if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Load):
            yield n.id
        elif isinstance(n, ast.Attribute) and isinstance(n.ctx, ast.Load):
            yield n.attr
        elif isinstance(n, ast.Constant) and isinstance(n.value, str):
            yield n.value


def _scan():
    defs = {}  # name -> ["module.py:line", ...]
    used = set()
    for top in SEARCHED:
        for path in _py_files(top):
            with open(path, encoding="utf-8") as f:
                tree = ast.parse(f.read(), filename=path)
            in_package = path.startswith(PACKAGE + os.sep)
            for stmt in tree.body:
                own = [n for n in _defined_names(stmt) if not (n.startswith("__") and n.endswith("__"))]
                if in_package:
                    for name in own:
                        defs.setdefault(name, []).append(f"{os.path.relpath(path, ROOT)}:{stmt.lineno}")
                if "__all__" in _defined_names(stmt):
                    continue
                used.update(u for u in _uses(stmt) if u not in own)
    return defs, used


def test_no_dead_defs():
    defs, used = _scan()
    dead = sorted(f"{where} {name}" for name, places in defs.items() if name not in used for where in places)
    assert not dead, f"{len(dead)} definitions are never used outside their own body:\n" + "\n".join(dead)
