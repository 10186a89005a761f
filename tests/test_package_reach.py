"""Every top-level definition in the package is used somewhere.

A function, class or module-level name in `opensmile_spark/` that no file
in the repository loads (outside its own definition) is dead: delete it,
or, if only tests need it, keep it under tests/. A use is a Name load, an
attribute access `.name` or a `from ... import name`, found by parsing
every .py file of the checkout, so a name that is only mentioned in a
string or a comment does not count.
"""

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SKIP = {".git", ".perfbench_work"}


def _python_files():
    for path in ROOT.rglob("*.py"):
        rel = path.relative_to(ROOT)
        if not SKIP.intersection(rel.parts):
            yield rel, ast.parse(path.read_bytes(), str(rel))


def _defined_names(stmt):
    if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef,
                         ast.ClassDef)):
        return [stmt.name]
    if isinstance(stmt, (ast.Assign, ast.AnnAssign)):
        targets = stmt.targets if isinstance(stmt, ast.Assign) \
            else [stmt.target]
        return [n.id for t in targets for n in ast.walk(t)
                if isinstance(n, ast.Name)]
    return []


def _used_names(node):
    for n in ast.walk(node):
        if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Load):
            yield n.id
        elif isinstance(n, ast.Attribute):
            yield n.attr
        elif isinstance(n, ast.alias):
            yield n.name


def unreached():
    """[(file, line, name)] of the package's top-level definitions that
    nothing but their own definition uses."""
    uses = {}          # name -> {(file, index of top-level statement)}
    defs = []
    for rel, tree in _python_files():
        in_package = rel.parts[0] == "opensmile_spark"
        for i, stmt in enumerate(tree.body):
            for name in _used_names(stmt):
                uses.setdefault(name, set()).add((rel, i))
            if in_package:
                defs += [(rel, i, stmt.lineno, name)
                         for name in _defined_names(stmt)
                         if not name.startswith("__")]
    return [(str(rel), line, name) for rel, i, line, name in defs
            if not uses.get(name, set()) - {(rel, i)}]


def test_every_package_definition_is_used():
    assert unreached() == []
