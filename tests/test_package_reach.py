"""Every top-level definition in the package is used somewhere, and
every imported name is used in its file.

A function, class or module-level name in `opensmile_spark/` that no file
in the repository loads (outside its own definition) is dead: delete it,
or, if only tests need it, keep it under tests/. A use is a Name load, an
attribute access `.name` or a `from ... import name`, found by parsing
every .py file of the checkout, so a name that is only mentioned in a
string or a comment does not count. The same parse finds imports whose
name the file never loads; a re-export says so with `# noqa: F401` on
the import line.

A second scan leaves the uses in tests/ out: a package name only tests
reach is test-only code and fails too.
"""

import ast
import functools
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SKIP = {".git", ".perfbench_work"}

@functools.cache
def _python_files():
    """[(path relative to the checkout, source lines, AST)], parsed once."""
    files = []
    for path in ROOT.rglob("*.py"):
        rel = path.relative_to(ROOT)
        if not SKIP.intersection(rel.parts):
            src = path.read_bytes()
            files.append((rel, src.decode().splitlines(),
                          ast.parse(src, str(rel))))
    return files


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


def unreached(skip_uses=()):
    """[(file, line, name)] of the package's top-level definitions that
    nothing but their own definition uses; uses in files under a top-level
    directory named in `skip_uses` do not count."""
    uses = {}          # name -> {(file, index of top-level statement)}
    defs = []
    for rel, _lines, tree in _python_files():
        in_package = rel.parts[0] == "opensmile_spark"
        counted = rel.parts[0] not in skip_uses
        for i, stmt in enumerate(tree.body):
            if counted:
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


def test_no_new_test_only_code_in_the_package():
    assert unreached(("tests",)) == [], "only tests reach these names"


def unused_imports():
    """[(file, name)] of the names an import binds that the same file
    never loads, skipping import lines marked `# noqa: F401`."""
    found = set()
    for rel, lines, tree in _python_files():
        loaded = {n.id for n in ast.walk(tree)
                  if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Load)}
        for node in ast.walk(tree):
            if not isinstance(node, (ast.Import, ast.ImportFrom)) \
                    or getattr(node, "module", None) == "__future__" \
                    or "noqa: F401" in lines[node.lineno - 1]:
                continue
            for alias in node.names:
                name = alias.asname or alias.name.split(".")[0]
                if name != "*" and name not in loaded:
                    found.add((str(rel), name))
    return sorted(found)


def test_every_import_is_used():
    assert unused_imports() == []
