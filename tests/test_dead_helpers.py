"""No dead private helpers: every top-level ``_name`` in the package is
reachable from somewhere.

A private module-level name is live when it appears in another file
(another package module, the tests, the scripts, the bench drivers,
the oracles) or in a statement of its own module that is itself live:
anything that is not a private definition (public defs and classes,
imports, module-level code, ``__all__``), or a private definition that
is live.  Helpers that only reference each other are therefore dead.
Decorated private definitions count as live, since a decorator may
register them.  Pure AST and text work; no Spark session.
"""

import ast
import os
import re

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = os.path.join(ROOT, "datatest_spark")
_IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")


def _py_files(top):
    for dirpath, _dirs, files in os.walk(top):
        for name in sorted(files):
            if name.endswith(".py"):
                yield os.path.join(dirpath, name)


def _corpus():
    files = list(_py_files(PACKAGE))
    files += list(_py_files(os.path.join(ROOT, "tests")))
    files += list(_py_files(os.path.join(ROOT, "scripts")))
    files += [os.path.join(ROOT, n) for n in sorted(os.listdir(ROOT))
              if (n.startswith("bench") and n.endswith(".py"))
              or n in ("oracles.py", "__spark_entry__.py")]
    return files


def _is_private(name):
    return name.startswith("_") and not (
        name.startswith("__") and name.endswith("__"))


def _defined(stmt):
    if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef,
                         ast.ClassDef)):
        return [stmt.name]
    targets = []
    if isinstance(stmt, ast.Assign):
        targets = stmt.targets
    elif isinstance(stmt, ast.AnnAssign):
        targets = [stmt.target]
    names = []
    for t in targets:
        names += [n.id for n in ast.walk(t) if isinstance(n, ast.Name)]
    return names


def dead_helpers(path, other_idents):
    """Top-level private names of *path* that nothing reaches."""
    source = open(path, encoding="utf-8").read()
    lines = source.splitlines(keepends=True)
    candidates = {}  # private-only statement -> its private names
    live = set(other_idents)
    for stmt in ast.parse(source).body:
        first = min([stmt.lineno]
                    + [d.lineno for d in getattr(stmt, "decorator_list", [])])
        tokens = set(_IDENT.findall("".join(lines[first - 1:stmt.end_lineno])))
        names = _defined(stmt)
        decorated = bool(getattr(stmt, "decorator_list", None))
        if names and all(_is_private(n) for n in names) and not decorated:
            candidates[id(stmt)] = (names, tokens - set(names))
        else:
            live |= tokens
    changed = True
    while changed:
        changed = False
        for key, (names, tokens) in list(candidates.items()):
            if any(n in live for n in names):
                live |= tokens
                del candidates[key]
                changed = True
    return sorted(n for names, _ in candidates.values() for n in names)


def test_no_dead_private_helpers():
    files = _corpus()
    idents = {f: set(_IDENT.findall(open(f, encoding="utf-8").read()))
              for f in files}
    dead = {}
    for path in _py_files(PACKAGE):
        others = set().union(*(v for f, v in idents.items() if f != path))
        found = dead_helpers(path, others)
        if found:
            dead[os.path.relpath(path, ROOT)] = found
    assert dead == {}, f"private helpers nothing references: {dead}"


def test_scan_catches_helpers_that_only_reference_each_other(tmp_path):
    mod = tmp_path / "m.py"
    mod.write_text(
        "_LIMIT = 3\n"
        "def _a():\n    return _b() + _LIMIT\n"
        "def _b():\n    return _a()\n"
        "def _used():\n    return 1\n"
        "def public():\n    return _used()\n"
        "_ALSO = 1\n"
    )
    assert dead_helpers(str(mod), {"_ALSO"}) == ["_LIMIT", "_a", "_b"]
