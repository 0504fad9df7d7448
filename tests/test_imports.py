"""Static import integrity of the package, checked in a fresh interpreter.

Four checks over every module of ``dask_recommender_system_spark``:

1. the module imports;
2. every ``from ... import name`` resolves — including the lazy imports
   inside function bodies, which an import of the module never runs;
3. every implicit global a function reads (``symtable``) is a module
   global or a builtin — a name used but never imported fails only when
   that code path runs;
4. importing any one module under ``operators/`` or ``streaming/`` on its
   own loads nothing from ``models`` (the training stack).

The checks run in a subprocess so a half-finished import left in
``sys.modules`` by another test can neither hide nor cause a failure.
Run directly (``python tests/test_imports.py``) to print the problems.
"""

from __future__ import annotations

import ast
import builtins
import importlib
import os
import subprocess
import symtable
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "dask_recommender_system_spark"


def _modules() -> list[tuple[str, str]]:
    """(dotted module name, file path) for every module of the package."""
    out = []
    root = os.path.join(REPO, PACKAGE)
    for dirpath, _, files in os.walk(root):
        for f in sorted(files):
            if not f.endswith(".py"):
                continue
            path = os.path.join(dirpath, f)
            rel = os.path.relpath(path, REPO)[: -len(".py")].split(os.sep)
            if rel[-1] == "__init__":
                rel = rel[:-1]
            out.append((".".join(rel), path))
    return sorted(out)


def _resolve_from(mod_name: str, path: str, node: ast.ImportFrom) -> str:
    """Absolute module name of an ImportFrom as written in ``mod_name``."""
    if not node.level:
        return node.module
    parts = mod_name.split(".")
    base = parts if path.endswith("__init__.py") else parts[:-1]
    base = base[: len(base) - (node.level - 1)]
    return ".".join(base + ([node.module] if node.module else []))


def _from_imports(mod_name: str, path: str, tree: ast.AST) -> list[str]:
    problems = []
    for node in ast.walk(tree):
        if not isinstance(node, ast.ImportFrom):
            continue
        where = f"{os.path.relpath(path, REPO)}:{node.lineno}"
        target = _resolve_from(mod_name, path, node)
        try:
            src = importlib.import_module(target)
        except Exception as e:
            problems.append(f"{where}: cannot import {target}: {e!r}")
            continue
        for alias in node.names:
            if alias.name == "*" or hasattr(src, alias.name):
                continue
            try:
                importlib.import_module(f"{target}.{alias.name}")
            except ImportError:
                problems.append(f"{where}: {target} has no name {alias.name!r}")
    return problems


def _implicit_globals(mod_name: str, path: str, source: str) -> list[str]:
    module = importlib.import_module(mod_name)
    known = set(vars(module)) | set(dir(builtins))
    problems = []

    def walk(table: symtable.SymbolTable) -> None:
        if table.get_type() == "function":
            for sym in table.get_symbols():
                if (
                    sym.is_referenced()
                    and sym.is_global()
                    and not sym.is_declared_global()
                    and sym.get_name() not in known
                ):
                    problems.append(
                        f"{os.path.relpath(path, REPO)}:{table.get_lineno()}: "
                        f"{table.get_name()}() reads undefined global "
                        f"{sym.get_name()!r}"
                    )
        for child in table.get_children():
            walk(child)

    walk(symtable.symtable(source, path, "exec"))
    return problems


def _layering() -> list[str]:
    """Import each operator/streaming module alone, from a clean package
    state, and report any ``models`` module it pulls in."""
    def purge() -> None:
        for m in [m for m in sys.modules if m.startswith(PACKAGE)]:
            del sys.modules[m]

    problems = []
    layers = (f"{PACKAGE}.operators.", f"{PACKAGE}.streaming.")
    for mod_name, _ in _modules():
        if not mod_name.startswith(layers):
            continue
        purge()
        try:
            importlib.import_module(mod_name)
        except Exception:
            continue  # reported by the import check
        loaded = sorted(m for m in sys.modules if m.startswith(f"{PACKAGE}.models"))
        if loaded:
            problems.append(f"{mod_name}: importing it loads {', '.join(loaded)}")
    purge()
    return problems


def find_problems() -> list[str]:
    sys.path.insert(0, REPO)
    problems = _layering()
    for mod_name, path in _modules():
        try:
            importlib.import_module(mod_name)
        except Exception as e:
            problems.append(f"{mod_name}: import failed: {e!r}")
            continue
        with open(path) as f:
            source = f.read()
        problems += _from_imports(mod_name, path, ast.parse(source, path))
        problems += _implicit_globals(mod_name, path, source)
    return problems


def test_package_imports_resolve():
    proc = subprocess.run(
        [sys.executable, os.path.abspath(__file__)],
        cwd=REPO,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stdout + proc.stderr


if __name__ == "__main__":
    found = find_problems()
    print("\n".join(found))
    sys.exit(1 if found else 0)
