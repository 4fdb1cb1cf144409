"""Name resolution in the registry parts, checked statically (no Spark).

Each ``ingestion_scripts_spark/registry/part*.py`` imports what it uses.
A name a part reads but never binds raises ``NameError`` only when the
query that reads it runs, and many queries run only in the full oracle
sweep. These tests read each part's symbol table instead, so a missing
import fails here, in milliseconds, for every query at once.
"""

from __future__ import annotations

import ast
import builtins
import symtable
from pathlib import Path

import pytest

REGISTRY = Path(__file__).resolve().parents[1] / "ingestion_scripts_spark" / "registry"
PARTS = sorted(REGISTRY.glob("part*.py"))

#: names every module can read without binding them
_ALWAYS = set(dir(builtins)) | {"__file__"}


def _globals_read(table: symtable.SymbolTable) -> set[str]:
    """Names read from module scope by the module or any scope nested in it."""
    out = set()
    for sym in table.get_symbols():
        if sym.is_referenced() and (table.get_type() == "module" or sym.is_global()):
            out.add(sym.get_name())
    for child in table.get_children():
        out |= _globals_read(child)
    return out


def _globals_bound(table: symtable.SymbolTable) -> set[str]:
    """Names the module binds at top level: assignments, defs and imports."""
    return {
        sym.get_name()
        for sym in table.get_symbols()
        if sym.is_assigned() or sym.is_imported() or sym.is_namespace()
    }


@pytest.mark.parametrize("path", PARTS, ids=lambda p: p.stem)
def test_every_global_read_is_bound(path):
    table = symtable.symtable(path.read_text(), str(path), "exec")
    unbound = _globals_read(table) - _globals_bound(table) - _ALWAYS
    assert not unbound, f"{path.name} reads names it never binds: {sorted(unbound)}"


@pytest.mark.parametrize("path", PARTS, ids=lambda p: p.stem)
def test_no_star_import_or_all(path):
    tree = ast.parse(path.read_text())
    stars = [
        n.lineno
        for n in ast.walk(tree)
        if isinstance(n, ast.ImportFrom) and any(a.name == "*" for a in n.names)
    ]
    all_assigns = [
        n.lineno
        for n in ast.walk(tree)
        if isinstance(n, (ast.Assign, ast.AugAssign, ast.AnnAssign))
        for t in (n.targets if isinstance(n, ast.Assign) else [n.target])
        if isinstance(t, ast.Name) and t.id == "__all__"
    ]
    assert not stars, f"{path.name}: import * at lines {stars}"
    assert not all_assigns, f"{path.name}: __all__ assigned at lines {all_assigns}"
