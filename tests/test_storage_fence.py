"""Storage fence: the warehouse's private members stay in the storage engine.

Every write protocol of the warehouse (the version commit, its append and
pointer locks, the retention marker) lives in ``engine/tableio.py``. A
module elsewhere that reaches for a ``_``-prefixed member of ``Warehouse``
or for a table's ``.retention`` marker file re-implements part of a
protocol, and the next fix to it would have to land in two places. Tests
are exempt: they probe the protocol's steps on purpose.
"""

from __future__ import annotations

import ast
from pathlib import Path

PKG = Path(__file__).resolve().parents[1] / "end_to_end_azure_data_engineering_spark"
TABLEIO = PKG / "engine" / "tableio.py"
CLASSES = {"Warehouse"}


def _private_members() -> set[str]:
    """The ``_``-prefixed (non-dunder) names the warehouse class defines:
    methods, class attributes and ``self._x`` assignments."""
    names: set[str] = set()
    for cls in ast.parse(TABLEIO.read_text()).body:
        if not (isinstance(cls, ast.ClassDef) and cls.name in CLASSES):
            continue
        for node in cls.body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                names.add(node.name)
            elif isinstance(node, (ast.Assign, ast.AnnAssign)):
                targets = node.targets if isinstance(node, ast.Assign) else [node.target]
                names.update(t.id for t in targets if isinstance(t, ast.Name))
        for node in ast.walk(cls):
            if (
                isinstance(node, ast.Attribute)
                and isinstance(node.ctx, ast.Store)
                and isinstance(node.value, ast.Name)
                and node.value.id == "self"
            ):
                names.add(node.attr)
    return {n for n in names if n.startswith("_") and not n.endswith("__")}


def test_private_members_are_found():
    members = _private_members()
    assert {"_commit_version", "_append_lock", "_publish"} <= members


def test_no_module_reaches_into_the_warehouse():
    members = _private_members()
    hits = []
    for path in sorted(PKG.rglob("*.py")):
        if path == TABLEIO:
            continue
        for node in ast.walk(ast.parse(path.read_text(), filename=str(path))):
            if isinstance(node, ast.Attribute) and node.attr in members:
                hits.append(f"{path.relative_to(PKG)}:{node.lineno} .{node.attr}")
    assert not hits, f"private warehouse members used outside tableio: {hits}"


def test_retention_marker_stays_in_tableio():
    """Only the warehouse reads or writes a table's retention marker;
    callers bound history through ``Warehouse.default_retention``."""
    hits = [
        str(path.relative_to(PKG))
        for path in sorted(PKG.rglob("*.py"))
        if path != TABLEIO and ".retention" in path.read_text()
    ]
    assert ".retention" in TABLEIO.read_text()
    assert not hits, f".retention marker used outside tableio: {hits}"
