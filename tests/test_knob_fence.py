"""Knob fence: the package reads exactly the deployment settings in use.

Every environment variable the package reads is a code path an operator
can switch. A new one has to be added here on purpose, next to the
measurement that justifies it; a removed one has to leave this list.
"""

from __future__ import annotations

import ast
from pathlib import Path

PKG = Path(__file__).resolve().parents[1] / "end_to_end_azure_data_engineering_spark"

DEPLOYMENT_SETTINGS = {
    "SPARK_GRAFT_SHUFFLE",
    "SPARK_GRAFT_DRIVER_MEM",
    "SPARK_GRAFT_WAREHOUSE",
    "SPARK_GRAFT_CPUS",
}


def _is_os(node: ast.AST, attr: str) -> bool:
    return (
        isinstance(node, ast.Attribute)
        and node.attr == attr
        and isinstance(node.value, ast.Name)
        and node.value.id == "os"
    )


def _env_keys(path: Path):
    """(key, line) for every ``os.environ.get(k)``, ``os.environ[k]`` and
    ``os.getenv(k)`` in one file; a non-literal key reads as its source."""
    tree = ast.parse(path.read_text(), filename=str(path))
    for node in ast.walk(tree):
        if isinstance(node, ast.Call) and (
            (isinstance(node.func, ast.Attribute) and node.func.attr == "get"
             and _is_os(node.func.value, "environ"))
            or _is_os(node.func, "getenv")
        ):
            key = node.args[0] if node.args else None
        elif isinstance(node, ast.Subscript) and _is_os(node.value, "environ"):
            key = node.slice
        else:
            continue
        if isinstance(key, ast.Constant) and isinstance(key.value, str):
            yield key.value, node.lineno
        else:
            yield ast.unparse(key) if key is not None else "<no key>", node.lineno


def test_package_reads_only_the_deployment_settings():
    found: dict[str, list[str]] = {}
    for path in sorted(PKG.rglob("*.py")):
        for key, line in _env_keys(path):
            found.setdefault(key, []).append(f"{path.relative_to(PKG)}:{line}")
    extra = {k: v for k, v in found.items() if k not in DEPLOYMENT_SETTINGS}
    assert not extra, f"environment reads outside the deployment settings: {extra}"
    assert set(found) == DEPLOYMENT_SETTINGS, (
        f"deployment settings no longer read: {DEPLOYMENT_SETTINGS - set(found)}"
    )
