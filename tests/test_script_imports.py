"""Every package name that ``bench.py`` and ``scripts/*.py`` import still
exists. No test runs a script, so a deleted or renamed function would
otherwise break a script silently. The scripts are parsed, not run: the
check imports only the package modules they name and starts no Spark
session."""

from __future__ import annotations

import ast
import importlib
from pathlib import Path

import pytest

PACKAGE = "traffic_accidents_airflow_kafka_spark"
ROOT = Path(__file__).resolve().parent.parent
SOURCES = [ROOT / "bench.py", *sorted((ROOT / "scripts").glob("*.py"))]


def package_imports(path: Path) -> list[tuple[str, str]]:
    """(module, name) for every ``from <package>… import name`` in the
    file, including imports nested in functions and imports inside string
    constants that parse as Python (code a script hands to a child
    interpreter, like ``isolate.py``'s ``_CHILD_SNIPPET``)."""
    trees = [ast.parse(path.read_text(), str(path))]
    for node in list(ast.walk(trees[0])):
        if isinstance(node, ast.Constant) and isinstance(node.value, str):
            try:
                trees.append(ast.parse(node.value))
            except SyntaxError:
                pass
    return [
        (node.module, alias.name)
        for tree in trees
        for node in ast.walk(tree)
        if isinstance(node, ast.ImportFrom)
        and node.level == 0
        and (node.module == PACKAGE or node.module.startswith(PACKAGE + "."))
        for alias in node.names
    ]


def resolves(module: str, name: str) -> bool:
    mod = importlib.import_module(module)
    if hasattr(mod, name):
        return True
    try:
        importlib.import_module(f"{module}.{name}")
    except ModuleNotFoundError:
        return False
    return True


@pytest.mark.parametrize("path", SOURCES, ids=lambda p: p.name)
def test_script_package_imports_resolve(path):
    missing = [
        f"{module}.{name}"
        for module, name in package_imports(path)
        if not resolves(module, name)
    ]
    assert not missing, f"{path.name} imports names that do not exist: {missing}"

