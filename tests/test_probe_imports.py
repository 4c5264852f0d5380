"""The wire benchmark's harness (``perfbench/``) drives the package through
names it imports directly, e.g. the traced prefix probe in
``perfbench/sut.py``. A rename or deletion of one of those names breaks
the benchmark, not the unit suite; this test makes it break the suite
too."""

from __future__ import annotations

import ast
import glob
import importlib
import os

import pytest

PACKAGE = "prometheus_pulsar_remote_write_spark"
_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_HARNESS = sorted(glob.glob(os.path.join(_REPO, "perfbench", "*.py")))


def _package_imports(path: str) -> list[tuple[str, str | None]]:
    """(module, name) for every import of the package in ``path``, at any
    depth; ``name`` is None for a plain ``import``."""
    with open(path, encoding="utf-8") as fh:
        tree = ast.parse(fh.read(), path)
    out = []
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and (node.module or "").startswith(PACKAGE):
            out += [(node.module, alias.name) for alias in node.names]
        elif isinstance(node, ast.Import):
            out += [(a.name, None) for a in node.names if a.name.startswith(PACKAGE)]
    return out


def test_harness_files_found():
    assert os.path.join(_REPO, "perfbench", "sut.py") in _HARNESS
    assert _package_imports(os.path.join(_REPO, "perfbench", "sut.py"))


@pytest.mark.parametrize("path", _HARNESS, ids=os.path.basename)
def test_harness_imports_resolve(path):
    for module, name in _package_imports(path):
        mod = importlib.import_module(module)
        if name is None or hasattr(mod, name):
            continue
        # ``from package import submodule``
        importlib.import_module(f"{module}.{name}")
