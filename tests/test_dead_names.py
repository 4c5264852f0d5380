"""Every package-level name is read somewhere.

A top-level function, class or assignment in the package that no file
references -- not its own module, not another module, not a test, script,
the wire benchmark's harness, ``bench.py`` or ``__spark_entry__.py`` -- is
code nothing runs and nothing checks. Pure AST; starts no Spark.

A name counts as referenced when some file loads it as a bare name, reads
it as an attribute, or imports it."""

from __future__ import annotations

import ast
import glob
import os

PACKAGE = "prometheus_pulsar_remote_write_spark"
_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _py_files(*parts: str) -> list[str]:
    return sorted(glob.glob(os.path.join(_REPO, *parts, "**", "*.py"), recursive=True))


_PACKAGE_FILES = _py_files(PACKAGE)
_SCANNED = (
    _PACKAGE_FILES
    + _py_files("tests")
    + _py_files("scripts")
    + _py_files("perfbench")
    + [os.path.join(_REPO, "bench.py"), os.path.join(_REPO, "__spark_entry__.py")]
)


def _parse(path: str) -> ast.Module:
    with open(path, encoding="utf-8") as fh:
        return ast.parse(fh.read(), path)


def _top_level_names(tree: ast.Module) -> list[str]:
    out = []
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            out.append(node.name)
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            for target in targets:
                out += [n.id for n in ast.walk(target) if isinstance(n, ast.Name)]
    return out


def _referenced(tree: ast.Module) -> set[str]:
    out = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Name) and not isinstance(node.ctx, ast.Store):
            out.add(node.id)
        elif isinstance(node, ast.Attribute):
            out.add(node.attr)
        elif isinstance(node, ast.alias):
            out.add(node.name.rsplit(".", 1)[-1])
    return out


def test_every_package_level_name_is_referenced():
    referenced: set[str] = set()
    for path in _SCANNED:
        referenced |= _referenced(_parse(path))
    dead = [
        f"{os.path.relpath(path, _REPO)}: {name}"
        for path in _PACKAGE_FILES
        for name in _top_level_names(_parse(path))
        if name not in referenced
    ]
    assert not dead, "package-level names no file references:\n" + "\n".join(dead)
