"""Every script under tools/ compiles, and every module it imports exists —
so a deleted helper cannot leave a dangling import behind. No Spark."""

import ast
import glob
import importlib.util
import os
import py_compile
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TOOLS = os.path.join(REPO, "tools")
SCRIPTS = sorted(glob.glob(os.path.join(TOOLS, "*.py")))


def _imported_roots(path):
    for node in ast.walk(ast.parse(open(path).read(), path)):
        if isinstance(node, ast.Import):
            yield from (a.name.split(".")[0] for a in node.names)
        elif isinstance(node, ast.ImportFrom) and node.level == 0:
            yield node.module.split(".")[0]


def test_tools_present():
    assert SCRIPTS


@pytest.mark.parametrize("path", SCRIPTS, ids=os.path.basename)
def test_tool_compiles_and_imports_resolve(path, tmp_path, monkeypatch):
    py_compile.compile(path, cfile=str(tmp_path / "out.pyc"), doraise=True)
    # a script runs with its own directory first on sys.path
    monkeypatch.setattr(sys, "path", [TOOLS, REPO] + sys.path)
    missing = {m for m in _imported_roots(path) if importlib.util.find_spec(m) is None}
    assert not missing, f"{os.path.basename(path)} imports missing modules {missing}"
