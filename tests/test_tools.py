"""Every script under tools/ compiles, and every module it imports exists —
so a deleted helper cannot leave a dangling import behind; only
operators/caching.py decides how long a cache lives. No Spark."""

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


def _cache_lifetime_uses(path):
    for node in ast.walk(ast.parse(open(path).read(), path)):
        call = isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)
        if call and node.func.attr in ("persist", "cache", "unpersist"):
            yield f"{os.path.relpath(path, REPO)}:{node.lineno} .{node.func.attr}()"
        elif isinstance(node, ast.Attribute) and node.attr == "applicationId":
            yield f"{os.path.relpath(path, REPO)}:{node.lineno} .applicationId"


def test_only_caching_module_manages_cache_lifetimes():
    """Frames persist through caching.scoped_persist and memos key on the
    application through caching.session_memo, nowhere else."""
    pkg = os.path.join(REPO, "migdar_data_pipelines_spark")
    allowed = os.path.join(pkg, "operators", "caching.py")
    found = []
    for path in sorted(glob.glob(os.path.join(pkg, "**", "*.py"), recursive=True)):
        if path != allowed:
            found.extend(_cache_lifetime_uses(path))
    assert not found, found
