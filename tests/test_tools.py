"""Every script under tools/ compiles, and every module it imports exists —
so a deleted helper cannot leave a dangling import behind; only
operators/caching.py decides how long a cache lives, only
sinks/package.py defines the row hash of a content fingerprint, only
session.local_df turns driver-held rows into a DataFrame, only modules
that ship Python to executors register for by-value pickling, and
Elasticsearch is written through one client, from the executors. No Spark."""

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


def _uses_outside(allowed, uses):
    """What ``uses(path)`` finds in every package module but ``allowed``
    (``None``: in every package module)."""
    pkg = os.path.join(REPO, "migdar_data_pipelines_spark")
    paths = sorted(glob.glob(os.path.join(pkg, "**", "*.py"), recursive=True))
    skip = allowed and os.path.join(pkg, allowed)
    return [u for p in paths if p != skip for u in uses(p)]


def test_only_caching_module_manages_cache_lifetimes():
    """Frames persist through caching.scoped_persist and memos key on the
    application through caching.session_memo, nowhere else."""
    found = _uses_outside("operators/caching.py", _cache_lifetime_uses)
    assert not found, found


def _row_hashes(path):
    def name(f):
        return getattr(f, "attr", getattr(f, "id", None))

    for node in ast.walk(ast.parse(open(path).read(), path)):
        if isinstance(node, ast.Call) and name(node.func) == "xxhash64":
            if any(isinstance(a, ast.Call) and name(a.func) == "to_json" for a in node.args):
                yield f"{os.path.relpath(path, REPO)}:{node.lineno} xxhash64(to_json(...))"


def test_one_fingerprint_definition():
    """A content fingerprint's row hash, xxhash64 over the row's JSON, is
    built in sinks/package.py only; other modules use fingerprint_col."""
    found = _uses_outside("sinks/package.py", _row_hashes)
    assert not found, found


def _driver_data_calls(path):
    for node in ast.walk(ast.parse(open(path).read(), path)):
        call = isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)
        if call and node.func.attr in ("createDataFrame", "parallelize"):
            yield f"{os.path.relpath(path, REPO)}:{node.lineno} .{node.func.attr}()"


def test_only_local_df_builds_frames_from_driver_rows():
    """Driver-held rows enter a plan through session.local_df, an Arrow
    local relation; a list or RDD would start a Python worker."""
    found = _uses_outside("session.py", _driver_data_calls)
    assert not found, found


_WORKER_CALLS = {
    "mapInPandas", "mapInArrow", "applyInPandas", "applyInPandasWithState",
    "applyInArrow", "pandas_udf", "udf",
}


def _by_value_registration_without_worker_code(path):
    called = {
        getattr(n.func, "attr", getattr(n.func, "id", None))
        for n in ast.walk(ast.parse(open(path).read(), path))
        if isinstance(n, ast.Call)
    }
    if "register_self_contained" in called and not called & _WORKER_CALLS:
        yield os.path.relpath(path, REPO)


def test_by_value_registration_only_where_python_runs_on_executors():
    """A module registers itself for by-value pickling (_serde.py) only if
    it ships a Python callable to executors: a UDF, pandas UDF or a
    mapIn*/applyIn* function."""
    found = _uses_outside("_serde.py", _by_value_registration_without_worker_code)
    assert not found, found


def _second_es_write_paths(path):
    rel = os.path.relpath(path, REPO)
    if "elasticsearch" in _imported_roots(path):
        yield f"{rel} imports elasticsearch"
    if rel.startswith(os.path.join("migdar_data_pipelines_spark", "sinks", "")):
        for node in ast.walk(ast.parse(open(path).read(), path)):
            if isinstance(node, ast.Attribute) and node.attr == "toLocalIterator":
                yield f"{rel}:{node.lineno} .toLocalIterator"


def test_one_elasticsearch_write_path():
    """The sinks write Elasticsearch through sinks/es_rest.py's client
    only, and no sink streams a frame's rows through the driver."""
    found = _uses_outside(None, _second_es_write_paths)
    assert not found, found
