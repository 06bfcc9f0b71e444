#!/usr/bin/env python3
"""Tiny-scale self-test of the benchmark runner.

    python3 perfbench/selftest.py

Runs every workload of BENCHMARK.json at a tiny input scale, untraced and
traced, and checks: the last stdout line has exactly the result keys, the
correctness gate passed, the printed metric names and units are exactly the
BENCHMARK.json lists, and the traced run wrote a well-formed spans file. It
also checks that the runner refuses to run, printing no result, in a
directory holding only BENCHMARK.json and perfbench/. Takes a few minutes:
each run boots its own Spark session.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SCALE = "0.1"


def run(cwd: str, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run([sys.executable, "perfbench/run.py", *args], cwd=cwd,
                          capture_output=True, text=True, timeout=600)


def check_result(spec: dict, workload: str, trace: int) -> dict:
    p = run(ROOT, "--workload", workload, "--seed", "11", "--seconds", "1",
            "--trace", str(trace), "--scale", SCALE)
    if p.returncode != 0:
        raise AssertionError(f"{workload} trace={trace} exited {p.returncode}:\n{p.stderr[-3000:]}")
    lines = p.stdout.strip().splitlines()
    result, report = json.loads(lines[-1]), json.loads(lines[-2])["report"]
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, result.keys()
    assert result["correct"] is True and result["failed"] == 0, (result, report["gate_errors"])
    assert isinstance(result["attempted"], int) and result["attempted"] >= 1
    want = spec["per_layer"] if trace else spec["end_to_end"]
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == {m["name"]: m["unit"] for m in want}, sorted(set(got) ^ {m["name"] for m in want})
    for k, v in result["metrics"].items():
        assert isinstance(v["value"], float), (k, v)
    if not trace:
        for m in spec["end_to_end"]:
            assert result["metrics"][m["name"]]["value"] > 0, m["name"]
    return report


def check_spans(path: str, workload: str) -> None:
    with open(path) as f:
        spans = json.load(f)
    ids = {s["id"] for s in spans}
    names = {s["name"] for s in spans}
    for s in spans:
        assert {"id", "name", "parent", "op", "phase", "start", "end", "self_s", "jobs", "task_s"} <= set(s), s
        assert s["parent"] is None or s["parent"] in ids, s
        assert -1e-6 <= s["self_s"] <= s["end"] - s["start"] + 1e-6, s
    layer = {"portal_etl": {"pipelines.dag", "pipelines.organisations", "sinks.package.dump"},
             "registry_mix": {"plans.first_seen_events", "plans.build", "plans.exec"}}[workload]
    assert layer <= names, layer - names
    assert any(s["jobs"] > 0 for s in spans), "no Spark job attributed to any span"


def check_bare_directory() -> None:
    bare = os.path.join(ROOT, ".perfbench_work", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    p = run(bare, "--workload", "portal_etl", "--seed", "1", "--seconds", "1", "--trace", "0")
    shutil.rmtree(bare)
    assert p.returncode != 0 and not p.stdout.strip(), (p.returncode, p.stdout)


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    check_bare_directory()
    print("bare directory: refused", flush=True)
    for w in spec["workloads"]:
        check_result(spec, w["name"], 0)
        print(f"{w['name']} untraced: ok", flush=True)
        report = check_result(spec, w["name"], 1)
        check_spans(report["spans"], w["name"])
        print(f"{w['name']} traced: ok ({report['spans']})", flush=True)
    print("selftest passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
