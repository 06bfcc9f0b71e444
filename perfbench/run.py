#!/usr/bin/env python3
"""Benchmark runner: one workload, one seed, one measured window.

    python3 perfbench/run.py --workload portal_etl --seed 1 --seconds 10 --trace 0

Run from the repository root (the directory holding BENCHMARK.json). The
runner pins the environment (``local[<cores>]``, a fixed driver heap, Spark
scratch and temp dirs under ``.perfbench_work/``), generates the workload's
inputs from ``--seed`` and boots the engine with ``session.get_spark``
(``setup_s``). It then runs operations in a closed loop, starting in the
fresh session, until ``--seconds`` have passed and the loop is at an
operation-group boundary. Last, it completes the workload's correctness gate.

``--trace 0`` prints the end-to-end metrics of BENCHMARK.json. ``--trace 1``
traces that same window (event log on from boot, job groups, spans, a
streaming listener) and prints the per-layer metrics. It then runs a warm
untraced window and a warm traced window for the tracing overhead, and
writes the spans to ``.perfbench_work/results/<workload>-<seed>-spans.json``.

The last stdout line is the JSON result; the line before it is a JSON report
with the environment, input sizes and sample counts. Exit status is 0 when a
result was printed, 2 when the program to benchmark is not next to
``perfbench/``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "migdar_data_pipelines_spark"
DRIVER_HEAP = "2g"


def pin_environment(work: str, cores: int) -> None:
    """Everything the engine reads from the environment, set before the JVM
    launches so every run on a machine sees the same configuration."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_HEAP,
        # every JVM (the spark-submit launcher too) keeps its temp files in
        # the run's directory and writes no hsperfdata file to /tmp
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "PYSPARK_PYTHON": sys.executable,
    })
    os.environ.pop("SPARK_CONF_DIR", None)


def percentile(xs: list[float], q: int) -> float:
    if len(xs) < 2:
        return xs[0]
    return statistics.quantiles(xs, n=100, method="inclusive")[q - 1]


def measure(w, seconds: float, tracer) -> dict:
    """Closed loop: the next operation starts when the previous one ends;
    stops once ``seconds`` have passed at an operation-group boundary. Each
    operation's output is verified outside its timed region."""
    lat, windows, keys, raised = [], [], [], 0
    start = time.perf_counter()
    while time.perf_counter() - start < seconds or not w.at_boundary():
        tracer.op = len(lat)
        t0, w0 = time.perf_counter(), time.time()
        try:
            key = w.op()
        except Exception:  # an operation that raises counts as failed; the loop goes on
            traceback.print_exc(file=sys.stderr)
            tracer.reset()
            key = None
            raised += 1
        lat.append(time.perf_counter() - t0)
        windows.append((w0, time.time()))
        if key is not None:
            keys.append(key)
            w.verify(key)
    return {"lat": lat, "windows": windows, "keys": keys, "raised": raised,
            "wall": time.perf_counter() - start}


def stop_engine(spark) -> None:
    """Stop Spark, then the JVM it launched, and wait for every process this
    run started to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = gateway.proc
        gateway.shutdown()
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    from tracing import descendant_pids

    deadline = time.time() + 30
    while descendant_pids(os.getpid()) and time.time() < deadline:
        time.sleep(0.2)
    for pid in descendant_pids(os.getpid()):
        os.kill(pid, 9)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["portal_etl", "registry_mix"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size multiplier; the self-test uses a tiny one")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: no {PACKAGE}/ package in {ROOT}; run from a checkout of the repository",
              file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    units = {m["name"]: m["unit"] for m in wanted}

    cores = len(os.sched_getaffinity(0))
    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    results = os.path.join(base, "results")
    os.makedirs(results, exist_ok=True)
    pin_environment(work, cores)
    sys.path.insert(0, ROOT)

    import pyspark

    import migdar_data_pipelines_spark as pkg
    from migdar_data_pipelines_spark.session import get_spark
    from tracing import EventLog, RssSampler, Tracer, stream_progress_listener
    from workloads import WORKLOADS

    if not os.path.abspath(pkg.__file__).startswith(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: {PACKAGE} imported from {pkg.__file__}, not from {ROOT}", file=sys.stderr)
        return 2

    tracer = Tracer()
    w = WORKLOADS[args.workload](work, args.seed, args.scale, tracer)
    inputs = w.generate()

    log_dir = os.path.join(work, "eventlog")
    extra = {"spark.sql.warehouse.dir": os.path.join(work, "warehouse")}
    if args.trace:
        os.makedirs(log_dir)
        extra.update({"spark.eventLog.enabled": "true", "spark.eventLog.dir": log_dir,
                      "spark.eventLog.compress": "false", "spark.eventLog.rolling.enabled": "false"})
    with RssSampler() as rss:
        t0 = time.perf_counter()
        spark = get_spark(f"perfbench-{args.workload}", extra_conf=extra)
        spark.sparkContext.setLogLevel("ERROR")
        w.setup(spark)
        setup_s = time.perf_counter() - t0
        if args.trace:
            tracer.spark, tracer.enabled = spark, True
            listener = stream_progress_listener()
            spark.streams.addListener(listener)
            w.install_tracing()
        main = measure(w, args.seconds, tracer)
        peak_rss_mb = rss.peak_mb
    windows = [main]
    if args.trace:
        # tracing overhead: a warm untraced window against a warm traced one
        tracer.enabled, tracer.phase = False, "overhead"
        plain = measure(w, args.seconds, tracer)
        tracer.enabled = True
        traced = measure(w, args.seconds, tracer)
        tracer.enabled = False
        windows += [plain, traced]
    env = {"spark": pyspark.__version__,
           "java": spark.sparkContext._jvm.System.getProperty("java.version"),
           "python": platform.python_version(), "master": spark.sparkContext.master,
           "driver_heap": DRIVER_HEAP, "cores": cores}
    try:
        w.finish()
    except Exception:
        traceback.print_exc(file=sys.stderr)
        w.gate_errors.append("correctness gate raised")
    attempted = sum(len(r["lat"]) for r in windows)
    failed = sum(r["raised"] + sum(k in w.bad for k in r["keys"]) for r in windows)
    lat = main["lat"]
    samples = {"ops": len(lat), "measured_s": main["wall"], "op_s": lat}
    stop_engine(spark)
    spans_path = None
    if args.trace:
        log = EventLog(log_dir)
        tracer.annotate(log)
        spans_path = os.path.join(results, f"{args.workload}-{args.seed}-spans.json")
        tracer.dump(spans_path)
        metrics = {
            "session.boot_s": setup_s,
            "trace.overhead_s": statistics.median(traced["lat"]) - statistics.median(plain["lat"]),
            **log.metrics(main["windows"], cores),
            **w.per_layer(tracer, log, listener.batches),
        }
        for k in units:  # layers the workload leaves idle
            metrics.setdefault(k, 0.0)
        samples.update(untraced_warm_ops=len(plain["lat"]), traced_warm_ops=len(traced["lat"]))
    else:
        metrics = {
            "setup_s": setup_s,
            "op_p50_s": statistics.median(lat),
            "op_p90_s": percentile(lat, 90),
            "ops_per_s": len(lat) / main["wall"],
            "peak_rss_mb": peak_rss_mb,
        }
    if set(metrics) != set(units):
        raise RuntimeError(f"metrics {sorted(set(metrics) ^ set(units))} differ from BENCHMARK.json")

    gate_errors = w.gate_errors
    report = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
              "trace": args.trace, "scale": args.scale, "env": env, "inputs": inputs,
              "samples": samples, "gate_errors": gate_errors, "spans": spans_path,
              **getattr(w, "detail", {})}
    result = {
        "correct": failed == 0 and not gate_errors,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": units[k]} for k in units},
    }
    with open(os.path.join(results, f"{args.workload}-{args.seed}-trace{args.trace}.json"), "w") as f:
        json.dump({"report": report, "result": result}, f, indent=1)
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"report": report}, ensure_ascii=False))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
