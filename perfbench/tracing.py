"""Tracing for the benchmark's traced runs, from the benchmark's own code.

Only public hooks are used:

* ``Tracer`` keeps spans (name, start, end, parent, op id) in memory and,
  when a span is opened on the driver thread, tags the Spark jobs it launches
  with ``setJobGroup(<span id>)`` so the event log can attribute task work to
  spans. ``Tracer.dump`` writes the spans as JSON once, at the end.
* ``EventLog`` parses the Spark event log (enabled through
  ``get_spark(extra_conf=...)``) into job/stage/task counts, task time, CPU,
  GC, shuffle, spill and I/O bytes, and the wall time inside a set of
  windows with no task running.
* ``stream_progress_listener`` builds a ``StreamingQueryListener`` that
  collects micro-batch durations.
* ``RssSampler`` samples the summed resident set of every process the
  benchmark started (the driver JVM and its Python workers).
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import threading
import time


class Tracer:
    """In-memory span recorder. ``enabled=False`` makes every call a no-op
    so the same workload code runs traced and untraced."""

    def __init__(self):
        self.spark = None
        self.enabled = False
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.op: int | None = None
        self.phase = "main"

    def begin(self, name: str, **attrs) -> dict | None:
        if not self.enabled:
            return None
        parent = self._stack[-1]["id"] if self._stack else None
        span = {"id": len(self.spans), "name": name, "parent": parent, "op": self.op,
                "phase": self.phase, "start": time.time(), "end": None, **attrs}
        self.spans.append(span)
        self._stack.append(span)
        self._group(span)
        return span

    def end(self, span: dict | None) -> None:
        if span is None:
            return
        span["end"] = time.time()
        while self._stack and self._stack[-1] is not span:
            self._stack.pop()
        if self._stack:
            self._stack.pop()
        self._group(self._stack[-1] if self._stack else None)

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        s = self.begin(name, **attrs)
        try:
            yield s
        finally:
            self.end(s)

    def _group(self, span: dict | None) -> None:
        sc = self.spark.sparkContext
        if span is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            sc.setJobGroup(f"pb:{span['id']}", span["name"])

    def current(self) -> dict | None:
        return self._stack[-1] if self._stack else None

    def reset(self) -> None:
        """Drop the open spans after an operation raised."""
        while self._stack:
            self.end(self._stack[-1])

    def annotate(self, log: "EventLog") -> None:
        """Add to each span the Spark jobs and task seconds its job group ran."""
        per_group: dict[str, list[dict]] = {}
        for t in log.tasks:
            per_group.setdefault(log.job_group.get(t["job"]), []).append(t)
        for s in self.spans:
            tasks = per_group.get(f"pb:{s['id']}", [])
            s["jobs"] = len({t["job"] for t in tasks})
            s["task_s"] = sum(t["run_s"] for t in tasks)

    def named(self, name: str, phase: str = "main") -> list[dict]:
        return [s for s in self.spans
                if s["name"] == name and s["phase"] == phase and s["end"] is not None]

    def self_time(self, span: dict) -> float:
        """Span duration minus the part of it its direct children cover."""
        kids = [(c["start"], c["end"]) for c in self.spans
                if c["parent"] == span["id"] and c["end"] is not None]
        return (span["end"] - span["start"]) - _covered(kids, span["start"], span["end"])

    def dump(self, path: str) -> None:
        out = []
        for s in self.spans:
            if s["end"] is None:
                continue
            out.append({**s, "self_s": self.self_time(s)})
        with open(path, "w") as f:
            json.dump(out, f)


def _covered(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals if e > lo and s < hi):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class EventLog:
    """Parsed Spark event log: jobs with their group, tasks with metrics."""

    def __init__(self, log_dir: str):
        files = [p for p in glob.glob(os.path.join(log_dir, "*")) if not p.endswith(".inprogress")]
        if len(files) != 1:
            raise RuntimeError(f"expected one finished event log in {log_dir}, found {files}")
        stage_job: dict[int, int] = {}
        self.job_group: dict[int, str | None] = {}
        self.tasks: list[dict] = []
        with open(files[0]) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    job = ev["Job ID"]
                    self.job_group[job] = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    for sid in ev.get("Stage IDs", []):
                        stage_job[sid] = job
                elif kind == "SparkListenerTaskEnd":
                    info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    sr = m.get("Shuffle Read Metrics") or {}
                    self.tasks.append({
                        "job": stage_job.get(ev["Stage ID"]),
                        "stage": ev["Stage ID"],
                        "start": info["Launch Time"] / 1000.0,
                        "end": info["Finish Time"] / 1000.0,
                        "run_s": m.get("Executor Run Time", 0) / 1000.0,
                        "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                        "gc_s": m.get("JVM GC Time", 0) / 1000.0,
                        "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                        "shuffle_read": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                        "spill": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                        "input": (m.get("Input Metrics") or {}).get("Bytes Read", 0),
                        "output": (m.get("Output Metrics") or {}).get("Bytes Written", 0),
                    })

    def idle_s(self, lo: float, hi: float) -> float:
        """Wall time in [lo, hi] with no task running."""
        return (hi - lo) - _covered([(t["start"], t["end"]) for t in self.tasks], lo, hi)

    def metrics(self, windows: list[tuple[float, float]], cores: int) -> dict[str, float]:
        """spark.* totals over the tasks that ran inside ``windows``."""
        def inside(t):
            return any(lo <= t["start"] and t["end"] <= hi for lo, hi in windows)

        tasks = [t for t in self.tasks if inside(t)]
        jobs = {t["job"] for t in tasks}
        wall = sum(hi - lo for lo, hi in windows)
        task_s = sum(t["run_s"] for t in tasks)
        return {
            "spark.jobs": len(jobs),
            "spark.stages": len({t["stage"] for t in tasks}),
            "spark.tasks": len(tasks),
            "spark.task_s": task_s,
            "spark.cpu_s": sum(t["cpu_s"] for t in tasks),
            "spark.gc_s": sum(t["gc_s"] for t in tasks),
            "spark.shuffle_write_bytes": sum(t["shuffle_write"] for t in tasks),
            "spark.shuffle_read_bytes": sum(t["shuffle_read"] for t in tasks),
            "spark.spill_bytes": sum(t["spill"] for t in tasks),
            "spark.input_bytes": sum(t["input"] for t in tasks),
            "spark.output_bytes": sum(t["output"] for t in tasks),
            "spark.utilization": task_s / (wall * cores) if wall > 0 else 0.0,
            "spark.driver_gap_s": sum(self.idle_s(lo, hi) for lo, hi in windows),
        }


def stream_progress_listener():
    """A StreamingQueryListener collecting (triggerExecution, addBatch)
    seconds per micro-batch into ``listener.batches``."""
    from pyspark.sql.streaming import StreamingQueryListener

    class StreamProgress(StreamingQueryListener):
        def __init__(self):
            self.batches: list[dict] = []
            self.lock = threading.Lock()

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            d = event.progress.durationMs or {}
            with self.lock:
                self.batches.append({"end": time.time(),
                                     "trigger_s": d.get("triggerExecution", 0) / 1000.0,
                                     "add_batch_s": d.get("addBatch", 0) / 1000.0})

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return StreamProgress()


def stream_metrics(batches: list[dict], windows: list[tuple[float, float]], n_ops: int) -> dict[str, float]:
    got = [b for b in batches if any(lo <= b["end"] <= hi + 1.0 for lo, hi in windows)]
    med = lambda xs: statistics.median(xs) if xs else 0.0  # noqa: E731
    return {
        "streaming.batches": len(got) / max(1, n_ops),
        "streaming.batch_p50_s": med([b["trigger_s"] for b in got]),
        "streaming.add_batch_s": med([b["add_batch_s"] for b in got]),
        "streaming.lifecycle_s": med([b["trigger_s"] - b["add_batch_s"] for b in got]),
    }


class RssSampler:
    """Background thread tracking the peak summed RSS (MB) of every
    descendant of this process."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        return False

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, descendants_rss_mb(os.getpid()))
            self._stop.wait(self.interval_s)


def _process_table() -> tuple[dict[int, list[int]], dict[int, int]]:
    """(parent -> children, pid -> resident pages) from /proc."""
    children: dict[int, list[int]] = {}
    rss: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
            with open(f"/proc/{d}/statm") as f:
                pages = int(f.read().split()[1])
        except OSError:  # the process ended while we looked
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(d))
        rss[int(d)] = pages
    return children, rss


def _descendants(children: dict[int, list[int]], root: int) -> list[int]:
    out, todo = [], list(children.get(root, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def descendant_pids(root: int) -> list[int]:
    return _descendants(_process_table()[0], root)


def descendants_rss_mb(root: int) -> float:
    children, rss = _process_table()
    pages = sum(rss.get(p, 0) for p in _descendants(children, root))
    return pages * os.sysconf("SC_PAGE_SIZE") / 2**20
