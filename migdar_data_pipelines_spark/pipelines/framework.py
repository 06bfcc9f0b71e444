"""Pipeline framework: Pipeline + PipelineContext + PipelineGraph.

Reference model (pipeline-spec.yaml:1-45 + SURVEY.md §3): a pipeline is a
named flow with a cron schedule and ``dependencies`` on other pipelines;
the dpp scheduler runs them as a dependency DAG on its workers and each
pipeline consumes its dependencies' *materialized* datapackages from disk
(never an in-memory handoff — SURVEY.md §3.3 traces datasets ->
dataset-assets through ``data/datasets_in_es``).

Spark-first: a flow is a function ``flow(ctx) -> dict[resource_name,
DataFrame]``; the graph runner materializes every pipeline's resources as a
parquet package (sinks.package.dump_to_path) under ``data_dir/<pipeline>/``
and downstream flows reload them via ``ctx.stage(...)``. Catalyst optimizes
*within* a pipeline; the materialization points between pipelines are the
engine-level plan boundaries, exactly like the reference — at 100 TB these
are the natural checkpoint/restart units, and each stage write is a plain
parallel parquet write (no driver collect). The handoff costs no Spark job
beyond the write: each resource's write job also observes its count and
hash, and ``ctx.stage`` reads the parquet with the exact Spark schema the
dependency's ``manifest.json`` records, so no schema-inference job runs. A
dependency with no manifest has no committed output, and reading it is an
error rather than a read of whatever parquet a failed write left.

``PipelineGraph.run`` starts each stage on a driver thread as soon as all
of its dependencies have committed, so independent stages overlap: one
stage's driver-side planning, codegen and collects run while another's
tasks keep the executors busy, and Spark's FIFO scheduler hands idle cores
to whichever job is waiting. A failing stage stops only its dependents; the
independent stages still commit, then the first failure is re-raised, and
``run(skip_materialized=True)`` later re-runs the failed stage and
everything downstream of it. Each stage thread starts from the caller's
Spark local properties (job group, scheduler pool, description), so the
caller's labels and ``cancelJobGroup`` still reach every stage's jobs. On
top of them, each stage tags its jobs ``pipeline:<name>`` (``addJobTag``)
and describes each resource write as ``<pipeline>/<resource>``.

Cron strings are carried as metadata for an external scheduler; inside the
engine ``PipelineGraph.run`` is the ``Trigger.AvailableNow``-style batch
sweep.
"""

from __future__ import annotations

import os
import time
from collections.abc import Callable
from contextlib import suppress
from concurrent.futures import FIRST_COMPLETED, Future, ThreadPoolExecutor, wait
from dataclasses import dataclass, field
from typing import Any

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession

from ..operators.caching import cache_scope
from ..schema.manifest import MANIFEST_NAME
from ..sinks.package import dump_to_path, read_resource

FlowFn = Callable[["PipelineContext"], dict[str, DataFrame]]


@dataclass
class PipelineContext:
    """Everything a flow may touch: the session, injected source frames
    (tests inject fixtures; production injects connector outputs), stage
    reads from dependency outputs, params, and a pinned clock (the reference
    calls ``datetime.now()`` mid-flow — organisations.py:54, sitemap.py:16 —
    which SURVEY.md §7.4 demands be injectable)."""

    spark: SparkSession
    data_dir: str
    sources: dict[str, DataFrame] = field(default_factory=dict)
    params: dict[str, Any] = field(default_factory=dict)
    now: str = "1970-01-01T00:00:00Z"

    def source(self, name: str) -> DataFrame:
        if name not in self.sources:
            raise KeyError(
                f"pipeline source {name!r} not injected (have {sorted(self.sources)})"
            )
        return self.sources[name]

    def has_source(self, name: str) -> bool:
        return name in self.sources

    def stage_dir(self, pipeline: str) -> str:
        return os.path.join(self.data_dir, pipeline)

    def stage(self, pipeline: str, resource: str) -> DataFrame:
        """Reload a dependency pipeline's committed resource (S3 parity:
        ``DF.load('data/x/datapackage.json')``) with the Spark schema its
        manifest records, which launches no job."""
        return read_resource(
            self.spark, self.stage_dir(pipeline), resource, owner=f"pipeline {pipeline!r}"
        )


@dataclass(frozen=True)
class Pipeline:
    name: str
    flow: FlowFn
    dependencies: tuple[str, ...] = ()
    cron: str | None = None
    description: str = ""


class PipelineGraph:
    """Topologically-ordered pipeline runner with parquet stage handoff."""

    def __init__(self, pipelines: list[Pipeline]):
        self.pipelines = {p.name: p for p in pipelines}
        for p in pipelines:
            for d in p.dependencies:
                if d not in self.pipelines:
                    raise ValueError(f"{p.name} depends on unknown pipeline {d}")

    def topo_order(self, targets: list[str] | None = None) -> list[str]:
        order: list[str] = []
        state: dict[str, int] = {}  # 0 visiting, 1 done

        def visit(n: str) -> None:
            if state.get(n) == 1:
                return
            if state.get(n) == 0:
                raise ValueError(f"dependency cycle through {n}")
            state[n] = 0
            for d in self.pipelines[n].dependencies:
                visit(d)
            state[n] = 1
            order.append(n)

        for n in targets or list(self.pipelines):
            visit(n)
        return order

    def run(
        self,
        ctx: PipelineContext,
        targets: list[str] | None = None,
        skip_materialized: bool = False,
    ) -> dict[str, dict[str, Any]]:
        """Run ``targets`` (default: all) and their dependencies. Each
        pipeline's resources are dumped as a parquet package under
        ``ctx.data_dir/<name>/``; returns per-pipeline run stats in
        ``topo_order`` (the reference's ``{count_of_rows, hash}`` report,
        QUICKSTART.md:312-315).

        A stage starts on a driver thread as soon as every dependency has
        committed; the pool is as wide as the stages to run, and stages
        with no pending dependency run side by side. Each stage's flow and
        write run in the stage's own thread and ``cache_scope()``, so frames
        it scoped-persists die with it and never with a sibling. Each stage
        thread gets its own copy of the caller's Spark local properties
        (``inheritable_thread_target``, applied per stage because Spark
        edits a thread's properties in place while it runs SQL), and adds
        the job tag ``pipeline:<name>`` to that copy only.

        When a stage raises, no stage depending on it starts, every
        independent stage still runs and commits, and then the first
        failure is re-raised, with a note naming the stages left unrun.

        skip_materialized: resume semantics (K11 checkpoint at the pipeline
        granularity) — a pipeline is not re-run when its manifest exists
        and every dependency was skipped too. A stage removes its manifest
        when it starts, before building its flow, and ``dump_to_path``
        writes it last, so a stage whose last run failed at any point has
        none and re-runs, and so does everything downstream of it: a
        dependent never keeps output built from a dependency's older
        commit.
        """
        order = self.topo_order(targets)
        report: dict[str, dict[str, Any]] = {}
        if skip_materialized:
            for name in order:
                done = os.path.exists(os.path.join(ctx.stage_dir(name), MANIFEST_NAME))
                if done and all(d in report for d in self.pipelines[name].dependencies):
                    report[name] = {"skipped": True}

        def stage(name: str) -> dict[str, Any]:
            t0 = time.time()
            ctx.spark.sparkContext.addJobTag(f"pipeline:{name}")
            with suppress(FileNotFoundError):
                os.remove(os.path.join(ctx.stage_dir(name), MANIFEST_NAME))
            # Frames operators scoped-persist while building the stage die
            # with it once it is on disk or has failed: a stage keeps its
            # caches only while it runs.
            with cache_scope():
                manifest = dump_to_path(
                    self.pipelines[name].flow(ctx), ctx.stage_dir(name), name=name
                )
            return {
                "resources": {
                    r: {
                        "count_of_rows": d.get("count_of_rows"),
                        "hash": d.get("hash"),
                    }
                    for r, d in manifest["resources"].items()
                },
                "seconds": round(time.time() - t0, 3),
            }

        pending = [n for n in order if n not in report]
        running: dict[Future, str] = {}
        failed: dict[str, Exception] = {}
        width = max(len(pending), 1)
        with ThreadPoolExecutor(width, thread_name_prefix="pipeline") as pool:
            while True:
                for name in [
                    n for n in pending
                    if all(d in report for d in self.pipelines[n].dependencies)
                ]:
                    pending.remove(name)
                    target = inheritable_thread_target(ctx.spark)(stage)
                    running[pool.submit(target, name)] = name
                if not running:
                    break  # done, or what is left depends on a failed stage
                done, _ = wait(running, return_when=FIRST_COMPLETED)
                for future in done:
                    name = running.pop(future)
                    try:
                        report[name] = future.result()
                    except Exception as e:
                        failed[name] = e
        if failed:
            first = next(iter(failed.values()))
            first.add_note(
                f"pipelines failed: {', '.join(failed)}; "
                f"not run: {', '.join(pending) or 'none'}"
            )
            raise first
        return {n: report[n] for n in order}


__all__ = ["Pipeline", "PipelineContext", "PipelineGraph", "FlowFn"]
