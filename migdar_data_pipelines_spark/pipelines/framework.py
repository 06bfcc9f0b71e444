"""Pipeline framework: Pipeline + PipelineContext + PipelineGraph.

Reference model (pipeline-spec.yaml:1-45 + SURVEY.md §3): a pipeline is a
named flow with a cron schedule and ``dependencies`` on other pipelines;
the dpp scheduler topologically orders them and each pipeline consumes its
dependencies' *materialized* datapackages from disk (never an in-memory
handoff — SURVEY.md §3.3 traces datasets -> dataset-assets through
``data/datasets_in_es``).

Spark-first: a flow is a function ``flow(ctx) -> dict[resource_name,
DataFrame]``; the graph runner materializes every pipeline's resources as a
parquet package (sinks.package.dump_to_path) under ``data_dir/<pipeline>/``
and downstream flows reload them via ``ctx.stage(...)``. Catalyst optimizes
*within* a pipeline; the materialization points between pipelines are the
engine-level plan boundaries, exactly like the reference — at 100 TB these
are the natural checkpoint/restart units, and each stage write is a plain
parallel parquet write (no driver collect).

Cron strings are carried as metadata for an external scheduler; inside the
engine ``run_all`` is the ``Trigger.AvailableNow``-style batch sweep.
"""

from __future__ import annotations

import os
import time
from collections.abc import Callable
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from ..operators.caching import cache_scope
from ..schema.manifest import MANIFEST_NAME
from ..sinks.package import dump_to_path

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
        """Reload a dependency pipeline's materialized resource (S3 parity:
        ``DF.load('data/x/datapackage.json')``)."""
        return self.spark.read.parquet(
            os.path.join(self.stage_dir(pipeline), f"{resource}.parquet")
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
        """Run ``targets`` (default: all) dependencies-first. Each pipeline's
        resources are dumped as a parquet package under
        ``ctx.data_dir/<name>/``; returns per-pipeline run stats (the
        reference's ``{count_of_rows, hash}`` report, QUICKSTART.md:312-315).

        skip_materialized: resume semantics (K11 checkpoint at the pipeline
        granularity) — a pipeline whose manifest already exists is not re-run.
        ``dump_to_path`` writes the manifest last and removes the previous
        one first, so a stage whose last run failed has none and re-runs.
        """
        report: dict[str, dict[str, Any]] = {}
        for name in self.topo_order(targets):
            p = self.pipelines[name]
            out_dir = ctx.stage_dir(name)
            manifest_path = os.path.join(out_dir, MANIFEST_NAME)
            if skip_materialized and os.path.exists(manifest_path):
                report[name] = {"skipped": True}
                continue
            t0 = time.time()
            # Frames operators scoped-persist while building the stage (LSH
            # shingles, translate row ids) die with it once it is on disk or
            # has failed: a long DAG run keeps a one-stage cache footprint.
            with cache_scope():
                manifest = dump_to_path(p.flow(ctx), out_dir, name=name)
            report[name] = {
                "resources": {
                    r: {
                        "count_of_rows": d.get("count_of_rows"),
                        "hash": d.get("hash"),
                    }
                    for r, d in manifest["resources"].items()
                },
                "seconds": round(time.time() - t0, 3),
            }
        return report


__all__ = ["Pipeline", "PipelineContext", "PipelineGraph", "FlowFn"]
