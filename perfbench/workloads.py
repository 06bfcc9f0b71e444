"""The benchmark's workloads. Each drives the program only through its public
entry points and checks the program's outputs.

``run.py`` calls, in order:

* ``generate()`` writes the seeded inputs (not timed);
* ``setup(spark)`` does the cheap per-session preparation (timed into
  ``setup_s`` together with the session boot);
* ``op()`` runs one timed operation and returns its key; ``verify(key)``
  then checks that operation's output outside the timed region;
* ``at_boundary()`` says whether the loop sits between operation groups;
* ``finish()`` completes the correctness gate after the measured window;
* ``per_layer(tracer, log, batches)`` turns the traced spans, the event log and
  the streaming progress into per-layer metrics.

Keys of operations whose output was wrong end up in ``bad``; messages in
``gate_errors``.
"""

from __future__ import annotations

import dataclasses
import os
import shutil
import statistics

import numpy as np
import pyarrow.parquet as pq

import gen
from tests.parity import normalize_rows
from tracing import stream_metrics

PIPELINES = ("organisations", "datasets", "dataset_assets", "zotero_fetch",
             "publications", "sitemap", "broken_links")

# The registry_mix query mix: window top-k, first-seen and forward fill, CDC
# hash diff, a 7-way snowflake join, as-of join, fuzzy translation (pandas
# UDF), year-range expansion, sketches, an order-pinned group collect
# (join_self, as in the portal's datasets flow), plus one stateful stream
# (streaming/) and two text queries (llm/), so every layer the registry
# reaches runs. An even count makes the median latency the mean of the two
# middle queries rather than one query's latency.
# Every output here is exact, so the DuckDB parity gate holds on any seed.
# Entries that round a double SUM (q1, q3, q5, grouping_sets_orders,
# date_spine_gap_fill_events, cohort_ltv_orders) are left out: the two
# engines add in different orders and the last cent flips on some seeds
# (q3 failed at seed 2, q5 at seed 105).
MIX = (
    "first_seen_events", "topk_parts_per_brand", "cdc_hash_diff_orders",
    "forward_fill_events", "fuzzy_translate_nations", "asof_join_events_purchase",
    "market_share_snowflake", "salted_topk_lineitem", "expand_year_ranges_customers",
    "profile_orders", "streaming_first_seen_users", "quality_langid_documents",
    "minhash_signatures", "group_collect_orders",
)

BASE_URL = "https://example.org"
NOW = "2026-01-01T00:00:00Z"


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _tree_files(path: str) -> list[str]:
    return [os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs if not f.startswith(".")]


# --------------------------------------------------------------------------
# portal_etl
# --------------------------------------------------------------------------


class PortalEtl:
    """The seven-pipeline DAG (pipelines.build_reference_graph().run) in a
    closed loop, one DAG at a time, each into a fresh data directory. The
    first DAG of a session is the nightly cron run's cost: a fresh JVM
    plans, compiles and runs every pipeline once."""

    name = "portal_etl"

    def __init__(self, work: str, seed: int, scale: float, tracer):
        self.work = work
        self.seed = seed
        self.scale = scale
        self.tracer = tracer
        self.n = 0
        self.reports: dict[int, dict] = {}
        self.ref_hashes: dict[str, str] | None = None
        self.bad: set[int] = set()
        self.gate_errors: list[str] = []
        self.detail = {"op_pipeline_s": []}

    def generate(self) -> dict:
        self.paths, self.expected = gen.portal_corpus(
            np.random.default_rng([self.seed, 1]), os.path.join(self.work, "portal"), self.scale
        )
        return {"rows": {k: pq.ParquetFile(p).metadata.num_rows for k, p in self.paths.items()},
                "expected": self.expected}

    def setup(self, spark) -> None:
        from pyspark import cloudpickle

        self.spark = spark
        # Python workers do not have perfbench/ on their path: ship the
        # link checker by value
        cloudpickle.register_pickle_by_value(gen)
        # the reference checks links 16 at a time because each check waits
        # on the network; the local checker does not, so one task per core
        self.cores = spark.sparkContext.defaultParallelism

    def at_boundary(self) -> bool:
        return True

    def op(self) -> int:
        from migdar_data_pipelines_spark.pipelines import PipelineContext, build_reference_graph

        key = self.n
        self.n += 1
        sources = {k: self.spark.read.parquet(p) for k, p in self.paths.items()}
        ctx = PipelineContext(spark=self.spark, data_dir=self._dir(key), sources=sources,
                              params={"base_url": BASE_URL, "check_url": gen.check_link,
                                      "link_check_parallelism": self.cores},
                              now=NOW)
        graph = build_reference_graph()
        if self.tracer.enabled:
            for name, p in graph.pipelines.items():
                graph.pipelines[name] = dataclasses.replace(p, flow=self._traced_flow(name, p.flow))
        with self.tracer.span("pipelines.dag"):
            self.reports[key] = graph.run(ctx)
        return key

    def _dir(self, key: int) -> str:
        return os.path.join(self.work, "dag", str(key))

    def _traced_flow(self, name, flow):
        tracer = self.tracer

        def traced(ctx):
            # closed by the dump_to_path wrapper once the stage is on disk
            tracer.begin(f"pipelines.{name}")
            with tracer.span(f"pipelines.{name}.flow"):
                return flow(ctx)

        return traced

    def install_tracing(self) -> None:
        """Wrap the ``dump_to_path`` reference the pipeline runner calls."""
        from migdar_data_pipelines_spark.pipelines import framework

        inner = framework.dump_to_path
        tracer = self.tracer

        def traced_dump(resources, path, name="package", **kw):
            with tracer.span("sinks.package.dump", pipeline=name) as s:
                manifest = inner(resources, path, name=name, **kw)
            if s is not None:
                files = _tree_files(path)
                s["rows_written"] = sum(d.get("count_of_rows") or 0 for d in manifest["resources"].values())
                s["files_written"] = len(files)
                s["bytes_written"] = sum(os.path.getsize(f) for f in files)
            pipe = tracer.current()
            if pipe is not None and pipe["name"] == f"pipelines.{name}":
                tracer.end(pipe)
            return manifest

        framework.dump_to_path = traced_dump

    def verify(self, key: int) -> None:
        """Row counts equal the generator's prediction; the first DAG's
        sitemap URL set equals the distinct doc ids; every later DAG's
        manifest hashes equal the first DAG's."""
        report, data_dir = self.reports.pop(key), self._dir(key)
        self.detail["op_pipeline_s"].append({p: v["seconds"] for p, v in report.items()})
        counts = {f"{p}/{r}": d["count_of_rows"] for p, v in report.items() for r, d in v["resources"].items()}
        hashes = {f"{p}/{r}": d["hash"] for p, v in report.items() for r, d in v["resources"].items()}
        errors = []
        if counts != self.expected:
            errors.append(f"DAG {key}: row counts {counts} != predicted {self.expected}")
        if self.ref_hashes is None:
            self.ref_hashes = hashes

            def read(p, r, c):
                return pq.read_table(os.path.join(data_dir, p, f"{r}.parquet"), columns=[c]).column(c).to_pylist()

            docs = set()
            for p, r in (("publications", "publications"), ("organisations", "orgs"), ("datasets", "datasets")):
                docs.update(d for d in read(p, r, "doc_id") if d)
            locs = read("sitemap", "sitemap_urls", "loc")
            if len(locs) != len(set(locs)) or set(locs) != {f"{BASE_URL}/{d}" for d in docs}:
                errors.append(f"DAG {key}: sitemap URL set != distinct doc_ids")
        elif hashes != self.ref_hashes:
            errors.append(f"DAG {key}: manifest hashes differ from the first DAG's")
        if errors:
            self.bad.add(key)
            self.gate_errors.extend(errors)
        shutil.rmtree(data_dir)

    def finish(self) -> None:
        """A window of one DAG gets one more, untimed, so the hash check
        always compares two runs."""
        if self.n == 1:
            self.verify(self.op())

    def per_layer(self, tracer, log, batches) -> dict[str, float]:
        out: dict[str, float] = {}
        for p in PIPELINES:
            spans = tracer.named(f"pipelines.{p}")
            out[f"pipelines.{p}.s"] = _median([s["end"] - s["start"] for s in spans])
            out[f"pipelines.{p}.driver_s"] = _median([log.idle_s(s["start"], s["end"]) for s in spans])
        dumps = tracer.named("sinks.package.dump")
        per_dag: dict[int, list[dict]] = {}
        for s in dumps:
            per_dag.setdefault(s["op"], []).append(s)
        for key, field in (("dump_s", None), ("rows_written", "rows_written"),
                           ("bytes_written", "bytes_written"), ("files_written", "files_written")):
            vals = [sum((s["end"] - s["start"]) if field is None else s[field] for s in ss)
                    for ss in per_dag.values()]
            out[f"sinks.package.{key}"] = _median(vals)
        return out


# --------------------------------------------------------------------------
# registry_mix
# --------------------------------------------------------------------------


class RegistryMix:
    """One client running the fixed MIX of registry queries
    (plans.query_fns()) in a closed loop; each result is computed in full
    through Spark's ``noop`` sink."""

    name = "registry_mix"

    def __init__(self, work: str, seed: int, scale: float, tracer):
        self.work = work
        self.seed = seed
        self.scale = scale
        self.tracer = tracer
        self.next = 0
        self.bad: set[str] = set()
        self.gate_errors: list[str] = []

    def generate(self) -> dict:
        self.sf_dir = os.path.join(self.work, "sf")
        rows = gen.sf_tables(np.random.default_rng([self.seed, 2]), self.sf_dir, 0.25 * self.scale)
        return {"rows": rows}

    def setup(self, spark) -> None:
        from migdar_data_pipelines_spark.plans import query_fns

        self.spark = spark
        self.fns = query_fns()

    def at_boundary(self) -> bool:
        """True between whole passes of the mix."""
        return self.next % len(MIX) == 0

    def op(self) -> str:
        q = MIX[self.next % len(MIX)]
        self.next += 1
        with self.tracer.span(f"plans.{q}"):
            with self.tracer.span("plans.build"):
                df = self.fns[q](self.spark, self.sf_dir)
            with self.tracer.span("plans.exec"):
                df.write.format("noop").mode("overwrite").save()
        return q

    def verify(self, key: str) -> None:
        pass  # results are checked once per query, by finish()

    def finish(self) -> None:
        """Collect every query's result and compare it with the query's
        DuckDB oracle SQL over the same parquet files."""
        import duckdb

        from migdar_data_pipelines_spark.plans import oracle_sqls

        sqls = oracle_sqls()
        con = duckdb.connect()
        try:
            for f in sorted(os.listdir(self.sf_dir)):
                path = os.path.join(self.sf_dir, f)
                con.execute(f"CREATE VIEW {f.removesuffix('.parquet')} AS SELECT * FROM read_parquet('{path}')")
            for q in MIX:
                df = self.fns[q](self.spark, self.sf_dir)
                got = normalize_rows(df.columns, df.collect())
                rel = con.sql(sqls[q])
                if got != normalize_rows(rel.columns, rel.fetchall()):
                    self.bad.add(q)
                    self.gate_errors.append(f"{q}: result differs from its DuckDB oracle")
        finally:
            con.close()

    def install_tracing(self) -> None:
        pass  # op() opens its spans itself

    def per_layer(self, tracer, log, batches) -> dict[str, float]:
        out = {f"plans.{q}.s": _median([s["end"] - s["start"] for s in tracer.named(f"plans.{q}")])
               for q in MIX}
        # build / exec time per traced pass of the mix
        passes = max(1, len(tracer.named("plans.build")) // len(MIX))
        for part in ("build", "exec"):
            out[f"plans.{part}_s"] = sum(s["end"] - s["start"] for s in tracer.named(f"plans.{part}")) / passes
        streams = tracer.named("plans.streaming_first_seen_users")
        out.update(stream_metrics(batches, [(s["start"], s["end"]) for s in streams], len(streams)))
        return out


WORKLOADS = {w.name: w for w in (PortalEtl, RegistryMix)}
