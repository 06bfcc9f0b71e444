"""End-to-end run of the seven reference pipelines on FIXTURES.md-shaped
inline fixtures, through the PipelineGraph with parquet stage handoff."""

import dataclasses
import functools
import os
import sys
import threading
import time

import pytest
from pyspark.sql import DataFrame, Row
from pyspark.sql import functions as F

from migdar_data_pipelines_spark.operators.caching import cache_scope, scoped_persist
from migdar_data_pipelines_spark.pipelines import (
    Pipeline,
    PipelineContext,
    PipelineGraph,
    build_reference_graph,
)
from migdar_data_pipelines_spark.schema.manifest import MANIFEST_NAME
from migdar_data_pipelines_spark.sinks.package import dump_to_path


@pytest.fixture(scope="module")
def fixtures(spark):
    translations = spark.createDataFrame(
        [
            ("בריאות", "בריאות", "Health", "الصحة"),
            ("תעסוקה", "תעסוקה", "Employment", "العمل"),
            ("Health", "בריאות", "Health", "الصحة"),
        ],
        "key string, hebrew string, english string, arabic string",
    )
    orgs = spark.createDataFrame(
        [
            # duplicate entity_id -> dedup suffix; schemeless website; URL in objective
            ("580001", "ארגון א", "Org A", "עמותה", "Helping www", "בריאות, תעסוקה", "org-a.org.il"),
            ("580001", "ארגון ב", "Org B", "עמותה", "see http://b.org", "בריאות", "http://b.org"),
            ("580002", "ארגון ג", "Org C", "חברה", None, "Health", None),
        ],
        "entity_id string, org_name string, org_name__en string, org_kind string, "
        "objective string, life_areas string, org_website string",
    )
    zotero_schema = (
        "key string, title string, date string, institution string, "
        "publication string, publicationTitle string, abstractNote string, "
        "language string, tags array<struct<tag:string>>, "
        "creators array<struct<creatorType:string,firstName:string,lastName:string,name:string>>, "
        "reportType string, itemKind string, url string, volume string"
    )
    zotero_items = spark.createDataFrame(
        [
            Row(
                key="Z1",
                title="Women in tech",
                date='תשס"ט 2009.',
                institution=None,
                publication="Journal X",
                publicationTitle=None,
                abstractNote="See http://z.example/a",
                language="eng",
                tags=[Row(tag="Domain_Health"), Row(tag="Source_Gov"), Row(tag="stats")],
                creators=[
                    Row(creatorType="author", firstName="Ada", lastName="L", name=None),
                    Row(creatorType="editor", firstName="E", lastName="D", name=None),
                    Row(creatorType="author", firstName=None, lastName=None, name="ACME Inst"),
                ],
                reportType=None,
                itemKind="report",
                url="z.example/a",
                volume=None,
            ),
            Row(
                key="Z2",
                title="",  # dropped: title required
                date="2015",
                institution="I",
                publication=None,
                publicationTitle=None,
                abstractNote=None,
                language="heb",
                tags=[],
                creators=[],
                reportType="brief",
                itemKind=None,
                url=None,
                volume=None,
            ),
        ],
        zotero_schema,
    )
    search_import = spark.createDataFrame(
        [
            ("M1", "מחקר על שוויון", 'תשע"ה. 2015', "הוצאה", "כהן, א", "ראו www.x.org.il", "x.org.il", "בריאות", "book", "gov", "שוויון", "heb eng"),
            ("", "no key - dropped", "2001", None, None, None, None, None, None, None, None, None),
            ("None", "none key - dropped", "2002", None, None, None, None, None, None, None, None, None),
            ("M2", "דו\"ח שנתי", "בשנת 1999", "None", None, None, None, "תעסוקה", None, None, None, "heb"),
        ],
        "migdar_id string, title string, pubyear string, publisher string, author string, "
        "notes string, url string, `Life Domains` string, `Item Type` string, "
        "`Resource Type` string, tags string, language_code string",
    )
    datasets_wide = spark.createDataFrame(
        [
            ("שכר נשים", "גברים", "קו", "אחוזים", "http://cbs.gov.il", "52.1", "54,000", None),
            (None, "נשים", "קו", "אחוזים", "http://cbs.gov.il", "48.9%", "51,000", "49.5"),
            ("תעסוקה", "כולם", "עמודות", "מספר", None, None, "1,234", "5678"),
        ],
        "chart_title string, series_title string, chart_type string, units string, "
        "source_url string, `2010` string, `2011` string, `2012` string",
    )
    return {
        "translations": translations,
        "orgs": orgs,
        "zotero_items": zotero_items,
        "search_import": search_import,
        "datasets_wide": datasets_wide,
    }


@pytest.fixture(scope="module")
def run_report(spark, fixtures, tmp_path_factory):
    data_dir = str(tmp_path_factory.mktemp("pipeline_stages"))
    ctx = PipelineContext(
        spark=spark,
        data_dir=data_dir,
        sources=fixtures,
        params={"base_url": "https://example.org"},
        now="2026-01-01T00:00:00Z",
    )
    graph = build_reference_graph()
    report = graph.run(ctx)
    return ctx, report


def test_all_pipelines_ran(run_report):
    _, report = run_report
    assert set(report) == {
        "organisations",
        "datasets",
        "dataset_assets",
        "zotero_fetch",
        "publications",
        "sitemap",
        "broken_links",
    }
    for name, stats in report.items():
        assert "resources" in stats, name


def test_topo_order_dependencies_first():
    graph = build_reference_graph()
    order = graph.topo_order()
    assert order.index("zotero_fetch") < order.index("publications")
    assert order.index("datasets") < order.index("dataset_assets")
    assert order.index("publications") < order.index("sitemap")


def test_concurrent_report_matches_a_serial_replay(run_report, tmp_path):
    # the serial reference: every stage in topo order, one at a time
    ctx, report = run_report
    graph = build_reference_graph()
    serial_ctx = dataclasses.replace(ctx, data_dir=str(tmp_path))
    serial = {}
    for name in graph.topo_order():
        with cache_scope():
            manifest = dump_to_path(
                graph.pipelines[name].flow(serial_ctx), serial_ctx.stage_dir(name), name=name
            )
        serial[name] = {
            r: {"count_of_rows": d["count_of_rows"], "hash": d["hash"]}
            for r, d in manifest["resources"].items()
        }
    assert list(report) == graph.topo_order()
    assert {n: stats["resources"] for n, stats in report.items()} == serial


def test_organisations_semantics(run_report):
    ctx, _ = run_report
    orgs = ctx.stage("organisations", "orgs")
    rows = {r["doc_id"]: r for r in orgs.collect()}
    # dedup suffix: second 580001 became 580001.1 (organisations.py:44-52)
    assert "org/580001" in rows and "org/580001.1" in rows
    # URL repair (i18n.py:169-183)
    assert rows["org/580001"]["org_website"] == "http://org-a.org.il"
    # split_and_translate produced the 4 array fields
    assert rows["org/580001"]["life_areas__en"] == ["Health", "Employment"]
    assert rows["org/580002"]["life_areas"] == ["בריאות"]  # en key -> hebrew


def test_publications_semantics(run_report):
    ctx, _ = run_report
    pubs = ctx.stage("publications", "publications")
    rows = {r["migdar_id"]: r for r in pubs.collect()}
    # blank/'None' keys dropped (publications.py:93); zotero union adds Z1
    assert set(rows) == {"M1", "M2", "Z1"}
    assert rows["M1"]["year"] == 2015
    assert rows["Z1"]["year"] == 2009
    # 'None' publisher normalized to NULL (publications.py:66-72)
    assert rows["M2"]["publisher"] is None
    # zotero aliasing: publisher from publication, authors assembled
    assert rows["Z1"]["publisher"] == "Journal X"
    assert rows["Z1"]["authors"] == "Ada L, ACME Inst"
    # anchor rewrite in notes (common.py:17-23)
    assert '<a href="http://z.example/a"' in rows["Z1"]["notes"]
    assert rows["M1"]["doc_id"] == "publications/M1"


def test_datasets_semantics(run_report):
    ctx, _ = run_report
    charts = ctx.stage("datasets", "datasets")
    rows = {r["chart_title"]: r for r in charts.collect()}
    # forward fill: the null chart_title row joined 'שכר נשים' (datasets.py:303-309)
    assert set(rows) == {"שכר נשים", "תעסוקה"}
    wages = rows["שכר נשים"]
    assert wages["num_datasets"] == 2
    assert wages["chart_type"] == "line"
    series = {s["series_title"]: s["dataset"] for s in wages["series"]}
    men = {p["x"]: p["y"] for p in series["גברים"]}
    women = {p["x"]: p["y"] for p in series["נשים"]}
    # % stripped, ',' group chars stripped (datasets.py:130-147,345)
    assert men == {"2010": 52.1, "2011": 54000.0}
    assert women == {"2010": 48.9, "2011": 51000.0, "2012": 49.5}
    assert wages["doc_id"].startswith("dataset/")


def test_sitemap_and_assets(run_report):
    ctx, _ = run_report
    urls = ctx.stage("sitemap", "sitemap_urls")
    locs = [r["loc"] for r in urls.collect()]
    assert all(u.startswith("https://example.org/") for u in locs)
    # one per distinct doc: 3 pubs + 3 orgs + 2 charts
    assert len(locs) == len(set(locs)) == 8
    index = ctx.stage("dataset_assets", "asset_index")
    assert index.count() == 2  # one grid per chart doc


def test_broken_links_url_dedup(run_report):
    ctx, _ = run_report
    links = ctx.stage("broken_links", "all_links")
    urls = [r["url"] for r in links.collect()]
    # first-seen dedup across docs: http://b.org appears in 2 org fields once
    assert len(urls) == len(set(urls))
    assert "http://b.org" in urls
    # anchor-tag href URLs extracted from notes too
    assert "http://z.example/a" in urls


def _jobs_for_tag(spark, tag):
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty()
    return set(sc.statusTracker().getJobIdsForTag(tag))


def test_stage_jobs_are_tagged_and_the_handoff_runs_none(spark, fixtures, tmp_path):
    # each stage's jobs carry "pipeline:<name>": a stage with no shuffle
    # commits in its one write job, and a stage read launches no job
    ctx = PipelineContext(
        spark=spark,
        data_dir=str(tmp_path),
        sources=fixtures,
        params={"base_url": "https://example.org"},
        now="2026-01-01T00:00:00Z",
    )
    graph = build_reference_graph()
    before = {n: _jobs_for_tag(spark, f"pipeline:{n}") for n in graph.pipelines}
    report = graph.run(ctx)
    jobs = {n: _jobs_for_tag(spark, f"pipeline:{n}") - before[n] for n in graph.pipelines}
    (zotero_job,) = jobs["zotero_fetch"]
    job_data = spark.sparkContext._jsc.sc().statusStore().job(zotero_job)
    assert job_data.description().get() == "zotero_fetch/zotero"
    assert sum(len(j) for j in jobs.values()) == 19, {n: len(j) for n, j in jobs.items()}

    sc = spark.sparkContext
    sc.addJobTag("test:stage-reads")
    try:
        reads = [ctx.stage(n, r) for n, stats in report.items() for r in stats["resources"]]
    finally:
        sc.removeJobTag("test:stage-reads")
    assert len(reads) == 8
    assert not _jobs_for_tag(spark, "test:stage-reads")


def test_stage_read_needs_a_committed_manifest(spark, tmp_path):
    # parquet that a failed write left behind, with no manifest beside it
    ctx = PipelineContext(spark=spark, data_dir=str(tmp_path))
    spark.range(3).write.parquet(os.path.join(ctx.stage_dir("a"), "ids.parquet"))
    with pytest.raises(FileNotFoundError, match="pipeline 'a' .* resource 'ids'"):
        ctx.stage("a", "ids")


def test_skip_materialized_resume(run_report):
    ctx, _ = run_report
    graph = build_reference_graph()
    report2 = graph.run(ctx, skip_materialized=True)
    assert all(stats.get("skipped") for stats in report2.values())


def test_broken_links_with_checker(spark, fixtures, tmp_path):
    # nested so cloudpickle ships it by value (executors can't import tests/)
    def _fake_check(row):
        if row["url"] == "http://b.org":
            return {"status": 404, "error": "HTTP 404"}
        return {"status": 200, "error": None}

    ctx = PipelineContext(
        spark=spark,
        data_dir=str(tmp_path),
        sources=fixtures,
        params={"check_url": _fake_check, "link_check_parallelism": 2},
        now="2026-01-01T00:00:00Z",
    )
    graph = build_reference_graph()
    graph.run(ctx, targets=["broken_links"])
    broken = ctx.stage("broken_links", "broken_links")
    rows = {r["url"]: r["error"] for r in broken.collect()}
    assert rows == {"http://b.org": "HTTP 404"}


def test_broken_links_checker_that_always_raises(spark, fixtures, tmp_path):
    # a link check that never succeeds is a broken link, not a healthy one
    def _down(row):
        raise ConnectionError(f"unreachable {row['url']}")

    ctx = PipelineContext(
        spark=spark,
        data_dir=str(tmp_path),
        sources=fixtures,
        params={"check_url": _down, "link_check_parallelism": 2, "link_check_retries": 2},
        now="2026-01-01T00:00:00Z",
    )
    build_reference_graph().run(ctx, targets=["broken_links"])
    broken = {r["url"]: r["error"] for r in ctx.stage("broken_links", "broken_links").collect()}
    urls = {r["url"] for r in ctx.stage("broken_links", "all_links").collect()}
    assert urls and set(broken) == urls
    assert broken == {u: f"ConnectionError: unreachable {u}" for u in urls}


def test_broken_links_checks_each_url_once(spark, fixtures, tmp_path):
    # broken_links and all_links come from one classification of each URL
    calls = spark.sparkContext.accumulator(0)

    def _counting_check(row):
        calls.add(1)
        return {"status": 200, "error": None}

    ctx = PipelineContext(
        spark=spark,
        data_dir=str(tmp_path),
        sources=fixtures,
        params={"check_url": _counting_check, "link_check_parallelism": 2},
        now="2026-01-01T00:00:00Z",
    )
    build_reference_graph().run(ctx, targets=["broken_links"])
    n = ctx.stage("broken_links", "all_links").count()
    assert n and calls.value == n, f"checker ran {calls.value / n:.1f}x per URL"


def test_link_checks_run_link_check_parallelism_at_a_time(spark, fixtures, tmp_path):
    lock = threading.Lock()
    state = {"now": 0, "max": 0, "calls": 0}

    def _slow_check(row):
        with lock:
            state["now"] += 1
            state["calls"] += 1
            state["max"] = max(state["max"], state["now"])
        time.sleep(0.02)
        with lock:
            state["now"] -= 1
        return {"status": 200, "error": None}

    ctx = PipelineContext(
        spark=spark,
        data_dir=str(tmp_path),
        sources=fixtures,
        params={"check_url": _slow_check, "link_check_parallelism": 2},
        now="2026-01-01T00:00:00Z",
    )
    build_reference_graph().run(ctx, targets=["broken_links"])
    n = ctx.stage("broken_links", "all_links").count()
    assert n > 2 and state["calls"] == n
    assert state["max"] == 2


def test_no_urls_gives_empty_link_resources(spark, fixtures, tmp_path):
    def _never(row):
        raise AssertionError("no URL to check")

    orgs = fixtures["orgs"].withColumn("objective", F.lit(None).cast("string")).withColumn(
        "org_website", F.lit(None).cast("string")
    )
    pubs = fixtures["search_import"].withColumn("notes", F.lit(None).cast("string")).withColumn(
        "url", F.lit(None).cast("string")
    )
    zotero = fixtures["zotero_items"].limit(0)
    ctx = PipelineContext(
        spark=spark,
        data_dir=str(tmp_path),
        sources={**fixtures, "orgs": orgs, "search_import": pubs, "zotero_items": zotero},
        params={"check_url": _never},
        now="2026-01-01T00:00:00Z",
    )
    build_reference_graph().run(ctx, targets=["broken_links"])
    expected = [("doc_id", "string"), ("url", "string"), ("status", "int"), ("error", "string")]
    for resource in ("broken_links", "all_links"):
        out = ctx.stage("broken_links", resource)
        assert out.count() == 0, resource
        assert out.dtypes == expected, resource


def test_first_seen_url_follows_the_resource_order(spark, fixtures, tmp_path):
    # publications are listed before orgs: a URL in the second publication
    # and in every org, the first included, belongs to the publication
    shared = "http://shared.example/x"
    orgs = fixtures["orgs"].withColumn("objective", F.lit(f"see {shared}"))
    pubs = fixtures["search_import"].withColumn(
        "notes", F.when(F.col("migdar_id") == "M2", F.lit(f"see {shared}"))
    )
    ctx = PipelineContext(
        spark=spark,
        data_dir=str(tmp_path),
        sources={**fixtures, "orgs": orgs, "search_import": pubs},
        now="2026-01-01T00:00:00Z",
    )
    build_reference_graph().run(ctx, targets=["broken_links"])
    links = {r["url"]: r["doc_id"] for r in ctx.stage("broken_links", "all_links").collect()}
    assert links[shared] == "publications/M2"


PYTHON_NODES = (
    "ArrowEvalPython",
    "BatchEvalPython",
    "MapInPandas",
    "PythonMapInArrow",
    "FlatMapGroupsInPandas",
)


def test_reference_dag_runs_no_python(spark, fixtures, tmp_path):
    def _check(row):
        return {"status": 200, "error": None}

    ctx = PipelineContext(
        spark=spark,
        data_dir=str(tmp_path),
        sources=fixtures,
        params={"base_url": "https://example.org", "check_url": _check},
        now="2026-01-01T00:00:00Z",
    )
    graph = build_reference_graph()
    graph.run(ctx)
    for name in graph.topo_order():
        for resource, df in graph.pipelines[name].flow(ctx).items():
            plan = df._jdf.queryExecution().executedPlan().toString()
            found = [n for n in PYTHON_NODES if n in plan]
            assert not found, f"{name}/{resource}: {found}"


def test_failed_rerun_is_not_resumed_as_done(spark, tmp_path):
    # a rerun that dies mid-write must not leave the last run's manifest
    # beside overwritten parquet for skip_materialized to trust
    from migdar_data_pipelines_spark.pipelines import Pipeline, PipelineGraph

    fail = []

    def flow(ctx):
        ids = ctx.spark.range(5 if fail else 3)
        more = ids
        if fail:  # "ids" is overwritten, then the write job of "more" raises
            killed = F.when(F.col("id") == 1, F.raise_error(F.lit("write killed")))
            more = ids.select(killed.otherwise(F.col("id")).alias("id"))
        return {"ids": ids, "more": more}

    graph = PipelineGraph([Pipeline("stage", flow)])
    ctx = PipelineContext(spark=spark, data_dir=str(tmp_path))
    graph.run(ctx)
    fail.append(True)
    with pytest.raises(Exception, match="write killed"):
        graph.run(ctx)
    fail.clear()
    report = graph.run(ctx, skip_materialized=True)
    assert not report["stage"].get("skipped")
    assert report["stage"]["resources"]["ids"]["count_of_rows"] == 3


@pytest.mark.parametrize("fails_in", ["flow", "write"])
def test_resume_rebuilds_what_depends_on_a_failed_stage(spark, tmp_path, fails_in):
    # night 1 commits 2 rows; night 2's source has 5 and stage a fails while
    # building its flow or while writing; the resume must rebuild a and its
    # dependent c from the 5 rows, not keep either one's night-1 output
    night = {"rows": 2, "fail": False}

    def flow_a(ctx):
        ids = ctx.spark.range(night["rows"])
        if night["fail"] and fails_in == "flow":
            raise RuntimeError("a failed")
        if night["fail"]:
            killed = F.when(F.col("id") == 4, F.raise_error(F.lit("a failed")))
            ids = ids.select(killed.otherwise(F.col("id")).alias("id"))
        return {"a": ids}

    graph = PipelineGraph(
        [
            Pipeline("a", flow_a),
            Pipeline("c", lambda ctx: {"c": ctx.stage("a", "a")}, dependencies=("a",)),
        ]
    )
    ctx = PipelineContext(spark=spark, data_dir=str(tmp_path))
    graph.run(ctx)
    night.update(rows=5, fail=True)
    with pytest.raises(Exception, match="a failed"):
        graph.run(ctx)
    night["fail"] = False
    report = graph.run(ctx, skip_materialized=True)
    assert report["a"]["resources"]["a"]["count_of_rows"] == 5
    assert report["c"]["resources"]["c"]["count_of_rows"] == 5


def test_failing_stage_releases_its_caches(spark, tmp_path):
    # a flow that raises after persisting must not leak its frames
    from migdar_data_pipelines_spark.operators.caching import scoped_persist
    from migdar_data_pipelines_spark.pipelines import Pipeline, PipelineGraph

    held = []

    def flow(ctx):
        held.append(scoped_persist(ctx.spark.range(3)))
        raise RuntimeError("flow failed")

    ctx = PipelineContext(spark=spark, data_dir=str(tmp_path))
    with pytest.raises(RuntimeError, match="flow failed"):
        PipelineGraph([Pipeline("boom", flow)]).run(ctx)
    assert held and not held[0].storageLevel.useMemory


def test_run_keeps_the_callers_caches(spark, tmp_path):
    # a stage releases only what it persisted itself
    from migdar_data_pipelines_spark.operators.caching import release_scoped, scoped_persist
    from migdar_data_pipelines_spark.pipelines import Pipeline, PipelineGraph

    mine = scoped_persist(spark.range(5))
    staged = []

    def flow(ctx):
        staged.append(scoped_persist(ctx.spark.range(4)))
        return {"ids": staged[0]}

    ctx = PipelineContext(spark=spark, data_dir=str(tmp_path))
    report = PipelineGraph([Pipeline("ids", flow)]).run(ctx)
    assert report["ids"]["resources"]["ids"]["count_of_rows"] == 4
    assert mine.storageLevel.useMemory
    assert not staged[0].storageLevel.useMemory
    release_scoped()
    assert not mine.storageLevel.useMemory


def test_failure_stops_only_its_dependents(spark, tmp_path):
    # dpp semantics: a failing pipeline stops its dependents, not its siblings
    broken = [True]

    def flow_a(ctx):
        if broken:
            raise RuntimeError("stage a failed")
        return {"a": ctx.spark.range(2)}

    graph = PipelineGraph(
        [
            Pipeline("a", flow_a),
            Pipeline("b", lambda ctx: {"b": ctx.spark.range(3)}),
            Pipeline("c", lambda ctx: {"c": ctx.stage("a", "a")}, dependencies=("a",)),
        ]
    )
    ctx = PipelineContext(spark=spark, data_dir=str(tmp_path))
    with pytest.raises(RuntimeError, match="stage a failed") as failure:
        graph.run(ctx)
    assert os.path.exists(os.path.join(ctx.stage_dir("b"), MANIFEST_NAME))
    assert not os.path.exists(ctx.stage_dir("c"))
    assert "not run: c" in "".join(failure.value.__notes__)
    broken.clear()
    report = graph.run(ctx, skip_materialized=True)
    assert report["b"] == {"skipped": True}
    assert report["a"]["resources"]["a"]["count_of_rows"] == 2
    assert report["c"]["resources"]["c"]["count_of_rows"] == 2


def test_stages_inherit_the_callers_local_properties(spark, tmp_path):
    # the caller's job group labels every stage's jobs and can cancel them
    sc = spark.sparkContext
    seen = []

    def flow(ctx):
        seen.append(sc.getLocalProperty("spark.jobGroup.id"))
        return {"ids": ctx.spark.range(2)}

    ctx = PipelineContext(spark=spark, data_dir=str(tmp_path))
    sc.setJobGroup("caller", "a job group set before run")
    try:
        PipelineGraph([Pipeline("probe", flow)]).run(ctx)
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    assert seen == ["caller"]


def test_stage_local_properties_stay_out_of_siblings(spark, tmp_path):
    # each stage starts from its own copy of the caller's properties: what
    # one stage (or Spark's SQL bookkeeping) sets is invisible to another
    sc = spark.sparkContext
    a_set = threading.Event()
    seen = []

    def flow_a(ctx):
        sc.setLocalProperty("migdar.test.stage", "a")
        a_set.set()
        return {"a": ctx.spark.range(2)}

    def flow_b(ctx):
        seen.append(a_set.wait(30))
        seen.append(sc.getLocalProperty("migdar.test.stage"))
        return {"b": ctx.spark.range(2)}

    ctx = PipelineContext(spark=spark, data_dir=str(tmp_path))
    try:
        PipelineGraph([Pipeline("a", flow_a), Pipeline("b", flow_b)]).run(ctx)
    finally:
        sc.setLocalProperty("migdar.test.stage", None)
    assert seen == [True, None]


def test_sibling_stages_overlap_with_their_own_cache_scopes(spark, tmp_path):
    # independent stages run side by side, and one stage's scope exiting
    # leaves a running sibling's cached frames alone
    ctx = PipelineContext(spark=spark, data_dir=str(tmp_path))
    b_manifest = os.path.join(ctx.stage_dir("b"), MANIFEST_NAME)
    frames, seen = {}, {}

    def b_scope_exited():
        return os.path.exists(b_manifest) and not frames["b"].storageLevel.useMemory

    def flow_a(ctx):
        frames["a"] = scoped_persist(ctx.spark.range(11))
        deadline = time.time() + 30
        while not b_scope_exited() and time.time() < deadline:
            time.sleep(0.05)
        seen["b_scope_exited"] = b_scope_exited()
        seen["a_cached"] = frames["a"].storageLevel.useMemory
        return {"a": frames["a"]}

    def flow_b(ctx):
        frames["b"] = scoped_persist(ctx.spark.range(7))
        return {"b": frames["b"]}

    PipelineGraph([Pipeline("a", flow_a), Pipeline("b", flow_b)]).run(ctx)
    assert seen == {"b_scope_exited": True, "a_cached": True}
    assert not frames["a"].storageLevel.useMemory
    assert not frames["b"].storageLevel.useMemory


def test_wide_graph_under_fast_thread_switching(spark, tmp_path):
    # more concurrent stages than cores, with the interpreter switching
    # threads often: every stage commits its own rows, frees its own frame,
    # and the stage depending on all of them sees every committed output
    frames = {}
    names = [f"s{i}" for i in range(8)]

    def leaf(name, n):
        def flow(ctx):
            frames[name] = scoped_persist(ctx.spark.range(n))
            return {"ids": frames[name]}

        return flow

    def union(ctx):
        parts = [ctx.stage(n, "ids") for n in names]
        return {"ids": functools.reduce(DataFrame.unionByName, parts)}

    graph = PipelineGraph(
        [Pipeline(n, leaf(n, i + 1)) for i, n in enumerate(names)]
        + [Pipeline("all", union, dependencies=tuple(names))]
    )
    ctx = PipelineContext(spark=spark, data_dir=str(tmp_path))
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        report = graph.run(ctx)
    finally:
        sys.setswitchinterval(interval)
    assert list(report) == names + ["all"]
    assert [report[n]["resources"]["ids"]["count_of_rows"] for n in names] == list(range(1, 9))
    assert report["all"]["resources"]["ids"]["count_of_rows"] == sum(range(1, 9))
    assert not any(f.storageLevel.useMemory for f in frames.values())
