"""The seven reference pipelines re-expressed Spark-first.

pipeline-spec.yaml:1-45 declares: ``organisations`` (02:02 cron),
``datasets`` (02:02), ``dataset-assets`` (depends on datasets),
``zotero_fetch`` (10:10), ``publications`` (depends on zotero_fetch),
``sitemap`` (02:02, depends on the entity pipelines), ``broken_links``.

Each flow here is the reference pipeline's dataflow re-built from the engine
operator library (SURVEY.md §2 inventory), with external inputs injected via
``ctx.sources`` (production: connector outputs from ``sources/``; tests:
FIXTURES.md-shaped frames). Inter-pipeline reads go through ``ctx.stage`` —
materialized parquet, like the reference's datapackage handoff.

Flows collect to the driver only what the reference holds in one process:
the distinct values of a translated field, the distinct URLs to check, and
the protocol-bounded sinks (sitemap <=50k URLs, Excel chart docs). Everything
else is plain DataFrame lineage that Catalyst plans.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.concatenate import concatenate
from ..operators.core import add_field, filter_rows
from ..operators.joins import join_self
from ..operators.textops import (
    clip_field,
    extract_year,
    fix_url,
    md5_doc_id,
    normalize_none_strings,
    recode_map,
    rewrite_links_as_anchors,
    split_to_array,
)
from ..operators.translate import TranslationTable, split_and_translate
from ..operators.unpivot import unpivot_regex
from ..operators.windows import (
    ORD,
    dedup_suffix,
    explode_dedup,
    forward_fill,
    stamp_ord,
)
from ..session import local_df
from .framework import Pipeline, PipelineContext, PipelineGraph

# --------------------------------------------------------------------------
# alias maps (FIXTURES.md F1-F3; reference mappings cited per flow)
# --------------------------------------------------------------------------

# flows/zotero.py:9-24 — API field -> canonical
ZOTERO_FIELDS: dict[str, list[str] | None] = {
    "migdar_id": ["key"],
    "title": None,
    "pubyear": ["date"],
    "publisher": ["institution", "publication", "publicationTitle"],
    "notes": ["abstractNote"],
    "languages": ["language"],
    "item_kind": None,
    "authors": None,
    "life_areas": None,
    "source_kind": None,
    "tags": ["plain_tags"],
    "url": None,
}

# flows/publications.py:95-118 — union of search_import + zotero, canonical
PUBLICATION_FIELDS: dict[str, list[str] | None] = {
    "migdar_id": None,
    "title": None,
    "pubyear": None,
    "publisher": None,
    "authors": ["author"],
    "notes": None,
    "url": None,
    "life_areas": ["Life Domains"],
    "item_kind": ["Item Type"],
    "source_kind": ["Resource Type"],
    "tags": None,
    "languages": ["language_code"],
}

# flows/organisations.py:11-42 — Hebrew headers -> canonical (fixture uses
# canonical + a couple of alias spellings)
ORG_FIELDS: dict[str, list[str] | None] = {
    "entity_id": ["Entity ID"],
    "org_name": ["שם הארגון"],
    "org_name__en": ["Organisation Name"],
    "org_kind": None,
    "objective": None,
    "life_areas": None,
    "languages": None,
    "regions": None,
    "year_founded": None,
    "org_website": None,
    "org_email_address": None,
}


def _translation_table(ctx: PipelineContext) -> TranslationTable:
    """X1 (flows/i18n.py:50-77): the merged translation tabs as one
    broadcastable lookup (key column ``key``; hebrew/english/arabic)."""
    return TranslationTable(ctx.source("translations"), key="key")


# --------------------------------------------------------------------------
# 1. organisations (flows/organisations.py)
# --------------------------------------------------------------------------
def organisations_flow(ctx: PipelineContext) -> dict[str, DataFrame]:
    src = stamp_ord(ctx.source("orgs"))
    df = concatenate([src], ORG_FIELDS, keep_ord=ORD)
    # organisations.py:44-52: duplicate entity ids get .1/.2 suffixes
    df = dedup_suffix(df, "entity_id", order_col=ORD)
    # organisations.py:59: scheme-less websites repaired
    df = df.withColumn("org_website", fix_url("org_website"))
    # organisations.py:91-93: raw URLs in objectives become anchor tags
    df = df.withColumn("objective", rewrite_links_as_anchors("objective"))
    # organisations.py:73-81: multi-value fields split + translated
    df = split_and_translate(df, "life_areas", _translation_table(ctx))
    # organisations.py:85-89: doc_id = org/<entity_id>
    df = df.withColumn("doc_id", F.concat(F.lit("org/"), F.col("entity_id")))
    return {"orgs": df.drop(ORD)}


# --------------------------------------------------------------------------
# 2. zotero_fetch (flows/zotero.py)
# --------------------------------------------------------------------------
def zotero_flow(ctx: PipelineContext) -> dict[str, DataFrame]:
    items = stamp_ord(ctx.source("zotero_items"))
    # zotero.py:95: title required
    items = filter_rows(items, F.col("title").isNotNull() & (F.col("title") != ""))
    # zotero.py:48-52: tags objects -> plain strings
    items = items.withColumn("all_tags", F.transform("tags", lambda t: t["tag"]))
    # zotero.py:55-89: Domain_* / Source_|Resource_* prefixed tags split out,
    # remaining tags kept plain
    items = (
        items.withColumn(
            "life_areas",
            F.transform(
                F.filter("all_tags", lambda t: t.startswith("Domain_")),
                lambda t: F.regexp_replace(t, "^Domain_", ""),
            ),
        )
        .withColumn(
            "source_kind",
            F.transform(
                F.filter(
                    "all_tags",
                    lambda t: t.startswith("Source_") | t.startswith("Resource_"),
                ),
                lambda t: F.regexp_replace(t, "^(Source_|Resource_)", ""),
            ),
        )
        .withColumn(
            "plain_tags",
            F.filter(
                "all_tags",
                lambda t: ~(
                    t.startswith("Domain_")
                    | t.startswith("Source_")
                    | t.startswith("Resource_")
                ),
            ),
        )
    )
    # zotero.py:99-109: authors from creator structs where creatorType=author
    author_name = lambda c: F.coalesce(  # noqa: E731
        c["name"], F.concat_ws(" ", c["firstName"], c["lastName"])
    )
    items = items.withColumn(
        "authors",
        F.array_join(
            F.transform(
                F.filter("creators", lambda c: c["creatorType"] == "author"),
                author_name,
            ),
            ", ",
        ),
    )
    # zotero.py:110-111: itemKind coalesced from reportType
    items = items.withColumn("item_kind", F.coalesce("reportType", "itemKind"))
    # stage handoff is CSV-shaped in the reference (zotero.csv reloaded by
    # publications.py:94): multi-value fields ride as comma-joined strings
    # and split_and_translate re-splits them downstream.
    for c in ("life_areas", "source_kind", "plain_tags"):
        items = items.withColumn(c, F.array_join(c, ", "))
    out = concatenate([items], ZOTERO_FIELDS, keep_ord=ORD)
    return {"zotero": out.drop(ORD)}


# --------------------------------------------------------------------------
# 3. publications (flows/publications.py; depends on zotero_fetch)
# --------------------------------------------------------------------------
def publications_flow(ctx: PipelineContext) -> dict[str, DataFrame]:
    # publications.py:84-93 base_flow: the search_import frame comes from the
    # Google-Sheets tab sweep (S2) unless a test/caller injects it directly.
    # The connector's one session rides in ctx.params — no live sessions at
    # import time (SURVEY §7.4).
    if ctx.has_source("search_import"):
        search_import = stamp_ord(ctx.source("search_import"))
    else:
        from ..sources.sheets import sheets_tabs_source

        search_import = sheets_tabs_source(
            ctx.spark,
            ctx.params["sheets_doc_id"],
            session=ctx.params.get("sheets_session"),
            api_key=ctx.params.get("sheets_api_key"),
        )
    zotero = stamp_ord(ctx.stage("zotero_fetch", "zotero"))
    df = concatenate([search_import, zotero], PUBLICATION_FIELDS, keep_ord=ORD)
    # publications.py:93: drop rows with empty/'None' keys
    df = filter_rows(
        df,
        F.col("migdar_id").isNotNull()
        & ~F.col("migdar_id").isin("", "None"),
    )
    # publications.py:66-80: 'None' strings -> NULL; key clipped to 200 chars
    df = normalize_none_strings(df)
    df = df.withColumn("migdar_id", clip_field("migdar_id", 200))
    # publications.py:51-63,125-126: year regex from dirty pubyear
    df = df.withColumn("year", extract_year("pubyear"))
    # publications.py:120,132: URL repair + anchor rewrite
    df = df.withColumn("url", fix_url("url"))
    df = df.withColumn("notes", rewrite_links_as_anchors("notes"))
    # publications.py:127-131: split+translate the multi-value fields
    df = split_and_translate(df, "life_areas", _translation_table(ctx))
    # publications.py:134-138: doc_id = publications/<migdar_id>
    df = df.withColumn("doc_id", F.concat(F.lit("publications/"), F.col("migdar_id")))
    return {"publications": df.drop(ORD)}


# --------------------------------------------------------------------------
# 4. datasets (flows/datasets.py — the wide-sheet chart pipeline)
# --------------------------------------------------------------------------
# datasets.py:293-298 — Hebrew chart-type labels (fixture uses the codes)
CHART_TYPES = {
    "קו": "line",
    "עמודות": "bars",
    "עמודות מוערמות": "stacked",
    "עוגה": "pie",
}

YEAR_COL_RE = r"^((?:19|20)\d{2})"


def datasets_flow(ctx: PipelineContext) -> dict[str, DataFrame]:
    wide = stamp_ord(ctx.source("datasets_wide"))
    # datasets.py:303-309: chart_title forward-filled down the sheet
    wide = forward_fill(wide, "chart_title", order_col=ORD)
    # datasets.py:130-137: rows without a chart title are skipped
    wide = filter_rows(wide, F.col("chart_title").isNotNull())
    wide = add_field(wide, "order_index", "long", F.col(ORD))

    # datasets.py:323-334: melt year-pattern columns into (year, value)
    long = unpivot_regex(wide, YEAR_COL_RE, "year", "value")
    # datasets.py:130-147,345: strip % and thousands separators, cast
    cleaned_val = F.regexp_replace(F.regexp_replace("value", "%", ""), ",", "")
    long = long.withColumn(
        "value", F.trim(cleaned_val).try_cast("decimal(38,10)")
    ).filter(F.col("value").isNotNull())

    # datasets.py:276-300: chart-type recode (unknown -> hard fail is the
    # reference; engine keeps nulls visible for the validate pass)
    long = long.withColumn(
        "chart_type", recode_map("chart_type", CHART_TYPES, default=None)
    )

    # datasets.py:364-376: series rollup — per (chart_title, series_title):
    # (year, value) pairs in sheet order. Collected as ONE struct array: all
    # melted rows of a wide row share the same __ord, so collecting year and
    # value as two separately-sorted arrays would tie-break each by its own
    # value and scramble the pairing.
    long = long.withColumn("pair", F.struct(F.col("year"), F.col("value")))
    series = join_self(
        long,
        keys=["chart_title", "series_title"],
        fields={
            "chart_type": None,
            "units": None,
            "source_url": None,
            "order_index": {"aggregate": "min", "name": "order_index"},
            "pair": {"aggregate": "array", "name": "pairs"},
        },
        order_col=ORD,
    )
    # datasets.py:378-389: dataset = array<struct<x,y>>
    series = series.withColumn(
        "dataset",
        F.transform(
            "pairs",
            lambda p: F.struct(
                p["year"].alias("x"), p["value"].cast("double").alias("y")
            ),
        ),
    ).drop("pairs")

    # datasets.py:391-403: chart rollup — collect series (ordered), count,
    # max year
    charts = join_self(
        series.withColumn(
            "series",
            F.struct(
                F.col("series_title").alias("series_title"), F.col("dataset").alias("dataset")
            ),
        ),
        keys=["chart_title"],
        fields={
            "chart_type": None,
            "units": None,
            "source_url": None,
            "series": {"aggregate": "array", "name": "series"},
            "series_title": {"aggregate": "count", "name": "num_datasets"},
        },
        order_col="order_index",
    )
    # datasets.py:430-436: doc_id = dataset/ + md5(chart_title)[:16]
    charts = charts.withColumn("doc_id", md5_doc_id("dataset/", "chart_title"))
    charts = charts.withColumn("source_url", fix_url("source_url"))
    return {"datasets": charts}


# --------------------------------------------------------------------------
# 5. dataset-assets (flows/dataset_assets.py; depends on datasets)
# --------------------------------------------------------------------------
def dataset_assets_flow(ctx: PipelineContext) -> dict[str, DataFrame]:
    from ..sinks.web import chart_rows_to_tables

    charts = ctx.stage("datasets", "datasets")
    # K8 re-pivot (dataset_assets.py:21-48) — grids built from the collected
    # (small) chart docs; the asset index resource is a driver-built local
    # relation (``local_df``). The XLSX/PNG renders are driver post-steps
    # (write_excel_assets / screenshot_docs).
    grids = chart_rows_to_tables(r.asDict(True) for r in charts.collect())
    index = local_df(
        ctx.spark,
        [(d, len(g), max(len(r) for r in g)) for d, g in grids.items()],
        "doc_id string, n_rows int, n_cols int",
    )
    return {"asset_index": index}


# --------------------------------------------------------------------------
# 6. sitemap (flows/sitemap.py; depends on the entity pipelines)
# --------------------------------------------------------------------------
def sitemap_flow(ctx: PipelineContext) -> dict[str, DataFrame]:
    base_url = ctx.params.get("base_url", "https://www.yodaat.org")
    docs = []
    for pipeline, resource in (
        ("publications", "publications"),
        ("organisations", "orgs"),
        ("datasets", "datasets"),
    ):
        docs.append(ctx.stage(pipeline, resource).select("doc_id"))
    all_docs = docs[0]
    for d in docs[1:]:
        all_docs = all_docs.unionByName(d)
    # sitemap.py:45: docs without an id are warned+skipped
    urls = (
        all_docs.filter(F.col("doc_id").isNotNull() & (F.col("doc_id") != ""))
        .dropDuplicates(["doc_id"])
        .select(
            F.concat(F.lit(base_url + "/"), F.col("doc_id")).alias("loc"),
            F.lit(ctx.now).alias("lastmod"),
        )
    )
    return {"sitemap_urls": urls}


# --------------------------------------------------------------------------
# 7. broken_links (flows/broken_links.py)
# --------------------------------------------------------------------------
URL_EXTRACT_RE = r"https?://[^\s\"'<>)]+"


def broken_links_flow(ctx: PipelineContext) -> dict[str, DataFrame]:
    """Extract every URL from the entity packages, dedup first-seen, check
    each once (broken_links.py:34-43,86-120). The checker is injected via
    params['check_url'] (production: HTTP HEAD with retries and backoff) and
    runs on a driver thread pool, ``link_check_parallelism`` checks at a
    time (16 by default, like the reference), through
    operators.parallel_http; the distinct URLs are held on the driver."""
    frames = []
    for pipeline, resource, text_cols in (
        ("publications", "publications", ["url", "notes"]),
        ("organisations", "orgs", ["org_website", "objective"]),
    ):
        # broken_links.py:99: URLs pulled out of the full row text
        blob = F.concat_ws(" ", *[F.coalesce(F.col(c), F.lit("")) for c in text_cols])
        frames.append(
            ctx.stage(pipeline, resource).select(
                F.col("doc_id"),
                F.regexp_extract_all(blob, F.lit(URL_EXTRACT_RE), 0).alias("urls"),
            )
        )
    docs = frames[0]
    for f in frames[1:]:
        docs = docs.unionByName(f)
    # R3: one row per URL, first carrying row wins, globally. A union keeps
    # its inputs' partitions in order, so one stamp over it ranks the
    # resources in the order listed, as the reference streams them.
    links = explode_dedup(stamp_ord(docs), "urls", "url", order_col=ORD)

    check_url = ctx.params.get("check_url")
    if check_url is not None:
        from pyspark.sql import types as T

        from ..operators.parallel_http import parallel_enrich

        # a local relation: both resources come from one classification,
        # and each URL is checked once per DAG
        links = parallel_enrich(
            links,
            check_url,
            {"status": T.IntegerType(), "error": T.StringType()},
            parallelism=int(ctx.params.get("link_check_parallelism", 16)),
            retries=int(ctx.params.get("link_check_retries", 3)),
        )
        # broken_links.py:112: only failing links are kept
        broken = links.filter(F.col("error").isNotNull()).drop(ORD)
    else:
        broken = links.withColumn("status", F.lit(None).cast("int")).withColumn(
            "error", F.lit(None).cast("string")
        ).limit(0).drop(ORD)
    return {"broken_links": broken, "all_links": links.drop(ORD)}


# --------------------------------------------------------------------------
# the graph (pipeline-spec.yaml:1-45)
# --------------------------------------------------------------------------
REFERENCE_PIPELINES: list[Pipeline] = [
    Pipeline("organisations", organisations_flow, cron="2 2 * * *"),
    Pipeline("datasets", datasets_flow, cron="2 2 * * *"),
    Pipeline("dataset_assets", dataset_assets_flow, dependencies=("datasets",)),
    Pipeline("zotero_fetch", zotero_flow, cron="10 10 * * *"),
    Pipeline("publications", publications_flow, dependencies=("zotero_fetch",)),
    Pipeline(
        "sitemap",
        sitemap_flow,
        dependencies=("publications", "organisations", "datasets"),
        cron="2 2 * * *",
    ),
    Pipeline(
        "broken_links",
        broken_links_flow,
        dependencies=("publications", "organisations"),
    ),
]


def build_reference_graph() -> PipelineGraph:
    return PipelineGraph(REFERENCE_PIPELINES)


__all__ = [
    "REFERENCE_PIPELINES",
    "build_reference_graph",
    "organisations_flow",
    "zotero_flow",
    "publications_flow",
    "datasets_flow",
    "dataset_assets_flow",
    "sitemap_flow",
    "broken_links_flow",
]
