"""S6-S8: REST / JSON-API sources with injected fetchers.

Reference: the Zotero source pages through a JSON API 100 items at a time
(flows/zotero.py:34-45); judges fetches tribunal/judge lists (judges.py:6-13)
and per-row details (judges.py:16-23). All network I/O here is behind an
injected ``fetch_page`` callable (tests pin it; production supplies a real
HTTP session) — import-time side effects and live sessions are explicitly
banned (SURVEY.md §7.4).

Two strategies:
  * driver-side sequential paging (faithful to the reference's sequential
    cursor) -> ``session.local_df``;
  * executor-parallel paging over a page-index DataFrame via mapInPandas when
    the API supports random-access pages (the 100 TB-friendly path).
"""

from __future__ import annotations

import json
from typing import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators.windows import ORD, stamp_ord
from ..session import local_df
from .._serde import register_self_contained

register_self_contained(__name__)


def paginated_rest_source(
    spark: SparkSession,
    fetch_page: Callable[[int, int], list[dict]],
    page_size: int = 100,
    schema: T.StructType | str | None = None,
    max_pages: int = 10_000,
) -> DataFrame:
    """Sequential cursor paging (zotero.py:34-45): call
    ``fetch_page(start, page_size)`` until a short/empty page. A feed still
    returning full pages after ``max_pages`` raises rather than pass a
    truncated result off as complete."""
    rows: list[dict] = []
    for start in range(0, max_pages * page_size, page_size):
        page = fetch_page(start, page_size)
        rows.extend(page)
        if len(page) < page_size:
            return stamp_ord(local_df(spark, rows, schema))
    raise RuntimeError(
        f"paginated source returned a full page at each of max_pages={max_pages} "
        f"pages ({len(rows)} rows); the feed is longer than the limit"
    )


def parallel_rest_source(
    spark: SparkSession,
    fetch_page: Callable[[int, int], list[dict]],
    n_pages: int,
    page_size: int = 100,
    result_schema: str = "payload string",
) -> DataFrame:
    """Random-access paging fanned out across executors: a page-index
    DataFrame -> mapInPandas, each task pulling its pages. Rows come back as
    JSON strings to keep the UDF schema stable; parse with from_json."""
    pages = spark.range(n_pages).withColumnRenamed("id", "page")

    def pull(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for page in pdf["page"]:
                for item in fetch_page(int(page) * page_size, page_size):
                    out.append({"payload": json.dumps(item, ensure_ascii=False)})
            yield pd.DataFrame(out, columns=["payload"])

    return pages.mapInPandas(pull, schema=result_schema).withColumn(
        ORD, F.monotonically_increasing_id()
    )
