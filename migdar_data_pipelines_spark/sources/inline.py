"""S11: inline literal resource — a Python list of dicts spliced into the plan
(flows/sitemap.py:31-34,64 splices the tags list)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..operators.windows import stamp_ord
from ..session import local_df


def inline_resource(
    spark: SparkSession, rows: list[dict], schema: T.StructType | str | None = None
) -> DataFrame:
    """The rows as a local relation (``schema=None`` lets Arrow infer the
    types), stamped with the order column in list order."""
    return stamp_ord(local_df(spark, rows, schema))
