"""Y1/S8: executor-parallel per-row I/O (HTTP enrichment / link checking).

Reference: ``DF.parallelize(check_broken(), 16)`` fans link-checking out to 16
workers with retry/backoff (flows/broken_links.py:46-74,111); judges detail
fetch does per-row GETs with 0.1s pacing (flows/judges.py:16-23).

Spark-first: ``repartition(n)`` + ``mapInPandas`` — each partition runs the
fetch function over its batch with retries/pacing inside the UDF. The fetch
callable is injected (SURVEY.md §7.4 "non-deterministic inputs: sessions
injected so tests can pin them"); no live HTTP happens in this repo's tests.
"""

from __future__ import annotations

import time
from typing import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from .._serde import register_self_contained

register_self_contained(__name__)


def parallel_enrich(
    df: DataFrame,
    fetch: Callable[[dict], dict],
    result_fields: dict[str, T.DataType],
    parallelism: int = 16,
    retries: int = 3,
    backoff_s: float = 0.0,
    pacing_s: float = 0.0,
) -> DataFrame:
    """Apply ``fetch(row_dict) -> dict`` per row across ``parallelism``
    partitions; returned dict fields are appended as ``result_fields``.

    Retries with exponential backoff mirror broken_links.py:46-74; pacing
    mirrors judges.py:18. A row whose fetch raised on every retry is
    reported, not dropped: its ``error`` field holds the last exception as
    ``"<type>: <message>"``. ``fetch`` must be picklable (top-level
    function)."""
    out_schema = T.StructType(
        list(df.schema.fields)
        + [T.StructField(n, t, True) for n, t in result_fields.items()]
    )
    names = list(result_fields)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            results = {n: [] for n in names}
            for row in pdf.to_dict("records"):
                got: dict = {}
                for attempt in range(retries):
                    try:
                        got = fetch(row) or {}
                        break
                    except Exception as e:
                        if attempt == retries - 1:
                            got = {"error": f"{type(e).__name__}: {e}"}
                        elif backoff_s:
                            time.sleep(backoff_s * (2**attempt))
                if pacing_s:
                    time.sleep(pacing_s)
                for n in names:
                    results[n].append(got.get(n))
            for n in names:
                pdf[n] = results[n]
            yield pdf

    return df.repartition(parallelism).mapInPandas(run, schema=out_schema)
