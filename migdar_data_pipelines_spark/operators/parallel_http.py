"""Y1/S8: per-row I/O (HTTP enrichment / link checking) from a driver pool.

Reference: ``DF.parallelize(check_broken(), 16)`` fans link-checking out to 16
workers with retry/backoff (flows/broken_links.py:46-74,111); judges detail
fetch does per-row GETs with 0.1s pacing (flows/judges.py:16-23).

Design: the rows come to the driver as one Arrow table, a thread pool runs
the fetch function over them with retries and pacing, and the results go
back as a local relation. Each fetch waits on the network, so threads fit,
and no Python worker starts. Like the reference, which checks its links in
one process, the rows are held on the driver. The fetch callable is
injected (SURVEY.md §7.4 "non-deterministic inputs: sessions injected so
tests can pin them"); no live HTTP happens in this repo's tests.
"""

from __future__ import annotations

import time
from concurrent.futures import ThreadPoolExecutor
from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from ..session import local_df


def parallel_enrich(
    df: DataFrame,
    fetch: Callable[[dict], dict],
    result_fields: dict[str, T.DataType],
    parallelism: int = 16,
    retries: int = 3,
    backoff_s: float = 0.0,
    pacing_s: float = 0.0,
) -> DataFrame:
    """Apply ``fetch(row_dict) -> dict`` to every row, ``parallelism``
    calls at a time; returned dict fields are appended as
    ``result_fields``.

    Retries with exponential backoff mirror broken_links.py:46-74; pacing
    mirrors judges.py:18. A row whose fetch raised on every retry is
    reported, not dropped: its ``error`` field holds the last exception as
    ``"<type>: <message>"``. The rows are collected to the driver and the
    result is a local relation, so ``df`` runs once."""
    out_schema = T.StructType(
        list(df.schema.fields)
        + [T.StructField(n, t, True) for n, t in result_fields.items()]
    )

    def run(row: dict) -> dict:
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
        return got

    rows = df.toArrow().to_pylist()
    with ThreadPoolExecutor(max_workers=parallelism) as pool:
        results = list(pool.map(run, rows))
    merged = [{**row, **got} for row, got in zip(rows, results)]
    return local_df(df.sparkSession, merged, out_schema)
