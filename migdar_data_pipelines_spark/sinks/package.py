"""Package sinks: K1 ``dump_to_path``, K10 ``printer``, K11 ``checkpoint``.

The reference hands data between pipelines exclusively via materialized
datapackages (``DF.dump_to_path`` — e.g. flows/judges.py:150,
flows/dump_to_es.py:155, flows/broken_links.py:120) and resumes expensive
phases from ``DF.checkpoint`` (flows/judges.py:132-148,
flows/broken_links.py:95-98).

Spark-first: the canonical stage format is parquet (columnar, splittable,
predicate-pushdown-able) with an optional CSV snapshot for K1 compatibility;
``manifest.json`` carries Table Schema + es:* metadata + the
``{count_of_rows, hash}`` run-stats fingerprint the reference reports per
resource (QUICKSTART.md:312-315).

Scale notes (100 TB): each resource's lineage runs once, in its parquet
write, and that one job also yields the count and the hash: both are
attached to the write as a ``pyspark.sql.Observation``, so they are
computed in the query execution that writes the files and describe the
rows on disk, non-deterministic columns included, with no read-back job.
The manifest also records the frame's exact Spark schema, so a reader
(``read_resource``, behind ``PipelineContext.stage`` and ``checkpoint``)
needs no schema-inference job. The fingerprint
is an order-independent aggregate (sum of per-row xxhash64) with no sort
and no row collect. ``manifest.json`` is removed before the first write and
written last, so a package with a manifest is complete.
``checkpoint`` commits through ``dump_to_path`` rather than caching in
memory so a re-run of the *job* (the reference's resume unit — dpp re-runs
a failed pipeline from its checkpoint) can skip the upstream stages
entirely.
"""

from __future__ import annotations

import os
from contextlib import suppress
from typing import Any

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..schema.manifest import MANIFEST_NAME, read_manifest, write_manifest
from ..schema.table_schema import struct_to_schema


def fingerprint_col(*cols: str) -> Column:
    """The row-hash aggregate behind every content fingerprint: the sum of
    xxhash64 over the JSON encoding of ``struct(*cols)`` per row.
    Accumulated in decimal(38,0): a plain long sum overflows under ANSI mode
    once row counts get large."""
    return F.sum(F.xxhash64(F.to_json(F.struct(*cols))).cast("decimal(38,0)"))


def _fingerprint_aggs(cols: list[str]) -> list[Column]:
    return [fingerprint_col(*cols).alias("fp"), F.count(F.lit(1)).alias("n")]


def _fingerprint_of(row) -> tuple[int, int]:
    return int(row["fp"] or 0) % (1 << 64), int(row["n"])


def fingerprint(df: DataFrame) -> tuple[int, int]:
    """Order-independent content hash: ``(fp, row_count)`` where fp is
    ``fingerprint_col`` over every column, mod 2^64. Stable across
    partitioning/shuffle (§5.2.4 determinism), unlike the reference's
    md5-of-bytes which pins row order."""
    return _fingerprint_of(df.select(*_fingerprint_aggs(df.columns)).collect()[0])


def dump_to_path(
    resources: dict[str, DataFrame],
    path: str,
    name: str = "package",
    csv: bool = False,
    primary_keys: dict[str, list[str]] | None = None,
) -> dict[str, Any]:
    """K1: write every resource as parquet (+ optional CSV snapshot) and a
    manifest.json describing schema/primaryKey/count/fingerprint.

    Each resource's lineage runs once, in its parquet write, and that job
    also observes the resource's count and hash, so the manifest describes
    the rows on disk without reading them back. Each write job is described
    as ``<name>/<resource>``. The previous run's manifest is removed first,
    so a write that fails part-way leaves no manifest and
    ``run(skip_materialized=True)`` re-runs the stage.

    Returns the manifest dict (reference parity: the run-stats summary
    ``{count_of_rows, bytes, hash}`` per resource, QUICKSTART.md:312-315).
    Each descriptor also carries ``spark_schema``, the frame's exact Spark
    schema (``StructType.jsonValue()``), next to the lossy Table Schema.

    Known log noise (Spark 4.1): once a session has used an ``Observation``,
    every later failed query in it also logs ``ERROR ExecutionListenerBus:
    Listener Listener threw an exception`` with a stack trace. Spark's
    observation listener asks the failed query for its observed metrics,
    which re-raises that query's own error. The line repeats the failure;
    it is not a second one, and ``PipelineGraph.run`` re-raises the
    original error.
    """
    primary_keys = primary_keys or {}
    with suppress(FileNotFoundError):
        os.remove(os.path.join(path, MANIFEST_NAME))
    descriptors: dict[str, dict[str, Any]] = {}
    for rname, df in resources.items():
        rel = f"{rname}.parquet"
        target = os.path.join(path, rel)
        sc = df.sparkSession.sparkContext
        caller_description = sc.getLocalProperty("spark.job.description")
        obs = Observation()
        sc.setJobDescription(f"{name}/{rname}")
        try:
            df.observe(obs, *_fingerprint_aggs(df.columns)).write.mode("overwrite").parquet(target)
        finally:
            sc.setLocalProperty("spark.job.description", caller_description)
        fp, n = _fingerprint_of(obs.get)
        desc: dict[str, Any] = {
            "path": rel,
            "schema": struct_to_schema(df.schema, primary_keys.get(rname)),
            "spark_schema": df.schema.jsonValue(),
            "count_of_rows": n,
            "hash": format(fp, "016x"),
        }
        if csv:
            # CSV snapshot for reference-compatible consumers; arrays/structs
            # are JSON-encoded strings there (CSV is typeless in the reference
            # too — everything rides through Table Schema casts).
            written = df.sparkSession.read.schema(df.schema).parquet(target)
            flat = written.select(
                *[
                    F.to_json(c.name).alias(c.name)
                    if c.dataType.typeName() in ("array", "struct", "map")
                    else F.col(c.name)
                    for c in df.schema.fields
                ]
            )
            flat.write.mode("overwrite").option("header", True).csv(
                os.path.join(path, f"{rname}.csv")
            )
            desc["csv_path"] = f"{rname}.csv"
        descriptors[rname] = desc
    write_manifest(path, descriptors, name=name)
    return {"name": name, "resources": descriptors}


def printer(df: DataFrame, num_rows: int = 20) -> DataFrame:
    """K10: ``DF.printer()`` (flows/dump_to_es.py:170 et al)."""
    df.show(num_rows, truncate=False)
    return df


def read_resource(
    spark: SparkSession, path: str, resource: str, owner: str | None = None
) -> DataFrame:
    """Read ``resource`` of the package ``dump_to_path`` committed at
    ``path``, with the Spark schema its manifest records, which launches no
    job. A package with no manifest has no committed output; ``owner``
    names the package in the errors (default: its path)."""
    owner = owner or f"package {path!r}"
    try:
        manifest = read_manifest(path)
    except FileNotFoundError:
        raise FileNotFoundError(
            f"{owner} has no committed output: no {MANIFEST_NAME} "
            f"to read resource {resource!r} from"
        ) from None
    desc = next((r for r in manifest["resources"] if r["name"] == resource), None)
    if desc is None:
        raise KeyError(f"{owner} committed no resource {resource!r}")
    return spark.read.schema(StructType.fromJson(desc["spark_schema"])).parquet(
        os.path.join(path, desc["path"])
    )


def checkpoint(
    spark: SparkSession,
    df: DataFrame,
    checkpoint_dir: str,
    key: str,
    force: bool = False,
) -> DataFrame:
    """K11: ``DF.checkpoint(key)`` — materialize once, resume on re-run
    (flows/judges.py:132-148). The frame is committed as resource ``key``
    of a ``dump_to_path`` package, so a write that failed part-way leaves no
    manifest and is redone. If the keyed package is committed, its stored
    rows are read back with their recorded schema: the upstream plan is
    *not* executed and no job runs."""
    stage = os.path.join(checkpoint_dir, key)
    if force or not os.path.exists(os.path.join(stage, MANIFEST_NAME)):
        dump_to_path({key: df}, stage, name=key)
    return read_resource(spark, stage, key)


__all__ = [
    "dump_to_path",
    "read_resource",
    "printer",
    "checkpoint",
    "fingerprint",
    "fingerprint_col",
]
