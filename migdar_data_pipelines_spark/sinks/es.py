"""Elasticsearch sink suite: K3 bulk index + revision GC, K4 mapping
generator, K5 collate, K6 ``es_dumper`` composite.

Reference semantics (datapackage_pipelines_migdar/flows/dump_to_es.py):

- ``BoostingMappingGenerator`` (dump_to_es.py:10-39): Table-Schema type ->
  ES property; ``es:keyword`` forces keyword; string fields with
  ``es:title``/``es:hebrew`` get a hebrew-analyzed subfield; numerics are
  indexed; a ``create_timestamp`` float property is always injected.
- ``my_dump_to_es.finalize`` (dump_to_es.py:43-79): after load, delete docs
  whose ``revision`` is missing or ``< current`` (not on ``*__docs``).
- ``my_dump_to_es.normalizer`` (dump_to_es.py:82-94): preserve
  ``create_timestamp`` of already-indexed docs by pre-reading the index.
- ``collate`` (dump_to_es.py:105-132): fold all non-key columns into one
  ``value`` object; schema becomes (doc_id, revision, score, value).
- ``es_dumper`` (dump_to_es.py:135-171): stamp revision/score/timestamp ->
  per-type index -> dump_to_path -> collate -> shared ``migdar__docs`` index.

Spark-first: everything data-shaped is a DataFrame op (collate is a single
``to_json(struct(...))`` projection; timestamp preservation is a broadcast
left join against the live-index snapshot). Only the physical ES I/O needs a
client, and it has one: the stdlib REST client in ``es_rest.py``, which
builds without contacting the cluster, so the pipeline logic runs without
one (``es_dumper(sink=None)``). The bulk write is executor-parallel via
``df.foreachPartition`` over ``_bulk_partition`` — the driver never holds
the data.
"""

from __future__ import annotations

import time
from functools import partial
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .es_rest import RestEsClient

ES_RESERVED = ("doc_id", "revision", "score", "create_timestamp")


# ---------------------------------------------------------------- K4: mapping
_SPARK_TO_ES: dict[str, str] = {
    "string": "text",
    "long": "long",
    "integer": "long",
    "short": "long",
    "double": "double",
    "float": "float",
    "boolean": "boolean",
    "date": "date",
    "timestamp": "date",
}


def _field_property(field: T.StructField) -> dict[str, Any]:
    meta = field.metadata or {}
    dtype = field.dataType
    # arrays map to their element type in ES (ES has no array type)
    if isinstance(dtype, T.ArrayType):
        dtype = dtype.elementType
    if isinstance(dtype, T.DecimalType):
        type_name = "double"
    elif isinstance(dtype, (T.StructType, T.MapType)):
        # free-form objects (the collated ``value`` field) — dump_to_es.py:124
        type_name = "object"
    else:
        type_name = _SPARK_TO_ES.get(dtype.typeName(), "text")
    prop: dict[str, Any] = {"type": type_name}
    # es:keyword wins over everything (dump_to_es.py:18-19)
    if meta.get("es:keyword"):
        prop["type"] = "keyword"
    elif type_name == "text":
        if meta.get("es:title") or meta.get("es:hebrew"):
            # hebrew-analyzed subfield (dump_to_es.py:21-27)
            prop["fields"] = {"hebrew": {"type": "text", "analyzer": "hebrew"}}
    elif type_name in ("long", "double", "float"):
        prop["index"] = True  # dump_to_es.py:28-29
    if meta.get("es:index") is False:
        prop = {"type": "object", "enabled": False}
    if meta.get("es:boost"):
        prop["boost"] = meta["es:boost"]
    return prop


def es_mapping(schema: T.StructType) -> dict[str, Any]:
    """K4: StructType (+ es:* StructField.metadata) -> ES mapping properties.
    Always injects the ``create_timestamp`` float property
    (dump_to_es.py:32-39)."""
    props = {f.name: _field_property(f) for f in schema.fields}
    props["create_timestamp"] = {"index": True, "type": "float"}
    return {"properties": props}


# ------------------------------------------------------- K3 helpers (as data)
def stamp_es_fields(
    df: DataFrame,
    revision: int,
    score: float = 1.0,
    now: float | None = None,
) -> DataFrame:
    """es_dumper's stamped columns (dump_to_es.py:139-141): revision integer,
    score number, create_timestamp number (seconds since epoch)."""
    now = time.time() if now is None else now
    return (
        df.withColumn("revision", F.lit(int(revision)).cast("long"))
        .withColumn("score", F.lit(float(score)).cast("double"))
        .withColumn("create_timestamp", F.lit(float(now)).cast("double"))
    )


def merge_create_timestamps(
    df: DataFrame, existing: DataFrame, key: str = "doc_id"
) -> DataFrame:
    """K3 normalizer parity (dump_to_es.py:82-94): docs already in the index
    keep their original create_timestamp. ``existing`` is the live-index
    snapshot (doc_id, create_timestamp) — small, so broadcast."""
    ex = F.broadcast(
        existing.select(
            F.col(key).alias("__k"), F.col("create_timestamp").alias("__ts")
        )
    )
    return (
        df.join(ex, df[key] == ex["__k"], "left")
        .withColumn("create_timestamp", F.coalesce("__ts", "create_timestamp"))
        .drop("__k", "__ts")
    )


def revision_gc_queries(revision: int) -> list[dict[str, Any]]:
    """K3 finalize parity (dump_to_es.py:53-70): the two delete_by_query
    bodies — missing revision, and revision < current."""
    return [
        {"bool": {"must_not": {"exists": {"field": "revision"}}}},
        {"range": {"revision": {"lt": revision}}},
    ]


# ---------------------------------------------------------------- K5: collate
def collate(
    df: DataFrame,
    key: str = "doc_id",
    keep: tuple[str, ...] = ("revision", "score"),
    value_col: str = "value",
    as_json: bool = True,
) -> DataFrame:
    """K5 (dump_to_es.py:105-132): fold every column outside
    (doc_id, revision, score, create_timestamp) into a single ``value``
    object column; output schema is exactly (doc_id, revision, score, value).

    Spark idiom: one projection — no shuffle, stays in whole-stage codegen.

    ``as_json=True`` (the parquet/oracle path) serializes ``value`` with
    ``to_json`` (``ignoreNullFields=False`` keeps null keys like the
    reference's dict comprehension). ``as_json=False`` (the ES path) keeps
    ``value`` a STRUCT column tagged ``es:index: False`` so ``es_mapping``
    emits ``{type: object, enabled: false}`` and bulk indexing stores a real
    object in ``_source.value`` — not an escaped JSON string
    (dump_to_es.py:118-124)."""
    folded = [c for c in df.columns if c not in ES_RESERVED]
    value = F.struct(*[F.col(c) for c in folded])
    if as_json:
        value = F.to_json(value, options={"ignoreNullFields": "false"}).alias(value_col)
    else:
        value = value.alias(value_col, metadata={"es:index": False})
    return df.select(F.col(key), *[F.col(c) for c in keep], value)


# -------------------------------------------------------------- K3: the sink
def _bulk_partition(client, index: str, id_col: str, chunk: int, rows) -> None:
    """Index one partition's rows through ``client.bulk`` as NDJSON
    (action, source) pairs, at most ``chunk`` documents per request; runs
    on the executors, so no partition passes through the driver."""
    ops: list[dict[str, Any]] = []
    for r in rows:
        d = r.asDict(True)
        ops += [{"index": {"_index": index, "_id": d[id_col]}}, d]
        if len(ops) >= 2 * chunk:
            client.bulk(operations=ops)
            ops = []
    if ops:
        client.bulk(operations=ops)


class EsSink:
    """K3: bulk index with revision GC. The physical write runs on executors
    (foreachPartition -> bulk), never through the driver; ``finalize`` issues
    the two delete_by_query calls from the driver (dump_to_es.py:43-79)."""

    def __init__(self, hosts: list[str] | None = None, timeout: int = 60, **opts):
        """Builds the ``RestEsClient`` here, which contacts no host, so an
        option the client does not implement (``basic_auth``, ``ca_certs``,
        ...) raises ``TypeError`` before any write instead of being dropped."""
        self.hosts = hosts or ["http://localhost:9200"]
        self.timeout = timeout
        self.opts = opts
        self.client = RestEsClient(self.hosts, request_timeout=timeout, **opts)

    @classmethod
    def from_env(cls, **opts) -> "EsSink":
        """Production switch-on path: configure from the environment —
        ``MIGDAR_ES_HOSTS`` (comma-separated), ``MIGDAR_ES_TIMEOUT``
        (seconds), ``MIGDAR_ES_API_KEY`` (forwarded to the client). The
        reference reads its ES connection the same way (env-provided URL,
        dump_to_es.py via the pipeline env); credential material stays
        outside the repo."""
        import os

        hosts_s = os.environ.get("MIGDAR_ES_HOSTS", "")
        hosts = [h.strip() for h in hosts_s.split(",") if h.strip()] or None
        timeout = int(os.environ.get("MIGDAR_ES_TIMEOUT", "60"))
        api_key = os.environ.get("MIGDAR_ES_API_KEY")
        if api_key:
            opts = {"api_key": api_key, **opts}
        return cls(hosts=hosts, timeout=timeout, **opts)

    def ensure_index(self, index: str, schema: T.StructType) -> dict[str, Any]:
        mapping = es_mapping(schema)
        if not self.client.indices.exists(index=index):
            self.client.indices.create(
                index=index,
                mappings=mapping,
                settings={"index.mapping.coerce": True},  # dump_to_es.py:152
            )
        return mapping

    def write(
        self, df: DataFrame, index: str, id_col: str = "doc_id", chunk: int = 500
    ) -> None:
        """Executor-parallel bulk index; es.mapping.id semantics via id_col.
        Each partition sends ``client.bulk(operations=[action line, source
        line, ...])`` requests of at most ``chunk`` documents."""
        # Fail fast on the driver: the client does not contact the cluster
        # at construction, so an unreachable endpoint would otherwise
        # surface as N executor task failures inside foreachPartition.
        # ping() returns False on any transport error.
        if not self.client.ping():
            raise ConnectionError(
                f"Elasticsearch unreachable at {self.hosts!r} — aborting before "
                "the distributed bulk write"
            )
        df.foreachPartition(partial(_bulk_partition, self.client, index, id_col, chunk))

    def finalize(self, index: str, revision: int) -> None:
        """Revision GC — skipped for the shared ``*__docs`` index
        (dump_to_es.py:49-50)."""
        if index.endswith("__docs"):
            return
        for q in revision_gc_queries(revision):
            self.client.delete_by_query(index=index, query=q)


# ----------------------------------------------------------- K6: composite
def es_dumper(
    df: DataFrame,
    resource_name: str,
    revision: int,
    path: str,
    sink: EsSink | None = None,
    existing_timestamps: DataFrame | None = None,
    now: float | None = None,
) -> DataFrame:
    """K6 (dump_to_es.py:135-171): stamp -> per-type index -> dump_to_path ->
    collate -> shared docs index. With ``sink=None`` the ES writes are skipped
    (dry-run) but the full dataflow — including the parquet stage dump — runs;
    returns the JSON-collated frame (the parquet/oracle view of what lands in
    ``migdar__docs``).

    The frame actually WRITTEN to ``migdar__docs`` collates with
    ``as_json=False``: ``value`` stays a struct tagged ``es:index False``, so
    ``ensure_index`` applies the ``{type: object, enabled: false}`` mapping
    and ``_source.value`` is a real object — reference parity with
    dump_to_es.py:105-132, where the doc value is a dict under an
    index-disabled mapping, never an escaped JSON string."""
    from .package import dump_to_path

    stamped = stamp_es_fields(df, revision, score=1.0, now=now)
    if existing_timestamps is not None:
        stamped = merge_create_timestamps(stamped, existing_timestamps)
    index = f"migdar__{resource_name}"
    if sink is not None:
        sink.ensure_index(index, stamped.schema)
        sink.write(stamped, index)
        sink.finalize(index, revision)
    dump_to_path({resource_name: stamped}, path, primary_keys={resource_name: ["doc_id"]})
    if sink is not None:
        docs_es = collate(stamped, as_json=False)
        sink.ensure_index("migdar__docs", docs_es.schema)
        sink.write(docs_es, "migdar__docs")
    return collate(stamped)


__all__ = [
    "es_mapping",
    "stamp_es_fields",
    "merge_create_timestamps",
    "revision_gc_queries",
    "collate",
    "EsSink",
    "es_dumper",
    "ES_RESERVED",
]
