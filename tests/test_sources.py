"""Source connectors S1/S3/S4/S6-S8/S10/S11: ord stamping, synthetic ids,
paged REST with injected fetchers."""

import json

import pytest
from pyspark.sql import functions as F

from migdar_data_pipelines_spark.operators.windows import ORD
from migdar_data_pipelines_spark.sources.files import (
    indexed_crawl,
    load_csv,
    load_json,
    load_parquet,
)
from migdar_data_pipelines_spark.sources.inline import inline_resource
from migdar_data_pipelines_spark.sources.rest import (
    paginated_rest_source,
    parallel_rest_source,
)


def test_load_csv_ord_and_infer_strings(spark, tmp_path):
    p = str(tmp_path / "a.csv")
    with open(p, "w") as f:
        f.write("migdar_id,n\nM1,1\nM2,2\nM3,3\n")
    df = load_csv(spark, p, infer_strings=True)
    assert ORD in df.columns
    rows = df.orderBy(ORD).collect()
    assert [r["migdar_id"] for r in rows] == ["M1", "M2", "M3"]
    assert dict(df.dtypes)["n"] == "string"  # INFER_STRINGS strategy
    typed = load_csv(spark, p)
    assert dict(typed.dtypes)["n"] in ("int", "bigint")


def test_load_parquet_roundtrip(spark, tmp_path):
    p = str(tmp_path / "stage")
    spark.range(5).write.parquet(p)
    assert load_parquet(spark, p).count() == 5
    assert ORD in load_parquet(spark, p, stamp_ord=True).columns


def test_load_json(spark, tmp_path):
    p = str(tmp_path / "payload.json")
    with open(p, "w") as f:
        json.dump([{"k": "a", "v": 1}, {"k": "b", "v": 2}], f)
    df = load_json(spark, p)
    assert {r["k"] for r in df.collect()} == {"a", "b"}
    assert ORD in df.columns


def test_indexed_crawl_synthetic_ids(spark, tmp_path):
    # S10: per-search dirs, ids synthesized as <search_id>-<rownum>
    paths = []
    for search in ("s01", "s02"):
        d = tmp_path / search
        d.mkdir()
        p = str(d / "records.csv")
        with open(p, "w") as f:
            f.write("title\nx\ny\n")
        paths.append(p)
    df = indexed_crawl(spark, paths, infer_strings=True)
    ids = sorted(r["migdar_id"] for r in df.collect())
    assert ids == ["s01-1", "s01-2", "s02-1", "s02-2"]


def test_inline_resource(spark):
    df = inline_resource(
        spark, [{"doc_id": "a"}, {"doc_id": "b"}], "doc_id string"
    )
    assert [r["doc_id"] for r in df.orderBy(ORD).collect()] == ["a", "b"]


def test_paginated_rest_source(spark):
    # sequential cursor: 2 full pages + a short one (zotero.py:34-45)
    calls = []

    def fetch(start, size):
        calls.append(start)
        total = 250
        return [
            {"key": f"Z{i}", "n": i} for i in range(start, min(start + size, total))
        ]

    df = paginated_rest_source(spark, fetch, page_size=100)
    assert df.count() == 250
    assert calls == [0, 100, 200]
    first = df.orderBy(ORD).first()
    assert first["key"] == "Z0"


def test_paginated_rest_source_refuses_to_truncate(spark):
    # a feed still returning full pages at max_pages is longer than the limit
    def fetch(start, size):
        return [{"key": f"Z{i}"} for i in range(start, start + size)]

    with pytest.raises(RuntimeError, match="max_pages=3"):
        paginated_rest_source(spark, fetch, page_size=100, max_pages=3)


def test_parallel_rest_source(spark):
    def fetch(start, size):
        return [{"key": f"Z{i}"} for i in range(start, start + size)]

    df = parallel_rest_source(spark, fetch, n_pages=4, page_size=10)
    assert df.count() == 40
    keys = {
        json.loads(r["payload"])["key"] for r in df.collect()
    }
    assert keys == {f"Z{i}" for i in range(40)}


def test_load_parquet_merge_schema_across_stage_generations(spark, tmp_path):
    """A later stage added a column: mergeSchema reconciles the union schema
    with nulls for the old generation; default strict mode keeps the
    single-footer schema (cheap path) and must not invent columns."""
    from migdar_data_pipelines_spark.sources.files import load_parquet

    v1 = str(tmp_path / "gen=1")
    v2 = str(tmp_path / "gen=2")
    spark.createDataFrame([(1, "a")], "id long, name string").write.parquet(v1)
    spark.createDataFrame(
        [(2, "b", 9.5)], "id long, name string, score double"
    ).write.parquet(v2)

    merged = load_parquet(spark, [v1, v2], merge_schema=True)
    assert set(merged.columns) == {"id", "name", "score"}
    rows = {r["id"]: r["score"] for r in merged.collect()}
    assert rows == {1: None, 2: 9.5}

    strict = load_parquet(spark, [v1, v2])
    assert set(strict.columns).issubset({"id", "name", "score"})
