"""Sinks: K1 dump_to_path + manifest fingerprint, K3-K6 ES suite, K11
checkpoint. Reference: datapackage_pipelines_migdar/flows/dump_to_es.py."""

import json
import os
import threading

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from migdar_data_pipelines_spark.session import local_df
from migdar_data_pipelines_spark.sinks import (
    checkpoint,
    collate,
    dump_to_path,
    es_dumper,
    es_mapping,
    fingerprint,
    merge_create_timestamps,
    revision_gc_queries,
    stamp_es_fields,
)


@pytest.fixture()
def docs(spark):
    return spark.createDataFrame(
        [("d1", "alpha", 3), ("d2", "beta", 7), ("d3", None, 1)],
        "doc_id string, title string, n int",
    )


def test_es_mapping_annotations(spark):
    # dump_to_es.py:16-39 — keyword wins, hebrew subfield on titles, numerics
    # indexed, create_timestamp always injected.
    sch = T.StructType(
        [
            T.StructField("doc_id", T.StringType(), metadata={"es:keyword": True}),
            T.StructField("title", T.StringType(), metadata={"es:title": True}),
            T.StructField("plain", T.StringType()),
            T.StructField("num", T.DoubleType()),
            T.StructField("tags", T.ArrayType(T.StringType())),
            T.StructField("blob", T.StringType(), metadata={"es:index": False}),
        ]
    )
    props = es_mapping(sch)["properties"]
    assert props["doc_id"] == {"type": "keyword"}
    assert props["title"]["fields"]["hebrew"]["analyzer"] == "hebrew"
    assert props["plain"] == {"type": "text"}
    assert props["num"] == {"type": "double", "index": True}
    assert props["tags"]["type"] == "text"  # arrays map to element type
    assert props["blob"] == {"type": "object", "enabled": False}
    assert props["create_timestamp"] == {"index": True, "type": "float"}


def test_collate_folds_value(docs):
    # dump_to_es.py:105-132 — output schema exactly (doc_id, revision, score,
    # value); nulls preserved inside value.
    out = collate(stamp_es_fields(docs, revision=202601, now=0.0))
    assert out.columns == ["doc_id", "revision", "score", "value"]
    row = {r["doc_id"]: json.loads(r["value"]) for r in out.collect()}
    assert row["d1"] == {"title": "alpha", "n": 3}
    assert row["d3"] == {"title": None, "n": 1}


def test_merge_create_timestamps(spark, docs):
    # dump_to_es.py:82-94 — already-indexed docs keep their timestamp.
    stamped = stamp_es_fields(docs, revision=1, now=100.0)
    existing = spark.createDataFrame(
        [("d2", 42.0)], "doc_id string, create_timestamp double"
    )
    out = {
        r["doc_id"]: r["create_timestamp"]
        for r in merge_create_timestamps(stamped, existing).collect()
    }
    assert out == {"d1": 100.0, "d2": 42.0, "d3": 100.0}


def test_revision_gc_queries():
    qs = revision_gc_queries(5)
    assert {"range": {"revision": {"lt": 5}}} in qs
    assert any("must_not" in q.get("bool", {}) for q in qs)


def test_dump_to_path_manifest_and_fingerprint(spark, docs, tmp_path):
    p = str(tmp_path / "pkg")
    manifest = dump_to_path({"docs": docs}, p, csv=True, primary_keys={"docs": ["doc_id"]})
    desc = manifest["resources"]["docs"]
    assert desc["count_of_rows"] == 3
    back = spark.read.parquet(os.path.join(p, "docs.parquet"))
    assert fingerprint(back) == fingerprint(docs)  # order-independent
    assert os.path.exists(os.path.join(p, "manifest.json"))
    assert desc["schema"]["primaryKey"] == ["doc_id"]


def test_manifest_hash_describes_the_written_files(spark, docs, tmp_path):
    # a column that differs per query: a re-run of the lineage would hash
    # other values than the ones on disk
    p = str(tmp_path / "pkg")
    stamped = docs.withColumn("at", F.current_timestamp())
    desc = dump_to_path({"docs": stamped}, p)["resources"]["docs"]
    fp, n = fingerprint(spark.read.parquet(os.path.join(p, "docs.parquet")))
    assert (desc["hash"], desc["count_of_rows"]) == (format(fp, "016x"), n)


def test_observed_hash_of_a_random_column_matches_the_files(spark, docs, tmp_path):
    # the hash is observed on the write itself: it must describe the values
    # written, not those of a second draw of rand()
    p = str(tmp_path / "pkg")
    sc = spark.sparkContext
    sc.setJobDescription("caller")
    try:
        desc = dump_to_path({"docs": docs.withColumn("r", F.rand())}, p)["resources"]["docs"]
        assert sc.getLocalProperty("spark.job.description") == "caller"
    finally:
        sc.setLocalProperty("spark.job.description", None)
    fp, n = fingerprint(spark.read.parquet(os.path.join(p, "docs.parquet")))
    assert (desc["hash"], desc["count_of_rows"]) == (format(fp, "016x"), n)


@pytest.mark.parametrize("empty", ["limit", "where", "local_df"])
def test_dump_to_path_observes_an_empty_frame(spark, docs, tmp_path, empty):
    # an empty write must still deliver its metrics: a missing one would
    # block the observation's get forever
    frames = {
        "limit": lambda: docs.limit(0),
        "where": lambda: docs.where(F.lit(False)),
        "local_df": lambda: local_df(spark, [], "doc_id string, title string, n int"),
    }
    out = {}
    t = threading.Thread(
        target=lambda: out.update(dump_to_path({"docs": frames[empty]()}, str(tmp_path))),
        daemon=True,
    )
    t.start()
    t.join(120)
    assert not t.is_alive(), "dump_to_path blocked on an empty write"
    desc = out["resources"]["docs"]
    assert (desc["count_of_rows"], desc["hash"]) == (0, "0" * 16)


def test_dump_to_path_csv_json_encodes_nested_columns(spark, docs, tmp_path):
    p = str(tmp_path / "pkg")
    dump_to_path({"docs": docs.withColumn("tags", F.array("doc_id"))}, p, csv=True)
    rows = spark.read.option("header", True).csv(os.path.join(p, "docs.csv")).collect()
    assert {r["doc_id"]: r["tags"] for r in rows} == {d: f'["{d}"]' for d in ("d1", "d2", "d3")}


def test_fingerprint_partition_invariant(docs):
    # §5.2.4 determinism: hash survives repartition.
    assert fingerprint(docs.repartition(7)) == fingerprint(docs.coalesce(1))


def test_checkpoint_resume(spark, docs, tmp_path):
    cp = str(tmp_path / "cp")
    out1 = checkpoint(spark, docs, cp, "stage1")
    assert out1.count() == 3
    # second call must NOT re-run upstream: feed a poisoned plan and verify the
    # cached stage is returned instead.
    poisoned = docs.withColumn("boom", F.lit(1) / F.lit(0))
    out2 = checkpoint(spark, poisoned, cp, "stage1")
    assert "boom" not in out2.columns


def test_resumed_checkpoint_launches_no_job(spark, docs, tmp_path):
    """A resumed checkpoint reads its stored rows with the Spark schema its
    manifest records: no schema-inference job and no upstream job."""
    cp = str(tmp_path / "cp")
    checkpoint(spark, docs, cp, "stage1")
    sc = spark.sparkContext
    sc.addJobTag("test:checkpoint-resume")
    try:
        out = checkpoint(spark, docs, cp, "stage1")
    finally:
        sc.removeJobTag("test:checkpoint-resume")
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    assert not set(jsc.statusTracker().getJobIdsForTag("test:checkpoint-resume"))
    assert out.schema == docs.schema


def test_es_dumper_dry_run(spark, docs, tmp_path):
    # K6 composite without a live ES: stage dump runs, collated frame returned.
    out = es_dumper(docs, "pubs", revision=202601, path=str(tmp_path / "es"), now=0.0)
    assert out.columns == ["doc_id", "revision", "score", "value"]
    assert out.count() == 3
    staged = spark.read.parquet(str(tmp_path / "es" / "pubs.parquet"))
    assert staged.filter(F.col("revision") == 202601).count() == 3


@pytest.fixture()
def es_http():
    """A fresh in-process ES HTTP emulator; ``store.requests`` records every
    request the sink sends, from the driver and from the executors."""
    from tests.es_http_emulator import start_emulator

    srv, url, store = start_emulator()
    yield url, store
    srv.shutdown()
    srv.server_close()


def test_es_sink_contract_call_sequence(spark, es_http, tmp_path):
    """K3/K6 contract vs dump_to_es.py:43-171: mapping PUT -> bulk -> the two
    finalize delete_by_query bodies in order for the per-type index; then the
    shared docs index gets an enabled:false object mapping and struct _source
    values, and NO revision GC (dump_to_es.py:49-50). The requests are the
    ones the production write sends over HTTP (driver ping, then
    foreachPartition bulks), recorded by the emulator.

    Inputs and expectations come from tests/es_scenario.py — the SAME
    scenario the env-gated live-ES integration test (test_es_live.py) runs
    against a real cluster, so the recorded requests here and the
    observable index state there verify one behavior."""
    from migdar_data_pipelines_spark.sinks import EsSink

    from tests import es_scenario as sc

    url, store = es_http
    sink = EsSink(hosts=[url], timeout=5)
    # one partition, so each index load is one bulk request
    es_dumper(
        sc.docs_frame(spark).coalesce(1), sc.RESOURCE, revision=sc.REVISION,
        path=str(tmp_path / "es"), sink=sink, now=sc.STAMP_NOW,
    )

    ping = ("GET", "/")  # write's driver fail-fast, before each bulk load
    assert [(m, p) for m, p, _ in store.requests] == [
        ("HEAD", f"/{sc.INDEX}"),  # ensure_index migdar__pubs: exists
        ("PUT", f"/{sc.INDEX}"),   # create
        ping,
        ("POST", "/_bulk"),        # per-type index load
        ("POST", f"/{sc.INDEX}/_delete_by_query"),  # finalize: missing revision
        ("POST", f"/{sc.INDEX}/_delete_by_query"),  # finalize: revision < current
        ("HEAD", f"/{sc.DOCS_INDEX}"),  # ensure_index migdar__docs
        ("PUT", f"/{sc.DOCS_INDEX}"),
        ping,
        ("POST", "/_bulk"),        # shared docs index load
    ]
    calls = [body for m, p, body in store.requests if (m, p) != ping]
    assert len(calls) == 8

    # per-type index: mapping injected create_timestamp, coerce setting on
    create = calls[1]
    assert create["mappings"]["properties"]["create_timestamp"] == {
        "index": True,
        "type": "float",
    }
    assert create["settings"] == {"index.mapping.coerce": True}

    # bulk actions: NDJSON pairs with es.mapping.id semantics on doc_id
    actions = calls[2]
    assert len(actions) == 2 * len(sc.DOC_ROWS)  # (action, source) per doc
    assert actions[0] == {"index": {"_index": sc.INDEX, "_id": "d1"}}
    assert actions[1]["doc_id"] == "d1" and actions[1]["revision"] == sc.REVISION
    assert actions[1]["create_timestamp"] == sc.STAMP_NOW

    # finalize: the exact revision-GC bodies, in reference order — the same
    # bodies whose OBSERVABLE effect (stale seeds deleted, newer revision
    # surviving) the live test asserts
    gc = sc.expected_gc_queries()
    assert calls[3] == {"query": gc[0]}
    assert calls[4] == {"query": gc[1]}

    # docs index: value mapped as a disabled object, _source.value a real
    # object (dict), not an escaped JSON string — and no delete_by_query after
    dmap = calls[6]["mappings"]
    assert dmap["properties"]["value"] == {"type": "object", "enabled": False}
    dactions = calls[7]
    assert dactions[0] == {"index": {"_index": sc.DOCS_INDEX, "_id": "d1"}}
    assert isinstance(dactions[1]["value"], dict)
    assert dactions[1]["value"]["title"] == "alpha"
    assert {a["index"]["_id"] for a in dactions[::2]} == sc.EXPECT_DOCS_IDS
    assert sum(p.endswith("/_delete_by_query") for _, p, _ in store.requests) == 2


def test_es_sink_write_chunks(spark, es_http):
    """A partition's bulk requests carry at most ``chunk`` documents."""
    from migdar_data_pipelines_spark.sinks import EsSink

    url, store = es_http
    df = spark.range(0, 7, 1, 1).selectExpr("CAST(id AS STRING) AS doc_id", "id AS n")
    EsSink(hosts=[url], timeout=5).write(df, "idx", chunk=3)
    bulks = [body for _, p, body in store.requests if p == "/_bulk"]
    assert [len(b) // 2 for b in bulks] == [3, 3, 1]
    assert set(store.indices["idx"]["docs"]) == {str(i) for i in range(7)}


def test_es_sink_from_env(monkeypatch):
    """The production switch-on path: EsSink.from_env reads hosts/timeout/
    api-key from the environment into the client it builds, which contacts
    no host until a call."""
    from migdar_data_pipelines_spark.sinks.es import EsSink

    monkeypatch.setenv("MIGDAR_ES_HOSTS", "https://es1:9200, https://es2:9200")
    monkeypatch.setenv("MIGDAR_ES_TIMEOUT", "30")
    monkeypatch.setenv("MIGDAR_ES_API_KEY", "secret")
    sink = EsSink.from_env()
    assert sink.hosts == ["https://es1:9200", "https://es2:9200"]
    assert sink.timeout == 30
    assert sink.opts["api_key"] == "secret"
    assert sink.client._headers["Authorization"] == "ApiKey secret"

    monkeypatch.delenv("MIGDAR_ES_HOSTS")
    monkeypatch.delenv("MIGDAR_ES_API_KEY")
    sink2 = EsSink.from_env()
    assert sink2.hosts == ["http://localhost:9200"]  # default preserved
    assert "api_key" not in sink2.opts
    assert "Authorization" not in sink2.client._headers


@pytest.mark.parametrize("option", ["basic_auth", "ca_certs"])
def test_es_sink_rejects_options_the_client_does_not_implement(option):
    """An option the REST client cannot honour (auth, TLS CA) fails when the
    sink is built, before any write, instead of being dropped."""
    from migdar_data_pipelines_spark.sinks.es import EsSink

    with pytest.raises(TypeError, match=option):
        EsSink(hosts=["http://127.0.0.1:9"], **{option: "x"})
    with pytest.raises(TypeError, match=option):
        EsSink.from_env(**{option: "x"})


def test_write_training_shards_layout_and_determinism(spark, sf_dir, tmp_path):
    """Shard writer: md5-stable assignment, shard=K dirs, deterministic
    content across re-runs (fingerprint equality), maxRecordsPerFile split."""
    from migdar_data_pipelines_spark.sinks.package import fingerprint
    from migdar_data_pipelines_spark.sinks.shards import (
        shard_assignment,
        write_training_shards,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    p1, p2 = str(tmp_path / "a"), str(tmp_path / "b")
    r1 = write_training_shards(docs, p1, "doc_id", n_shards=4)
    # different partitioning of the SAME data -> identical layout + content
    r2 = write_training_shards(docs.repartition(13), p2, "doc_id", n_shards=4)
    assert r1["rows_per_shard"] == r2["rows_per_shard"]
    assert sorted(r1["rows_per_shard"]) == [0, 1, 2, 3]
    assert sum(r1["rows_per_shard"].values()) == docs.count()

    import os

    dirs = sorted(d for d in os.listdir(p1) if d.startswith("shard="))
    assert dirs == ["shard=0", "shard=1", "shard=2", "shard=3"]

    back1 = spark.read.parquet(p1)
    back2 = spark.read.parquet(p2)
    assert fingerprint(back1) == fingerprint(back2)
    # the persisted shard column matches a fresh recomputation of the rule
    recomputed = back1.withColumn("re", shard_assignment("doc_id", 4))
    assert recomputed.filter("shard <> re").count() == 0

    # file-size bounding: each shard splits into ceil(rows/cap) files
    p3 = str(tmp_path / "c")
    write_training_shards(docs, p3, "doc_id", n_shards=2, max_records_per_file=10)
    files = [
        f
        for d in os.listdir(p3)
        if d.startswith("shard=")
        for f in os.listdir(os.path.join(p3, d))
        if f.endswith(".parquet")
    ]
    import math

    expected = sum(
        math.ceil(n / 10)
        for n in write_training_shards(
            docs, str(tmp_path / "d"), "doc_id", n_shards=2
        )["rows_per_shard"].values()
    )
    assert len(files) == expected
