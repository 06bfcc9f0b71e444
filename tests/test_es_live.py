"""Live Elasticsearch integration for the K3/K6 ES suite (VERDICT r6 #7):
the SAME scenario the contract test asserts request-by-request
(tests/es_scenario.py) run against a REAL cluster, verified by observable
index state — bulk load, the two revision-GC delete_by_query bodies, the
shared docs index's disabled-object value, and create_timestamp
preservation across re-runs.

Env-gated: set ``MIGDAR_ES_URL`` (e.g. http://localhost:9200 — the
reference's docker-compose service) to run; skipped, never deleted, when
unset or unreachable. Mirrors SURVEY §7.4's throwaway-ES integration bar.
"""

import os

import pytest

from tests import es_scenario as sc

ES_URL = os.environ.get("MIGDAR_ES_URL")

pytestmark = pytest.mark.skipif(
    not ES_URL, reason="MIGDAR_ES_URL not set — live ES integration skipped"
)


@pytest.fixture(scope="module")
def es_client():
    # the sink's own client: a reachable MIGDAR_ES_URL is the only
    # requirement
    from migdar_data_pipelines_spark.sinks.es_rest import RestEsClient

    client = RestEsClient(ES_URL, request_timeout=10)
    try:
        if not client.ping():
            pytest.skip(f"Elasticsearch at {ES_URL} not reachable")
    except Exception as exc:  # pragma: no cover - network dependent
        pytest.skip(f"Elasticsearch at {ES_URL} not reachable: {exc}")
    return client


@pytest.fixture()
def clean_indices(es_client):
    for idx in (sc.INDEX, sc.DOCS_INDEX):
        es_client.indices.delete(index=idx, ignore_unavailable=True)
    yield es_client
    for idx in (sc.INDEX, sc.DOCS_INDEX):
        es_client.indices.delete(index=idx, ignore_unavailable=True)


def _seed(client, index, rows):
    ops = []
    for _id, doc in rows:
        ops.append({"index": {"_index": index, "_id": _id}})
        ops.append(doc)
    client.bulk(operations=ops, refresh=True)


def _ids(client, index):
    client.indices.refresh(index=index)
    hits = client.search(index=index, size=100)["hits"]["hits"]
    return {h["_id"]: h["_source"] for h in hits}


def test_es_dumper_live_end_to_end(spark, clean_indices, tmp_path):
    """The scenario's observable end state on a real cluster: loaded docs
    carry the stamp fields, finalize's delete_by_query bodies remove
    exactly the stale seeds (the newer-revision survivor stays), and the
    shared docs index holds real value OBJECTS with no GC applied."""
    from migdar_data_pipelines_spark.sinks import EsSink, es_dumper

    client = clean_indices
    _seed(client, sc.INDEX, sc.STALE_SEED + sc.SURVIVOR_SEED)

    sink = EsSink(hosts=[ES_URL], timeout=10)
    es_dumper(
        sc.docs_frame(spark),
        sc.RESOURCE,
        revision=sc.REVISION,
        path=str(tmp_path / "es"),
        sink=sink,
        now=sc.STAMP_NOW,
    )

    pubs = _ids(client, sc.INDEX)
    assert set(pubs) == sc.EXPECT_PUBS_IDS
    for doc_id, _, n in sc.DOC_ROWS:
        src = pubs[doc_id]
        assert src["revision"] == sc.REVISION
        assert src["score"] == 1.0
        assert src["create_timestamp"] == sc.STAMP_NOW
        assert src["n"] == n

    docs = _ids(client, sc.DOCS_INDEX)
    assert set(docs) == sc.EXPECT_DOCS_IDS
    # value is a real object in _source (disabled-object mapping), never an
    # escaped JSON string
    assert isinstance(docs["d1"]["value"], dict)
    assert docs["d1"]["value"]["title"] == "alpha"
    mapping = client.indices.get_mapping(index=sc.DOCS_INDEX)
    props = mapping[sc.DOCS_INDEX]["mappings"]["properties"]
    assert props["value"] == {"type": "object", "enabled": False}


def test_es_dumper_live_timestamp_preservation(spark, clean_indices, tmp_path):
    """K3's create_timestamp merge on a real cluster: a re-run at a later
    stamp time, fed the live index's timestamp snapshot, keeps the FIRST
    run's create_timestamp for existing docs (dump_to_es.py:82-94)."""
    from pyspark.sql import functions as F

    from migdar_data_pipelines_spark.sinks import EsSink, es_dumper

    client = clean_indices
    sink = EsSink(hosts=[ES_URL], timeout=10)
    df = sc.docs_frame(spark)
    es_dumper(
        df, sc.RESOURCE, revision=sc.REVISION,
        path=str(tmp_path / "es1"), sink=sink, now=sc.STAMP_NOW,
    )

    snapshot = _ids(client, sc.INDEX)
    existing = spark.createDataFrame(
        [(k, v["create_timestamp"]) for k, v in snapshot.items()],
        "doc_id string, create_timestamp double",
    )
    es_dumper(
        df, sc.RESOURCE, revision=sc.REVISION + 1,
        path=str(tmp_path / "es2"), sink=sink,
        existing_timestamps=existing, now=sc.RESTAMP_NOW,
    )

    after = _ids(client, sc.INDEX)
    for doc_id, _, _ in sc.DOC_ROWS:
        assert after[doc_id]["revision"] == sc.REVISION + 1
        assert after[doc_id]["create_timestamp"] == sc.STAMP_NOW  # preserved

    # a genuinely new doc at the later revision gets the later stamp
    extra = spark.createDataFrame([("d9", "delta", 9)], sc.DOC_SCHEMA)
    es_dumper(
        extra, sc.RESOURCE, revision=sc.REVISION + 1,
        path=str(tmp_path / "es3"), sink=sink,
        existing_timestamps=existing, now=sc.RESTAMP_NOW,
    )
    assert _ids(client, sc.INDEX)["d9"]["create_timestamp"] == sc.RESTAMP_NOW
