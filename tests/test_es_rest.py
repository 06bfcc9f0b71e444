"""Transport-level ES suite tests: RestEsClient + EsSink end-to-end over a
REAL HTTP socket (tests/es_http_emulator.py) — genuine NDJSON serialization,
status codes, query-string params, and concurrent executor-side connections
from foreachPartition workers. This is the strongest in-container evidence
for the K3/K6 suite short of a live cluster (no docker daemon / network
here); the SAME scenario module drives tests/test_es_live.py against a real
ES when MIGDAR_ES_URL is set, through the same RestEsClient.
"""

import pytest

from tests import es_scenario as sc
from tests.es_http_emulator import start_emulator


@pytest.fixture(scope="module")
def emulator():
    srv, url, store = start_emulator()
    yield url, store
    srv.shutdown()


@pytest.fixture()
def client(emulator):
    from migdar_data_pipelines_spark.sinks.es_rest import RestEsClient

    url, store = emulator
    store.indices.clear()
    return RestEsClient(url, request_timeout=5)


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


@pytest.fixture(params=["es8", "es7"])
def dialect(request, emulator):
    _, store = emulator
    store.dialect = request.param
    yield request.param
    store.dialect = "es8"


def test_rest_client_roundtrip(client, dialect):
    assert client.ping()
    assert not client.indices.exists(index="missing")
    client.indices.create(
        index="t1",
        mappings={"properties": {"v": {"type": "object", "enabled": False}}},
        settings={"index.mapping.coerce": True},
    )
    assert client.indices.exists(index="t1")
    _seed(client, "t1", [("a", {"revision": 3}), ("b", {"n": 1})])
    assert set(_ids(client, "t1")) == {"a", "b"}
    m = client.indices.get_mapping(index="t1")
    assert m["t1"]["mappings"]["properties"]["v"] == {
        "type": "object",
        "enabled": False,
    }
    # the two revision-GC bodies, evaluated server-side
    client.delete_by_query(
        index="t1", query={"bool": {"must_not": {"exists": {"field": "revision"}}}}
    )
    assert set(_ids(client, "t1")) == {"a"}
    client.delete_by_query(index="t1", query={"range": {"revision": {"lt": 7}}})
    assert _ids(client, "t1") == {}
    client.indices.delete(index="t1")
    assert not client.indices.exists(index="t1")
    # idempotent delete with ignore_unavailable, 404 without
    client.indices.delete(index="t1", ignore_unavailable=True)
    from migdar_data_pipelines_spark.sinks.es_rest import EsRestError

    with pytest.raises(EsRestError):
        client.indices.delete(index="t1")


def test_es_dumper_http_end_to_end(spark, emulator, client, tmp_path):
    """test_es_live.py's first scenario over the HTTP transport: stamped
    bulk load (executor-parallel foreachPartition -> POST /_bulk), the two
    GC delete_by_query bodies removing exactly the stale seeds, and the
    shared docs index holding real value objects with no GC applied."""
    from migdar_data_pipelines_spark.sinks import EsSink, es_dumper

    url, _ = emulator
    _seed(client, sc.INDEX, sc.STALE_SEED + sc.SURVIVOR_SEED)

    sink = EsSink(hosts=[url], timeout=5)
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
    assert isinstance(docs["d1"]["value"], dict)
    assert docs["d1"]["value"]["title"] == "alpha"
    mapping = client.indices.get_mapping(index=sc.DOCS_INDEX)
    props = mapping[sc.DOCS_INDEX]["mappings"]["properties"]
    assert props["value"] == {"type": "object", "enabled": False}


def test_es_dumper_http_timestamp_preservation(spark, emulator, client, tmp_path):
    """test_es_live.py's second scenario over HTTP: a re-run at a later stamp
    keeps the first run's create_timestamp for existing docs; new docs get
    the later stamp."""
    from migdar_data_pipelines_spark.sinks import EsSink, es_dumper

    url, _ = emulator
    sink = EsSink(hosts=[url], timeout=5)
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

    extra = spark.createDataFrame([("d9", "delta", 9)], sc.DOC_SCHEMA)
    es_dumper(
        extra, sc.RESOURCE, revision=sc.REVISION + 1,
        path=str(tmp_path / "es3"), sink=sink,
        existing_timestamps=existing, now=sc.RESTAMP_NOW,
    )
    assert _ids(client, sc.INDEX)["d9"]["create_timestamp"] == sc.RESTAMP_NOW


def test_bulk_serializes_datetimes_iso8601(client):
    """The REST client must serialize temporal values the way
    elasticsearch-py does — ISO8601 with 'T' — or ES's default
    strict_date_optional_time date mapping rejects them. str(datetime) uses a
    space separator; the client's json default must call .isoformat()."""
    import datetime as dt

    _seed(
        client,
        "dt1",
        [("a", {"ts": dt.datetime(2024, 1, 2, 3, 4, 5), "d": dt.date(2024, 1, 2)})],
    )
    src = _ids(client, "dt1")["a"]
    assert src["ts"] == "2024-01-02T03:04:05"
    assert src["d"] == "2024-01-02"


def test_multihost_failover_on_connection_error(emulator):
    """EsSink.from_env parses comma-separated MIGDAR_ES_HOSTS; a dead first
    endpoint must not strand the live ones (ADVICE r9: the fallback client
    used hosts[0] only). Connection-level failures advance to the next host;
    HTTP responses (even errors) do not."""
    from migdar_data_pipelines_spark.sinks.es_rest import RestEsClient

    url, store = emulator
    store.indices.clear()
    # port 9 (discard) on localhost: connection refused immediately
    c = RestEsClient(["http://127.0.0.1:9", url], request_timeout=5)
    assert c.ping()
    _seed(c, "fo1", [("a", {"n": 1})])
    assert set(_ids(c, "fo1")) == {"a"}
    # all hosts dead -> the connection error propagates (ping() -> False)
    dead = RestEsClient(["http://127.0.0.1:9"], request_timeout=1)
    assert not dead.ping()


def test_bulk_item_error_dialects():
    """Bulk per-item errors must surface for both ES 7 and ES 8 response
    dialects and regardless of the op key (index/create): items are keyed by
    op type, and ES 7 adds a legacy '_type' field ES 8 omits."""
    from migdar_data_pipelines_spark.sinks.es_rest import EsRestError, RestEsClient

    class Canned(RestEsClient):
        def __init__(self, response):
            super().__init__("http://unused:1")
            self._resp = response

        def _request(self, *a, **k):
            import json as j

            return 200, j.dumps(self._resp)

    es7 = {
        "errors": True,
        "items": [
            {"index": {"_type": "_doc", "_id": "a", "status": 201, "result": "created"}},
            {"create": {"_type": "_doc", "_id": "b", "status": 409,
                        "error": {"type": "version_conflict_engine_exception"}}},
        ],
    }
    es8 = {
        "errors": True,
        "items": [
            {"index": {"_id": "a", "status": 201, "result": "created"}},
            {"index": {"_id": "b", "status": 400,
                       "error": {"type": "mapper_parsing_exception"}}},
        ],
    }
    for resp, expect in [(es7, "version_conflict"), (es8, "mapper_parsing")]:
        with pytest.raises(EsRestError) as ei:
            Canned(resp).bulk(operations=[{"index": {"_index": "t", "_id": "b"}}, {}])
        assert expect in str(ei.value)
    # errors:false passes through untouched in both dialects
    ok = dict(es8, errors=False)
    assert Canned(ok).bulk(operations=[])["items"][0]["index"]["result"] == "created"


def test_driver_ping_fail_fast(spark):
    """es.py write(): an unreachable endpoint must raise ON THE DRIVER before
    foreachPartition launches N failing executor tasks (ADVICE r9 — neither
    client contacts the cluster at construction)."""
    from migdar_data_pipelines_spark.sinks import EsSink

    sink = EsSink(hosts=["http://127.0.0.1:9"], timeout=1)
    df = spark.createDataFrame([("a", 1)], "doc_id string, n int")
    with pytest.raises(ConnectionError, match="unreachable"):
        sink.write(df, index="t", id_col="doc_id")


def test_failover_policy_ambiguous_timeout(monkeypatch):
    """ADVICE r10: a timeout mid-request is NOT proof the first host missed
    the mutation — failing over would risk a double-apply. Policy: replay on
    the next host only for (a) provable connect-phase failures, (b)
    idempotent methods, or (c) replay-safe payloads (the sink's
    index-with-_id bulks). An ambiguous timeout on a bare POST raises."""
    from urllib import request as _urlrequest

    from migdar_data_pipelines_spark.sinks import es_rest

    calls: list[str] = []

    def fake_urlopen(req, timeout=None):
        calls.append(req.full_url)
        if "127.0.0.1:9001" in req.full_url:
            raise TimeoutError("timed out")  # ambiguous: maybe delivered

        class R:
            status = 200

            def read(self):
                return b"{}"

            def __enter__(self):
                return self

            def __exit__(self, *a):
                return False

        return R()

    monkeypatch.setattr(es_rest._urlrequest, "urlopen", fake_urlopen)
    c = es_rest.RestEsClient(
        ["http://127.0.0.1:9001", "http://127.0.0.1:9002"], request_timeout=1
    )

    # non-idempotent POST + ambiguous timeout -> raise, no second host
    calls.clear()
    with pytest.raises(TimeoutError):
        c._request("POST", "/x/_doc")
    assert len(calls) == 1

    # same timeout but replay-safe payload -> second host is tried
    calls.clear()
    status, _ = c._request("POST", "/_bulk", replay_safe=True)
    assert status == 200 and len(calls) == 2

    # idempotent GET -> second host is tried
    calls.clear()
    status, _ = c._request("GET", "/")
    assert status == 200 and len(calls) == 2

    # connect-phase refusal -> failover even for bare POST
    def refuse_first(req, timeout=None):
        calls.append(req.full_url)
        if "127.0.0.1:9001" in req.full_url:
            raise ConnectionRefusedError("refused")  # provably undelivered
        return fake_urlopen(
            _urlrequest.Request(req.full_url.replace("9001", "9002")),
            timeout,
        )

    monkeypatch.setattr(es_rest._urlrequest, "urlopen", refuse_first)
    calls.clear()
    status, _ = c._request("POST", "/x/_doc")
    assert status == 200 and len(calls) >= 2
