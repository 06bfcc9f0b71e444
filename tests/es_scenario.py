"""THE Elasticsearch sink scenario — one table of inputs and expected
outcomes consumed by BOTH verification tiers of the K3/K6 ES suite:

  * the CONTRACT test
    (test_sinks.py::test_es_sink_contract_call_sequence) asserts the exact
    HTTP requests these inputs make the sink send to the in-process
    emulator (tests/es_http_emulator.py);
  * the env-gated LIVE integration test (test_es_live.py) runs the same
    inputs against a real cluster — the reference's throwaway-ES setup
    (docker-compose.yaml:21-24) — and asserts the resulting observable
    index STATE.

Keeping one scenario guarantees the two tiers verify the same behavior:
a contract test that drifts from what a live cluster actually does is the
exact failure mode SURVEY §7.4 flags for the revision-GC delete_by_query
and create_timestamp merge (dump_to_es.py:43-94).
"""

REVISION = 7
RESOURCE = "pubs"
INDEX = "migdar__pubs"
DOCS_INDEX = "migdar__docs"

# (doc_id, title, n) — d3's null title exercises null handling end to end
DOC_ROWS = [("d1", "alpha", 3), ("d2", "beta", 7), ("d3", None, 1)]
DOC_SCHEMA = "doc_id string, title string, n int"

# docs pre-seeded into INDEX that finalize's revision GC must DELETE:
# one with no revision field (the must_not exists body), one with an older
# revision (the range lt body)
STALE_SEED = [
    ("stale-no-rev", {"doc_id": "stale-no-rev", "title": "zombie"}),
    ("stale-old-rev", {"doc_id": "stale-old-rev", "revision": REVISION - 4}),
]
# a doc at a NEWER revision must SURVIVE the GC (range is lt REVISION only)
SURVIVOR_SEED = [("s-newer", {"doc_id": "s-newer", "revision": REVISION + 2})]

# observable end state: per-type index holds the load plus the newer
# survivor; the shared docs index holds only the collated load (it gets
# no revision GC — dump_to_es.py:49-50)
EXPECT_PUBS_IDS = {"d1", "d2", "d3", "s-newer"}
EXPECT_DOCS_IDS = {"d1", "d2", "d3"}

# a fixed stamp time so create_timestamp comparisons are deterministic;
# the preservation re-run stamps later and must keep the first value
STAMP_NOW = 1_700_000_000.0
RESTAMP_NOW = STAMP_NOW + 86_400.0


def docs_frame(spark):
    return spark.createDataFrame(DOC_ROWS, DOC_SCHEMA)


def expected_gc_queries():
    from migdar_data_pipelines_spark.sinks import revision_gc_queries

    return revision_gc_queries(REVISION)
