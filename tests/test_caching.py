"""session_memo: one memo per Spark application, no Spark needed."""

from migdar_data_pipelines_spark.operators import caching


def test_session_memo_builds_once_and_evicts_other_applications(monkeypatch):
    app = {"id": "a"}
    monkeypatch.setattr(caching, "_application_id", lambda: app["id"])
    builds = []

    def build(tag):
        def run():
            builds.append((app["id"], tag))
            return object()

        return run

    first = caching.session_memo(("test", 1), build(1))
    assert caching.session_memo(("test", 1), build(1)) is first
    assert builds == [("a", 1)]

    app["id"] = "b"
    caching.session_memo(("test", 2), build(2))
    app["id"] = "a"
    # built under "a" before the miss under "b": gone, so built again
    assert caching.session_memo(("test", 1), build(1)) is not first
    assert builds == [("a", 1), ("b", 2), ("a", 1)]


def test_session_memo_threads_under_alternating_applications(monkeypatch):
    # every miss sweeps the dict while other threads insert into it
    import sys
    import threading

    local = threading.local()
    monkeypatch.setattr(caching, "_application_id", lambda: local.app)
    errors = []

    def worker(n):
        local.app = "ab"[n % 2]
        try:
            for i in range(300):
                key = ("stress", n, i % 50)
                assert caching.session_memo(key, lambda: key) == key
        except Exception as e:  # noqa: BLE001 - reported below
            errors.append(e)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker, args=(n,)) for n in range(16)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
