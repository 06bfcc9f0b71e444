"""Zero-dependency Elasticsearch REST client (stdlib urllib only).

The K3/K6 sink suite needs eight calls from a client — bulk NDJSON,
delete_by_query, index create/exists/delete/refresh/get_mapping, search —
all plain HTTP against the public ES REST API (the same wire protocol
elasticsearch-py speaks). This client implements exactly that surface with
the same method/kwarg shapes the sink and the live harness use, and it is
the sink's one client: ``EsSink`` builds it on the driver and ships it to
the executors' bulk writes, and the live integration harness
(``tests/test_es_live.py``) needs only a reachable ES URL in
``MIGDAR_ES_URL``.

Reference parity: the reference talks to ES through the official client
(dump_to_es.py); this client changes the transport, not the calls — the
contract test records the requests the sink sends to an in-process HTTP
emulator, and each call maps 1:1 onto its documented REST endpoint.
"""

from __future__ import annotations

import datetime as _dt
import json
import socket as _socket
from typing import Any
from urllib import error as _urlerror
from urllib import parse as _urlparse
from urllib import request as _urlrequest


def _json_default(obj: Any) -> str:
    """Match elasticsearch-py's serializer for temporal types: ISO8601 with
    'T' (``2024-01-02T03:04:05``). ``str(datetime)`` uses a space separator,
    which ES's default ``strict_date_optional_time`` date mapping rejects —
    so this client must not serialize dates differently than the official
    one does."""
    if isinstance(obj, (_dt.datetime, _dt.date, _dt.time)):
        return obj.isoformat()
    return str(obj)


class EsRestError(RuntimeError):
    """Non-2xx response from the cluster (body included for diagnosis)."""

    def __init__(self, status: int, body: str):
        super().__init__(f"ES HTTP {status}: {body[:500]}")
        self.status = status
        self.body = body


class _Indices:
    def __init__(self, client: "RestEsClient"):
        self._c = client

    def exists(self, index: str) -> bool:
        status, _ = self._c._request("HEAD", f"/{index}", ok=(200, 404))
        return status == 200

    def create(
        self,
        index: str,
        mappings: dict[str, Any] | None = None,
        settings: dict[str, Any] | None = None,
    ) -> dict[str, Any]:
        body: dict[str, Any] = {}
        if mappings:
            body["mappings"] = mappings
        if settings:
            body["settings"] = settings
        return self._c._json("PUT", f"/{index}", body or None)

    def delete(self, index: str, ignore_unavailable: bool = False) -> dict[str, Any]:
        params = {"ignore_unavailable": "true"} if ignore_unavailable else None
        ok = (200, 404) if ignore_unavailable else (200,)
        _, body = self._c._request("DELETE", f"/{index}", params=params, ok=ok)
        return json.loads(body) if body else {}

    def refresh(self, index: str) -> dict[str, Any]:
        return self._c._json("POST", f"/{index}/_refresh")

    def get_mapping(self, index: str) -> dict[str, Any]:
        return self._c._json("GET", f"/{index}/_mapping")


class RestEsClient:
    """The sink suite's call surface of ``elasticsearch.Elasticsearch``,
    with the same call shapes. It takes only the options it implements, so
    an unimplemented one (``basic_auth``, ``ca_certs``, ...) raises
    ``TypeError`` instead of sending requests without that auth or CA.
    ``hosts`` may be a URL string or a list; all
    entries are kept and tried in order on *connection* failure (a simpler
    failover than elasticsearch-py's pooling — no round-robin, no node
    sniffing — but a dead first endpoint no longer strands the extra hosts
    ``EsSink.from_env`` parsed out of ``MIGDAR_ES_HOSTS``, ADVICE r9)."""

    def __init__(
        self,
        hosts: list[str] | str | None = None,
        request_timeout: float = 60,
        api_key: str | None = None,
    ):
        if isinstance(hosts, (list, tuple)):
            host_list = list(hosts) or ["http://localhost:9200"]
        else:
            host_list = [hosts or "http://localhost:9200"]
        self._bases = [h.rstrip("/") for h in host_list]
        self._timeout = request_timeout
        self._headers = {"Content-Type": "application/json"}
        if api_key:
            self._headers["Authorization"] = f"ApiKey {api_key}"
        self.indices = _Indices(self)

    @property
    def _base(self) -> str:
        return self._bases[0]

    # ------------------------------------------------------------ transport
    @staticmethod
    def _is_connect_phase(err: Exception) -> bool:
        """True when the error definitively happened BEFORE the request was
        delivered (refused / unreachable / DNS) — safe to replay on another
        host regardless of method. Timeouts and resets are ambiguous: the
        first host may already have processed the request."""
        # ConnectionAbortedError deliberately NOT listed: ECONNABORTED can
        # fire after the request body was delivered (proxy/OS aborts an
        # established connection mid-response), so it is ambiguous, not
        # provably pre-send.
        reason = getattr(err, "reason", err)
        return isinstance(
            reason, (ConnectionRefusedError, _socket.gaierror)
        ) or isinstance(err, (ConnectionRefusedError, _socket.gaierror))

    def _request(
        self,
        method: str,
        path: str,
        data: bytes | None = None,
        params: dict[str, str] | None = None,
        headers: dict[str, str] | None = None,
        ok: tuple[int, ...] = (200, 201),
        replay_safe: bool = False,
    ) -> tuple[int, str]:
        """Multi-host transport. Failover policy (ADVICE r10): a request is
        retried on the next host only when (a) the failure was provably
        connect-phase (refused/DNS — nothing was delivered), (b) the HTTP
        method is idempotent (GET/HEAD/PUT/DELETE — a double-apply is a
        no-op), or (c) the caller declares the payload replay-safe (the
        sink's bulk bodies are all index-with-_id, which overwrite
        idempotently). An ambiguous timeout on a non-replay-safe POST
        (e.g. a generic create/update via ``transport_request``) raises
        instead of risking a double mutation."""
        idempotent = method in ("GET", "HEAD", "PUT", "DELETE", "OPTIONS")
        last_conn_err: Exception | None = None
        for base in self._bases:
            url = base + path
            if params:
                url += "?" + _urlparse.urlencode(params)
            req = _urlrequest.Request(
                url,
                data=data,
                method=method,
                headers={**self._headers, **(headers or {})},
            )
            try:
                with _urlrequest.urlopen(req, timeout=self._timeout) as resp:
                    return resp.status, resp.read().decode("utf-8", "replace")
            except _urlerror.HTTPError as e:
                # HTTP response = endpoint alive; no point trying other hosts
                body = e.read().decode("utf-8", "replace")
                if e.code in ok:
                    return e.code, body
                raise EsRestError(e.code, body) from None
            except (_urlerror.URLError, OSError) as e:
                last_conn_err = e
                if self._is_connect_phase(e) or idempotent or replay_safe:
                    continue  # safe to try the next host
                raise  # ambiguous failure on a non-idempotent mutation
        raise last_conn_err  # type: ignore[misc]

    def _json(self, method: str, path: str, body: dict | None = None, **kw) -> dict:
        data = json.dumps(body).encode() if body is not None else None
        _, text = self._request(method, path, data=data, **kw)
        return json.loads(text) if text else {}

    # ------------------------------------------------------------- API calls
    def ping(self) -> bool:
        try:
            status, _ = self._request("GET", "/")
            return status == 200
        except Exception:
            return False

    @staticmethod
    def _bulk_replay_safe(operations: list[dict]) -> bool:
        """True iff every action in the NDJSON walk is an index/delete WITH
        an explicit _id — the only shapes that converge under a
        timeout-then-retry double-apply (overwrite/delete idempotence).
        create (fails the second time or duplicates intent), update-with-
        script (double-applies), and auto-id index (duplicates the doc) all
        make the batch unsafe to replay on another host. Walked as the
        protocol defines (action, then a source line unless delete), so a
        SOURCE document that happens to contain an 'index' key can never be
        misread as an action."""
        i = 0
        while i < len(operations):
            action = operations[i]
            if not (isinstance(action, dict) and len(action) == 1):
                return False
            op, meta = next(iter(action.items()))
            if op not in ("index", "delete") or not (
                isinstance(meta, dict) and meta.get("_id") is not None
            ):
                return False
            i += 1 if op == "delete" else 2
        return True

    def bulk(self, operations: list[dict], refresh: bool = False) -> dict:
        """NDJSON pairs — the exact ``client.bulk(operations=[action, source,
        ...])`` shape the sink emits and elasticsearch-py accepts."""
        nd = "".join(json.dumps(op, default=_json_default) + "\n" for op in operations)
        params = {"refresh": "true"} if refresh else None
        # replay safety is DERIVED from the batch, not assumed: the sink's
        # own batches are all index-with-_id (replay-safe — a retry
        # overwrites to the same documents), but this method is the public
        # elasticsearch-py-compatible surface, and a caller's create /
        # scripted-update / auto-id batch must NOT fail over after an
        # ambiguous timeout (double-apply hazard).
        _, text = self._request(
            "POST",
            "/_bulk",
            data=nd.encode(),
            params=params,
            headers={"Content-Type": "application/x-ndjson"},
            replay_safe=self._bulk_replay_safe(operations),
        )
        out = json.loads(text)
        if out.get("errors"):
            # Items are keyed by op type (index/create/update/delete); take
            # whichever key is present so ES 7 and 8 response dialects (and
            # mixed-op batches) all surface their per-item errors.
            bad = []
            for i in out.get("items", []):
                item = next(iter(i.values()), {}) if isinstance(i, dict) else {}
                if item.get("error"):
                    bad.append(item)
                    if len(bad) >= 3:
                        break
            raise EsRestError(200, f"bulk item errors: {bad}")
        return out

    def delete_by_query(self, index: str, query: dict) -> dict:
        # delete_by_query converges under replay (deleting the same match
        # set twice deletes the same documents), so host failover is safe.
        return self._json(
            "POST",
            f"/{index}/_delete_by_query",
            {"query": query},
            params={"refresh": "true"},
            replay_safe=True,
        )

    def search(self, index: str, size: int = 10, query: dict | None = None) -> dict:
        body: dict[str, Any] = {"size": size}
        if query:
            body["query"] = query
        # a search is a POST by convention but side-effect-free — always
        # replay-safe, so multi-host failover applies on any failure
        return self._json("POST", f"/{index}/_search", body, replay_safe=True)


__all__ = ["RestEsClient", "EsRestError"]
