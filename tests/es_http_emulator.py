"""Minimal in-process Elasticsearch HTTP emulator for transport-level tests.

Implements exactly the REST surface the K3/K6 sink suite calls — _bulk
(NDJSON), _delete_by_query with the two revision-GC query shapes, index
create/exists/delete/refresh/_mapping, _search — over a real HTTP socket
(ThreadingHTTPServer), so ``RestEsClient`` + ``EsSink`` are exercised
end-to-end through genuine request serialization, status codes, and
executor-side connections (foreachPartition workers POST to it
concurrently). It is NOT an ES re-implementation: query evaluation covers
only the documented GC bodies (bool.must_not.exists / range.lt) plus
match_all, and anything else raises — a test reaching past the recorded
surface should fail loudly, not silently pass.

Every request is recorded in ``store.requests`` as ``(method, path, body)``:
the path without its query string, and the body parsed — a list of objects
for ``_bulk``'s NDJSON, a JSON object otherwise, ``None`` when empty — so a
contract test can assert the exact requests the sink sends.
"""

from __future__ import annotations

import json
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from typing import Any


class _Store:
    """index name -> {"docs": {_id: source}, "mappings": {...}}.

    ``dialect`` switches the RESPONSE shapes between the two wire formats a
    live cluster would serve: "es8" (typeless items) and "es7" (legacy
    ``_type: _doc`` on bulk items and search hits) — so the client's
    response parsing is exercised against both (VERDICT r9 #6)."""

    def __init__(self):
        self.indices: dict[str, dict[str, Any]] = {}
        self.requests: list[tuple[str, str, Any]] = []
        self.lock = threading.Lock()
        self.dialect = "es8"

    def ensure(self, index: str) -> dict[str, Any]:
        return self.indices.setdefault(index, {"docs": {}, "mappings": {}})


def _matches(query: dict, src: dict) -> bool:
    if "match_all" in query:
        return True
    if "bool" in query:
        mn = query["bool"].get("must_not")
        if mn and "exists" in mn:
            return mn["exists"]["field"] not in src
    if "range" in query:
        ((field, cond),) = query["range"].items()
        if field not in src:
            return False
        v = src[field]
        ok = True
        if "lt" in cond:
            ok = ok and v < cond["lt"]
        if "gte" in cond:
            ok = ok and v >= cond["gte"]
        return ok
    raise ValueError(f"es_http_emulator: unsupported query shape {query!r}")


class _Handler(BaseHTTPRequestHandler):
    store: _Store  # set by start_emulator

    def log_message(self, *a):  # silence per-request stderr lines
        pass

    def _send(self, code: int, body: dict | None = None):
        data = json.dumps(body or {}).encode()
        self.send_response(code)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(data)))
        self.end_headers()
        if self.command != "HEAD":
            self.wfile.write(data)

    def _body(self) -> Any:
        """Read, parse and record this request's body."""
        n = int(self.headers.get("Content-Length") or 0)
        raw = self.rfile.read(n).decode() if n else ""
        path = self.path.split("?")[0]
        if not raw.strip():
            body = None
        elif path.strip("/") == "_bulk":
            body = [json.loads(ln) for ln in raw.splitlines() if ln.strip()]
        else:
            body = json.loads(raw)
        with self.store.lock:
            self.store.requests.append((self.command, path, body))
        return body

    # --------------------------------------------------------------- routes
    def do_GET(self):
        self._body()
        path = self.path.split("?")[0].strip("/")
        if path == "":
            self._send(200, {"tagline": "es-http-emulator"})
            return
        parts = path.split("/")
        if len(parts) == 2 and parts[1] == "_mapping":
            idx = self.store.indices.get(parts[0])
            if idx is None:
                self._send(404, {"error": "index_not_found_exception"})
                return
            self._send(200, {parts[0]: {"mappings": idx["mappings"]}})
            return
        self._send(400, {"error": f"unsupported GET {self.path}"})

    def do_HEAD(self):
        self._body()
        idx = self.path.split("?")[0].strip("/")
        self._send(200 if idx in self.store.indices else 404)

    def do_PUT(self):
        idx = self.path.split("?")[0].strip("/")
        body = self._body() or {}
        with self.store.lock:
            entry = self.store.ensure(idx)
            if body.get("mappings"):
                entry["mappings"] = body["mappings"]
        self._send(200, {"acknowledged": True, "index": idx})

    def do_DELETE(self):
        self._body()
        path, _, query = self.path.partition("?")
        idx = path.strip("/")
        with self.store.lock:
            existed = self.store.indices.pop(idx, None) is not None
        if existed or "ignore_unavailable=true" in query:
            self._send(200, {"acknowledged": True})
        else:
            self._send(404, {"error": "index_not_found_exception"})

    def do_POST(self):
        body = self._body()
        path = self.path.split("?")[0].strip("/")
        parts = path.split("/")
        if path == "_bulk":
            self._bulk(body)
            return
        if len(parts) == 2 and parts[1] == "_refresh":
            self._send(200, {"_shards": {"failed": 0}})
            return
        if len(parts) == 2 and parts[1] == "_search":
            self._search(parts[0], body or {})
            return
        if len(parts) == 2 and parts[1] == "_delete_by_query":
            self._delete_by_query(parts[0], body)
            return
        self._send(400, {"error": f"unsupported POST {self.path}"})

    # ----------------------------------------------------------- operations
    def _bulk(self, lines: list[dict]):
        items = []
        with self.store.lock:
            i = 0
            while i < len(lines):
                ((op, meta),) = lines[i].items()
                if op != "index":
                    raise ValueError(f"emulator: unsupported bulk op {op}")
                src = lines[i + 1]
                self.store.ensure(meta["_index"])["docs"][str(meta["_id"])] = src
                item = {"_id": str(meta["_id"]), "status": 201, "result": "created"}
                if self.store.dialect == "es7":
                    item["_type"] = "_doc"
                items.append({"index": item})
                i += 2
        self._send(200, {"errors": False, "items": items})

    def _search(self, index: str, body: dict):
        q = body.get("query", {"match_all": {}})
        size = int(body.get("size", 10))
        idx = self.store.indices.get(index)
        if idx is None:
            self._send(404, {"error": "index_not_found_exception"})
            return
        extra = {"_type": "_doc"} if self.store.dialect == "es7" else {}
        hits = [
            {"_index": index, "_id": _id, "_source": src, **extra}
            for _id, src in idx["docs"].items()
            if _matches(q, src)
        ][:size]
        self._send(200, {"hits": {"total": {"value": len(hits)}, "hits": hits}})

    def _delete_by_query(self, index: str, body: dict):
        q = body["query"]
        with self.store.lock:
            idx = self.store.indices.get(index)
            if idx is None:
                self._send(404, {"error": "index_not_found_exception"})
                return
            doomed = [_id for _id, src in idx["docs"].items() if _matches(q, src)]
            for _id in doomed:
                del idx["docs"][_id]
        self._send(200, {"deleted": len(doomed)})


def start_emulator() -> tuple[ThreadingHTTPServer, str, _Store]:
    """Bind 127.0.0.1:<ephemeral>, serve on a daemon thread. Returns
    (server, base_url, store); call ``server.shutdown()`` to stop."""
    store = _Store()
    handler = type("BoundHandler", (_Handler,), {"store": store})
    srv = ThreadingHTTPServer(("127.0.0.1", 0), handler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    return srv, f"http://127.0.0.1:{srv.server_address[1]}", store
