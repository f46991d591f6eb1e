"""In-process Elasticsearch stand-in: a loopback HTTP server that
APPLIES the engine's rendered request plans — per-event
(`es_consumer_requests`) and `_bulk` NDJSON (`es_bulk_actions`, posted
by `post_bulk`) — to
an in-memory document store with the observable semantics of the real
endpoints the reference drives (es.go:47-144):

  * `PUT /{index}/_doc/{id}`      — whole-document overwrite by id;
  * `POST /{index}/_update_by_query` — Painless
    `ctx._source.putAll(params.data)` partial merge on every document
    matching the `match` query (zero matches = no-op — the
    apply-to-nothing semantics the batch fold mirrors);
  * `POST /{index}/_delete_by_query` — drop matching documents;
  * `POST /_bulk` — the amortized forms: `index` (overwrite by _id),
    `update` (putAll by _id; a missing document is recorded in
    `item_errors` and skipped — the consumer's skip-and-log dispatch,
    utils.go:99-102, and the same no-op the match-query form takes),
    `delete` (by _id, idempotent).

This is the sandbox's closable slice of the live-wire gap: byte-exact
bodies leave over a real socket and land in a store whose final state
is asserted against the batch `apply_changes` oracle — only a real
cluster is absent (declared by design). Not a server for production
use; single-process test bench only.
"""

from __future__ import annotations

import json
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer


class EsStore:
    """index -> {doc_id -> {field -> value}} with ES-shaped mutations.

    Thread-safe (the server handles each request on its own thread);
    every mutation holds the store lock."""

    def __init__(self) -> None:
        self.indices: dict[str, dict[str, dict]] = {}
        self.item_errors: list[tuple[str, str, str]] = []
        self.n_requests = 0
        self.n_actions = 0
        self.lock = threading.Lock()

    # -- request dispatch ------------------------------------------------

    def apply(self, method: str, path: str, body: str) -> None:
        with self.lock:
            self.n_requests += 1
            if path == "/_bulk":
                self._bulk(body)
            elif "/_doc/" in path and method == "PUT":
                index, _, doc_id = path.strip("/").split("/")
                self._index(index, doc_id, json.loads(body))
            elif path.endswith("/_update_by_query"):
                index = path.strip("/").split("/")[0]
                req = json.loads(body)
                data = req["script"]["params"]["data"]
                self._by_query(index, req["query"],
                               lambda doc: doc.update(data))
            elif path.endswith("/_delete_by_query"):
                index = path.strip("/").split("/")[0]
                req = json.loads(body)
                self._by_query(index, req["query"], None)
            else:
                raise ValueError(f"unsupported path: {method} {path}")

    # -- primitive ops ---------------------------------------------------

    def _index(self, index: str, doc_id: str, doc: dict) -> None:
        self.n_actions += 1
        self.indices.setdefault(index, {})[doc_id] = dict(doc)

    def _by_query(self, index: str, query: dict, mutate) -> None:
        self.n_actions += 1
        [(field, value)] = query["match"].items()
        docs = self.indices.get(index, {})
        hit_ids = [i for i, d in docs.items() if d.get(field) == value]
        for i in hit_ids:
            if mutate is None:
                del docs[i]
            else:
                mutate(docs[i])

    def _bulk(self, body: str) -> None:
        lines = [ln for ln in body.split("\n") if ln]
        pos = 0
        while pos < len(lines):
            action = json.loads(lines[pos])
            pos += 1
            [(op, meta)] = action.items()
            index, doc_id = meta["_index"], meta["_id"]
            if op == "index":
                self._index(index, doc_id, json.loads(lines[pos]))
                pos += 1
            elif op == "update":
                self.n_actions += 1
                script = json.loads(lines[pos])
                pos += 1
                data = script["script"]["params"]["data"]
                docs = self.indices.get(index, {})
                if doc_id in docs:
                    docs[doc_id].update(data)
                else:
                    self.item_errors.append(
                        ("document_missing", index, doc_id))
            elif op == "delete":
                self.n_actions += 1
                self.indices.get(index, {}).pop(doc_id, None)
            else:
                raise ValueError(f"unsupported bulk op: {op}")


def serve_store(store: EsStore):
    """Spin a loopback HTTP server applying every request to `store`.
    Returns (base_url, shutdown_fn)."""

    class Handler(BaseHTTPRequestHandler):
        def _handle(self):
            n = int(self.headers.get("Content-Length", 0))
            body = self.rfile.read(n).decode("utf-8") if n else ""
            try:
                store.apply(self.command, self.path, body)
                out, code = b'{"errors":false}', 200
            except Exception as e:  # surface as a 4xx -> batch failure
                out, code = json.dumps({"error": str(e)}).encode(), 400
            self.send_response(code)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(out)))
            self.end_headers()
            self.wfile.write(out)

        do_PUT = do_POST = do_DELETE = _handle

        def log_message(self, *a):  # quiet
            pass

    srv = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()

    def shutdown():
        srv.shutdown()
        srv.server_close()

    return f"http://127.0.0.1:{srv.server_port}", shutdown
