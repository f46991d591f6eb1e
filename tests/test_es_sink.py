"""ES REST request rendering and the bulk executor against a loopback
fake ES."""

from __future__ import annotations

def test_es_consumer_requests_golden_bodies(spark):
    """The rendered REST plan matches the reference's request shapes
    exactly (es.go:47-144): painless putAll script for UPDATE, match
    query on the payload key for UPDATE/DELETE, keyed document path for
    INSERT; corrupt payloads and keyless rows are skipped
    (utils.go:99-102)."""
    import json

    from postgres_es_cdc_spark.sinks.es_rest import (
        PUTALL_SCRIPT, es_consumer_requests)

    events = spark.createDataFrame(
        [
            (1, "INSERT", "users",
             '{"id":"7","name":"ada","email":null}'),
            (2, "UPDATE", "users", '{"id":"7","email":"a@b.c"}'),
            (3, "DELETE", "users", '{"id":"7"}'),
            (4, "INSERT", "users", "{not json"),        # dead letter
            (5, "UPDATE", "users", '{"name":"x"}'),     # keyless
            (6, "BEGIN", None, None),                   # marker
        ],
        "offset long, operationType string, tableName string, payload string",
    )
    rows = {r.offset: r
            for r in es_consumer_requests(events).collect()}
    assert set(rows) == {1, 2, 3}

    ins = rows[1]
    assert (ins.method, ins.path) == ("PUT", "/users/_doc/7")
    assert json.loads(ins.body) == {"id": "7", "name": "ada",
                                    "email": None}

    upd = rows[2]
    assert (upd.method, upd.path) == ("POST", "/users/_update_by_query")
    body = json.loads(upd.body)
    assert body["script"]["source"] == PUTALL_SCRIPT == \
        "ctx._source.putAll(params.data)"
    assert body["script"]["lang"] == "painless"
    assert body["script"]["params"]["data"] == {"id": "7",
                                                "email": "a@b.c"}
    assert body["query"] == {"match": {"id": "7"}}

    dele = rows[3]
    assert (dele.method, dele.path) == ("POST", "/users/_delete_by_query")
    assert json.loads(dele.body) == {"query": {"match": {"id": "7"}}}


def test_es_bulk_requests_ndjson_golden(spark):
    """_bulk bodies: N actions per request, NDJSON action/doc line
    pairs, same painless putAll script as the per-event plan, per-key
    order preserved via offset-ordered chunking, trailing newline (the
    _bulk API requires it)."""
    import json

    from postgres_es_cdc_spark.sinks.es_rest import (
        PUTALL_SCRIPT, es_bulk_requests)

    events = spark.createDataFrame(
        [
            (1, "INSERT", "users", '{"id":"7","name":"ada"}'),
            (2, "UPDATE", "users", '{"id":"7","email":"a@b.c"}'),
            (3, "DELETE", "users", '{"id":"7"}'),
            (4, "INSERT", "users", "{not json"),        # dead letter
            (5, "BEGIN", None, None),                   # marker
            (6, "INSERT", "orders", '{"id":"1","total":"9.50"}'),
        ],
        "offset long, operationType string, tableName string, payload string",
    )
    out = {(r.tableName, r.chunk_id): r
           for r in es_bulk_requests(events, max_actions=2).collect()}
    assert set(out) == {("users", 0), ("users", 1), ("orders", 0)}
    assert all(r.method == "POST" and r.path == "/_bulk"
               for r in out.values())

    u0 = out[("users", 0)]
    assert u0.n_actions == 2 and u0.first_offset == 1
    assert u0.body.endswith("\n")
    lines = u0.body.rstrip("\n").split("\n")
    assert len(lines) == 4
    assert json.loads(lines[0]) == {"index": {"_index": "users",
                                              "_id": "7"}}
    assert json.loads(lines[1]) == {"id": "7", "name": "ada"}
    assert json.loads(lines[2]) == {"update": {"_index": "users",
                                               "_id": "7"}}
    script = json.loads(lines[3])["script"]
    assert script["source"] == PUTALL_SCRIPT
    assert script["params"]["data"] == {"id": "7", "email": "a@b.c"}

    u1 = out[("users", 1)]
    lines = u1.body.rstrip("\n").split("\n")
    assert u1.n_actions == 1 and len(lines) == 1
    assert json.loads(lines[0]) == {"delete": {"_index": "users",
                                               "_id": "7"}}

    o0 = out[("orders", 0)]
    assert json.loads(o0.body.split("\n")[0]) == {
        "index": {"_index": "orders", "_id": "1"}}


def test_execute_es_requests_loopback_round_trip(spark):
    """The rendered REST plan EXECUTED over a real socket: a loopback
    fake-ES server records every request; the executor-side urllib
    driver must deliver exactly the golden bodies (method, path, body)
    the byte-parity tests pin — closing the 'plans are just strings'
    gap as far as the sandbox allows (only a real cluster is absent)."""
    import json
    import threading
    from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

    from postgres_es_cdc_spark.sinks.es_rest import (
        es_consumer_requests, execute_es_requests)

    received = []
    lock = threading.Lock()

    class FakeES(BaseHTTPRequestHandler):
        def _handle(self):
            n = int(self.headers.get("Content-Length", 0))
            body = self.rfile.read(n).decode("utf-8") if n else ""
            with lock:
                received.append((self.command, self.path, body))
            out = b'{"result":"ok"}'
            self.send_response(200)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(out)))
            self.end_headers()
            self.wfile.write(out)

        do_PUT = do_POST = do_DELETE = _handle

        def log_message(self, *a):  # quiet
            pass

    srv = ThreadingHTTPServer(("127.0.0.1", 0), FakeES)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    try:
        events = spark.createDataFrame(
            [
                (1, "INSERT", "users", '{"id":"7","name":"ada"}'),
                (2, "UPDATE", "users", '{"id":"7","email":"a@b.c"}'),
                (3, "DELETE", "users", '{"id":"7"}'),
            ],
            "offset long, operationType string, tableName string, "
            "payload string",
        )
        plan = es_consumer_requests(events).coalesce(1)
        want = [(r.method, r.path, r.body)
                for r in plan.orderBy("offset").collect()]
        execute_es_requests(plan, f"http://127.0.0.1:{srv.server_port}")
        assert received == want
        # and the bodies really are the golden shapes
        assert json.loads(received[1][2])["script"]["source"] == \
            "ctx._source.putAll(params.data)"
    finally:
        srv.shutdown()
        srv.server_close()

def test_execute_es_requests_bulk_loopback(spark):
    """The BULK plan executed over a real socket: es_bulk_requests
    output (first_offset, no offset column) must drive
    execute_es_requests — the documented composition that amortizes the
    reference's one-RTT-per-event bound — and deliver the golden NDJSON
    bodies in first_offset order."""
    import threading
    from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

    from postgres_es_cdc_spark.sinks.es_rest import (
        es_bulk_requests, execute_es_requests)

    received = []
    lock = threading.Lock()

    class FakeES(BaseHTTPRequestHandler):
        def _handle(self):
            n = int(self.headers.get("Content-Length", 0))
            body = self.rfile.read(n).decode("utf-8") if n else ""
            with lock:
                received.append((self.command, self.path, body))
            out = b'{"errors":false}'
            self.send_response(200)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(out)))
            self.end_headers()
            self.wfile.write(out)

        do_PUT = do_POST = do_DELETE = _handle

        def log_message(self, *a):  # quiet
            pass

    srv = ThreadingHTTPServer(("127.0.0.1", 0), FakeES)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    try:
        events = spark.createDataFrame(
            [
                (1, "INSERT", "users", '{"id":"7","name":"ada"}'),
                (2, "UPDATE", "users", '{"id":"7","email":"a@b.c"}'),
                (3, "DELETE", "users", '{"id":"7"}'),
                (4, "INSERT", "users", '{"id":"8","name":"bob"}'),
            ],
            "offset long, operationType string, tableName string, "
            "payload string",
        )
        plan = es_bulk_requests(events, max_actions=2).coalesce(1)
        want = [(r.method, r.path, r.body)
                for r in plan.orderBy("first_offset").collect()]
        assert len(want) == 2 and all(p == "/_bulk" for _, p, _ in want)
        execute_es_requests(plan, f"http://127.0.0.1:{srv.server_port}")
        assert received == want
        assert all(body.endswith("\n") for _, _, body in received)
    finally:
        srv.shutdown()
        srv.server_close()


def test_es_forwarding_posts_each_index_from_one_task(spark, tmp_path,
                                                      monkeypatch):
    """Per-key order in ES needs every chunk of one index posted by ONE
    task (sorted by first_offset there): chunks of one index spread over
    partitions post concurrently, and an UPDATE can overtake its INSERT.
    The guarantee must not rest on the planner happening to reuse an
    upstream partitioning, so the grouping keys are all required."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import _parse_datatype_string

    from postgres_es_cdc_spark.sinks import es_rest

    rows = [(t * 100 + i, "INSERT", name, f'{{"id":"{i}","v":"x"}}', None)
            for t, name in enumerate(("a", "b", "c", "d"))
            for i in range(1, 7)]
    batch = spark.createDataFrame(
        rows, "offset long, operationType string, tableName string, "
              "payload string, txn_id long")
    schema = _parse_datatype_string("id long, v string")
    sink = es_rest.EsForwardingTxnSink(
        str(tmp_path / "state"), {n: schema for n in "abcd"},
        es_url="http://127.0.0.1:9", max_actions=1)

    posted = {}

    def capture(reqs, base_url, timeout=10.0):
        parts = reqs.select("tableName", F.spark_partition_id().alias("p"))
        for r in parts.collect():
            posted.setdefault(r.tableName, set()).add(r.p)

    monkeypatch.setattr(es_rest, "execute_es_requests", capture)
    confs = {"spark.sql.adaptive.coalescePartitions.enabled": "false",
             "spark.sql.requireAllClusterKeysForDistribution": "true"}
    old = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        sink.apply_batch(batch, 0)
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)
    assert set(posted) == set("abcd")
    assert all(len(p) == 1 for p in posted.values()), posted
