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


def test_es_bulk_actions_ndjson_golden(spark):
    """_bulk bodies: N actions per request, NDJSON action/doc line
    pairs, same painless putAll script as the per-event plan, per-key
    order preserved via offset-ordered chunking, trailing newline (the
    _bulk API requires it)."""
    from postgres_es_cdc_spark.sinks.es_rest import (
        bulk_bodies, es_bulk_actions)

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
    actions = sorted(es_bulk_actions(events).collect(),
                     key=lambda r: r.offset)
    assert [(r.tableName, r.offset) for r in actions] == [
        ("users", 1), ("users", 2), ("users", 3), ("orders", 6)]
    bodies = list(bulk_bodies(((r.tableName, r.action) for r in actions),
                              max_actions=2))
    # a full chunk posts as soon as it fills; remainders follow in
    # order of each index's first action; every body ends in a newline
    assert bodies == [
        ("users",
         '{"index":{"_index":"users","_id":"7"}}\n'
         '{"id":"7","name":"ada"}\n'
         '{"update":{"_index":"users","_id":"7"}}\n'
         '{"script":{"source":"ctx._source.putAll(params.data)",'
         '"lang":"painless","params":{"data":{"id":"7",'
         '"email":"a@b.c"}}}}\n'),
        ("users", '{"delete":{"_index":"users","_id":"7"}}\n'),
        ("orders",
         '{"index":{"_index":"orders","_id":"1"}}\n'
         '{"id":"1","total":"9.50"}\n'),
    ]


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

def _recording_es():
    """Loopback fake ES that records (method, path, body) in arrival
    order. Returns (base_url, received, shutdown)."""
    import threading
    from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

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
    threading.Thread(target=srv.serve_forever, daemon=True).start()

    def shutdown():
        srv.shutdown()
        srv.server_close()

    return f"http://127.0.0.1:{srv.server_port}", received, shutdown


def test_post_bulk_loopback(spark):
    """The BULK plan executed over a real socket: es_bulk_actions
    output must drive post_bulk — the composition that amortizes the
    reference's one-RTT-per-event bound — and deliver the golden NDJSON
    bodies, max_actions per body, in chunk order."""
    from postgres_es_cdc_spark.sinks.es_rest import es_bulk_actions, post_bulk

    url, received, shutdown = _recording_es()
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
        ).repartition(3)
        post_bulk(es_bulk_actions(events), url, max_actions=2)
        assert received == [
            ("POST", "/_bulk",
             '{"index":{"_index":"users","_id":"7"}}\n'
             '{"id":"7","name":"ada"}\n'
             '{"update":{"_index":"users","_id":"7"}}\n'
             '{"script":{"source":"ctx._source.putAll(params.data)",'
             '"lang":"painless","params":{"data":{"id":"7",'
             '"email":"a@b.c"}}}}\n'),
            ("POST", "/_bulk",
             '{"delete":{"_index":"users","_id":"7"}}\n'
             '{"index":{"_index":"users","_id":"8"}}\n'
             '{"id":"8","name":"bob"}\n'),
        ]
    finally:
        shutdown()


def test_es_forwarding_posts_in_offset_order(spark, tmp_path):
    """Per-key order in ES: every index's actions reach the wire in
    offset order, whatever the batch's partitioning. With max_actions=1
    each action is its own request, so four indices with interleaved
    offsets are checked request by request, per index (order across
    indices is not part of the contract)."""
    import json

    from pyspark.sql.types import _parse_datatype_string

    from postgres_es_cdc_spark.sinks import es_rest

    rows = [(i * 4 + t, "INSERT", name, f'{{"id":"{i}","v":"x"}}', None)
            for i in range(1, 7)
            for t, name in enumerate(("a", "b", "c", "d"))]
    # rows arrive newest first, so the batch's own row order is the
    # reverse of the offset order the wire must show
    batch = spark.createDataFrame(
        rows[::-1], "offset long, operationType string, tableName string, "
                    "payload string, txn_id long").repartition(4, "tableName")
    schema = _parse_datatype_string("id long, v string")
    url, received, shutdown = _recording_es()
    # no partition coalescing: a plan that posts from several tasks
    # must not be hidden by the planner folding them into one
    conf = "spark.sql.adaptive.coalescePartitions.enabled"
    old = spark.conf.get(conf)
    try:
        spark.conf.set(conf, "false")
        sink = es_rest.EsForwardingTxnSink(
            str(tmp_path / "state"), {n: schema for n in "abcd"},
            es_url=url, max_actions=1)
        sink.apply_batch(batch, 0)
    finally:
        spark.conf.set(conf, old)
        shutdown()
    got = {}
    for method, path, body in received:
        assert (method, path) == ("POST", "/_bulk")
        meta = json.loads(body.split("\n")[0])["index"]
        got.setdefault(meta["_index"], []).append(meta["_id"])
    assert got == {name: [str(i) for i in range(1, 7)] for name in "abcd"}
