"""One materialization per WAL batch: every consumer of a batch's
committed rows reads the sink's one tagged change set, never the lazy
decode (MapInArrow) or the committed/pending split (Join) again; the
decode the sink receives is one pass — no per-span Union, no
single-partition Window for the transaction ids; and it hands over each
payload as a map, so nothing between the decode and the ES render
parses JSON."""

from __future__ import annotations

from pyspark.sql.types import _parse_datatype_string

from postgres_es_cdc_spark.sources.pgoutput import (
    UNCHANGED, encode_begin, encode_commit, encode_insert, encode_relation,
    encode_update)

OID = 16384
COLS = ["id", "name", "qty"]


def test_wal_batch_consumers_read_one_materialization(spark, tmp_path,
                                                      monkeypatch):
    from postgres_es_cdc_spark.cdc.txn import TxnUpsertSink
    from postgres_es_cdc_spark.sinks.es_fake import EsStore, serve_store
    from postgres_es_cdc_spark.sinks.es_rest import (EsForwardingTxnSink,
                                                     es_bulk_actions)
    from postgres_es_cdc_spark.sources.pgoutput import WalStreamApply
    from postgres_es_cdc_spark.streaming.pipeline import UpsertSink

    seen = []

    def capture(cls, attr, frame_arg):
        orig = getattr(cls, attr)

        def wrapper(*args, **kwargs):
            seen.append((attr, args[frame_arg]))
            return orig(*args, **kwargs)

        monkeypatch.setattr(cls, attr, wrapper)

    capture(UpsertSink, "_merge", 3)          # self, spark, name, batch
    capture(EsForwardingTxnSink, "_on_committed", 1)  # self, ready
    capture(TxnUpsertSink, "apply_batch", 1)   # self, batch
    landed = {}
    land = TxnUpsertSink.land

    def capture_land(self, frames, batch_id):
        landed.update(frames)
        return land(self, frames, batch_id)

    monkeypatch.setattr(TxnUpsertSink, "land", capture_land)

    msgs = [encode_relation(OID, "t", COLS),
            encode_begin(xid=1),
            encode_insert(OID, [1, "a", 5]),
            encode_insert(OID, [2, "b", 6]),
            encode_commit(),
            encode_begin(xid=2),
            encode_update(OID, [1, UNCHANGED, 50])]   # stays pending
    wal = spark.createDataFrame(
        [(i, bytearray(m)) for i, m in enumerate(msgs)],
        "offset long, data binary")
    schema = _parse_datatype_string("id long, name string, qty long")
    store = EsStore()
    url, shutdown = serve_store(store)
    try:
        sink = EsForwardingTxnSink(str(tmp_path / "state"),
                                   {"t": schema, "u": schema}, es_url=url)
        WalStreamApply(sink).apply(wal, 0)
    finally:
        shutdown()

    assert sorted(a for a, _ in seen) == ["_merge", "_merge",
                                          "_on_committed", "apply_batch"]
    for attr, frame in seen:
        plan = frame._jdf.queryExecution().optimizedPlan().toString()
        if attr == "apply_batch":
            assert "Window" not in plan, plan
            assert "Union" not in plan, plan
        else:
            assert "MapInArrow" not in plan, (attr, plan)
            assert "Join" not in plan, (attr, plan)

    def plan(df):             # the JSON form names expression classes
        return df._jdf.queryExecution().optimizedPlan().toJSON()

    (batch,) = [f for a, f in seen if a == "apply_batch"]
    assert batch.schema["payload"].dataType.simpleString() == \
        "map<string,string>"
    (ready,) = [f for a, f in seen if a == "_on_committed"]
    assert sorted(landed) == ["_pending_txn", "t", "u"]
    for name, frame in [*landed.items(), ("es", es_bulk_actions(ready))]:
        assert "JsonToStructs" not in plan(frame), name
    assert store.indices["t"] == {"1": {"id": "1", "name": "a", "qty": "5"},
                                  "2": {"id": "2", "name": "b", "qty": "6"}}


def _materialized(spark, monkeypatch):
    """Record every frame ``localCheckpoint`` materializes."""
    frames = []
    cls = type(spark.range(0))          # the session's DataFrame class
    orig = cls.localCheckpoint

    def capture(self, *args, **kwargs):
        frames.append(self)
        return orig(self, *args, **kwargs)

    monkeypatch.setattr(cls, "localCheckpoint", capture)
    return frames


def _plan_nodes(df) -> list:
    """The optimized plan's node classes (short names)."""
    import json

    plan = json.loads(df._jdf.queryExecution().optimizedPlan().toJSON())
    return [n["class"].rsplit(".", 1)[-1] for n in plan]


def test_wal_batch_decodes_once_with_no_commit_join(spark, tmp_path,
                                                    monkeypatch):
    """The frame the sink materializes for a WAL batch runs the decode
    once and tags committed rows from the control plane's commit set:
    one MapInArrow, no Join, no Aggregate — on the first batch and on
    the next, which also reads the pending buffer."""
    from pyspark.sql.types import _parse_datatype_string

    from postgres_es_cdc_spark.cdc.txn import TxnUpsertSink
    from postgres_es_cdc_spark.sources.pgoutput import WalStreamApply

    frames = _materialized(spark, monkeypatch)
    schema = _parse_datatype_string("id long, name string, qty long")
    sink = TxnUpsertSink(str(tmp_path / "state"), {"t": schema})
    apply = WalStreamApply(sink)
    batches = [[encode_relation(OID, "t", COLS),
                encode_begin(xid=1),
                encode_insert(OID, [1, "a", 5]),
                encode_commit(),
                encode_begin(xid=2),
                encode_insert(OID, [2, "b", 6])],        # stays pending
               [encode_update(OID, [2, UNCHANGED, 60]),
                encode_commit()]]
    for i, msgs in enumerate(batches):
        apply.apply(spark.createDataFrame(
            [(i * 100 + j, bytearray(m)) for j, m in enumerate(msgs)],
            "offset long, data binary"), i)
    assert len(frames) == 2
    for frame in frames:
        nodes = _plan_nodes(frame)
        assert nodes.count("MapInArrow") == 1, nodes
        assert "Join" not in nodes and "Aggregate" not in nodes, nodes
    state = spark.read.parquet(sink.table_path("t"))
    assert sorted((r.id, r.name, r.qty) for r in state.collect()) == \
        [(1, "a", 5), (2, "b", 60)]


def test_envelope_batch_tags_committed_rows_without_a_join(spark, tmp_path,
                                                           monkeypatch):
    """An envelope batch brings its own COMMIT markers: the sink
    collects their ids and tags rows with the same IN filter, so the
    frame it materializes has no Join either."""
    from pyspark.sql.types import _parse_datatype_string

    from postgres_es_cdc_spark.cdc.txn import TXN_EVENT_SCHEMA, TxnUpsertSink

    frames = _materialized(spark, monkeypatch)
    schema = _parse_datatype_string("id long, name string")
    sink = TxnUpsertSink(str(tmp_path / "state"), {"t": schema})
    sink.apply_batch(spark.createDataFrame([
        (1, "BEGIN", None, None, 7),
        (2, "INSERT", "t", '{"id":1,"name":"a"}', 7),
        (3, "COMMIT", None, None, 7),
        (4, "INSERT", "t", '{"id":2,"name":"b"}', 8),
        (5, "INSERT", "t", '{"id":3,"name":"c"}', None),
    ], TXN_EVENT_SCHEMA), 0)
    (frame,) = frames
    nodes = _plan_nodes(frame)
    assert "Join" not in nodes, nodes
    state = spark.read.parquet(sink.table_path("t"))
    assert sorted((r.id, r.name) for r in state.collect()) == \
        [(1, "a"), (3, "c")]
    pending = spark.read.parquet(sink.table_path(TxnUpsertSink.PENDING))
    assert [r.txn_id for r in pending.collect()] == [8]
