"""The full reference pipeline glued end-to-end IN STREAMING: WAL
segment parquet -> file stream -> WalStreamApply (wire decode +
relation cache + txn bracketing) -> TxnUpsertSink fold ->
es_bulk_requests rendered per micro-batch -> EXECUTED over a real
loopback socket into a stateful fake-ES store — then the ES-side final
state is asserted equal to the one-shot batch apply_changes oracle
over the same WAL bytes. This is the reference's whole observable
contract (producer.go:18-174 tail -> utils.go:92-117 consume ->
es.go:47-144 apply) proven as ONE system; only a live cluster/broker
is absent (declared by design)."""

import os

from pyspark.sql.types import _parse_datatype_string

from postgres_es_cdc_spark.sources.pgoutput import (UNCHANGED,
                                                    encode_begin,
                                                    encode_commit,
                                                    encode_delete,
                                                    encode_insert,
                                                    encode_relation,
                                                    encode_update)

OID = 16390
COLS = ["id", "name", "qty"]


def _write_segments(spark, wal_dir, seg_msgs):
    touched: set = set()
    for idx, msgs in enumerate(seg_msgs):
        df = spark.createDataFrame(
            [(idx * 100 + i, bytearray(m)) for i, m in enumerate(msgs)],
            "offset long, data binary")
        df.coalesce(1).write.mode("append").parquet(str(wal_dir))
        for fname in os.listdir(wal_dir):
            full = str(wal_dir / fname)
            if fname.endswith(".parquet") and full not in touched:
                os.utime(full, (1_700_000_000 + idx,) * 2)
                touched.add(full)


def test_wal_to_es_glued_stream_equals_batch_oracle(spark, tmp_path):
    """stream(WAL->fold->bulk->socket->ES store) == batch(apply_changes)
    == the sink's own parquet state, on a WAL exercising every op:
    multi-row txns, cross-segment txn (held back until its COMMIT
    arrives in a later micro-batch), update-after-insert partial merge,
    delete, delete-then-reinsert, and an uncommitted tail that must
    reach NEITHER store."""
    from postgres_es_cdc_spark.cdc.txn import apply_changes_transactional
    from postgres_es_cdc_spark.sinks.es_fake import EsStore, serve_store
    from postgres_es_cdc_spark.sinks.es_rest import EsForwardingTxnSink
    from postgres_es_cdc_spark.sources.pgoutput import (
        assign_txn_ids, decode_with_relation_resends, wal_cdc_pipeline)

    seg_msgs = [
        # batch 1: txn 1 commits (two inserts); txn 2 opens
        [encode_relation(OID, "t", COLS),
         encode_begin(xid=1),
         encode_insert(OID, [1, "a", 5]),
         encode_insert(OID, [2, "b", 6]),
         encode_commit(),
         encode_begin(xid=2),
         encode_insert(OID, [3, "c", 7])],
        # batch 2: txn 2 continues (no Begin — carried open-xid) and
        # commits; txn 3 partial-updates row 1 and deletes row 2
        [encode_update(OID, [3, UNCHANGED, 70]),
         encode_commit(),
         encode_begin(xid=3),
         encode_update(OID, [1, UNCHANGED, 50]),
         encode_delete(OID, [2]),
         encode_commit()],
        # batch 3: delete-then-reinsert row 3; txn 5 stays UNCOMMITTED
        [encode_begin(xid=4),
         encode_delete(OID, [3]),
         encode_insert(OID, [3, "c2", 9]),
         encode_commit(),
         encode_begin(xid=5),
         encode_insert(OID, [9, "ghost", 99])],
    ]
    wal_dir = tmp_path / "wal"
    _write_segments(spark, wal_dir, seg_msgs)

    schema = _parse_datatype_string("id long, name string, qty long")
    store = EsStore()
    url, shutdown = serve_store(store)
    try:
        sink = EsForwardingTxnSink(str(tmp_path / "state"),
                                   {"t": schema}, es_url=url)
        stream = (spark.readStream.schema("offset long, data binary")
                  .option("maxFilesPerTrigger", "1")
                  .parquet(str(wal_dir)))
        q = wal_cdc_pipeline(stream, sink, str(tmp_path / "ckpt"))
        q.awaitTermination(120)
    finally:
        shutdown()

    # -- batch oracle over the identical WAL bytes ----------------------
    all_rows = [(idx * 100 + i, bytearray(m))
                for idx, msgs in enumerate(seg_msgs)
                for i, m in enumerate(msgs)]
    wal = spark.createDataFrame(all_rows, "offset long, data binary")
    ev, _ = decode_with_relation_resends(wal, {})
    batch_state = apply_changes_transactional(
        assign_txn_ids(ev), schema)
    expected = {str(r["id"]): {k: str(v) for k, v in r.asDict().items()
                               if v is not None}
                for r in batch_state.collect()}

    # -- ES-side state == batch oracle ----------------------------------
    assert store.indices.get("t") == expected
    assert expected == {  # and the oracle itself is what we designed
        "1": {"id": "1", "name": "a", "qty": "50"},
        "3": {"id": "3", "name": "c2", "qty": "9"},
    }
    # -- sink parquet state == batch oracle ------------------------------
    sink_state = {str(r["id"]): {k: str(v) for k, v in r.asDict().items()
                                 if v is not None}
                  for r in spark.read.parquet(sink.table_path("t"))
                                .drop("_cdc_version").collect()}
    assert sink_state == expected
    # idempotent-keyed requests really flowed (3 committed batches)
    assert store.n_requests >= 3 and not store.item_errors


def test_es_forwarding_sink_replay_is_idempotent(spark, tmp_path):
    """A replayed micro-batch (same events redelivered, the crash
    window between the ES post and the pending-buffer commit) must
    leave the ES store unchanged — every request shape is keyed."""
    from postgres_es_cdc_spark.sinks.es_fake import EsStore, serve_store
    from postgres_es_cdc_spark.sinks.es_rest import EsForwardingTxnSink
    from postgres_es_cdc_spark.sources.pgoutput import WalStreamApply

    schema = _parse_datatype_string("id long, name string, qty long")
    store = EsStore()
    url, shutdown = serve_store(store)
    try:
        sink = EsForwardingTxnSink(str(tmp_path / "state"),
                                   {"t": schema}, es_url=url)
        apply = WalStreamApply(sink)
        msgs = [encode_relation(OID, "t", COLS),
                encode_begin(xid=1),
                encode_insert(OID, [1, "a", 5]),
                encode_update(OID, [1, UNCHANGED, 50]),
                encode_commit()]
        batch = spark.createDataFrame(
            [(i, bytearray(m)) for i, m in enumerate(msgs)],
            "offset long, data binary")
        apply.apply(batch, 0)
        first = {k: dict(v) for k, v in store.indices["t"].items()}
        apply.apply(batch, 0)  # replay
        assert store.indices["t"] == first == {
            "1": {"id": "1", "name": "a", "qty": "50"}}
    finally:
        shutdown()


def test_wal_to_es_special_values_land_verbatim(spark, tmp_path):
    """Text values holding JSON metacharacters, control bytes and
    non-ASCII text cross the decode's payload map and the ES render
    verbatim — through an INSERT's document and an UPDATE's putAll
    params — into the ES index and the sink's parquet state alike."""
    from postgres_es_cdc_spark.sinks.es_fake import EsStore, serve_store
    from postgres_es_cdc_spark.sinks.es_rest import EsForwardingTxnSink
    from postgres_es_cdc_spark.sources.pgoutput import WalStreamApply

    values = ['say "hi"', "back\\slash", "tab\there", "ctl\x01byte",
              "café 中😀"]
    msgs = [encode_relation(OID, "t", COLS), encode_begin(xid=1)]
    msgs += [encode_insert(OID, [i, v, i]) for i, v in enumerate(values)]
    msgs += [encode_update(OID, [0, values[-1], UNCHANGED]),
             encode_commit()]
    schema = _parse_datatype_string("id long, name string, qty long")
    store = EsStore()
    url, shutdown = serve_store(store)
    try:
        sink = EsForwardingTxnSink(str(tmp_path / "state"),
                                   {"t": schema}, es_url=url)
        WalStreamApply(sink).apply(spark.createDataFrame(
            [(i, bytearray(m)) for i, m in enumerate(msgs)],
            "offset long, data binary"), 0)
    finally:
        shutdown()

    names = [values[-1], *values[1:]]          # row 0 updated to the last
    assert store.indices["t"] == {
        str(i): {"id": str(i), "name": v, "qty": str(i)}
        for i, v in enumerate(names)}
    assert not store.item_errors
    assert sorted((r.id, r.name, r.qty) for r in spark.read.parquet(
        sink.table_path("t")).collect()) == [
        (i, v, i) for i, v in enumerate(names)]


def test_fake_es_store_semantics():
    """The stand-in's op semantics, pinned independently: overwrite,
    putAll merge, update-on-missing no-op (recorded), delete
    idempotence, match-query variants."""
    from postgres_es_cdc_spark.sinks.es_fake import EsStore

    s = EsStore()
    s.apply("PUT", "/t/_doc/1", '{"id":"1","name":"a"}')
    s.apply("POST", "/_bulk",
            '{"update": {"_index": "t", "_id": "1"}}\n'
            '{"script": {"source": "x", "lang": "painless",'
            ' "params": {"data": {"qty": "5"}}}}\n'
            '{"update": {"_index": "t", "_id": "404"}}\n'
            '{"script": {"source": "x", "lang": "painless",'
            ' "params": {"data": {"qty": "5"}}}}\n'
            '{"delete": {"_index": "t", "_id": "404"}}\n')
    assert s.indices["t"]["1"] == {"id": "1", "name": "a", "qty": "5"}
    assert s.item_errors == [("document_missing", "t", "404")]
    s.apply("POST", "/t/_update_by_query",
            '{"script": {"source": "x", "lang": "painless",'
            ' "params": {"data": {"name": "b"}}},'
            ' "query": {"match": {"id": "1"}}}')
    assert s.indices["t"]["1"]["name"] == "b"
    s.apply("PUT", "/t/_doc/1", '{"id":"1"}')  # whole-doc overwrite
    assert s.indices["t"]["1"] == {"id": "1"}
    s.apply("POST", "/t/_delete_by_query",
            '{"query": {"match": {"id": "1"}}}')
    assert s.indices["t"] == {}


def test_wal_to_es_crash_at_commit_recovers_to_batch_boundary(
        spark, tmp_path):
    """One WAL batch commits both tables, the pending buffer and the
    decode context (relation cache + open xid) together. A crash at the
    commit that repoints the pending buffer of batch 2 must leave ALL of
    them at batch 1; a fresh WalStreamApply replaying batch 2 then
    converges to the crash-free run, in ES and in parquet."""
    from postgres_es_cdc_spark.cdc.txn import TxnUpsertSink
    from postgres_es_cdc_spark.sinks.es_fake import EsStore, serve_store
    from postgres_es_cdc_spark.sinks.es_rest import EsForwardingTxnSink
    from postgres_es_cdc_spark.sources.pgoutput import WalStreamApply

    oid_u = OID + 1
    batches = [
        # txn 1 commits; txn 2 stays open (its row parks as pending)
        [encode_relation(OID, "t", COLS),
         encode_begin(xid=1),
         encode_insert(OID, [1, "a", 5]),
         encode_commit(),
         encode_begin(xid=2),
         encode_insert(OID, [2, "b", 6])],
        # txn 2 commits; table u is first seen; txn 4 stays open
        [encode_update(OID, [2, UNCHANGED, 60]),
         encode_commit(),
         encode_relation(oid_u, "u", COLS),
         encode_begin(xid=3),
         encode_insert(oid_u, [7, "x", 1]),
         encode_update(OID, [1, UNCHANGED, 50]),
         encode_commit(),
         encode_begin(xid=4),
         encode_insert(OID, [3, "c", 7])],
    ]
    dfs = [spark.createDataFrame(
        [(idx * 100 + i, bytearray(m)) for i, m in enumerate(msgs)],
        "offset long, data binary") for idx, msgs in enumerate(batches)]
    schema = _parse_datatype_string("id long, name string, qty long")
    frames = ("t", "u", TxnUpsertSink.PENDING)

    def rows(sink, name):
        path = sink.table_path(name)
        if not os.path.exists(path):
            return None
        return sorted(tuple(r) for r in spark.read.parquet(path).collect())

    clean_store, crash_store = EsStore(), EsStore()
    clean_url, clean_stop = serve_store(clean_store)
    crash_url, crash_stop = serve_store(crash_store)
    try:
        clean = EsForwardingTxnSink(str(tmp_path / "clean"),
                                    {"t": schema, "u": schema},
                                    es_url=clean_url)
        apply = WalStreamApply(clean)
        for i, df in enumerate(dfs):
            apply.apply(df, i)

        sink = EsForwardingTxnSink(str(tmp_path / "crash"),
                                   {"t": schema, "u": schema},
                                   es_url=crash_url)
        WalStreamApply(sink).apply(dfs[0], 0)
        paths1 = {n: sink.table_path(n) for n in frames}
        rows1 = {n: rows(sink, n) for n in frames}
        real = os.replace

        def crashy(src, dst):
            with open(src) as f:
                if TxnUpsertSink.PENDING in f.read():
                    raise OSError("crash at the pending-buffer commit")
            return real(src, dst)

        os.replace = crashy
        try:
            try:
                WalStreamApply(sink).apply(dfs[1], 1)
                raise AssertionError("expected injected crash")
            except OSError:
                pass
        finally:
            os.replace = real
        # every piece of the batch still reads as batch 1
        assert {n: sink.table_path(n) for n in frames} == paths1
        assert {n: rows(sink, n) for n in frames} == rows1
        restarted = WalStreamApply(sink)
        assert restarted.relcache == {OID: ("t", COLS)}
        assert restarted.last_xid == 2

        restarted.apply(dfs[1], 1)        # the replayed batch
        assert crash_store.indices == clean_store.indices
        assert {n: rows(sink, n) for n in frames} \
            == {n: rows(clean, n) for n in frames}
        assert clean_store.indices == {
            "t": {"1": {"id": "1", "name": "a", "qty": "50"},
                  "2": {"id": "2", "name": "b", "qty": "60"}},
            "u": {"7": {"id": "7", "name": "x", "qty": "1"}}}
    finally:
        clean_stop()
        crash_stop()
