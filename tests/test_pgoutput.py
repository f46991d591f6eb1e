"""pgoutput binary codec: byte-exact protocol v1 round-trips, TOAST
'u' vs explicit-null presence semantics, and the full WAL -> decode ->
txn assignment -> committed fold composition."""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.types import _parse_datatype_string

from postgres_es_cdc_spark.cdc.txn import apply_changes_transactional
from postgres_es_cdc_spark.sources.pgoutput import (
    UNCHANGED, decode_messages, decode_relation, decode_wal_stream,
    encode_begin, encode_commit, encode_delete, encode_insert,
    encode_relation, encode_truncate, encode_update, relation_cache)

OID = 16384
COLS = ["id", "name", "qty"]


def _wal_df(spark, msgs):
    rows = [(i, bytearray(m)) for i, m in enumerate(msgs)]
    return spark.createDataFrame(rows, "offset long, data binary")


def test_relation_round_trip():
    raw = encode_relation(OID, "t", COLS, namespace="public")
    assert decode_relation(raw) == (OID, "t", COLS)


def test_decode_insert_update_delete_and_toast(spark):
    msgs = [
        encode_relation(OID, "t", COLS),
        encode_insert(OID, [1, "a", 5]),
        # sparse UPDATE: name unchanged TOAST ('u' -> absent from payload),
        # qty explicitly null ('n' -> present null)
        encode_update(OID, [1, UNCHANGED, None]),
        encode_delete(OID, [1, UNCHANGED, UNCHANGED]),
    ]
    df = _wal_df(spark, msgs)
    cache = relation_cache(df)
    assert cache == {OID: ("t", COLS)}
    ev = {r.offset: r for r in decode_messages(df, cache).collect()}
    assert ev[1].operationType == "INSERT"
    assert ev[1].payload == {"id": "1", "name": "a", "qty": "5"}
    # presence contract: 'u' key absent, explicit null kept
    assert ev[2].payload == {"id": "1", "qty": None}
    assert ev[3].operationType == "DELETE"
    assert ev[3].payload == {"id": "1"}


def test_decode_edge_kinds_and_column_drift(spark):
    """Edge paths of the vectorized decode's tuple walk:
    (1) an UPDATE's discarded old tuple containing text/null/TOAST
    values is skipped without affecting the new tuple; (2) a tuple
    WIDER than the relation's column list truncates (zip semantics);
    (3) a tuple NARROWER than the column list leaves trailing columns
    absent; (4) multi-relation TRUNCATE emits one row per oid."""
    import struct as _s

    wide_oid, narrow_oid = 16401, 16402
    msgs = [
        encode_relation(OID, "t", COLS),
        encode_relation(wide_oid, "w", ["id"]),          # 1 declared col
        encode_relation(narrow_oid, "n", COLS),          # 3 declared cols
        # old tuple K with a text value + null + TOAST — must be skipped
        encode_update(OID, [2, "new", None], key_values=[1, "old", None]),
        # tuple has MORE values than declared columns -> extras dropped
        b"I" + _s.pack(">I", wide_oid) + b"N"
        + _s.pack(">H", 3) + b"t" + _s.pack(">I", 1) + b"7"
        + b"n" + b"t" + _s.pack(">I", 1) + b"x",
        # tuple has FEWER values than declared columns -> trailing absent
        b"I" + _s.pack(">I", narrow_oid) + b"N"
        + _s.pack(">H", 1) + b"t" + _s.pack(">I", 1) + b"9",
        encode_truncate([OID, wide_oid]),
    ]
    df = _wal_df(spark, msgs)
    cache = relation_cache(df)
    ev = sorted(decode_messages(df, cache).collect(),
                key=lambda r: (r.offset, r.tableName or ""))
    upd = [r for r in ev if r.operationType == "UPDATE"][0]
    assert upd.payload == {"id": "2", "name": "new", "qty": None}
    wide = [r for r in ev if r.tableName == "w"][0]
    assert wide.payload == {"id": "7"}
    narrow = [r for r in ev if r.tableName == "n"][0]
    assert narrow.payload == {"id": "9"}
    truncs = [r for r in ev if r.operationType == "TRUNCATE"]
    assert sorted(t.tableName for t in truncs) == ["t", "w"]


def test_decode_vectorized_special_values_binary_and_order(spark):
    """Edge paths of the VECTORIZED decode (numpy wave parse + one
    fancy-gather of the text slices): (1) values holding quotes,
    backslashes, control chars and non-ASCII text come back verbatim,
    interleaved with plain rows and markers in one pass; (2) a 'b'
    binary field skips its bytes and lands as a null item; (3) rows
    come back in input order across the row kinds."""
    import struct as _s

    esc = 'he said "hi"\\\t\x01 café'
    msgs = [
        encode_relation(OID, "t", COLS),
        encode_insert(OID, [1, esc, 5]),
        encode_insert(OID, [2, "plain", 6]),
        encode_begin(xid=9),
        # binary 'b' field (never produced in text mode, but legal):
        # value bytes skipped, column lands as explicit null
        b"I" + _s.pack(">I", OID) + b"N"
        + _s.pack(">H", 3) + b"t" + _s.pack(">I", 1) + b"3"
        + b"b" + _s.pack(">I", 4) + b"\xde\xad\xbe\xef"
        + b"t" + _s.pack(">I", 1) + b"7",
        encode_insert(OID, [4, "x€", None]),             # non-ASCII
        encode_commit(),
    ]
    df = _wal_df(spark, msgs)
    ev = decode_messages(df, relation_cache(df)).collect()
    assert [r.offset for r in ev] == [1, 2, 3, 4, 5, 6]
    assert ev[0].payload == {"id": "1", "name": esc, "qty": "5"}
    assert ev[1].payload == {"id": "2", "name": "plain", "qty": "6"}
    assert ev[2].operationType == "BEGIN" and ev[2].txn_id == 9
    assert ev[3].payload == {"id": "3", "name": None, "qty": "7"}
    assert ev[4].payload == {"id": "4", "name": "x€", "qty": None}
    assert ev[5].operationType == "COMMIT"


def test_truncate_and_txn_markers(spark):
    msgs = [
        encode_relation(OID, "t", COLS),
        encode_begin(xid=42),
        encode_truncate([OID]),
        encode_commit(),
    ]
    ev = decode_wal_stream(_wal_df(spark, msgs)).collect()
    by_op = {r.operationType: r for r in ev}
    assert by_op["BEGIN"].txn_id == 42
    assert by_op["TRUNCATE"].tableName == "t"
    assert by_op["TRUNCATE"].txn_id == 42   # propagated in WAL order
    assert by_op["COMMIT"].txn_id == 42


def test_wal_to_committed_state_end_to_end(spark):
    """The reference drops Begin/Commit (producer.go:163-164); here the
    decoded markers drive atomicity: txn 7 commits, txn 8 is cut off
    mid-transaction by the end of the WAL window — its insert AND
    update must both be invisible."""
    msgs = [
        encode_relation(OID, "t", COLS),
        encode_begin(xid=7),
        encode_insert(OID, [1, "a", 5]),
        encode_insert(OID, [2, "b", 6]),
        encode_update(OID, [2, UNCHANGED, 60]),
        encode_commit(),
        encode_begin(xid=8),
        encode_insert(OID, [3, "c", 7]),
        encode_update(OID, [1, UNCHANGED, 50]),
        # WAL read window ends mid-transaction: no commit for xid 8
    ]
    events = decode_wal_stream(_wal_df(spark, msgs))
    schema = _parse_datatype_string("id long, name string, qty long")
    state = apply_changes_transactional(
        events.filter(F.col("tableName").eqNullSafe("t") |
                      F.col("operationType").isin("BEGIN", "COMMIT")),
        schema)
    rows = sorted((r.id, r.name, r.qty) for r in state.collect())
    # txn 7 fully applied; txn 8's insert(3) and update(qty 5->50) absent
    assert rows == [(1, "a", 5), (2, "b", 60)]


def test_decode_messages_nondefault_offset_col(spark):
    """Regression (ADVICE r2): a forwarded non-default offset_col must
    not KeyError inside the decode closure — the column is aliased to
    'offset' before mapInPandas."""
    msgs = [encode_relation(OID, "t", COLS), encode_insert(OID, [1, "a", 5])]
    df = _wal_df(spark, msgs).withColumnRenamed("offset", "lsn")
    cache = relation_cache(df)
    ev = decode_messages(df, cache, offset_col="lsn").collect()
    assert [(r.offset, r.operationType) for r in ev] == [(1, "INSERT")]


def test_mid_batch_relation_resend_uses_prior_schema(spark, tmp_path):
    """Rows preceding a Relation re-send in the SAME batch must decode
    against the prior column list (sequential WAL semantics), not the
    batch-final one (ADVICE r2: WalStreamApply folded all Relations
    before decoding any data row) — through WalStreamApply and through
    decode_wal_stream alike."""
    from pyspark.sql.types import _parse_datatype_string

    from postgres_es_cdc_spark.cdc.txn import TxnUpsertSink
    from postgres_es_cdc_spark.sources.pgoutput import WalStreamApply

    schema = _parse_datatype_string("id long, name string, qty long")
    sink = TxnUpsertSink(str(tmp_path / "state"), {"t": schema})
    apply = WalStreamApply(sink)

    # One batch: v1 schema (id,name,qty) -> insert -> schema change
    # renaming qty->qty2 -> insert. The first insert's third value must
    # map to 'qty', the second one's to 'qty2'.
    msgs = [
        encode_relation(OID, "t", ["id", "name", "qty"]),
        encode_begin(xid=1),
        encode_insert(OID, [1, "a", 5]),
        encode_commit(),
        encode_relation(OID, "t", ["id", "name", "qty2"]),
        encode_begin(xid=2),
        encode_insert(OID, [2, "b", 6]),
        encode_commit(),
    ]
    decoded = apply._decode_in_offset_order(_wal_df(spark, msgs))
    payloads = {r.offset: r.payload for r in decoded.collect()
                if r.operationType == "INSERT"}
    assert payloads[2] == {"id": "1", "name": "a", "qty": "5"}
    assert payloads[6] == {"id": "2", "name": "b", "qty2": "6"}
    # and the carried cache ends at the newest version
    assert apply.relcache[OID] == ("t", ["id", "name", "qty2"])

    # the stateless frontend, decode_wal_stream, keeps the same
    # sequential semantics: a re-send that swaps column order must not
    # re-label the rows before it
    msgs = [
        encode_relation(OID, "t", ["id", "a", "b"]),
        encode_insert(OID, [1, "x", "y"]),
        encode_relation(OID, "t", ["id", "b", "a"]),
        encode_insert(OID, [2, "z", "w"]),
    ]
    payloads = {r.offset: r.payload
                for r in decode_wal_stream(_wal_df(spark, msgs)).collect()}
    assert payloads == {1: {"id": "1", "a": "x", "b": "y"},
                        3: {"id": "2", "b": "z", "a": "w"}}


def test_commit_clears_open_xid(spark, tmp_path):
    """After a batch whose last marker is COMMIT, no transaction is
    open: a stray unbracketed row in the next batch keeps txn_id null
    instead of being attributed to the committed transaction and parked
    forever (ADVICE r2)."""
    from pyspark.sql.types import _parse_datatype_string

    from postgres_es_cdc_spark.cdc.txn import TxnUpsertSink
    from postgres_es_cdc_spark.sources.pgoutput import WalStreamApply

    schema = _parse_datatype_string("id long, name string, qty long")
    sink = TxnUpsertSink(str(tmp_path / "state"), {"t": schema})
    apply = WalStreamApply(sink)

    apply.apply(_wal_df(spark, [
        encode_relation(OID, "t", COLS),
        encode_begin(xid=7),
        encode_insert(OID, [1, "a", 5]),
        encode_commit(),
    ]), 0)
    assert apply.last_xid is None  # txn 7 closed within the batch

    # unbracketed (malformed) row in the next batch: stays unattributed
    ev = apply._decode_in_offset_order(
        _wal_df(spark, [encode_insert(OID, [9, "z", 1])]))
    from postgres_es_cdc_spark.sources.pgoutput import assign_txn_ids
    row = assign_txn_ids(ev).collect()[0]
    assert row.txn_id is None


def test_segment_cut_decode_equals_sequential_reference(spark):
    """Cutting a WAL anywhere and decoding both halves, the second from
    the context the first returns, gives the same rows as decoding it
    whole and assigning txn ids with the sequential last-Begin window —
    across a Relation re-send inside a transaction, a TRUNCATE and a
    transaction still open at the end."""
    from postgres_es_cdc_spark.sources.pgoutput import (
        assign_txn_ids, decode_with_relation_resends)

    msgs = [
        encode_relation(OID, "t", COLS),
        encode_begin(xid=10),
        encode_insert(OID, [1, "a", 5]),
        encode_relation(OID, "t", ["id", "name", "qty2"]),   # re-send
        encode_insert(OID, [2, "b", 6]),
        encode_commit(),
        encode_begin(xid=11),
        encode_truncate([OID]),
        encode_insert(OID, [3, "c", 7]),
        encode_commit(),
        encode_begin(xid=12),
        encode_insert(OID, [4, "d", 8]),
        encode_update(OID, [4, UNCHANGED, 80]),              # left open
    ]

    def rows(ev):
        return sorted((tuple(r) for r in ev.collect()), key=lambda t: t[0])

    whole = _wal_df(spark, msgs)
    ev, ctx = decode_with_relation_resends(whole, {})
    want = rows(assign_txn_ids(ev))
    assert [t[4] for t in want] == [10] * 4 + [11] * 4 + [12] * 3
    assert ctx["commits"] == {10, 11}
    closes = {5: 10, 9: 11}             # Commit offset -> xid it closes
    for cut in range(1, len(msgs)):
        head = whole.filter(F.col("offset") < cut)
        tail = whole.filter(F.col("offset") >= cut)
        ev1, ctx = decode_with_relation_resends(head, {})
        ev2, ctx2 = decode_with_relation_resends(
            tail, ctx["relcache"], last_xid=ctx["last_xid"])
        assert rows(ev1.unionByName(ev2)) == want, cut
        # cuts 2-5 leave txn 10's Commit in the tail before any Begin:
        # it closes the carried xid
        assert ctx["commits"] == {x for o, x in closes.items()
                                  if o < cut}, cut
        assert ctx2["commits"] == {x for o, x in closes.items()
                                   if o >= cut}, cut
    # a Commit with no transaction open commits nothing
    _, ctx = decode_with_relation_resends(_wal_df(spark, [encode_commit()]),
                                          {})
    assert ctx["commits"] == set()


def test_wal_sink_many_commits_and_a_spanning_txn_match_sequential_model(
        spark, tmp_path):
    """Twelve transactions commit in one batch (past the 10-literal
    point where Spark turns the commit filter's In into an InSet) and
    one spans into the next batch: after each batch the state holds
    exactly the committed-only sequential fold, and the pending buffer
    exactly the open transaction's rows."""
    from postgres_es_cdc_spark.cdc.txn import TxnUpsertSink
    from postgres_es_cdc_spark.sources.pgoutput import WalStreamApply

    schema = _parse_datatype_string("id long, name string, qty long")
    sink = TxnUpsertSink(str(tmp_path / "state"), {"t": schema})
    apply = WalStreamApply(sink)
    model: dict = {}

    def fold(ops):
        for op, vals in ops:
            if op == "I":
                model[vals[0]] = list(vals)
            elif vals[0] in model:
                model[vals[0]] = [o if v is UNCHANGED else v
                                  for o, v in zip(model[vals[0]], vals)]

    def txn(xid, ops, commit=True):
        return ([encode_begin(xid=xid)]
                + [(encode_insert if op == "I" else encode_update)(OID, v)
                   for op, v in ops]
                + ([encode_commit()] if commit else []))

    b0 = [encode_relation(OID, "t", COLS)]
    for k in range(12):
        ops = [("I", [k, f"n{k}", k])]
        if k:
            ops.append(("U", [k - 1, UNCHANGED, 100 + k]))
        b0 += txn(100 + k, ops)
        fold(ops)
    fold([("I", [99, "auto", 0])])                  # autocommit row
    b0.append(encode_insert(OID, [99, "auto", 0]))
    open_ops = [("I", [50, "open", 1]), ("U", [0, "x", UNCHANGED])]
    b0 += txn(200, open_ops, commit=False)
    tail_ops = [("U", [50, UNCHANGED, 2])]
    b1 = [encode_update(OID, v) for _, v in tail_ops] + [encode_commit()]
    b1 += txn(201, [("I", [60, "late", 3])], commit=False)

    def check(batch_id, pending):
        state = spark.read.parquet(sink.table_path("t"))
        assert {r.id: [r.id, r.name, r.qty] for r in state.collect()} == \
            model, batch_id
        buf = spark.read.parquet(sink.table_path(TxnUpsertSink.PENDING))
        assert sorted((r.offset, r.txn_id) for r in buf.collect()) == \
            pending, batch_id

    base = len(b0) - 3                              # txn 200's rows
    apply.apply(spark.createDataFrame(
        [(i, bytearray(m)) for i, m in enumerate(b0)],
        "offset long, data binary"), 0)
    assert apply.commits == set(range(100, 112))
    check(0, [(base + 1, 200), (base + 2, 200)])
    apply.apply(spark.createDataFrame(
        [(1000 + i, bytearray(m)) for i, m in enumerate(b1)],
        "offset long, data binary"), 1)
    assert apply.commits == {200}
    fold(open_ops + tail_ops)
    check(1, [(1003, 201)])


def test_wal_stream_pipeline_txn_atomic_across_segments(spark, tmp_path):
    """The whole loop as one stream: segmented WAL files -> decode ->
    transaction-atomic sink. Txn 8 spans a segment boundary and its
    COMMIT arrives only in a later RUN (checkpoint restart between
    them) — the sink must hold its rows pending, then land them
    atomically after restart via the persisted decode context."""
    import os as _os

    from postgres_es_cdc_spark.cdc.txn import TxnUpsertSink
    from postgres_es_cdc_spark.sources.pgoutput import wal_cdc_pipeline

    wal_dir = tmp_path / "wal"
    touched: set[str] = set()

    def write_segment(idx, msgs):
        df = spark.createDataFrame(
            [(idx * 100 + i, bytearray(m)) for i, m in enumerate(msgs)],
            "offset long, data binary")
        df.coalesce(1).write.mode("append").parquet(str(wal_dir))
        for fname in _os.listdir(wal_dir):
            full = str(wal_dir / fname)
            if fname.endswith(".parquet") and full not in touched:
                _os.utime(full, (1_700_000_000 + idx,) * 2)
                touched.add(full)

    write_segment(0, [encode_relation(OID, "t", COLS),
                      encode_begin(xid=7),
                      encode_insert(OID, [1, "a", 5]),
                      encode_insert(OID, [2, "b", 6]),
                      encode_commit(),
                      encode_begin(xid=8),
                      encode_insert(OID, [3, "c", 7])])
    # txn 8 continues in the next segment WITHOUT a new Begin.
    write_segment(1, [encode_update(OID, [3, UNCHANGED, 70])])

    schema = _parse_datatype_string("id long, name string, qty long")
    sink = TxnUpsertSink(str(tmp_path / "state"), {"t": schema})

    def run():
        stream = (spark.readStream.schema("offset long, data binary")
                  .option("maxFilesPerTrigger", "1")
                  .parquet(str(wal_dir)))
        q = wal_cdc_pipeline(stream, sink, str(tmp_path / "ckpt"))
        q.awaitTermination(120)

    run()
    state = spark.read.parquet(sink.table_path("t")).drop("_cdc_version")
    # Only txn 7 visible; txn 8 (insert 3 + its cross-segment update) pending.
    assert sorted((r.id, r.name, r.qty) for r in state.collect()) == \
        [(1, "a", 5), (2, "b", 6)]

    # "Restart": new segment with the commit, fresh query on the same
    # checkpoint; relcache + open-xid come from the persisted context.
    write_segment(2, [encode_commit()])
    run()
    state2 = spark.read.parquet(sink.table_path("t")).drop("_cdc_version")
    assert sorted((r.id, r.name, r.qty) for r in state2.collect()) == \
        [(1, "a", 5), (2, "b", 6), (3, "c", 70)]


def test_wal_stream_schema_evolution_across_batch_boundaries(spark, tmp_path):
    """VERDICT r6 #6: the v2 Relation (adds a column) exercised through
    the REAL streaming path (wal_cdc_pipeline, one segment per
    micro-batch) in both placements:
      (a) mid-batch — rows before the re-send decode with v1, rows
          after with v2, inside one micro-batch;
      (b) at a batch boundary — the next micro-batch has NO Relation
          message at all and decodes entirely from the carried
          (persisted) relation cache.
    The folded sink state must equal the one-shot batch fold of the
    same WAL (stream == batch under DDL drift), with the added column
    NULL for rows never touched post-evolution (putAll key-absent)."""
    import os as _os

    from postgres_es_cdc_spark.cdc.txn import (TxnUpsertSink,
                                               apply_changes_transactional)
    from postgres_es_cdc_spark.sources.pgoutput import (
        WalStreamApply, assign_txn_ids, wal_cdc_pipeline)

    v1_cols = ["id", "name", "qty"]
    v2_cols = ["id", "name", "qty", "prio"]
    seg_msgs = [
        # batch 1: v1 relation + two inserts
        [encode_relation(OID, "t", v1_cols),
         encode_begin(xid=1),
         encode_insert(OID, [1, "a", 5]),
         encode_insert(OID, [2, "b", 6]),
         encode_commit()],
        # batch 2: starts with a v1 UPDATE decoded from the CARRIED
        # cache, then the v2 relation re-send MID-BATCH, then a v2 row
        [encode_begin(xid=2),
         encode_update(OID, [1, UNCHANGED, 50]),
         encode_commit(),
         encode_relation(OID, "t", v2_cols),
         encode_begin(xid=3),
         encode_update(OID, [2, UNCHANGED, UNCHANGED, "HIGH"]),
         encode_commit()],
        # batch 3: no Relation message anywhere — v2 comes entirely
        # from the cross-batch cache carry-over
        [encode_begin(xid=4),
         encode_insert(OID, [3, "c", 7, "LOW"]),
         encode_commit()],
    ]

    wal_dir = tmp_path / "wal"
    touched: set = set()
    for idx, msgs in enumerate(seg_msgs):
        df = spark.createDataFrame(
            [(idx * 100 + i, bytearray(m)) for i, m in enumerate(msgs)],
            "offset long, data binary")
        df.coalesce(1).write.mode("append").parquet(str(wal_dir))
        for fname in _os.listdir(wal_dir):
            full = str(wal_dir / fname)
            if fname.endswith(".parquet") and full not in touched:
                _os.utime(full, (1_700_000_000 + idx,) * 2)
                touched.add(full)

    v2_schema = _parse_datatype_string(
        "id long, name string, qty long, prio string")
    sink = TxnUpsertSink(str(tmp_path / "state"), {"t": v2_schema})
    stream = (spark.readStream.schema("offset long, data binary")
              .option("maxFilesPerTrigger", "1")
              .parquet(str(wal_dir)))
    q = wal_cdc_pipeline(stream, sink, str(tmp_path / "ckpt"))
    q.awaitTermination(120)

    streamed = sorted(
        (r.id, r.name, r.qty, r.prio)
        for r in spark.read.parquet(sink.table_path("t"))
                      .drop("_cdc_version").collect())
    # v1-era rows surface prio NULL unless touched post-evolution
    assert streamed == [(1, "a", 50, None), (2, "b", 6, "HIGH"),
                        (3, "c", 7, "LOW")]
    # persisted context carries the evolved relation version
    assert WalStreamApply(sink).relcache[OID] == ("t", v2_cols)

    # one-shot batch twin over the identical WAL: stream == batch
    from postgres_es_cdc_spark.sources.pgoutput import (
        decode_with_relation_resends)
    all_rows = [(idx * 100 + i, bytearray(m))
                for idx, msgs in enumerate(seg_msgs)
                for i, m in enumerate(msgs)]
    wal = spark.createDataFrame(all_rows, "offset long, data binary")
    ev, _ = decode_with_relation_resends(wal, {})
    state = apply_changes_transactional(
        assign_txn_ids(ev).filter(
            F.col("tableName").eqNullSafe("t") |
            F.col("operationType").isin("BEGIN", "COMMIT")),
        v2_schema)
    batch = sorted((r.id, r.name, r.qty, r.prio) for r in state.collect())
    assert batch == streamed
