"""Unit tests for the CDC fold — every scenario from FIXTURES.md §B,
pinned against hand-computed expected state (reference semantics:
es.go:47-144 putAll partial merge, delete_by_query, insert-as-upsert)."""

from __future__ import annotations

import pytest
from pyspark.sql import Row

from postgres_es_cdc_spark.cdc.apply import apply_changes, latest_events
from postgres_es_cdc_spark.cdc.envelope import EVENT_SCHEMA, dead_letters

SCHEMA = "id long, name string, qty long, price double"


def _events(spark, rows):
    data = [Row(offset=o, operationType=op, tableName="t", payload=p)
            for o, op, p in rows]
    return spark.createDataFrame(data, EVENT_SCHEMA)


def _state(spark, rows):
    from pyspark.sql.types import _parse_datatype_string

    df = apply_changes(_events(spark, rows), _parse_datatype_string(SCHEMA))
    return {r.id: (r.name, r.qty, r.price) for r in df.collect()}


def test_plain_insert(spark):
    s = _state(spark, [(1, "INSERT", '{"id":1,"name":"a","qty":2,"price":9.5}')])
    assert s == {1: ("a", 2, 9.5)}


def test_partial_update_preserves_absent_columns(spark):
    # es.go:56 putAll: absent keys untouched
    s = _state(spark, [
        (1, "INSERT", '{"id":1,"name":"a","qty":2,"price":9.5}'),
        (2, "UPDATE", '{"id":1,"qty":7}'),
    ])
    assert s == {1: ("a", 7, 9.5)}


def test_explicit_null_vs_absent(spark):
    # producer.go:186-187: JSON null means SET NULL; absent means unchanged
    s = _state(spark, [
        (1, "INSERT", '{"id":1,"name":"a","qty":2,"price":9.5}'),
        (2, "UPDATE", '{"id":1,"name":null}'),
    ])
    assert s == {1: (None, 2, 9.5)}


def test_insert_delete(spark):
    s = _state(spark, [
        (1, "INSERT", '{"id":1,"name":"a","qty":2,"price":9.5}'),
        (2, "DELETE", '{"id":1}'),
    ])
    assert s == {}


def test_delete_then_reinsert_orders_by_offset(spark):
    s = _state(spark, [
        (1, "INSERT", '{"id":1,"name":"a","qty":2,"price":9.5}'),
        (2, "DELETE", '{"id":1}'),
        (3, "INSERT", '{"id":1,"name":"b","qty":1,"price":1.0}'),
    ])
    assert s == {1: ("b", 1, 1.0)}


def test_sparse_reinsert_resets_absent_columns(spark):
    # After DELETE, a sparse INSERT starts a fresh document: columns it
    # omits are NULL, not leaked from the pre-delete row.
    s = _state(spark, [
        (1, "INSERT", '{"id":1,"name":"a","qty":2,"price":9.5}'),
        (2, "DELETE", '{"id":1}'),
        (3, "INSERT", '{"id":1,"name":"b"}'),
    ])
    assert s == {1: ("b", None, None)}


def test_multi_update_last_writer_wins_per_column(spark):
    s = _state(spark, [
        (1, "INSERT", '{"id":1,"name":"a","qty":1,"price":1.0}'),
        (2, "UPDATE", '{"id":1,"qty":2}'),
        (3, "UPDATE", '{"id":1,"price":3.5}'),
        (4, "UPDATE", '{"id":1,"qty":4}'),
    ])
    assert s == {1: ("a", 4, 3.5)}


def test_replayed_duplicates_are_idempotent(spark):
    rows = [
        (1, "INSERT", '{"id":1,"name":"a","qty":2,"price":9.5}'),
        (2, "UPDATE", '{"id":1,"qty":7}'),
    ]
    replay = [(o + 100, op, p) for o, op, p in rows]
    assert _state(spark, rows + replay) == {1: ("a", 7, 9.5)}


def test_out_of_order_arrival_folds_by_offset(spark):
    # arrival order U,I but offsets say I,U
    s = _state(spark, [
        (2, "UPDATE", '{"id":1,"qty":7}'),
        (1, "INSERT", '{"id":1,"name":"a","qty":2,"price":9.5}'),
    ])
    assert s == {1: ("a", 7, 9.5)}


def test_update_without_insert_is_noop(spark):
    # update_by_query matching nothing (es.go:47-86)
    s = _state(spark, [(1, "UPDATE", '{"id":9,"qty":7}')])
    assert s == {}


def test_update_after_delete_is_noop(spark):
    s = _state(spark, [
        (1, "INSERT", '{"id":1,"name":"a","qty":2,"price":9.5}'),
        (2, "DELETE", '{"id":1}'),
        (3, "UPDATE", '{"id":1,"qty":7}'),
    ])
    assert s == {}


def test_corrupt_event_skipped_and_quarantined(spark):
    rows = [
        (1, "INSERT", '{"id":1,"name":"a","qty":2,"price":9.5}'),
        (2, "INSERT", "{oops"),
        (3, "UPDATE", '{"id":1,"qty":7}'),
    ]
    assert _state(spark, rows) == {1: ("a", 7, 9.5)}
    dl = dead_letters(_events(spark, rows)).collect()
    assert [r.offset for r in dl] == [2]


def test_multi_table_routing_isolated(spark):
    from pyspark.sql import functions as F
    from pyspark.sql.types import _parse_datatype_string

    ev = _events(spark, [
        (1, "INSERT", '{"id":1,"name":"a","qty":1,"price":1.0}'),
        (3, "DELETE", '{"id":1}'),
    ])
    ev2 = _events(spark, [
        (2, "INSERT", '{"id":1,"name":"z","qty":9,"price":2.0}'),
    ]).withColumn("tableName", F.lit("u"))
    from postgres_es_cdc_spark.cdc.apply import apply_all

    folded = apply_all(ev.unionByName(ev2),
                       {"t": _parse_datatype_string(SCHEMA),
                        "u": _parse_datatype_string(SCHEMA)})
    assert folded["t"].count() == 0  # deleted in t
    u = folded["u"].collect()
    assert len(u) == 1 and u[0].name == "z"


def test_latest_events_picks_max_offset(spark):
    ev = _events(spark, [
        (1, "INSERT", '{"id":1,"name":"a"}'),
        (5, "UPDATE", '{"id":1,"name":"b"}'),
        (3, "UPDATE", '{"id":1,"name":"c"}'),
        (2, "INSERT", '{"id":2,"name":"x"}'),
    ])
    latest = {r._key: (r.operationType, r.offset)
              for r in latest_events(ev).collect()}
    assert latest == {"1": ("UPDATE", 5), "2": ("INSERT", 2)}


def test_truncate_wipes_prior_state(spark):
    from pyspark.sql.types import _parse_datatype_string

    from postgres_es_cdc_spark.cdc.apply import apply_changes_with_truncate

    ev = _events(spark, [
        (1, "INSERT", '{"id":1,"name":"a","qty":1,"price":1.0}'),
        (2, "INSERT", '{"id":2,"name":"b","qty":2,"price":2.0}'),
        (3, "TRUNCATE", "{}"),
        (4, "INSERT", '{"id":3,"name":"c","qty":3,"price":3.0}'),
        (5, "UPDATE", '{"id":1,"qty":9}'),  # id 1 gone: no-op
    ])
    out = apply_changes_with_truncate(
        ev, _parse_datatype_string(SCHEMA))
    rows = {r.id: (r.name, r.qty) for r in out.collect()}
    assert rows == {3: ("c", 3)}


def test_truncate_absent_is_identity(spark):
    from pyspark.sql.types import _parse_datatype_string

    from postgres_es_cdc_spark.cdc.apply import apply_changes_with_truncate

    rows = [
        (1, "INSERT", '{"id":1,"name":"a","qty":2,"price":9.5}'),
        (2, "UPDATE", '{"id":1,"qty":7}'),
    ]
    plain = _state(spark, rows)
    with_t = apply_changes_with_truncate(
        _events(spark, rows), _parse_datatype_string(SCHEMA))
    got = {r.id: (r.name, r.qty, r.price) for r in with_t.collect()}
    assert got == plain


def test_key_missing_from_schema_raises(spark):
    from pyspark.sql.types import _parse_datatype_string

    with pytest.raises(ValueError):
        apply_changes(_events(spark, []), _parse_datatype_string("x long"))


def test_schema_evolution_new_column_mid_stream(spark):
    """ES-dynamic-mapping parity (es.go:28-45): a payload column that
    first appears mid-stream materializes for every row — NULL where it
    predates the column, valued where events supplied it."""
    from pyspark.sql.types import _parse_datatype_string
    from postgres_es_cdc_spark.cdc.apply import apply_changes_evolving

    ev = _events(spark, [
        (1, "INSERT", '{"id":1,"name":"a","qty":2,"price":9.5}'),
        (2, "INSERT", '{"id":2,"name":"b","qty":1,"price":1.0}'),
        (3, "UPDATE", '{"id":2,"note":"vip"}'),          # new column!
        (4, "INSERT", '{"id":3,"name":"c","qty":5,"price":2.0,"note":"new"}'),
    ])
    df = apply_changes_evolving(ev, _parse_datatype_string(SCHEMA))
    assert "note" in df.columns
    s = {r.id: (r.name, r.qty, r.note) for r in df.collect()}
    assert s == {1: ("a", 2, None), 2: ("b", 1, "vip"), 3: ("c", 5, "new")}


def test_schema_evolution_reinsert_resets_evolved_column(spark):
    """A re-INSERT without the evolved column resets it (fresh-document
    semantics apply to dynamic columns exactly like declared ones)."""
    from pyspark.sql.types import _parse_datatype_string
    from postgres_es_cdc_spark.cdc.apply import apply_changes_evolving

    ev = _events(spark, [
        (1, "INSERT", '{"id":1,"name":"a","qty":2,"price":9.5}'),
        (2, "UPDATE", '{"id":1,"note":"vip"}'),
        (3, "INSERT", '{"id":1,"name":"a2","qty":3,"price":9.5}'),  # re-insert
    ])
    df = apply_changes_evolving(ev, _parse_datatype_string(SCHEMA))
    s = {r.id: (r.name, r.qty, r.note) for r in df.collect()}
    assert s == {1: ("a2", 3, None)}


def test_schema_evolution_no_new_columns_is_identity(spark):
    """With no unknown keys, the evolving variant equals apply_changes."""
    from pyspark.sql.types import _parse_datatype_string
    from postgres_es_cdc_spark.cdc.apply import apply_changes_evolving

    rows = [
        (1, "INSERT", '{"id":1,"name":"a","qty":2,"price":9.5}'),
        (2, "UPDATE", '{"id":1,"qty":7}'),
    ]
    schema = _parse_datatype_string(SCHEMA)
    a = apply_changes_evolving(_events(spark, rows), schema)
    b = apply_changes(_events(spark, rows), schema)
    assert a.columns == b.columns
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_latest_events_same_for_decoded_wal_and_json_envelope(spark):
    """A decoded pgoutput frame (map payloads) and its JSON-envelope
    twin give the same latest event per key, payload aside from its
    shape."""
    import json

    from postgres_es_cdc_spark.sources.pgoutput import (
        UNCHANGED, decode_wal_stream, encode_delete, encode_insert,
        encode_relation, encode_update)

    oid, cols = 16384, ["id", "name", "qty"]
    wal = [encode_relation(oid, "t", cols),
           encode_insert(oid, [1, "a", 5]),
           encode_insert(oid, [2, "b", 6]),
           encode_update(oid, [1, UNCHANGED, None]),
           encode_insert(oid, [3, "c", 7]),
           encode_delete(oid, [2, UNCHANGED, UNCHANGED])]
    decoded = decode_wal_stream(spark.createDataFrame(
        [(i, bytearray(m)) for i, m in enumerate(wal)],
        "offset long, data binary"))
    twin = _events(spark, [
        (1, "INSERT", '{"id":1,"name":"a","qty":5}'),
        (2, "INSERT", '{"id":2,"name":"b","qty":6}'),
        (3, "UPDATE", '{"id":1,"qty":null}'),
        (4, "INSERT", '{"id":3,"name":"c","qty":7}'),
        (5, "DELETE", '{"id":2}'),
    ])

    def latest(ev, as_dict):
        return sorted((r.tableName, r._key, r.offset, r.operationType,
                       as_dict(r.payload))
                      for r in latest_events(ev).collect())

    def json_dict(p):
        return {k: None if v is None else str(v)
                for k, v in json.loads(p).items()}

    got = latest(decoded, dict)
    assert got == latest(twin, json_dict)
    assert [t[1:4] for t in got] == [("1", 3, "UPDATE"), ("2", 5, "DELETE"),
                                     ("3", 4, "INSERT")]
