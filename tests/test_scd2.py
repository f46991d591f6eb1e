"""Unit tests for SCD2 history (cdc/scd2.py) — version-row semantics
pinned against hand-computed histories (reference fold semantics:
es.go:56 putAll merge, es.go:52 orphan no-op, es.go:95-98 reinsert)."""

from __future__ import annotations

from pyspark.sql import Row
from pyspark.sql.types import _parse_datatype_string

from postgres_es_cdc_spark.cdc.scd2 import scd2_history

SCHEMA = "id long, name string, qty long"


def _history(spark, rows):
    """rows: (offset, op, payload-dict). Presence = the dict's keys."""
    data = [Row(offset=o, operationType=op,
                payload=Row(id=p.get("id"), name=p.get("name"),
                            qty=p.get("qty")),
                payload_fields=sorted(p.keys()))
            for o, op, p in rows]
    schema = _parse_datatype_string(
        "offset long, operationType string, "
        "payload struct<id:long,name:string,qty:long>, "
        "payload_fields array<string>")
    df = scd2_history(spark.createDataFrame(data, schema),
                      _parse_datatype_string(SCHEMA))
    return [(r.id, r.name, r.qty, r.valid_from, r.valid_to, r.is_current,
             r.version_op)
            for r in df.orderBy("id", "valid_from").collect()]


def test_insert_update_chain_versions(spark):
    h = _history(spark, [
        (1, "INSERT", {"id": 1, "name": "a", "qty": 2}),
        (2, "UPDATE", {"id": 1, "qty": 7}),
        (3, "UPDATE", {"id": 1, "name": None}),  # explicit null
    ])
    assert h == [
        (1, "a", 2, 1, 2, False, "INSERT"),
        (1, "a", 7, 2, 3, False, "UPDATE"),   # absent name unchanged
        (1, None, 7, 3, None, True, "UPDATE"),  # null SET, qty carried
    ]


def test_delete_closes_validity_without_version(spark):
    h = _history(spark, [
        (1, "INSERT", {"id": 1, "name": "a", "qty": 2}),
        (2, "DELETE", {"id": 1}),
    ])
    assert h == [(1, "a", 2, 1, 2, False, "INSERT")]


def test_delete_then_reinsert_resets_merge_state(spark):
    h = _history(spark, [
        (1, "INSERT", {"id": 1, "name": "a", "qty": 2}),
        (2, "UPDATE", {"id": 1, "qty": 9}),
        (3, "DELETE", {"id": 1}),
        (4, "INSERT", {"id": 1, "name": "b"}),  # sparse reinsert
    ])
    assert h == [
        (1, "a", 2, 1, 2, False, "INSERT"),
        (1, "a", 9, 2, 3, False, "UPDATE"),
        # qty resets to NULL: new document, not a merge (es.go:95-98)
        (1, "b", None, 4, None, True, "INSERT"),
    ]


def test_orphan_updates_emit_nothing(spark):
    h = _history(spark, [
        (1, "UPDATE", {"id": 5, "qty": 1}),        # before any insert
        (2, "INSERT", {"id": 1, "name": "a", "qty": 2}),
        (3, "DELETE", {"id": 1}),
        (4, "UPDATE", {"id": 1, "qty": 8}),        # after delete
    ])
    assert h == [(1, "a", 2, 2, 3, False, "INSERT")]


def test_reinsert_without_delete_resets_like_new_doc(spark):
    h = _history(spark, [
        (1, "INSERT", {"id": 1, "name": "a", "qty": 2}),
        (2, "INSERT", {"id": 1, "name": "b"}),
    ])
    assert h == [
        (1, "a", 2, 1, 2, False, "INSERT"),
        (1, "b", None, 2, None, True, "INSERT"),
    ]


def test_single_shuffle_plan(spark):
    """The whole history fold must reuse ONE hash partitioning on the
    key: exactly one Exchange in the physical plan (the windows chain)."""
    rows = [(i, "INSERT", {"id": i % 4, "name": "x", "qty": i})
            for i in range(1, 9)]
    data = [Row(offset=o, operationType=op,
                payload=Row(id=p["id"], name=p["name"], qty=p["qty"]),
                payload_fields=["id", "name", "qty"])
            for o, op, p in rows]
    schema = _parse_datatype_string(
        "offset long, operationType string, "
        "payload struct<id:long,name:string,qty:long>, "
        "payload_fields array<string>")
    df = scd2_history(spark.createDataFrame(data, schema),
                      _parse_datatype_string(SCHEMA))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1, plan


def _envelope(spark, rows):
    from postgres_es_cdc_spark.cdc.envelope import EVENT_SCHEMA

    data = [Row(offset=o, operationType=op, tableName="t", payload=p)
            for o, op, p in rows]
    return spark.createDataFrame(data, EVENT_SCHEMA)


_B1 = [
    (1, "INSERT", '{"id":1,"name":"a","qty":2}'),
    (2, "INSERT", '{"id":2,"name":"b","qty":5}'),
    (3, "UPDATE", '{"id":1,"qty":7}'),
]
_B2 = [
    (4, "UPDATE", '{"id":1,"name":null}'),
    (5, "DELETE", '{"id":2}'),
    (6, "UPDATE", '{"id":2,"qty":9}'),   # orphan: after delete
    (7, "INSERT", '{"id":3,"name":"c","qty":1}'),
]


def _none_safe(rows):
    return sorted(rows, key=lambda t: tuple((x is None, x) for x in t))


def _hist_rows(spark, path):
    df = spark.read.parquet(path)
    return _none_safe(
        (r.id, r.name, r.qty, r.valid_from, r.valid_to, r.is_current,
         r.version_op)
        for r in df.collect())


def test_scd2_sink_incremental_equals_batch(spark, tmp_path):
    """History after two micro-batches == one batch fold over all
    events."""
    from postgres_es_cdc_spark.cdc.envelope import (
        typed_events as scd2_typed_from_envelope)
    from postgres_es_cdc_spark.cdc.scd2 import Scd2Sink, scd2_history

    schema = _parse_datatype_string(SCHEMA)
    sink = Scd2Sink(str(tmp_path / "hist"), schema)
    sink.apply_batch(_envelope(spark, _B1), 0)
    sink.apply_batch(_envelope(spark, _B2), 1)

    want_df = scd2_history(
        scd2_typed_from_envelope(_envelope(spark, _B1 + _B2), schema), schema)
    want = _none_safe(
        (r.id, r.name, r.qty, r.valid_from, r.valid_to, r.is_current,
         r.version_op)
        for r in want_df.collect())
    assert _hist_rows(spark, sink.path) == want
    # and the expected history itself, for zero-context readability:
    assert want == _none_safe([
        (1, "a", 2, 1, 3, False, "INSERT"),
        (1, "a", 7, 3, 4, False, "UPDATE"),
        (1, None, 7, 4, None, True, "UPDATE"),
        (2, "b", 5, 2, 5, False, "INSERT"),
        (3, "c", 1, 7, None, True, "INSERT"),
    ])


def test_scd2_sink_replay_is_idempotent(spark, tmp_path):
    from postgres_es_cdc_spark.cdc.scd2 import Scd2Sink

    schema = _parse_datatype_string(SCHEMA)
    sink = Scd2Sink(str(tmp_path / "hist"), schema)
    sink.apply_batch(_envelope(spark, _B1), 0)
    sink.apply_batch(_envelope(spark, _B2), 1)
    before = _hist_rows(spark, sink.path)
    sink.apply_batch(_envelope(spark, _B2), 2)   # redelivered trigger
    assert _hist_rows(spark, sink.path) == before


def test_scd2_sink_late_orphan_update_after_delete(spark, tmp_path):
    """A key deleted in an earlier batch must ignore later UPDATEs
    (no live document to merge into) but accept a re-INSERT."""
    from postgres_es_cdc_spark.cdc.scd2 import Scd2Sink

    schema = _parse_datatype_string(SCHEMA)
    sink = Scd2Sink(str(tmp_path / "hist"), schema)
    sink.apply_batch(_envelope(spark, [
        (1, "INSERT", '{"id":1,"name":"a","qty":2}'),
        (2, "DELETE", '{"id":1}'),
    ]), 0)
    sink.apply_batch(_envelope(spark, [
        (3, "UPDATE", '{"id":1,"qty":9}'),
        (4, "INSERT", '{"id":1,"name":"z","qty":0}'),
    ]), 1)
    assert _hist_rows(spark, sink.path) == _none_safe([
        (1, "a", 2, 1, 2, False, "INSERT"),
        (1, "z", 0, 4, None, True, "INSERT"),
    ])


def test_scd2_sink_failed_history_write_keeps_prior_history(
        spark, tmp_path, monkeypatch):
    """A task failure in the job that writes the new history must leave
    the committed history readable in full. An in-place overwrite fails
    this: Spark deletes the output dir before the job's tasks run."""
    import pytest
    from pyspark.sql import DataFrameWriter
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType

    from postgres_es_cdc_spark.cdc.scd2 import Scd2Sink

    base = str(tmp_path / "hist")
    sink = Scd2Sink(base, _parse_datatype_string(SCHEMA))
    sink.apply_batch(_envelope(spark, _B1), 0)
    before = _hist_rows(spark, sink.path)

    @F.udf(LongType())
    def boom(x):
        raise RuntimeError("injected task failure")

    real = DataFrameWriter.parquet

    def failing(writer, path, *args, **kwargs):
        # the write that puts new history under the sink's path fails
        # inside its tasks, after Spark has prepared the output dir
        # (a ".tmp" staging copy is not the history itself)
        if path.startswith(base) and not path.endswith(".tmp"):
            df = writer._df
            writer = df.withColumn("id", boom("id")).write.mode("overwrite")
        return real(writer, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", failing)
    with pytest.raises(Exception, match="injected task failure"):
        sink.apply_batch(_envelope(spark, _B2), 1)
    monkeypatch.undo()
    assert _hist_rows(spark, sink.path) == before
