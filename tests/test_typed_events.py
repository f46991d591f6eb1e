"""The typed change shape the CDC fold runs on (cdc/envelope.py
``typed_events``): committed state re-enters the fold as typed rows, so
values the wire format cannot carry exactly survive every later batch;
and payloads whose values arrive as JSON text (what the pgoutput
decoder emits: 't' values stay text) fold to typed values on every
path."""

from __future__ import annotations

from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql.types import _parse_datatype_string

from postgres_es_cdc_spark.cdc.envelope import EVENT_SCHEMA


def _envelope(spark, rows):
    data = [Row(offset=o, operationType=op, tableName="t", payload=p)
            for o, op, p in rows]
    return spark.createDataFrame(data, EVENT_SCHEMA)


def test_upsert_state_untouched_by_a_batch_reads_back_bit_identical(
        spark, tmp_path):
    """A row batch 2 never touches must read back exactly as batch 1
    left it: microsecond timestamps and binary bytes included."""
    from postgres_es_cdc_spark.streaming.pipeline import UpsertSink

    schema = _parse_datatype_string(
        "id long, ts timestamp, raw binary, note string")
    sink = UpsertSink(str(tmp_path / "state"), {"t": schema})

    def row(id_):
        got = (spark.read.parquet(sink.table_path("t"))
                    .filter(F.col("id") == id_).collect())
        assert len(got) == 1
        return got[0].asDict()

    sink.apply_batch(_envelope(spark, [
        (1, "INSERT", '{"id":1,"ts":"2024-03-05 10:20:30.123456",'
                      '"raw":"ab","note":"x"}')]), 0)
    first = row(1)
    assert first["ts"].microsecond == 123456
    assert bytes(first["raw"]) == b"ab"

    sink.apply_batch(_envelope(spark, [
        (2, "INSERT", '{"id":2,"ts":null,"raw":null,"note":"y"}')]), 1)
    assert row(1) == first
    sink.apply_batch(_envelope(spark, [
        (3, "UPDATE", '{"id":2,"note":"z"}')]), 2)
    assert row(1) == first


_TEXT_ROWS = [
    (1, "INSERT", '{"id":"7","custkey":"5","totalprice":"1.5"}'),
    (2, "UPDATE", '{"id":"7","totalprice":"2.25"}'),
    (3, "INSERT", '{"id":"8","custkey":"6","totalprice":null}'),
]
_TEXT_SCHEMA = "id long, custkey long, totalprice double"


def test_text_valued_payloads_fold_to_typed_values(spark):
    """pgoutput-shaped payloads (every value a JSON string) fold to
    typed values through apply_changes AND the SCD2 history."""
    from postgres_es_cdc_spark.cdc.apply import apply_changes
    from postgres_es_cdc_spark.cdc.envelope import typed_events
    from postgres_es_cdc_spark.cdc.scd2 import scd2_history

    schema = _parse_datatype_string(_TEXT_SCHEMA)
    ev = _envelope(spark, _TEXT_ROWS)
    state = {r.id: (r.custkey, r.totalprice)
             for r in apply_changes(ev, schema).collect()}
    assert state == {7: (5, 2.25), 8: (6, None)}

    hist = scd2_history(typed_events(ev, schema), schema)
    got = sorted((r.id, r.custkey, r.totalprice, r.valid_from, r.valid_to,
                  r.is_current)
                 for r in hist.collect())
    assert got == [(7, 5, 1.5, 1, 2, False),
                   (7, 5, 2.25, 2, None, True),
                   (8, 6, None, 3, None, True)]
