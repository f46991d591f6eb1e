"""The CDC change-event envelope.

Mirrors the reference's one first-class data structure
(``DatabaseEvent{operationType, tableName, payload}``, utils.go:22-26,
JSON-marshalled at utils.go:74 onto Kafka topic "CDC" partition 0,
utils.go:31/49). The single-partition Kafka offset / WAL LSN
(producer.go:171) becomes an explicit ``offset`` long column — the total
order key.

A payload reaches the engine in one of two shapes: a JSON string (the
Kafka wire, file envelopes) or the ``map<string,string>`` of column name
-> text value that the pgoutput decoder builds, as the reference does
before it marshals (producer.go:124-159). ``payload_map`` is the one
parse: it hands a map through and parses a JSON string once with
``from_json``, picking the branch from the column's declared type.

One typed change shape: ``typed_events`` is the only code that turns
that map into typed values. Every field is a cast of its map entry
(payload rows are flat, producer.go:129-133, and the pgoutput decoder
sends every value as text), and ``payload_fields`` is the map's key
set. The key set keeps
the reference's distinction between "column absent from payload"
(unchanged — the pgoutput 'u' TOAST marker is skipped,
producer.go:185-194, and ES ``putAll`` leaves absent fields alone,
es.go:56) and "column explicitly null" (set to null,
producer.go:186-187), which the struct alone collapses.
``state_as_inserts`` is the same shape for committed state re-entering
the fold, so stored values never pass back through JSON.

Corrupt JSON payloads (unmarshal failure is skipped in the reference,
utils.go:99-102) parse to a null map: ``typed_events`` drops them and
``dead_letters`` exposes them instead of killing the stream.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType, MapType, StringType, StructField, StructType)

# Wire envelope: utils.go:22-26 + the Kafka offset as order key (utils.go:49).
EVENT_SCHEMA = StructType([
    StructField("offset", LongType(), False),
    StructField("operationType", StringType(), False),
    StructField("tableName", StringType(), False),
    StructField("payload", StringType(), True),
])

OP_INSERT = "INSERT"   # utils.go:34
OP_UPDATE = "UPDATE"   # utils.go:35
OP_DELETE = "DELETE"   # utils.go:36


def parse_envelope(raw: DataFrame, value_col: str = "value",
                   offset_col: str = "offset") -> DataFrame:
    """Kafka-shaped (binary value + offset) -> flat envelope columns."""
    env = F.from_json(F.col(value_col).cast("string"),
                      "operationType string, tableName string, payload string")
    return raw.select(
        F.col(offset_col).cast("long").alias("offset"),
        env["operationType"].alias("operationType"),
        env["tableName"].alias("tableName"),
        env["payload"].alias("payload"),
    )


def payload_map(events: DataFrame) -> Column:
    """``events``' payload as ``map<string,string>``: the column itself
    when it already is a map (the pgoutput decode), else one
    ``from_json`` of the JSON string (null when it does not parse)."""
    if isinstance(events.schema["payload"].dataType, MapType):
        return F.col("payload")
    return F.from_json("payload", "map<string,string>")


def typed_events(events: DataFrame, value_schema: StructType,
                 order_col: str = "offset") -> DataFrame:
    """Flat envelope rows, with either payload shape (``payload_map``)
    -> the typed change shape the fold consumes: (``order_col``,
    operationType, payload struct<value_schema>, payload_fields
    array<string>). Unparseable payloads are dropped."""
    return (events.withColumn("_m", payload_map(events))
                  .filter(F.col("_m").isNotNull())
                  .select(order_col, "operationType",
                          F.struct(*[F.col("_m")[f.name].cast(f.dataType)
                                     .alias(f.name)
                                     for f in value_schema.fields])
                           .alias("payload"),
                          F.map_keys("_m").alias("payload_fields")))


def state_as_inserts(state: DataFrame, value_schema: StructType,
                     version_col: str, order_col: str = "offset") -> DataFrame:
    """Committed state re-entering the fold: each row as a full-row
    INSERT at its version ``version_col``, every field present (so a
    stored null stays an explicit null), typed values untouched."""
    names = value_schema.fieldNames()
    return state.select(
        F.col(version_col).alias(order_col),
        F.lit(OP_INSERT).alias("operationType"),
        F.struct(*names).alias("payload"),
        F.array(*[F.lit(c) for c in names]).alias("payload_fields"))


def dead_letters(events: DataFrame) -> DataFrame:
    """Events whose payload failed to parse (reference: skipped with a log,
    utils.go:99-102). Kept queryable instead of dropped."""
    return events.filter(payload_map(events).isNull())


def is_valid(col_payload: Column) -> Column:
    return F.from_json(col_payload, "map<string,string>").isNotNull()
