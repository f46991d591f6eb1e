"""``apply_changes`` — the engine's flagship operator.

The reference's whole consumer is a streaming upsert-materializer: fold
the ordered event log into latest-state-per-id per table, where
  INSERT  -> index a document                        (es.go:88-110)
  UPDATE  -> ``ctx._source.putAll(params.data)`` — a *partial merge*:
             keys present in the payload overwrite (including explicit
             nulls), absent keys are untouched      (es.go:47-86, :56)
  DELETE  -> delete_by_query on id                  (es.go:112-144)
applied one HTTP call per event in arrival order (utils.go:92-117).

Spark-first formulation (batch; the streaming frontend reuses it via
``foreachBatch``): ONE aggregation pass — no window, no UDFs, no
per-event loop, no driver-side state — over ONE input shape, the typed
change rows of ``envelope.typed_events``. ``apply_changes`` brings an
envelope (JSON payload or decoded map) into that shape and calls
``apply_changes_typed``, the
one fold; sinks feed their committed state back in the same shape
(``envelope.state_as_inserts``). Per key:

  1. reset        = max-offset non-UPDATE event (as struct(offset, op)):
                    INSERT replaces the document wholesale under keyed
                    upsert semantics — fixing the reference's
                    duplicate-on-replay bug es.go:95-98; DELETE empties it.
  2. per column   = max-offset event whose payload *contains* the key
                    (``payload_fields`` — see envelope.py), as
                    struct(offset, value).
  3. final value  = that candidate's value IF its offset is at/after the
                    reset offset, else NULL — which simultaneously
                    discards stale pre-reset updates (they can't outrank
                    live writes) and resets columns a sparse re-INSERT
                    omitted (fresh document semantics).
  4. key survives iff the reset op is INSERT (updates to missing or
                    deleted ids are no-ops, like update_by_query against
                    nothing; deletes drop the row).

Scale notes: a pure commutative aggregation means Catalyst plans
map-side PARTIAL aggregation — the one Exchange carries one partial row
per (key, mapper), not the event stream itself. (The previous
formulation windowed over the events and shuffled every event; at CDC
volumes the partial-agg shuffle is arbitrarily smaller.) Skew is
absorbed the same way partial aggregation always absorbs it; there is
no driver-side collect anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from postgres_es_cdc_spark.cdc.envelope import (
    OP_INSERT, OP_UPDATE, payload_map, typed_events)


def latest_events(events: DataFrame, key: str = "id",
                  order_col: str = "offset") -> DataFrame:
    """Per (tableName, key): the single latest event, its payload in the
    shape it came in (JSON string or decoded map — ``payload_map`` reads
    the key from either).

    The reference gets this ordering implicitly from single-partition
    Kafka (utils.go:49); we recover it per-key — and as a ``max_by``
    aggregation on the offset rather than a row_number window, so the
    shuffle carries map-side partial maxima instead of every event
    (same partial-agg shape as apply_changes).
    """
    top = F.max_by(F.struct("operationType", "payload"),
                   order_col).alias("_top")
    return (
        events.withColumn("_key", payload_map(events)[key])
              .groupBy("tableName", "_key")
              .agg(F.max(order_col).alias("offset"), top)
              .select("tableName", "_key", "offset",
                      F.col("_top")["operationType"].alias("operationType"),
                      F.col("_top")["payload"].alias("payload"))
    )


def apply_changes(events: DataFrame, value_schema: StructType,
                  key: str = "id", order_col: str = "offset",
                  version_col: str | None = None) -> DataFrame:
    """Fold a single table's event stream into its final state.

    ``events``: flat envelope rows (offset, operationType, payload[, ...])
    whose payload is either the JSON string of the wire format
    (utils.go:74) or the pgoutput decoder's ``map<string,string>``
    (``envelope.payload_map`` tells them apart by the column's type).
    Returns one row per surviving key with the columns of ``value_schema``;
    if ``version_col`` is given, adds the max contributing offset per row
    (the row's materialized version — what an incremental sink stores so
    the next micro-batch folds against correctly-ordered prior state).
    Corrupt payloads are skipped (utils.go:99-102) — dead_letters()
    exposes them.
    """
    return apply_changes_typed(
        typed_events(events, value_schema, order_col), value_schema,
        key, order_col, version_col=version_col)


def apply_changes_typed(events: DataFrame, value_schema: StructType,
                        key: str = "id", order_col: str = "offset",
                        fields_col: str = "payload_fields",
                        version_col: str | None = None) -> DataFrame:
    """The fold over the typed change shape (``typed_events``) — every
    other entry point ends here.

    ``events``: (offset, operationType, payload struct<value_schema>,
    payload_fields array<string>). The fields array carries pgoutput's
    key-presence information (producer.go:183-195: a column absent from
    the tuple means "unchanged", a present-but-null column means "set
    null" — the struct alone cannot distinguish the two, es.go:56).
    Events that never leave the engine (in-pipeline change feeds,
    Debezium-style parquet/Avro landed with a typed schema, committed
    state) come in this shape directly, with no JSON anywhere.
    """
    value_cols = [f.name for f in value_schema.fields]
    if key not in value_cols:
        raise ValueError(f"key column {key!r} missing from value schema")
    ev = events.select(
        F.col(order_col).cast("long").alias("_off"),
        F.col("operationType").alias("_op"),
        F.col("payload")[key].alias(key),
        F.col("payload").alias("_p"),
        F.col(fields_col).alias("_f"),
    ).filter(F.col(key).isNotNull())
    # Reset marker: max-offset non-UPDATE event. (struct max compares
    # offset first; on an exact offset tie — a replayed event meeting an
    # incremental sink's stored state — 'INSERT' > 'DELETE' resolves to
    # the surviving row, and UPDATEs never participate so they can't
    # shadow the INSERT.)
    reset = F.max(
        F.when(F.col("_op") != OP_UPDATE,
               F.struct(F.col("_off").alias("o"), F.col("_op").alias("op")))
    ).alias("_reset")
    # Per-column latest-carrier candidate (offset, value).
    per_col = [
        F.max(
            F.when(F.array_contains("_f", c),
                   F.struct(F.col("_off").alias("o"),
                            F.col("_p")[c].alias("v")))
        ).alias(f"_m_{c}")
        for c in value_cols if c != key
    ]
    aggs = [reset, *per_col]
    if version_col is not None:
        aggs.append(F.max("_off").alias(version_col))
    agg = ev.groupBy(key).agg(*aggs)

    # Keys that only ever saw UPDATEs have a null reset; keys whose reset
    # is a DELETE are dropped — both matching the reference's
    # apply-to-nothing semantics (es.go:47-86, es.go:112-144).
    live = agg.filter(F.col("_reset")["op"] == OP_INSERT)

    def final(c: str):
        if c == key:
            return F.col(key)
        return F.when(F.col(f"_m_{c}")["o"] >= F.col("_reset")["o"],
                      F.col(f"_m_{c}")["v"]).alias(c)

    out = [final(c) for c in value_cols]
    if version_col is not None:
        out.append(F.col(version_col))
    return live.select(*out)


def apply_changes_with_truncate(events: DataFrame, value_schema: StructType,
                                key: str = "id",
                                order_col: str = "offset") -> DataFrame:
    """apply_changes honoring TRUNCATE events (table-wide wipe at an
    offset). The reference silently DROPS TruncateMessage
    (producer.go:162-166) — truncating the source desyncs its sink; here
    a TRUNCATE discards every event at a lower offset before the keyed
    fold (one tiny aggregate broadcast into the scan filter; the fold
    itself is unchanged, still one partial-agg shuffle)."""
    trunc = events.filter(F.col("operationType") == "TRUNCATE").agg(
        F.coalesce(F.max(F.col(order_col)), F.lit(-1)).alias("_t"))
    survivors = (
        events.filter(F.col("operationType") != "TRUNCATE")
              .crossJoin(F.broadcast(trunc))
              .filter(F.col(order_col) > F.col("_t"))
              .drop("_t")
    )
    return apply_changes(survivors, value_schema, key, order_col)


def observed_payload_columns(events: DataFrame) -> list[str]:
    """Distinct payload keys present anywhere in the event stream.

    The schema-inference pass behind ``apply_changes_evolving``: one
    scan, keys exploded then distinct (strings of column names — the
    shuffle is vocabulary-sized, not data-sized). At very large volumes
    restrict ``events`` to a recent offset range first; new columns by
    definition appear in new events.
    """
    keys = (events
            .select(F.explode(F.map_keys(payload_map(events))).alias("c"))
            .distinct())
    return sorted(r.c for r in keys.collect())


def evolve_schema(base: StructType, events: DataFrame) -> StructType:
    """``base`` widened with payload columns the stream introduced.

    New columns type as STRING: the wire value domain is JSON text and
    the reference's own fallback for unknown type OIDs is the raw
    string (producer.go:180) — so string is the faithful dynamic type,
    and a later declared migration can cast it.
    """
    known = set(base.fieldNames())
    from pyspark.sql.types import StringType, StructField
    extra = [StructField(c, StringType(), True)
             for c in observed_payload_columns(events) if c not in known]
    return StructType(list(base.fields) + extra)


def apply_changes_evolving(events: DataFrame, base_schema: StructType,
                           key: str = "id", order_col: str = "offset",
                           version_col: str | None = None) -> DataFrame:
    """``apply_changes`` with schema evolution — parity with the
    reference's *dynamic* Elasticsearch mapping (es.go:28-45 creates
    indices with no mapping body, so a column added upstream just
    starts indexing). A fixed ``value_schema`` silently drops unknown
    payload keys; this variant widens the schema from the stream first,
    so rows that predate the column hold NULL and later events populate
    it — exactly what ES dynamic mapping yields.
    """
    return apply_changes(events, evolve_schema(base_schema, events),
                         key, order_col, version_col)


def apply_all(events: DataFrame, schemas: dict[str, StructType],
              key: str = "id", order_col: str = "offset") -> dict[str, DataFrame]:
    """Route a mixed-table event stream (utils.go:105-112: one ES index per
    tableName) and fold each table independently."""
    return {
        name: apply_changes(
            events.filter(F.col("tableName") == name), schema, key, order_col
        )
        for name, schema in schemas.items()
    }
