"""Structured Streaming frontend — the reference's two processes as one
Spark streaming pipeline.

Reference architecture (SURVEY.md §0): producer tails Postgres WAL and
publishes JSON ``DatabaseEvent``s to Kafka topic "CDC" partition 0
(producer.go:60-174, utils.go:67-90); consumer replays the topic and
applies each event to Elasticsearch one HTTP call at a time
(utils.go:92-117, es.go:47-144).

Spark-first replacement:
  * source  — ``readStream`` from Kafka (production) or a file/parquet
    directory (tests); the Kafka ``offset`` column replaces the LSN
    (producer.go:171) as the version key, and the streaming CHECKPOINT
    replaces the reference's in-memory-only LSN + temporary slot
    (producer.go:55) — durable, resumable, no data-loss window.
  * apply   — ``foreachBatch``: per micro-batch, run the same
    ``apply_changes`` fold per table and MERGE into the materialized
    sink. State lives in the sink table, exactly like the reference
    keeps state in ES — minus its at-most-once/replay-always bugs
    (utils.go:84-89, utils.go:49, es.go:95-98).
"""

from __future__ import annotations

import os
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from postgres_es_cdc_spark.cdc.apply import apply_changes_typed
from postgres_es_cdc_spark.cdc.envelope import (
    EVENT_SCHEMA, parse_envelope, state_as_inserts, typed_events)
from postgres_es_cdc_spark.streaming.store import VersionedStore


def kafka_event_stream(spark: SparkSession, bootstrap_servers: str,
                       topic: str = "CDC",
                       starting_offsets: str = "earliest") -> DataFrame:
    """Production source: Kafka topic of JSON DatabaseEvent envelopes
    (topic name per utils.go:31; earliest ≙ OffsetOldest utils.go:49 —
    but replay-once thanks to checkpointing, not replay-always)."""
    raw = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
        .load()
    )
    return parse_envelope(raw, value_col="value", offset_col="offset")


def kafka_event_sink(events: DataFrame, bootstrap_servers: str,
                     checkpoint_dir: str, topic: str = "CDC"):
    """Production producer side (reference A14, utils.go:67-90): publish
    DatabaseEvent envelopes as JSON to Kafka — but batched, acked, and
    checkpointed, fixing the reference's fire-and-forget loss window
    (utils.go:86-88). Key = tableName so per-table order survives a
    multi-partition topic (the reference forces one partition instead).

    Returns the started StreamingQuery.
    """
    payload = F.to_json(F.struct("operationType", "tableName", "payload"))
    return (
        events.select(
            F.col("tableName").cast("string").alias("key"),
            payload.alias("value"))
        .writeStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("topic", topic)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


def file_event_stream(spark: SparkSession, path: str,
                      max_files_per_trigger: int | None = None) -> DataFrame:
    """Test source: a directory of parquet files already in envelope
    shape (offset, operationType, tableName, payload)."""
    reader = (spark.readStream.schema(EVENT_SCHEMA).format("parquet"))
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.load(path)


class UpsertSink(VersionedStore):
    """foreachBatch sink that maintains latest-state-per-key per table in
    parquet directories — the engine's stand-in for one ES index per
    table (utils.go:104-108), with MERGE semantics instead of per-event
    HTTP calls.

    Merge strategy: decode the micro-batch once (``typed_events``),
    union the committed state as typed full-row INSERTs
    (``state_as_inserts``), fold both with ``apply_changes_typed`` —
    the same per-column last-writer-wins rules — and write a new
    version. State stays typed rows end to end, so a row no batch
    touches reads back bit-identical. (With a Delta/Iceberg
    sink this becomes MERGE INTO; plain parquet keeps the dependency
    surface of this repo minimal while the fold logic — the part under
    test — is identical.)

    Commit: each table is a frame of the sink's ``VersionedStore``.
    Overwriting the state dir in place has a torn window — Spark's
    overwrite deletes before it rewrites, so a crash mid-write loses
    BOTH the old and new state — so every merge lands a fresh version
    dir and one manifest repoint makes all tables current together
    with the batch id, which gates redelivered batches.

    Versioning: each state row carries ``_cdc_version`` — the max offset
    that contributed to it. Prior state enters the next micro-batch's
    fold as an INSERT at that true offset, so replayed events (same
    offsets redelivered after a restart) are idempotent and cross-batch
    per-key ordering is respected as long as the source delivers each
    key's events with monotone offsets across triggers (what a Kafka
    partition provides, and the same assumption as the reference's
    sequential consumer, utils.go:92-117). A late event older than a
    row's materialized version is ignored as a whole — per-column late
    resolution would need per-column versions; deleted keys keep no
    tombstone, matching the reference (delete_by_query leaves nothing,
    es.go:112-144).
    """

    VERSION_COL = "_cdc_version"

    def __init__(self, base_dir: str, schemas: dict[str, StructType],
                 key: str = "id", order_col: str = "offset"):
        # the store reads each table with its stored schema: the value
        # columns plus the version column (a column added since the
        # state was written reads as null)
        super().__init__(os.path.join(base_dir, "_manifest.json"), {},
                         schemas={name: StructType([*schema]).add(
                             self.VERSION_COL, "long")
                             for name, schema in schemas.items()})
        self.value_schemas = schemas
        self.key = key
        self.order_col = order_col

    def table_path(self, name: str) -> str | None:
        """The CURRENT committed state directory for a table, as the
        manifest names it; None before its first commit."""
        return self.meta().get(name)

    def _merge(self, spark: SparkSession, name: str, batch: DataFrame,
               batch_id: int = 0) -> str:
        """Fold ``batch`` into the table's committed state and land the
        result as the table's version dir for ``batch_id``; returns the
        dir, which becomes current at the sink's commit."""
        schema = self.value_schemas[name]
        # Committed state re-enters the fold as typed full-row INSERTs at
        # each row's version: batch events at higher offsets then
        # override per column/key by exactly the apply_changes rules.
        # DELETEs in the batch drop existing keys; sparse UPDATEs merge
        # onto existing rows; stored values never pass through JSON.
        events = typed_events(batch, schema, self.order_col)
        stored = self.read(spark, name)
        if stored is not None:
            events = events.unionByName(state_as_inserts(
                stored, schema, self.VERSION_COL, self.order_col))
        state = apply_changes_typed(events, schema, self.key, self.order_col,
                                    version_col=self.VERSION_COL)
        return self.land({name: state}, batch_id)[name]

    def apply_batch(self, batch: DataFrame, batch_id: int) -> None:
        if self.applied(batch_id):
            return                      # committed replay: no-op
        spark = batch.sparkSession
        self.commit(batch_id, {
            name: self._merge(spark, name,
                              batch.filter(F.col("tableName") == name),
                              batch_id)
            for name in self.value_schemas})

    def writer(self) -> Callable[[DataFrame, int], None]:
        return self.apply_batch


def run_cdc_pipeline(events: DataFrame, sink: UpsertSink,
                     checkpoint_dir: str, trigger_once: bool = True):
    """Wire an event stream into the upsert sink with a durable
    checkpoint (the reference's missing durability: producer.go:55
    temporary slot, utils.go:49 no offset commit)."""
    writer = (
        events.writeStream
        .foreachBatch(sink.writer())
        .option("checkpointLocation", checkpoint_dir)
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def sessionized_event_aggregate(events: DataFrame, ts_col: str = "ts",
                                gap: str = "30 minutes",
                                watermark: str = "10 minutes") -> DataFrame:
    """Streaming gap-based sessionization per user via the native
    session_window operator ([EXT]; batch twin: operators/events_q.py
    events_session's lag+cumsum islands). The watermark bounds session
    state: sessions older than it are finalized and evicted."""
    return (
        events.withWatermark(ts_col, watermark)
              .groupBy(F.session_window(F.col(ts_col), gap).alias("sw"),
                       F.col("user_id"))
              .agg(F.count("*").alias("n_events"),
                   F.sum("value").alias("sum_value"))
              .select("user_id",
                      F.col("sw.start").alias("session_start"),
                      F.col("sw.end").alias("session_end"),
                      "n_events", "sum_value")
    )


def dedup_events_within_watermark(events: DataFrame, keys: list[str],
                                  ts_col: str = "ts",
                                  watermark: str = "10 minutes") -> DataFrame:
    """Streaming exact dedup with bounded state:
    dropDuplicatesWithinWatermark keeps each key only as long as the
    watermark requires — the streaming fix for the reference's
    duplicate-on-replay behavior (es.go:95-98) when the source itself
    redelivers (at-least-once Kafka producers)."""
    return (events.withWatermark(ts_col, watermark)
                  .dropDuplicatesWithinWatermark(keys))


def windowed_event_aggregate(events: DataFrame, ts_col: str = "ts",
                             watermark: str = "10 minutes",
                             window_duration: str = "5 minutes",
                             slide: str | None = None) -> DataFrame:
    """Streaming tumbling/sliding aggregation with late-data watermark —
    [EXT]: the reference has no event-time notion at all (arrival order
    only, SURVEY.md §2)."""
    win = (F.window(F.col(ts_col), window_duration, slide)
           if slide else F.window(F.col(ts_col), window_duration))
    return (
        events.withWatermark(ts_col, watermark)
              .groupBy(win.alias("win"), F.col("event_type"))
              .agg(F.count("*").alias("n_events"),
                   F.sum("value").alias("sum_value"))
              .select(F.col("win.start").alias("window_start"),
                      F.col("win.end").alias("window_end"),
                      "event_type", "n_events", "sum_value")
    )


def interval_join_streams(left: DataFrame, right: DataFrame,
                          key: str = "user_id", ts_col: str = "ts",
                          watermark: str = "1 hour",
                          max_gap: str = "30 minutes",
                          how: str = "inner") -> DataFrame:
    """Stream-stream interval join ([EXT], SURVEY Table B joins row):
    right-side events that follow a left-side event by the same key
    within ``max_gap``. Watermarks on BOTH sides bound the join state —
    Spark expires buffered rows once the watermark passes the interval
    bound, so state stays O(events within the gap window), the only
    formulation that survives an unbounded 100 TB stream.

    Output: one row per qualifying (left, right) pair with both
    timestamps and the right-side value.
    """
    l_ = left.select(F.col(key).alias("l_key"),
                     F.col(ts_col).alias("l_ts")) \
             .withWatermark("l_ts", watermark)
    r_ = right.select(F.col(key).alias("r_key"),
                      F.col(ts_col).alias("r_ts"),
                      F.col("value").alias("r_value")) \
              .withWatermark("r_ts", watermark)
    cond = F.expr(
        f"l_key = r_key AND r_ts >= l_ts AND "
        f"r_ts <= l_ts + INTERVAL {max_gap}")
    return (l_.join(r_, cond, how)
              .select(F.col("l_key").alias(key), "l_ts", "r_ts", "r_value"))
