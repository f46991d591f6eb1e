"""Streaming frontend tests: batch-vs-stream equivalence of the CDC fold
(Structured Streaming prefix consistency makes this a fair check —
SURVEY.md §5.4) and the windowed event aggregate."""

from __future__ import annotations

import importlib.util
import os

import pytest
from pyspark.sql import functions as F

from postgres_es_cdc_spark.cdc.apply import apply_changes
from postgres_es_cdc_spark.cdc.generate import (
    orders_cdc_events, orders_cdc_value_schema)
from postgres_es_cdc_spark.streaming.pipeline import (
    UpsertSink, file_event_stream, run_cdc_pipeline, windowed_event_aggregate)


@pytest.fixture(scope="module")
def event_dir(spark, sf_dir, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("cdc_events"))
    ev = orders_cdc_events(spark, sf_dir)
    # The sink's cross-batch versioning assumes Kafka-partition delivery:
    # per-key monotone offsets across triggers. FileStreamSource orders
    # files by MODIFICATION TIME (ties arbitrary), so write one file per
    # offset quartile and force strictly increasing mtimes.
    hi = ev.agg(F.max("offset")).collect()[0][0] + 1
    seen: set[str] = set()
    base = 1_700_000_000
    for i in range(4):
        lo_b, hi_b = i * hi // 4, (i + 1) * hi // 4
        (ev.filter((F.col("offset") >= lo_b) & (F.col("offset") < hi_b))
           .coalesce(1).write.mode("append").parquet(path))
        for fname in os.listdir(path):
            full = os.path.join(path, fname)
            if fname.endswith(".parquet") and full not in seen:
                os.utime(full, (base + i, base + i))
                seen.add(full)
    return path


def test_stream_fold_equals_batch_fold(spark, sf_dir, event_dir, tmp_path):
    schema = orders_cdc_value_schema()
    sink = UpsertSink(str(tmp_path / "state"), {"orders": schema})
    stream = file_event_stream(spark, event_dir, max_files_per_trigger=2)
    q = run_cdc_pipeline(stream, sink, str(tmp_path / "ckpt"))
    q.awaitTermination(120)

    got = spark.read.parquet(sink.table_path("orders")).drop("_cdc_version")
    want = apply_changes(orders_cdc_events(spark, sf_dir), schema)
    sym_diff = got.exceptAll(want).count() + want.exceptAll(got).count()
    assert got.count() == want.count()
    assert sym_diff == 0


def test_incremental_batches_converge(spark, tmp_path):
    """Feed two micro-batches by hand through the sink: state after both
    equals a single fold over the concatenation."""
    from pyspark.sql import Row
    from postgres_es_cdc_spark.cdc.envelope import EVENT_SCHEMA
    from pyspark.sql.types import _parse_datatype_string

    schema = _parse_datatype_string("id long, name string, qty long")
    b1 = spark.createDataFrame([
        Row(offset=1, operationType="INSERT", tableName="t",
            payload='{"id":1,"name":"a","qty":1}'),
        Row(offset=2, operationType="INSERT", tableName="t",
            payload='{"id":2,"name":"b","qty":2}'),
    ], EVENT_SCHEMA)
    b2 = spark.createDataFrame([
        Row(offset=3, operationType="UPDATE", tableName="t",
            payload='{"id":1,"qty":9}'),
        Row(offset=4, operationType="DELETE", tableName="t",
            payload='{"id":2}'),
    ], EVENT_SCHEMA)
    sink = UpsertSink(str(tmp_path / "state"), {"t": schema})
    sink.apply_batch(b1, 0)
    sink.apply_batch(b2, 1)
    state = spark.read.parquet(sink.table_path("t"))
    rows = {r.id: (r.name, r.qty, r._cdc_version) for r in state.collect()}
    assert rows == {1: ("a", 9, 3)}  # version = last contributing offset

    # Redelivery of the same micro-batch (restart replay) is idempotent.
    sink.apply_batch(b2, 2)
    again = {r.id: (r.name, r.qty, r._cdc_version)
             for r in spark.read.parquet(sink.table_path("t")).collect()}
    assert again == rows


def test_upsert_sink_reopened_with_added_column(spark, tmp_path):
    """A sink reopened with a widened schema (Postgres ADD COLUMN)
    merges into state written before the column existed: the stored
    rows read back with the new column null."""
    from pyspark.sql import Row
    from postgres_es_cdc_spark.cdc.envelope import EVENT_SCHEMA
    from pyspark.sql.types import _parse_datatype_string

    v1 = _parse_datatype_string("id long, name string")
    v2 = _parse_datatype_string("id long, name string, prio string")
    UpsertSink(str(tmp_path / "state"), {"t": v1}).apply_batch(
        spark.createDataFrame([
            Row(offset=1, operationType="INSERT", tableName="t",
                payload='{"id":1,"name":"a"}')], EVENT_SCHEMA), 0)
    sink = UpsertSink(str(tmp_path / "state"), {"t": v2})
    sink.apply_batch(spark.createDataFrame([
        Row(offset=2, operationType="INSERT", tableName="t",
            payload='{"id":2,"name":"b","prio":"HIGH"}')], EVENT_SCHEMA), 1)
    rows = {r.id: (r.name, r.prio)
            for r in spark.read.parquet(sink.table_path("t")).collect()}
    assert rows == {1: ("a", None), 2: ("b", "HIGH")}


def test_windowed_aggregate_stream_matches_batch(spark, tmp_path):
    """Tumbling-window streaming agg == the equivalent batch groupBy."""
    rows = [(i, f"2024-01-01 00:{i % 30:02d}:{(7 * i) % 60:02d}",
             "click" if i % 2 else "view", float(i)) for i in range(200)]
    df = spark.createDataFrame(rows, "event_id long, ts_str string, event_type string, value double") \
              .select("event_id", F.col("ts_str").cast("timestamp").alias("ts"),
                      "event_type", "value")
    src = str(tmp_path / "events")
    df.repartition(3).write.mode("overwrite").parquet(src)

    stream = (spark.readStream.schema(df.schema).parquet(src))
    agg = windowed_event_aggregate(stream, ts_col="ts")
    out = str(tmp_path / "out")
    q = (agg.writeStream.outputMode("append")
            .format("memory").queryName("win_agg")
            .option("checkpointLocation", out)
            .trigger(availableNow=True).start())
    q.awaitTermination(120)
    # append mode emits only watermark-closed windows; check subset match
    got = {(r.window_start, r.event_type): (r.n_events, r.sum_value)
           for r in spark.sql("SELECT * FROM win_agg").collect()}
    batch = {(r.win.start, r.event_type): (r.n_events, r.sum_value)
             for r in df.groupBy(F.window("ts", "5 minutes").alias("win"),
                                 "event_type")
                        .agg(F.count("*").alias("n_events"),
                             F.sum("value").alias("sum_value")).collect()}
    assert set(got).issubset(set(batch))
    for k, v in got.items():
        assert batch[k] == v


def test_session_window_stream_matches_batch(spark, tmp_path):
    """Streaming session_window agg == the same operator run in batch."""
    rows = [(i, f"2024-01-01 {i % 4:02d}:{(13 * i) % 60:02d}:00",
             (i % 5) + 1, float(i)) for i in range(300)]
    df = spark.createDataFrame(
        rows, "event_id long, ts_str string, user_id long, value double"
    ).select("event_id", F.col("ts_str").cast("timestamp").alias("ts"),
             "user_id", "value")
    src = str(tmp_path / "events")
    df.repartition(2).write.mode("overwrite").parquet(src)

    from postgres_es_cdc_spark.streaming.pipeline import sessionized_event_aggregate

    stream = spark.readStream.schema(df.schema).parquet(src)
    agg = sessionized_event_aggregate(stream, gap="10 minutes")
    q = (agg.writeStream.outputMode("complete")
            .format("memory").queryName("sess_agg")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {(r.user_id, r.session_start, r.session_end): (r.n_events, r.sum_value)
           for r in spark.sql("SELECT * FROM sess_agg").collect()}
    batch = {(r.user_id, r.session_start, r.session_end): (r.n_events, r.sum_value)
             for r in sessionized_event_aggregate(df, gap="10 minutes").collect()}
    assert got == batch
    assert len(got) > 5


def test_dedup_within_watermark_removes_redeliveries(spark, tmp_path):
    rows = [(i % 50, "2024-01-01 00:10:00", float(i % 50)) for i in range(150)]
    df = spark.createDataFrame(rows, "event_id long, ts_str string, value double") \
              .select("event_id", F.col("ts_str").cast("timestamp").alias("ts"), "value")
    src = str(tmp_path / "dups")
    df.write.mode("overwrite").parquet(src)

    from postgres_es_cdc_spark.streaming.pipeline import dedup_events_within_watermark

    stream = spark.readStream.schema(df.schema).parquet(src)
    deduped = dedup_events_within_watermark(stream, ["event_id"])
    q = (deduped.writeStream.outputMode("append")
            .format("memory").queryName("dedup_out")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True).start())
    q.awaitTermination(120)
    out = spark.sql("SELECT event_id, count(*) c FROM dedup_out GROUP BY 1").collect()
    assert len(out) == 50 and all(r.c == 1 for r in out)


def test_stateful_running_totals_accumulate_across_batches(spark, tmp_path):
    """applyInPandasWithState keeps per-key state across micro-batches:
    two batches of events -> final totals equal the batch aggregate."""
    import os as _os

    from postgres_es_cdc_spark.streaming.stateful import running_user_totals

    rows1 = [(i, (i % 7) + 1, float(i)) for i in range(100)]
    rows2 = [(100 + i, (i % 7) + 1, float(i) / 2) for i in range(80)]
    schema = "event_id long, user_id long, value double"
    src = str(tmp_path / "events")
    base = 1_700_000_000
    for j, rows in enumerate([rows1, rows2]):
        spark.createDataFrame(rows, schema).coalesce(1) \
             .write.mode("append").parquet(src)
        for fname in _os.listdir(src):
            full = _os.path.join(src, fname)
            if fname.endswith(".parquet"):
                cur = _os.stat(full).st_mtime
                if cur > base + j or cur < base:
                    _os.utime(full, (base + j, base + j))

    stream = (spark.readStream.schema(schema).format("parquet")
                   .option("maxFilesPerTrigger", "1").load(src))
    q = (running_user_totals(stream)
         .writeStream.outputMode("update")
         .format("memory").queryName("running_totals")
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)

    # memory sink in update mode appends each batch's emissions; the
    # final state per user is the LAST emission.
    out = spark.sql("""
        SELECT user_id, n_events, sum_value FROM (
          SELECT *, row_number() OVER (PARTITION BY user_id
                                       ORDER BY n_events DESC) rn
          FROM running_totals) WHERE rn = 1""").collect()
    got = {r.user_id: (r.n_events, r.sum_value) for r in out}
    both = spark.createDataFrame(rows1 + rows2, schema)
    want = {r.user_id: (r.n, r.s) for r in both.groupBy("user_id").agg(
        F.count("*").alias("n"), F.sum("value").alias("s")).collect()}
    assert set(got) == set(want)
    for u in want:
        assert got[u][0] == want[u][0]
        assert abs(got[u][1] - want[u][1]) < 1e-9


@pytest.mark.skipif(
    importlib.util.find_spec("google") is None
    or importlib.util.find_spec("google.protobuf") is None,
    reason="transformWithState's state-server protocol needs protobuf "
           "(absent in this container); the API path is still exercised "
           "on clusters that have it")
def test_transform_with_state_matches_batch_totals(spark, tmp_path):
    """transformWithStateInPandas (Spark 4 successor API) computes the
    same per-user running totals as the GroupState path. Needs the
    RocksDB state store provider, set for this query only."""
    from postgres_es_cdc_spark.streaming.stateful import running_user_totals_tws

    rows = [(i, (i % 5) + 1, float(i)) for i in range(200)]
    schema = "event_id long, user_id long, value double"
    src = str(tmp_path / "events")
    spark.createDataFrame(rows, schema).write.mode("overwrite").parquet(src)

    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider")
    try:
        stream = spark.readStream.schema(schema).parquet(src)
        q = (running_user_totals_tws(stream)
             .writeStream.outputMode("update")
             .format("memory").queryName("running_totals_tws")
             .option("checkpointLocation", str(tmp_path / "ckpt"))
             .trigger(availableNow=True).start())
        q.awaitTermination(120)
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", prev)

    out = spark.sql("""
        SELECT user_id, n_events, sum_value FROM (
          SELECT *, row_number() OVER (PARTITION BY user_id
                                       ORDER BY n_events DESC) rn
          FROM running_totals_tws) WHERE rn = 1""").collect()
    got = {r.user_id: (r.n_events, r.sum_value) for r in out}
    want = {r.user_id: (r.n, r.s)
            for r in spark.createDataFrame(rows, schema)
                          .groupBy("user_id")
                          .agg(F.count("*").alias("n"),
                               F.sum("value").alias("s")).collect()}
    assert set(got) == set(want)
    for u in want:
        assert got[u][0] == want[u][0]
        assert abs(got[u][1] - want[u][1]) < 1e-9


def test_stream_static_join_enriches_events(spark, sf_dir, tmp_path):
    """Stream-static join ([EXT], SURVEY Table B): a streaming event feed
    joined to a static dimension table, batch==stream result."""
    from postgres_es_cdc_spark.catalog import table as _table

    cust = _table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment")
    rows = [(i, (i % 100) + 1, float(i)) for i in range(500)]
    schema = "event_id long, user_id long, value double"
    df = spark.createDataFrame(rows, schema)
    src = str(tmp_path / "events")
    df.write.mode("overwrite").parquet(src)

    stream = spark.readStream.schema(df.schema).parquet(src)
    enriched = (stream.join(cust, "user_id")
                      .groupBy("c_mktsegment")
                      .agg(F.count("*").alias("n"), F.sum("value").alias("s")))
    q = (enriched.writeStream.outputMode("complete")
            .format("memory").queryName("enriched")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {r.c_mktsegment: (r.n, r.s)
           for r in spark.sql("SELECT * FROM enriched").collect()}
    want = {r.c_mktsegment: (r.n, r.s)
            for r in df.join(cust, "user_id").groupBy("c_mktsegment")
                       .agg(F.count("*").alias("n"), F.sum("value").alias("s"))
                       .collect()}
    assert got == want and len(got) == 5


def test_kafka_envelope_parse(spark):
    """parse_envelope decodes the Kafka-wire JSON DatabaseEvent shape
    (utils.go:69-74) without a Kafka broker."""
    from pyspark.sql import Row
    from postgres_es_cdc_spark.cdc.envelope import parse_envelope

    raw = spark.createDataFrame([
        Row(value=bytearray(
            b'{"operationType":"INSERT","tableName":"t",'
            b'"payload":"{\\"id\\":1}"}'), offset=42),
    ], "value binary, offset long")
    out = parse_envelope(raw).collect()[0]
    assert (out.offset, out.operationType, out.tableName, out.payload) == \
        (42, "INSERT", "t", '{"id":1}')


@pytest.mark.skipif(
    not os.environ.get("KAFKA_BOOTSTRAP_SERVERS"),
    reason="Kafka integration smoke needs a broker (set "
           "KAFKA_BOOTSTRAP_SERVERS) and the spark-sql-kafka package; "
           "neither ships in this container")
def test_kafka_roundtrip_smoke(spark, sf_dir, tmp_path):
    """Envelope publish -> consume round trip against a real broker:
    kafka_event_sink writes JSON DatabaseEvents, kafka_event_stream
    reads them back through parse_envelope."""
    from postgres_es_cdc_spark.cdc.generate import orders_cdc_events
    from postgres_es_cdc_spark.streaming.pipeline import (
        kafka_event_sink, kafka_event_stream)

    servers = os.environ["KAFKA_BOOTSTRAP_SERVERS"]
    topic = f"cdc_smoke_{os.getpid()}"
    events = orders_cdc_events(spark, sf_dir).limit(200)
    src = str(tmp_path / "envelopes")
    events.write.parquet(src)

    out = (spark.readStream.schema(events.schema).parquet(src))
    q = kafka_event_sink(out, servers, str(tmp_path / "ckpt_sink"), topic)
    q.processAllAvailable(); q.stop()

    back = kafka_event_stream(spark, servers, topic)
    q2 = (back.writeStream.format("memory").queryName("kafka_back")
              .option("checkpointLocation", str(tmp_path / "ckpt_src"))
              .trigger(availableNow=True).start())
    q2.awaitTermination(120)
    assert spark.table("kafka_back").count() == 200


def test_stream_stream_interval_join_matches_batch(spark, tmp_path):
    """Stream-stream interval join with two-sided watermarks == the same
    join run in batch (availableNow drains everything, so no rows are
    lost to the watermark in this bounded test)."""
    from postgres_es_cdc_spark.streaming.pipeline import interval_join_streams

    views = [(i, f"2024-01-01 00:{(3 * i) % 60:02d}:00", (i % 10) + 1, 0.0)
             for i in range(120)]
    buys = [(1000 + i, f"2024-01-01 00:{(5 * i) % 60:02d}:30", (i % 10) + 1,
             float(i)) for i in range(80)]
    schema = "event_id long, ts_str string, user_id long, value double"

    def to_df(rows):
        return (spark.createDataFrame(rows, schema)
                .select("event_id", F.col("ts_str").cast("timestamp").alias("ts"),
                        "user_id", "value"))

    v_src, b_src = str(tmp_path / "views"), str(tmp_path / "buys")
    to_df(views).write.parquet(v_src)
    to_df(buys).write.parquet(b_src)
    v_schema = to_df(views).schema

    vs = spark.readStream.schema(v_schema).parquet(v_src)
    bs = spark.readStream.schema(v_schema).parquet(b_src)
    q = (interval_join_streams(vs, bs, max_gap="10 minutes")
         .writeStream.outputMode("append")
         .format("memory").queryName("ssj_out")
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)

    got = {tuple(r) for r in spark.table("ssj_out").collect()}
    want = {tuple(r) for r in
            interval_join_streams(to_df(views), to_df(buys),
                                  max_gap="10 minutes").collect()}
    assert got == want
    assert len(want) > 20


def test_stateful_sessionizer_event_time_timeout(spark, tmp_path):
    """Custom sessionizer: sessions close inline when a later event
    exceeds the gap, and via EventTimeTimeout when the watermark passes
    an idle session's deadline with no further events for that key."""
    import os as _os

    from postgres_es_cdc_spark.streaming.stateful import (
        user_sessions_with_timeout)

    schema = "event_id long, ts_str string, user_id long"

    def write_batch(rows, j):
        src = str(tmp_path / "events")
        (spark.createDataFrame(rows, schema)
              .select("event_id", F.col("ts_str").cast("timestamp").alias("ts"),
                      "user_id")
              .coalesce(1).write.mode("append").parquet(src))
        base = 1_700_000_000
        for fname in _os.listdir(src):
            full = _os.path.join(src, fname)
            if fname.endswith(".parquet"):
                cur = _os.stat(full).st_mtime
                if cur > base + j or cur < base:
                    _os.utime(full, (base + j, base + j))
        return src

    # batch 1: user 1 = one 3-event session; user 2 = two singleton
    # sessions an hour apart (first closes inline within the batch)
    write_batch([(1, "2024-01-01 00:00:00", 1),
                 (2, "2024-01-01 00:01:00", 1),
                 (3, "2024-01-01 00:02:00", 1),
                 (4, "2024-01-01 00:00:00", 2),
                 (5, "2024-01-01 01:00:00", 2)], 0)
    # batch 2: user 2 again, an hour later -> closes its second session
    # inline; advances the watermark past user 1's idle deadline
    write_batch([(6, "2024-01-01 02:00:00", 2)], 1)
    # batch 3: unrelated user; its batch start fires user 1's timeout
    src = write_batch([(7, "2024-01-01 03:00:00", 99)], 2)

    stream = (spark.readStream
              .schema(spark.read.parquet(src).schema)
              .option("maxFilesPerTrigger", "1").parquet(src))
    q = (user_sessions_with_timeout(stream, gap_us=30 * 60 * 1_000_000)
         .writeStream.outputMode("append")
         .format("memory").queryName("sessions_out")
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(180)

    def us(h, m, s=0):
        import datetime as dt
        t = dt.datetime(2024, 1, 1, h, m, s, tzinfo=dt.timezone.utc)
        return int(t.timestamp() * 1_000_000)

    got = {(r.user_id, r.session_start_us, r.session_end_us, r.n_events)
           for r in spark.table("sessions_out").collect()}
    # Local-session timezone is UTC in tests; timestamps written as
    # naive strings, so compare via the same cast the operator used.
    raw = spark.sql("SELECT CAST('2024-01-01 00:00:00' AS TIMESTAMP) t") \
               .select((F.col("t").cast("double") * 1_000_000)
                       .cast("long").alias("us")).collect()[0].us
    base = raw  # epoch micros of local-midnight 2024-01-01

    def m(minutes):
        return base + minutes * 60 * 1_000_000

    want = {
        (2, m(0), m(0), 1),       # inline close, batch 1
        (2, m(60), m(60), 1),     # inline close, batch 2
        (1, m(0), m(2), 3),       # EventTimeTimeout close, batch 3
        # availableNow runs a final watermark-flush batch (wm = 02:50):
        # user 2's 02:00 session (deadline 02:30) times out there; user
        # 99's (deadline 03:30) correctly stays open and is never emitted
        (2, m(120), m(120), 1),
    }
    assert got == want


def test_watermark_drops_late_events_across_batches(spark, tmp_path):
    """GUARANTEED late-data semantics (not just stream==batch): once the
    watermark passes a window's end and append mode emits it, the state
    is evicted — a straggler arriving in a later micro-batch is dropped
    (numRowsDroppedByWatermark) and can neither change the emitted
    result nor re-emit the window. (Inside the same batch as the
    crossing, merging is best-effort by design; only post-eviction
    dropping is contractual.)"""
    schema = "event_id long, ts timestamp, event_type string, value double"
    touched: set[str] = set()

    def write_file(idx, rows):
        df = spark.createDataFrame(
            rows,
            "event_id long, ts_str string, event_type string, value double",
        ).select("event_id", F.col("ts_str").cast("timestamp").alias("ts"),
                 "event_type", "value")
        df.coalesce(1).write.mode("append").parquet(str(tmp_path / "src"))
        base = 1_700_000_000
        for fname in os.listdir(tmp_path / "src"):
            full = str(tmp_path / "src" / fname)
            if fname.endswith(".parquet") and full not in touched:
                os.utime(full, (base + idx, base + idx))
                touched.add(full)

    # Batch 0: W0=[00:00,00:05) events + 01:00 (watermark -> 00:50).
    write_file(0, [(1, "2024-01-01 00:00:10", "view", 1.0),
                   (2, "2024-01-01 00:02:00", "view", 2.0),
                   (3, "2024-01-01 00:04:00", "view", 3.0),
                   (4, "2024-01-01 01:00:00", "view", 4.0)])
    # Batch 1: watermark 00:50 > W0 end -> W0 emitted + state evicted.
    write_file(1, [(6, "2024-01-01 01:10:00", "view", 5.0)])
    # Batch 2: straggler inside the already-closed W0 (must be dropped).
    write_file(2, [(7, "2024-01-01 00:01:00", "view", 100.0)])

    from postgres_es_cdc_spark.streaming.pipeline import windowed_event_aggregate

    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", "1")
              .parquet(str(tmp_path / "src")))
    agg = windowed_event_aggregate(stream, ts_col="ts")
    q = (agg.writeStream.outputMode("append")
            .format("memory").queryName("late_agg")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True).start())
    q.awaitTermination(120)

    dropped = sum(p["stateOperators"][0]["numRowsDroppedByWatermark"]
                  for p in q.recentProgress if p["stateOperators"])
    assert dropped == 1  # exactly the straggler

    rows = [r for r in spark.sql("SELECT * FROM late_agg").collect()
            if str(r.window_start).startswith("2024-01-01 00:00")]
    # W0 emitted exactly once, without the late 100.0.
    assert len(rows) == 1
    assert rows[0].n_events == 3
    assert rows[0].sum_value == 6.0


def test_sink_commit_protocol_survives_torn_write(spark, tmp_path):
    """Crash-safety of the versioned-manifest commit: an aborted merge
    (new version dir written or half-written, manifest never repointed)
    leaves the prior committed state fully readable; replaying the same
    batch id after a committed merge picks a fresh dir instead of
    overwriting its own input."""
    from pyspark.sql import Row
    from pyspark.sql.types import _parse_datatype_string
    from postgres_es_cdc_spark.cdc.envelope import EVENT_SCHEMA

    schema = _parse_datatype_string("id long, qty long")
    sink = UpsertSink(str(tmp_path / "state"), {"t": schema})
    b1 = spark.createDataFrame(
        [Row(offset=1, operationType="INSERT", tableName="t",
             payload='{"id":1,"qty":1}')], EVENT_SCHEMA)
    sink.apply_batch(b1, 0)
    committed = sink.table_path("t")
    rows = spark.read.parquet(committed).collect()
    assert [(r.id, r.qty) for r in rows] == [(1, 1)]

    # Simulate a torn follow-up merge: garbage lands in the next version
    # dir but the manifest is never repointed (the crash window).
    torn = str(tmp_path / "state" / "t.v1")
    os.makedirs(torn, exist_ok=True)
    with open(os.path.join(torn, "part-garbage.parquet"), "w") as f:
        f.write("not parquet")
    assert sink.table_path("t") == committed  # still the old state
    assert [(r.id, r.qty) for r in
            spark.read.parquet(sink.table_path("t")).collect()] == [(1, 1)]

    # Recovery: the replayed batch (same id) merges on top of the
    # committed state and repoints; the sink converges.
    b2 = spark.createDataFrame(
        [Row(offset=2, operationType="UPDATE", tableName="t",
             payload='{"id":1,"qty":9}')], EVENT_SCHEMA)
    sink.apply_batch(b2, 1)
    assert sorted((r.id, r.qty) for r in
                  spark.read.parquet(sink.table_path("t")).collect()) == [(1, 9)]

    # Same-batch-id replay (crash AFTER commit): must not write into the
    # directory it reads from.
    sink.apply_batch(b2, 1)
    assert sorted((r.id, r.qty) for r in
                  spark.read.parquet(sink.table_path("t")).collect()) == [(1, 9)]


def test_keyed_dedup_sink_stream_matches_batch_first_arrival(spark, tmp_path):
    """KeyedDedupSink driven by the real file-stream harness, one file
    per trigger, with cross-batch redeliveries: the appended survivor
    set equals the batch statement of first-arrival-wins (min
    (batch_idx, order) per key), and the registry exposure query agrees
    with the same algebra."""
    import os as _os

    from postgres_es_cdc_spark.streaming.dedup import KeyedDedupSink

    # 3 files = 3 micro-batches; key k appears in every batch >= k % 3,
    # so most keys are redelivered in later batches.
    src = str(tmp_path / "src")
    base = 1_700_000_000
    rows_by_batch = {
        b: [(k, b * 1000 + k, f"b{b}") for k in range(40) if k % 3 <= b]
        for b in range(3)
    }
    seen_files: set = set()
    for b in range(3):
        (spark.createDataFrame(rows_by_batch[b],
                               "key long, seq long, payload string")
              .coalesce(1).write.mode("append").parquet(src))
        for fname in _os.listdir(src):
            full = _os.path.join(src, fname)
            if fname.endswith(".parquet") and full not in seen_files:
                _os.utime(full, (base + b, base + b))
                seen_files.add(full)

    sink = KeyedDedupSink(out_path=str(tmp_path / "out"),
                          seen_path=str(tmp_path / "seen"),
                          keys=["key"], order_col="seq")
    schema = "key long, seq long, payload string"
    stream = (spark.readStream.schema(schema)
                   .option("maxFilesPerTrigger", 1).parquet(src))
    q = (stream.writeStream.foreachBatch(sink.writer())
               .option("checkpointLocation", str(tmp_path / "ckpt"))
               .trigger(availableNow=True).start())
    q.awaitTermination(120)

    got = {(r.key, r.seq, r.payload)
           for r in sink.survivors(spark).collect()}
    # batch-mode first-arrival: min seq overall == min (batch, seq)
    # because seq embeds the batch index.
    want = {(k, min(s for (kk, s, _) in sum(rows_by_batch.values(), [])
                    if kk == k), f"b{k % 3}") for k in range(40)}
    assert got == want
    # seen store holds exactly the distinct keys — with no distinct()
    # applied: appended key sets are disjoint by construction
    assert sink.seen_keys(spark).count() == 40


def test_keyed_dedup_sink_replay_after_commit_adds_nothing(spark, tmp_path):
    """Crash-replay contract: re-applying an already-committed batch
    (checkpoint lost after store merge) produces zero new survivors —
    the seen-key store makes the fold idempotent."""
    from postgres_es_cdc_spark.streaming.dedup import KeyedDedupSink

    sink = KeyedDedupSink(out_path=str(tmp_path / "out"),
                          seen_path=str(tmp_path / "seen"),
                          keys=["key"], order_col="seq")
    batch = spark.createDataFrame(
        [(k, k, "p") for k in range(20)], "key long, seq long, payload string")
    sink.apply_batch(batch, batch_id=0)
    n1 = sink.survivors(spark).count()
    sink.apply_batch(batch, batch_id=0)  # replay
    n2 = sink.survivors(spark).count()
    assert n1 == 20 and n2 == 20
    assert sink.seen_keys(spark).count() == 20


def test_topk_sink_stream_matches_batch_topk(spark, tmp_path):
    """TopKSink through the real file-stream harness, one file per
    trigger: the maintained per-group top-k equals the one-shot top-k
    over all data, and a replayed batch changes nothing (idempotent
    k-bounded semilattice merge)."""
    import os as _os

    from pyspark.sql import functions as F
    from pyspark.sql import Window

    from postgres_es_cdc_spark.streaming.ivm import TopKSink

    src = str(tmp_path / "src")
    base = 1_700_000_000
    rows_by_batch = {
        b: [("g%d" % (i % 4), b * 100 + i, i * 7 % 97) for i in range(30)]
        for b in range(3)
    }
    seen: set = set()
    for b in range(3):
        (spark.createDataFrame(rows_by_batch[b],
                               "grp string, rid long, v long")
              .coalesce(1).write.mode("append").parquet(src))
        for fname in _os.listdir(src):
            full = _os.path.join(src, fname)
            if fname.endswith(".parquet") and full not in seen:
                _os.utime(full, (base + b, base + b))
                seen.add(full)

    sink = TopKSink(path=str(tmp_path / "state"), group_col="grp",
                    order_col="v", tie_col="rid", k=3)
    stream = (spark.readStream.schema("grp string, rid long, v long")
                   .option("maxFilesPerTrigger", 1).parquet(src))
    q = (stream.writeStream.foreachBatch(sink.writer())
               .option("checkpointLocation", str(tmp_path / "ckpt"))
               .trigger(availableNow=True).start())
    q.awaitTermination(120)

    got = {(r.grp, r.v, r.rid)
           for r in sink.state(spark).collect()}
    allrows = spark.createDataFrame(
        sum(rows_by_batch.values(), []), "grp string, rid long, v long")
    w = Window.partitionBy("grp").orderBy(F.desc("v"), F.asc("rid"))
    want = {(r.grp, r.v, r.rid)
            for r in allrows.withColumn("rn", F.row_number().over(w))
                            .filter(F.col("rn") <= 3).collect()}
    assert got == want
    # replay idempotency
    sink.apply_batch(spark.createDataFrame(rows_by_batch[1],
                     "grp string, rid long, v long"), 1)
    again = {(r.grp, r.v, r.rid)
             for r in sink.state(spark).collect()}
    assert again == want


def test_topk_merge_is_order_independent_and_idempotent(spark):
    """Property (seeded randomized): folding random row batches through
    TopKSink's merge in any batch order, with any batch replayed, gives
    the one-shot top-k — the set-semilattice claim, exercised beyond
    the single harness example."""
    import itertools
    import random

    from pyspark.sql import functions as F
    from pyspark.sql import Window

    from postgres_es_cdc_spark.streaming.ivm import TopKSink

    rng = random.Random(20260814)
    schema = "grp string, rid long, v long"
    sink = TopKSink(path="", group_col="grp", order_col="v",
                    tie_col="rid", k=2)
    for trial in range(3):
        n = rng.randint(6, 18)
        rows = [("g%d" % rng.randint(0, 2), i,
                 rng.randint(0, 5))  # heavy value ties
                for i in range(n)]
        cut1, cut2 = sorted(rng.sample(range(1, n), 2)) if n > 3 else (1, 2)
        batches = [rows[:cut1], rows[cut1:cut2], rows[cut2:]]
        w = Window.partitionBy("grp").orderBy(F.desc("v"), F.asc("rid"))
        want = {(r.grp, r.rid, r.v) for r in
                spark.createDataFrame(rows, schema)
                     .withColumn("rn", F.row_number().over(w))
                     .filter(F.col("rn") <= 2).collect()}
        for perm in itertools.permutations(range(3)):
            view = None
            seq = [batches[i] for i in perm] + [batches[perm[0]]]  # replay
            for b in seq:
                if not b:
                    continue
                part = sink._topk(spark.createDataFrame(b, schema))
                view = part if view is None else sink._topk(
                    view.unionByName(part))
            got = {(r.grp, r.rid, r.v) for r in view.collect()}
            assert got == want, (trial, perm)


def test_watermark_agg_sink_stream_matches_batch_under_late_data(
        spark, tmp_path):
    """WatermarkAggSink through the real file-stream harness with
    deliberate late arrivals: rows older than (max prior event time -
    delay) are dropped from the maintained windowed rollup, late counts
    are committed to the manifest (no silent drops), and a replayed
    batch id is a committed no-op."""
    import os as _os

    from postgres_es_cdc_spark.streaming.ivm import WatermarkAggSink

    S = 1_000_000                       # seconds -> micros
    schema = "ts_us long, grp string, v long"
    batches = [
        [(0 * S, "a", 1), (30 * S, "a", 2), (100 * S, "b", 3)],
        # wm entering batch 1 = 100s - 120s = -20s: the 10s row is
        # late-but-allowed and must MERGE into the [0,60) window.
        [(10 * S, "a", 10), (200 * S, "b", 4)],
        # wm entering batch 2 = 200s - 120s = 80s: 50s and 70s are
        # genuinely late (dropped); 90s and 300s are kept.
        [(50 * S, "a", 100), (70 * S, "b", 100), (90 * S, "a", 5),
         (300 * S, "b", 6)],
    ]
    src = str(tmp_path / "src")
    base = 1_700_000_000
    seen: set = set()
    for b, rows in enumerate(batches):
        (spark.createDataFrame(rows, schema)
              .coalesce(1).write.mode("append").parquet(src))
        for fname in _os.listdir(src):
            full = _os.path.join(src, fname)
            if fname.endswith(".parquet") and full not in seen:
                _os.utime(full, (base + b, base + b))
                seen.add(full)

    sink = WatermarkAggSink(str(tmp_path / "state"), group_col="grp",
                            ts_col="ts_us", value_col="v",
                            window_us=60 * S, delay_us=120 * S)
    stream = (spark.readStream.schema(schema)
                   .option("maxFilesPerTrigger", 1).parquet(src))
    q = (stream.writeStream.foreachBatch(sink.writer())
               .option("checkpointLocation", str(tmp_path / "ckpt"))
               .trigger(availableNow=True).start())
    q.awaitTermination(120)

    got = {(r.window_start_us, r.grp, r.sum_v, r.n_v, r.min_v, r.max_v)
           for r in sink.state(spark).collect()}
    want = {
        (0, "a", 1 + 2 + 10, 3, 1, 10),        # late-but-allowed merged
        (60 * S, "b", 3, 1, 3, 3),
        (60 * S, "a", 5, 1, 5, 5),
        (180 * S, "b", 4, 1, 4, 4),
        (300 * S, "b", 6, 1, 6, 6),
    }
    assert got == want
    meta = sink.meta()
    assert meta["n_late_total"] == 2          # exactly the 50s/70s rows
    assert meta["watermark_us"] == (300 - 120) * S
    assert meta["last_batch_id"] == 2

    # committed replay (same batch id): state and meta unchanged
    sink.apply_batch(spark.createDataFrame(batches[2], schema), 2)
    again = {(r.window_start_us, r.grp, r.sum_v, r.n_v, r.min_v, r.max_v)
             for r in sink.state(spark).collect()}
    assert again == want and sink.meta() == meta


def test_watermark_agg_sink_torn_write_leaves_prior_state(spark, tmp_path):
    """Crash-safety: garbage written into a version dir without the
    manifest repoint (the crash window) leaves the committed state and
    watermark untouched; the recovering batch merges on top of it."""
    import os as _os

    from postgres_es_cdc_spark.streaming.ivm import WatermarkAggSink

    S = 1_000_000
    schema = "ts_us long, grp string, v long"
    sink = WatermarkAggSink(str(tmp_path / "state"), group_col="grp",
                            ts_col="ts_us", value_col="v",
                            window_us=60 * S, delay_us=120 * S)
    sink.apply_batch(spark.createDataFrame([(0, "a", 1)], schema), 0)
    committed = sink.meta()

    torn = str(tmp_path / "state" / "agg.v1")
    _os.makedirs(torn, exist_ok=True)
    with open(_os.path.join(torn, "part-garbage.parquet"), "w") as f:
        f.write("not parquet")
    assert sink.meta() == committed
    assert [(r.grp, r.sum_v) for r in sink.state(spark).collect()] \
        == [("a", 1)]

    sink.apply_batch(
        spark.createDataFrame([(30 * S, "a", 2)], schema), 1)
    assert sorted((r.grp, r.sum_v, r.n_v)
                  for r in sink.state(spark).collect()) == [("a", 3, 2)]


def test_session_sink_fuses_sessions_bridged_by_late_batch(spark, tmp_path):
    """SessionSink through the real file-stream harness: two sessions
    created in batch 0 are FUSED when batch 2 delivers the bridging
    point (the interval-semilattice hard case); the final session set
    equals the one-shot sessionization, and a committed batch replay is
    a no-op."""
    import os as _os

    from postgres_es_cdc_spark.streaming.ivm import SessionSink

    M = 60_000_000                      # minutes -> micros; gap = 30 min
    schema = "user_id long, ts_us long"
    batches = [
        # u1: points at 0 and 70min -> two sessions; u2: one point
        [(1, 0 * M), (1, 70 * M), (2, 0 * M)],
        # u1 grows session 1; u2 second session far away
        [(1, 10 * M), (2, 100 * M)],
        # u1: 40min bridges [0,10] and [70,70] (40-10=30<=gap, 70-40<=gap)
        [(1, 40 * M)],
    ]
    src = str(tmp_path / "src")
    base = 1_700_000_000
    seen: set = set()
    for b, rows in enumerate(batches):
        (spark.createDataFrame(rows, schema)
              .coalesce(1).write.mode("append").parquet(src))
        for fname in _os.listdir(src):
            full = _os.path.join(src, fname)
            if fname.endswith(".parquet") and full not in seen:
                _os.utime(full, (base + b, base + b))
                seen.add(full)

    sink = SessionSink(str(tmp_path / "state"), key_col="user_id",
                       ts_col="ts_us", gap_us=30 * M)
    stream = (spark.readStream.schema(schema)
                   .option("maxFilesPerTrigger", 1).parquet(src))
    q = (stream.writeStream.foreachBatch(sink.writer())
               .option("checkpointLocation", str(tmp_path / "ckpt"))
               .trigger(availableNow=True).start())
    q.awaitTermination(120)

    got = {(r.user_id, r.start_us, r.end_us, r.n)
           for r in sink.state(spark).collect()}
    want = {
        (1, 0, 70 * M, 4),              # fused: 0,10,40,70
        (2, 0, 0, 1),
        (2, 100 * M, 100 * M, 1),
    }
    assert got == want
    # committed replay: no-op (batch-id gate)
    sink.apply_batch(spark.createDataFrame(batches[1], schema), 1)
    again = {(r.user_id, r.start_us, r.end_us, r.n)
             for r in sink.state(spark).collect()}
    assert again == want


def test_session_merge_is_batch_order_independent(spark):
    """Property (seeded randomized): folding random point batches
    through SessionSink's merge in any batch order equals the one-shot
    sessionization — the interval-semilattice claim beyond the single
    harness example."""
    import itertools
    import random

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from postgres_es_cdc_spark.streaming.ivm import SessionSink

    rng = random.Random(20260814)
    schema = "user_id long, ts_us long"
    sink = SessionSink("", key_col="user_id", ts_col="ts_us", gap_us=10)
    for trial in range(3):
        pts = [(rng.randint(1, 2), rng.randint(0, 80))
               for _ in range(rng.randint(5, 12))]
        cut1, cut2 = sorted(rng.sample(range(1, len(pts)), 2)) \
            if len(pts) > 3 else (1, 2)
        batches = [pts[:cut1], pts[cut1:cut2], pts[cut2:]]
        allp = spark.createDataFrame(pts, schema)
        w = Window.partitionBy("user_id").orderBy("ts_us")
        flag = F.when(
            (F.col("ts_us") - F.lag("ts_us").over(w)) > 10, 1).otherwise(0)
        sid = F.sum(flag).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        want = {(r.user_id, r.s, r.e, r.n) for r in
                allp.withColumn("_sid", sid)
                    .groupBy("user_id", "_sid")
                    .agg(F.min("ts_us").alias("s"), F.max("ts_us").alias("e"),
                         F.count(F.lit(1)).alias("n")).collect()}
        for perm in itertools.permutations(range(3)):
            view = None
            for bi in perm:
                if not batches[bi]:
                    continue
                part = sink._sessionize(
                    spark.createDataFrame(batches[bi], schema)
                         .select("user_id",
                                 F.col("ts_us").alias("start_us"),
                                 F.col("ts_us").alias("end_us"),
                                 F.lit(1).cast("long").alias("n")))
                view = part if view is None else sink._sessionize(
                    view.unionByName(part))
            got = {(r.user_id, r.start_us, r.end_us, r.n)
                   for r in view.collect()}
            assert got == want, (trial, perm)


def test_watermark_sink_matches_reference_fold_on_random_batches(
        spark, tmp_path):
    """Property (seeded randomized): WatermarkAggSink folded over random
    out-of-order batches equals a 20-line Python reference
    implementation of the Structured-Streaming watermark rule (running
    max of prior batch event times - delay; strictly-older rows drop;
    retained rows aggregate into tumbling windows)."""
    import random
    from collections import defaultdict

    from postgres_es_cdc_spark.streaming.ivm import WatermarkAggSink

    rng = random.Random(20260814)
    schema = "ts_us long, grp string, v long"
    W, D = 100, 250
    for trial in range(3):
        batches = [[(rng.randint(0, 1000), rng.choice("ab"),
                     rng.randint(1, 9))
                    for _ in range(rng.randint(1, 8))]
                   for _ in range(4)]

        # reference fold
        wm = None
        agg: dict = defaultdict(lambda: [0, 0, None, None])
        n_late = 0
        for b in batches:
            kept = [r for r in b if wm is None or r[0] >= wm]
            n_late += len(b) - len(kept)
            for ts, g, v in kept:
                a = agg[(ts - ts % W, g)]
                a[0] += v
                a[1] += 1
                a[2] = v if a[2] is None else min(a[2], v)
                a[3] = v if a[3] is None else max(a[3], v)
            if b:
                cand = max(r[0] for r in b) - D
                wm = cand if wm is None else max(wm, cand)

        sink = WatermarkAggSink(
            str(tmp_path / f"state{trial}"), group_col="grp",
            ts_col="ts_us", value_col="v", window_us=W, delay_us=D)
        for i, b in enumerate(batches):
            sink.apply_batch(spark.createDataFrame(b, schema), i)
        got = {(r.window_start_us, r.grp):
               (r.sum_v, r.n_v, r.min_v, r.max_v)
               for r in sink.state(spark).collect()}
        want = {k: tuple(v) for k, v in agg.items()}
        assert got == want, trial
        meta = sink.meta()
        assert meta["n_late_total"] == n_late
        assert meta["watermark_us"] == wm


def _join_batch(spark, rows):
    return spark.createDataFrame(
        rows, "k long, side string, name string, qty long")


@pytest.mark.slow_soak
def test_join_sink_matches_oneshot_join_any_batch_order(spark, tmp_path):
    """JoinSink's delta-join maintenance over a multiplexed two-table
    stream equals the one-shot inner join, for EVERY permutation of the
    batches — the distributivity argument in the class docstring, pinned
    on data where matches land same-batch, cross-batch in both
    directions, and never (dangling rows on each side)."""
    import itertools

    from postgres_es_cdc_spark.streaming.ivm import JoinSink

    # L rows carry name, R rows carry qty. Key 1: same batch. Key 2:
    # L before R. Key 3: R before L. Key 4: L only. Key 5: R only.
    # Key 6: multiple R rows across batches (fan-out).
    b0 = [(1, "L", "a", None), (1, "R", None, 10),
          (2, "L", "b", None), (6, "L", "f", None), (6, "R", None, 60)]
    b1 = [(2, "R", None, 20), (3, "R", None, 30), (4, "L", "d", None)]
    b2 = [(3, "L", "c", None), (5, "R", None, 50), (6, "R", None, 61)]
    batches = [b0, b1, b2]

    want = sorted([(1, "a", 10), (2, "b", 20), (3, "c", 30),
                   (6, "f", 60), (6, "f", 61)])
    for pi, perm in enumerate(itertools.permutations(range(3))):
        sink = JoinSink(str(tmp_path / f"join{pi}"), key_col="k",
                        left_cols=["name"], right_cols=["qty"])
        for i, bi in enumerate(perm):
            sink.apply_batch(_join_batch(spark, batches[bi]), i)
        got = sorted((r.k, r.name, r.qty)
                     for r in sink.state_view(spark).collect())
        assert got == want, f"permutation {perm}: {got}"


def test_join_sink_replay_and_torn_write(spark, tmp_path):
    """Committed-batch replay is a no-op (no duplicate join rows), and a
    torn write — delta dirs written, manifest never repointed — leaves
    the prior committed view intact because the manifest only ever
    references dirs that finished writing."""
    from postgres_es_cdc_spark.streaming.ivm import JoinSink

    sink = JoinSink(str(tmp_path / "join"), key_col="k",
                    left_cols=["name"], right_cols=["qty"])
    b0 = _join_batch(spark, [(1, "L", "a", None), (1, "R", None, 10)])
    sink.apply_batch(b0, 0)
    assert [(r.k, r.name, r.qty)
            for r in sink.state_view(spark).collect()] == [(1, "a", 10)]

    # Replay of the committed batch id: nothing changes.
    sink.apply_batch(b0, 0)
    assert sink.state_view(spark).count() == 1
    assert len(sink.meta()["view"]) == 1

    # Torn write: orphan delta dirs from a crashed batch 1 are invisible
    # because the manifest still lists only batch 0's dirs.
    orphan = str(tmp_path / "join" / "view" / "b1")
    os.makedirs(orphan, exist_ok=True)
    with open(os.path.join(orphan, "part-garbage.parquet"), "w") as f:
        f.write("not parquet")
    assert sink.state_view(spark).count() == 1

    # Recovery: the real batch 1 commits on top; the orphan dir gets
    # overwritten by the fresh write (mode=overwrite), never read.
    b1 = _join_batch(spark, [(1, "R", None, 11)])
    sink.apply_batch(b1, 1)
    got = sorted((r.k, r.name, r.qty)
                 for r in sink.state_view(spark).collect())
    assert got == [(1, "a", 10), (1, "a", 11)]


def test_join_sink_state_is_append_only(spark, tmp_path):
    """The IVM claim itself: no state dir is ever rewritten — each batch
    appends exactly one new dir per store and earlier dirs' mtimes are
    untouched (per-batch cost independent of history length)."""
    from postgres_es_cdc_spark.streaming.ivm import JoinSink

    sink = JoinSink(str(tmp_path / "join"), key_col="k",
                    left_cols=["name"], right_cols=["qty"])
    sink.apply_batch(_join_batch(
        spark, [(1, "L", "a", None), (1, "R", None, 10)]), 0)
    def _dirs(m):
        return m["left"] + m["right"] + m["view"]

    m0 = sink.meta()
    stamp = {d: os.stat(d).st_mtime_ns for d in _dirs(m0)}
    sink.apply_batch(_join_batch(
        spark, [(2, "L", "b", None), (1, "R", None, 11)]), 1)
    m1 = sink.meta()
    assert [len(m1[s]) for s in ("left", "right", "view")] == [2, 2, 2]
    for d, t in stamp.items():
        assert os.stat(d).st_mtime_ns == t, f"state dir rewritten: {d}"


def test_join_sink_stream_matches_batch_join(spark, tmp_path):
    """JoinSink through the real file-stream harness (one file per
    trigger, foreachBatch, availableNow): the maintained view over a
    multiplexed orders+items stream — with matches landing same-batch
    and cross-batch in both directions — equals the one-shot inner join
    of everything that arrived."""
    import os as _os

    from postgres_es_cdc_spark.streaming.ivm import JoinSink

    schema = "k long, side string, name string, qty long"
    batches = [
        [(1, "L", "a", None), (1, "R", None, 10), (2, "L", "b", None)],
        [(2, "R", None, 20), (3, "R", None, 30)],
        [(3, "L", "c", None), (1, "R", None, 11), (9, "L", "z", None)],
    ]
    src = str(tmp_path / "src")
    base = 1_700_000_000
    seen: set = set()
    for b, rows in enumerate(batches):
        (spark.createDataFrame(rows, schema)
              .coalesce(1).write.mode("append").parquet(src))
        for fname in _os.listdir(src):
            full = _os.path.join(src, fname)
            if fname.endswith(".parquet") and full not in seen:
                _os.utime(full, (base + b, base + b))
                seen.add(full)

    sink = JoinSink(str(tmp_path / "state"), key_col="k",
                    left_cols=["name"], right_cols=["qty"])
    stream = (spark.readStream.schema(schema)
                   .option("maxFilesPerTrigger", 1).parquet(src))
    q = (stream.writeStream.foreachBatch(sink.writer())
               .option("checkpointLocation", str(tmp_path / "ckpt"))
               .trigger(availableNow=True).start())
    q.awaitTermination(120)

    got = sorted((r.k, r.name, r.qty)
                 for r in sink.state_view(spark).collect())
    all_rows = spark.createDataFrame(
        [r for b in batches for r in b], schema)
    l = all_rows.filter("side = 'L'").select("k", "name")
    r = all_rows.filter("side = 'R'").select("k", "qty")
    want = sorted((x.k, x.name, x.qty) for x in l.join(r, "k").collect())
    assert got == want == [(1, "a", 10), (1, "a", 11),
                           (2, "b", 20), (3, "c", 30)]
    assert sink.meta()["last_batch_id"] == 2


def test_hll_sink_stream_matches_batch_sketch(spark, tmp_path):
    """HLLSink through the real file-stream harness: the maintained
    registers (and hence the estimate) equal the one-shot sketch of
    everything that arrived — max is associative, commutative, AND
    idempotent, so cross-batch redelivery of a key cannot move the
    estimate either."""
    import os as _os

    from postgres_es_cdc_spark.operators.analytics import hll_sketch
    from postgres_es_cdc_spark.streaming.ivm import HLLSink

    schema = "grp string, key long"
    batches = [
        [("a", k) for k in range(0, 400)] + [("b", 1), ("b", 2)],
        [("a", k) for k in range(200, 600)],        # 200..399 redelivered
        [("b", 2), ("b", 3), ("a", 599)],           # more redelivery
    ]
    src = str(tmp_path / "src")
    base = 1_700_000_000
    seen: set = set()
    for b, rows in enumerate(batches):
        (spark.createDataFrame(rows, schema)
              .coalesce(1).write.mode("append").parquet(src))
        for fname in _os.listdir(src):
            full = _os.path.join(src, fname)
            if fname.endswith(".parquet") and full not in seen:
                _os.utime(full, (base + b, base + b))
                seen.add(full)

    sink = HLLSink(str(tmp_path / "regs"), group_col="grp", key_col="key")
    stream = (spark.readStream.schema(schema)
                   .option("maxFilesPerTrigger", 1).parquet(src))
    q = (stream.writeStream.foreachBatch(sink.writer())
               .option("checkpointLocation", str(tmp_path / "ckpt"))
               .trigger(availableNow=True).start())
    q.awaitTermination(120)

    got = {r.grp: (r.sum_q, r.n_zero_buckets, r.hll_estimate)
           for r in sink.estimate(spark).collect()}
    all_rows = spark.createDataFrame(
        [r for b in batches for r in b], schema)
    want = {r.grp: (r.sum_q, r.n_zero_buckets, r.hll_estimate)
            for r in hll_sketch(all_rows, "grp", "key").collect()}
    assert got == want
    # and the estimates are sane: ~600 distinct in a, 3 in b
    assert abs(got["a"][2] - 600) / 600 < 0.195
    assert abs(got["b"][2] - 3) < 1.0


def test_qsketch_sink_stream_matches_batch_and_replay_noop(spark, tmp_path):
    """QSketchSink through a driver-side batch fold: the maintained
    registers equal the one-shot sketch of everything that arrived
    (sum-merge associativity across batch boundaries), and a REPLAYED
    batch id is a no-op — counts are not idempotent, so the sink's
    batch-id marker is what keeps redelivery from double-counting."""
    from postgres_es_cdc_spark.operators.analytics import (
        qsketch_registers)
    from postgres_es_cdc_spark.streaming.ivm import QSketchSink

    schema = "grp string, v long"
    batches = [
        [("a", v) for v in (1, 17, 300, 5000)] + [("b", 2)],
        [("a", v) for v in (17, 65000, 12)] + [("b", 1024)],
        [("b", v) for v in (3, 3, 3)],
    ]
    sink = QSketchSink(str(tmp_path / "regs"), "grp", "v")
    for bid, rows in enumerate(batches):
        sink.apply_batch(spark.createDataFrame(rows, schema), bid)
    sink.apply_batch(spark.createDataFrame(batches[1], schema), 1)  # replay

    got = {(r.grp, r.bucket): r.cnt
           for r in sink.registers(spark).collect()}
    all_rows = spark.createDataFrame(
        [r for b in batches for r in b], schema)
    want = {(r.grp, r.bucket): r.cnt
            for r in qsketch_registers(all_rows, "grp", "v").collect()}
    assert got == want
    assert sum(c for (g, _), c in got.items() if g == "a") == 7
