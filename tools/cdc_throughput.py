"""End-to-end CDC pipeline throughput: the in-sandbox analog of the
reference's producer/consumer loop (producer.go:70-173 tail-decode-
produce; utils.go:92-117 + es.go consume-apply), measured as events/sec.

Pipeline under test (all real engine code, no shortcuts):
  1. ENCODE  — synthesize the typed orders CDC event plan and serialize
               every event to byte-exact pgoutput wire messages
               (sources/pgoutput.encode_typed_events), written as WAL
               segment parquet files (the stand-in for the replication
               socket the sandbox cannot open).
  2. STREAM  — Structured Streaming file source over the segments ->
               WalStreamApply (one control-message collect + one wire
               decode pass that stamps relation version and txn_id,
               relation-cache + open-xid context) -> TxnUpsertSink
               (transaction-atomic upsert fold with versioned-manifest
               commits) with a durable checkpoint.

The reference's architectural bound is ~1 event per blocking RTT per
stage, single-threaded (BASELINE.md); this pipeline is bounded by
scan+shuffle throughput instead. Results are appended by hand to
BASELINE.md's "measured CDC throughput" table.

Usage: PYTHONPATH=. python tools/cdc_throughput.py [sf_dir] [n_segments]
Prints one JSON line.

With SPARK_GRAFT_ES=1 the stream runs the GLUED pipeline instead —
EsForwardingTxnSink posts each batch's committed events as `_bulk`
NDJSON over a real loopback socket into the stateful fake-ES store
(sinks/es_fake.py), i.e. the reference's full WAL→Kafka→consumer→ES
contract end-to-end; the JSON gains es_docs / es_bulk_requests
fields and the ev/s numbers include the HTTP round-trips.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    n_segments = int(sys.argv[2]) if len(sys.argv) > 2 else 8

    sys.path.insert(0, os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))))
    from pyspark.sql import functions as F

    from postgres_es_cdc_spark.cdc.generate import (
        orders_cdc_events_typed, orders_cdc_value_schema)
    from postgres_es_cdc_spark.cdc.txn import TxnUpsertSink
    from postgres_es_cdc_spark.session import get_spark
    from postgres_es_cdc_spark.sources.pgoutput import (
        WalStreamApply, encode_relation, encode_typed_events)

    spark = get_spark(app_name="cdc_throughput")
    spark.sparkContext.setLogLevel("ERROR")
    schema = orders_cdc_value_schema()
    cols = [f.name for f in schema.fields]
    oid = 16384
    base = tempfile.mkdtemp(prefix="cdc_tp_")
    seg_dir = os.path.join(base, "segments")

    try:
        # -- stage 1: encode to wire bytes, land as WAL segments -------
        t0 = time.time()
        wire = encode_typed_events(
            orders_cdc_events_typed(spark, sf_dir), oid, schema)
        # Relation message first (offset -1), then segment by offset
        # range so every file is a contiguous WAL slice.
        rel = spark.createDataFrame(
            [(-1, bytearray(encode_relation(oid, "orders", cols)))],
            "offset long, data binary")
        seg = rel.unionByName(wire).repartitionByRange(
            n_segments, F.col("offset"))
        seg.write.mode("overwrite").parquet(seg_dir)
        encode_s = time.time() - t0
        n_events = wire.count()

        # force increasing mtimes so the file source triggers in WAL
        # order (FileStreamSource orders by mtime, ties arbitrary)
        files = sorted(f for f in os.listdir(seg_dir)
                       if f.endswith(".parquet"))
        for i, f in enumerate(files):
            os.utime(os.path.join(seg_dir, f),
                     (1_700_000_000 + i, 1_700_000_000 + i))

        # -- stage 2: stream decode + txn fold into the upsert sink ----
        use_es = os.environ.get("SPARK_GRAFT_ES") == "1"
        store = shutdown = None
        if use_es:
            from postgres_es_cdc_spark.sinks.es_fake import (EsStore,
                                                             serve_store)
            from postgres_es_cdc_spark.sinks.es_rest import (
                EsForwardingTxnSink)
            store = EsStore()
            url, shutdown = serve_store(store)
            sink = EsForwardingTxnSink(os.path.join(base, "state"),
                                       {"orders": schema}, es_url=url)
        else:
            sink = TxnUpsertSink(os.path.join(base, "state"),
                                 {"orders": schema})
        applier = WalStreamApply(sink)

        # Per-batch wall clock: the soak invariant is a FLAT curve over
        # batch index — any history-proportional term in the sink shows
        # up as last-10 >> first-10 (the manifest-commit fold is
        # O(batch + state), and state saturates at the key universe).
        batch_s: list = []

        def timed_apply(df, bid):
            t = time.time()
            applier.apply(df, bid)
            batch_s.append(round(time.time() - t, 3))

        t1 = time.time()
        stream = (spark.readStream.schema("offset long, data binary")
                  .option("maxFilesPerTrigger", 1).parquet(seg_dir))
        q = (stream.writeStream.foreachBatch(timed_apply)
             .option("checkpointLocation", os.path.join(base, "ckpt"))
             .trigger(availableNow=True).start())
        q.awaitTermination()
        stream_s = time.time() - t1

        n_state = spark.read.parquet(sink.table_path("orders")).count()
        out = {
            "metric": "cdc_pipeline_throughput",
            "sf_dir": sf_dir,
            "n_wire_events": n_events,
            "n_segments": n_segments,
            "n_final_rows": n_state,
            "encode_s": round(encode_s, 2),
            "encode_events_per_s": round(n_events / encode_s, 1),
            "stream_s": round(stream_s, 2),
            "stream_events_per_s": round(n_events / stream_s, 1),
            "end_to_end_events_per_s": round(
                n_events / (encode_s + stream_s), 1),
        }
        if len(batch_s) >= 20:   # soak runs: report the flatness curve
            k = 10
            first = sum(batch_s[:k]) / k
            last = sum(batch_s[-k:]) / k
            out["n_batches"] = len(batch_s)
            out["first10_avg_s"] = round(first, 3)
            out["last10_avg_s"] = round(last, 3)
            out["flatness_last_over_first"] = round(last / first, 2)
        if use_es:
            out["glued_es"] = True
            out["es_docs"] = sum(len(d) for d in store.indices.values())
            out["es_bulk_requests"] = store.n_requests
            out["es_actions"] = store.n_actions
            assert out["es_docs"] == n_state, (out["es_docs"], n_state)
        print(json.dumps(out))
    finally:
        if shutdown is not None:
            shutdown()
        shutil.rmtree(base, ignore_errors=True)


if __name__ == "__main__":
    main()
