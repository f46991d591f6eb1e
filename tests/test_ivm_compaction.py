"""Tests for the incremental-aggregate and join sinks
(streaming/ivm.py), including the join sink's log compaction."""

from __future__ import annotations

import pytest

import os

from pyspark.sql import functions as F

from postgres_es_cdc_spark.streaming.ivm import AggSink


def _batch(spark, rows):
    return spark.createDataFrame(rows, "k string, v long")


def test_agg_sink_incremental_equals_batch(spark, tmp_path):
    b1 = [("a", 1), ("a", 5), ("b", 10)]
    b2 = [("a", 2), ("c", 7)]
    b3 = [("b", -3), ("c", 7), ("a", 4)]
    sink = AggSink(str(tmp_path / "agg"), "k", "v")
    for i, b in enumerate((b1, b2, b3)):
        sink.apply_batch(_batch(spark, b), i)

    got = {r.k: (r.sum_v, r.n_v, r.min_v, r.max_v)
           for r in sink.state(spark).collect()}
    want_df = (_batch(spark, b1 + b2 + b3)
               .groupBy("k").agg(F.sum("v").alias("s"),
                                 F.count("v").alias("n"),
                                 F.min("v").alias("mn"),
                                 F.max("v").alias("mx")))
    want = {r.k: (r.s, r.n, r.mn, r.mx) for r in want_df.collect()}
    assert got == want
    assert got == {"a": (12, 4, 1, 5), "b": (7, 2, -3, 10),
                   "c": (14, 2, 7, 7)}


def test_agg_sink_stream_matches_batch(spark, tmp_path):
    """Drive AggSink through a real file stream in several triggers."""
    src = str(tmp_path / "src")
    os.makedirs(src)
    rows = [(f"k{i % 5}", i) for i in range(100)]
    for part in range(4):  # 4 files -> multiple triggers
        chunk = rows[part * 25:(part + 1) * 25]
        _batch(spark, chunk).coalesce(1).write.mode("append").parquet(src)
    stream = (spark.readStream.schema("k string, v long")
              .option("maxFilesPerTrigger", "1").parquet(src))
    sink = AggSink(str(tmp_path / "agg"), "k", "v")
    q = (stream.writeStream.foreachBatch(sink.writer())
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)

    got = {r.k: (r.sum_v, r.n_v, r.min_v, r.max_v)
           for r in sink.state(spark).collect()}
    want_df = _batch(spark, rows).groupBy("k").agg(
        F.sum("v").alias("s"), F.count("v").alias("n"),
        F.min("v").alias("mn"), F.max("v").alias("mx"))
    want = {r.k: (r.s, r.n, r.mn, r.mx) for r in want_df.collect()}
    assert got == want


def test_agg_sink_replay_is_noop_and_torn_write_invisible(spark, tmp_path):
    """SUM/COUNT are not idempotent: a redelivered micro-batch must be
    gated by the committed batch id or it double-counts (foreachBatch is
    at-least-once). And a torn write — version dir written, manifest
    never repointed — leaves the prior snapshot current."""
    sink = AggSink(str(tmp_path / "agg"), "k", "v")
    sink.apply_batch(_batch(spark, [("a", 1), ("b", 2)]), 0)
    sink.apply_batch(_batch(spark, [("a", 10)]), 1)
    want = {r.k: (r.sum_v, r.n_v) for r in sink.state(spark).collect()}
    assert want == {"a": (11, 2), "b": (2, 1)}

    # replay of committed batch 1: nothing changes
    sink.apply_batch(_batch(spark, [("a", 10)]), 1)
    assert {r.k: (r.sum_v, r.n_v)
            for r in sink.state(spark).collect()} == want

    # torn write: an orphan version dir the manifest never references
    orphan = str(tmp_path / "agg.v2")
    os.makedirs(orphan, exist_ok=True)
    with open(os.path.join(orphan, "part-garbage.parquet"), "w") as f:
        f.write("not parquet")
    assert {r.k: (r.sum_v, r.n_v)
            for r in sink.state(spark).collect()} == want
    # recovery: the real batch 2 overwrites the orphan and commits
    sink.apply_batch(_batch(spark, [("b", 5)]), 2)
    assert {r.k: (r.sum_v, r.n_v)
            for r in sink.state(spark).collect()} == {
                "a": (11, 2), "b": (7, 2)}


def _join_rows(spark, rows):
    return spark.createDataFrame(
        rows, "k long, side string, name string, qty long")


def _drive_join(spark, base, batches, **kw):
    from postgres_es_cdc_spark.streaming.ivm import JoinSink
    sink = JoinSink(str(base), key_col="k", left_cols=["name"],
                    right_cols=["qty"], **kw)
    for i, b in enumerate(batches):
        sink.apply_batch(_join_rows(spark, b), i)
    return sink


def _join_batches(n=8):
    # matches landing same-batch, cross-batch both directions, dangling
    out = []
    for i in range(n):
        out.append([(i, "L", f"n{i}", None),          # L now
                    (i, "R", None, 100 + i),           # R same batch
                    (i + 1, "R", None, 200 + i),       # R before its L
                    (i - 3, "R", None, 300 + i),       # R after its L
                    (1000 + i, "L", f"d{i}", None)])   # dangling L
    return out


@pytest.mark.slow_soak
def test_join_sink_compact_mid_stream_equals_uncompacted(spark, tmp_path):
    """THE equivalence the store's fold must preserve: a sink that
    compacts every 2 batches (so compaction fires repeatedly MID-stream,
    with more deltas arriving on top of each snapshot) maintains exactly
    the view an uncompacted sink maintains, while its manifest stays
    bounded."""
    batches = _join_batches(8)
    plain = _drive_join(spark, tmp_path / "plain", batches)
    want = sorted((r.k, r.name, r.qty)
                  for r in plain.state_view(spark).collect())
    assert len(want) >= 20  # non-trivial fixture

    sink = _drive_join(spark, tmp_path / "compact", batches,
                       compact_after=2)
    got = sorted((r.k, r.name, r.qty)
                 for r in sink.state_view(spark).collect())
    assert got == want
    m = sink.meta()
    assert m.get("compact_gen", 0) >= 2
    for s in ("left", "right", "view"):
        assert len(m[s]) <= 3, s          # bounded, not O(batches)
    assert m["last_batch_id"] == len(batches) - 1
    # tombstones recorded, then reclaimed; live data untouched
    dead = list(m["tombstones"])
    assert dead and all(os.path.isdir(d) for d in dead)
    assert sink.vacuum() == len(dead)
    assert not any(os.path.isdir(d) for d in dead)
    assert sink.meta()["tombstones"] == []
    assert sorted((r.k, r.name, r.qty)
                  for r in sink.state_view(spark).collect()) == want
    # and the stream continues correctly on top of the snapshot
    sink.apply_batch(_join_rows(
        spark, [(0, "R", None, 999)]), len(batches))
    assert (0, "n0", 999) in {(r.k, r.name, r.qty)
                              for r in sink.state_view(spark).collect()}


def test_join_sink_compaction_crash_before_repoint_is_invisible(
        spark, tmp_path):
    """Crash discipline: if compaction dies after writing snapshot dirs
    but BEFORE the manifest repoint, the old log remains current and a
    retried compaction succeeds (overwriting the orphan snapshot)."""
    from postgres_es_cdc_spark.streaming.ivm import JoinSink

    sink = _drive_join(spark, tmp_path / "j", _join_batches(4))
    want = sorted((r.k, r.name, r.qty)
                  for r in sink.state_view(spark).collect())
    meta_before = sink.meta()

    real_commit = sink._commit
    sink._commit = lambda m: (_ for _ in ()).throw(OSError("crash"))
    try:
        try:
            sink.compact(spark)
            raise AssertionError("expected injected crash")
        except OSError:
            pass
        assert sink.meta() == meta_before          # old log still current
        assert sorted((r.k, r.name, r.qty)
                      for r in sink.state_view(spark).collect()) == want
    finally:
        sink._commit = real_commit

    res = sink.compact(spark)                      # retry succeeds
    assert res["compacted"]
    assert sorted((r.k, r.name, r.qty)
                  for r in sink.state_view(spark).collect()) == want
    assert [len(sink.meta()[s]) for s in ("left", "right", "view")] \
        == [1, 1, 1]


def test_join_sink_compact_keeps_a_rivals_append(spark, tmp_path):
    """Two sink objects on one manifest: a batch the rival commits
    between compact's read and its repoint stays listed, so the view
    holds every batch's rows (a repoint of lists read before the fold
    dropped the batch and kept its replay gate). A compaction the rival
    commits in that window makes this one abort instead."""
    from postgres_es_cdc_spark.streaming.ivm import JoinSink

    def view(sink):
        return sorted((r.k, r.name, r.qty)
                      for r in sink.state_view(spark).collect())

    batches = _join_batches(5)
    want4 = view(_drive_join(spark, tmp_path / "p4", batches[:4]))
    want5 = view(_drive_join(spark, tmp_path / "p5", batches))
    sink = _drive_join(spark, tmp_path / "j", batches[:3])
    rival = JoinSink(str(tmp_path / "j"), key_col="k", left_cols=["name"],
                     right_cols=["qty"])
    real = sink._locked_commit

    def rival_first(step):
        def locked_commit(mutate):
            step()
            return real(mutate)
        return locked_commit

    sink._locked_commit = rival_first(lambda: rival.apply_batch(
        _join_rows(spark, batches[3]), 3))
    assert sink.compact(spark)["compacted"]
    assert sink.meta()["last_batch_id"] == 3
    assert view(sink) == want4

    sink._locked_commit = real
    sink.apply_batch(_join_rows(spark, batches[4]), 4)
    sink._locked_commit = rival_first(lambda: rival.compact(spark))
    assert not sink.compact(spark)["compacted"]
    assert view(sink) == want5


def test_join_sink_compact_noop_on_single_entry_log(spark, tmp_path):
    sink = _drive_join(spark, tmp_path / "j", _join_batches(1))
    res = sink.compact(spark)
    assert not res["compacted"]
    assert sink.meta().get("tombstones", []) == []


@pytest.mark.slow_soak
def test_join_sink_soak_stays_bounded_with_compaction(spark, tmp_path):
    """Mini-soak (30 fixed-size batches): with compact_after the
    manifest NEVER exceeds compact_after+1 entries per store at any
    point mid-stream (the structural guarantee behind the flat
    per-batch cost curve — tools/ivm_soak.py measures the wall-clock
    form), the view stays correct, and per-batch time stays within a
    loose envelope of the early batches (4x — generous for shared-box
    noise; the uncompacted curve grows without bound with uptime)."""
    import time

    from postgres_es_cdc_spark.streaming.ivm import JoinSink

    sink = JoinSink(str(tmp_path / "join"), key_col="k",
                    left_cols=["name"], right_cols=["qty"],
                    compact_after=4)
    times = []
    n = 30
    for i in range(n):
        rows = [(i, "L", f"n{i}", None), (i, "R", None, i),
                (0, "R", None, 1000 + i)]          # cross-batch probe
        if i == 0:
            rows.append((0, "L", "seed", None))
        df = spark.createDataFrame(
            rows, "k long, side string, name string, qty long")
        t0 = time.time()
        sink.apply_batch(df, i)
        times.append(time.time() - t0)
        m = sink.meta()
        for s in ("left", "right", "view"):
            assert len(m[s]) <= 5, (i, s, len(m[s]))
        sink.vacuum()

    # correctness: batches 1..n-1 self-match once (n-1 rows); key 0 has
    # 2 L rows (n0, seed) x (n+1) R rows (its self R + n probes) = 62.
    # 3n + 1 total.
    assert sink.state_view(spark).count() == 3 * n + 1
    first10 = sum(times[:10]) / 10
    last10 = sum(times[-10:]) / 10
    assert last10 <= 4 * first10, (first10, last10)
