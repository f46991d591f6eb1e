"""KeyedDedupSink durability + compaction guards — the round-10 port
of the JoinSink manifest/fold discipline to the append-only sink pair
(tests mirror test_ivm_compaction.py's: mid-stream equivalence, crash
before repoint, replay gate, bounded mini-soak)."""

from __future__ import annotations

import pytest

import os

from postgres_es_cdc_spark.streaming.dedup import KeyedDedupSink


def _batches(spark, n: int, keys_per_batch: int = 30):
    """Batch i carries keys [0, i*10 + keys_per_batch): heavy cross-
    batch redelivery — only ~10 keys per batch are genuinely new."""
    out = []
    for i in range(n):
        rows = [(k, i * 1000 + k, f"b{i}")
                for k in range(i * 10 + keys_per_batch)]
        out.append(spark.createDataFrame(
            rows, "key long, seq long, payload string"))
    return out


def _drive(spark, base, batches, **kw) -> KeyedDedupSink:
    sink = KeyedDedupSink(out_path=str(base / "out"),
                          seen_path=str(base / "seen"),
                          keys=["key"], order_col="seq", **kw)
    for i, b in enumerate(batches):
        sink.apply_batch(b, i)
    return sink


def test_dedup_sink_compact_mid_stream_equals_uncompacted(spark, tmp_path):
    """A sink compacting every 2 batches (fires repeatedly MID-stream,
    more deltas landing on each snapshot) keeps exactly the survivor
    set and seen keys of an uncompacted sink, with a bounded manifest."""
    batches = _batches(spark, 8)
    plain = _drive(spark, tmp_path / "plain", batches)
    want = sorted((r.key, r.seq, r.payload)
                  for r in plain.survivors(spark).collect())
    assert len(want) >= 100  # non-trivial fixture

    sink = _drive(spark, tmp_path / "compact", batches, compact_after=2)
    got = sorted((r.key, r.seq, r.payload)
                 for r in sink.survivors(spark).collect())
    assert got == want
    m = sink.meta()
    assert m.get("compact_gen", 0) >= 2
    for s in ("out", "seen"):
        assert len(m[s]) <= 3, (s, len(m[s]))  # bounded, not O(batches)
    assert m["last_batch_id"] == len(batches) - 1
    # first-arrival-wins survived the folds: one survivor per key, from
    # the batch where the key first appeared
    by_key = {k: (s, p) for (k, s, p) in got}
    assert len(by_key) == len(got)
    for k, (s, p) in by_key.items():
        first_batch = max(0, (k - 29 + 9) // 10)  # first i with k in range
        assert p == f"b{first_batch}", (k, s, p)
    # tombstones recorded, then reclaimed; live data untouched
    dead = list(m["tombstones"])
    assert dead and all(os.path.isdir(d) for d in dead)
    assert sink.vacuum() == len(dead)
    assert not any(os.path.isdir(d) for d in dead)
    assert sink.meta()["tombstones"] == []
    assert sorted((r.key, r.seq, r.payload)
                  for r in sink.survivors(spark).collect()) == want
    # and the stream continues correctly on top of the snapshot
    extra = spark.createDataFrame([(10_000, 1, "new"), (0, 1, "dup")],
                                  "key long, seq long, payload string")
    sink.apply_batch(extra, len(batches))
    rows = {(r.key, r.payload) for r in sink.survivors(spark).collect()}
    assert (10_000, "new") in rows
    assert (0, "dup") not in rows          # key 0 was seen in batch 0


def test_dedup_sink_compaction_crash_before_repoint_is_invisible(
        spark, tmp_path):
    """If compaction dies after writing snapshot dirs but BEFORE the
    manifest repoint, the old log remains current and a retried
    compaction succeeds (overwriting the orphan snapshot)."""
    sink = _drive(spark, tmp_path / "d", _batches(spark, 4))
    want = sorted((r.key, r.seq) for r in sink.survivors(spark).collect())
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
        assert sorted((r.key, r.seq)
                      for r in sink.survivors(spark).collect()) == want
    finally:
        sink._commit = real_commit

    res = sink.compact(spark)                      # retry succeeds
    assert res["compacted"]
    assert sorted((r.key, r.seq)
                  for r in sink.survivors(spark).collect()) == want
    assert [len(sink.meta()[s]) for s in ("out", "seen")] == [1, 1]


def test_dedup_sink_crash_between_writes_and_commit_is_invisible(
        spark, tmp_path):
    """The pre-round-10 sink had a documented crash window between the
    output append and the store merge (duplicated output files). Now
    both delta dirs land BEFORE the single manifest commit: a crash
    after the writes but before the commit leaves the batch entirely
    unapplied, and the redelivery applies it exactly once."""
    batches = _batches(spark, 2)
    sink = _drive(spark, tmp_path / "d", batches[:1])
    n1 = sink.survivors(spark).count()

    real_commit = sink._commit
    sink._commit = lambda m: (_ for _ in ()).throw(OSError("crash"))
    try:
        try:
            sink.apply_batch(batches[1], 1)
            raise AssertionError("expected injected crash")
        except OSError:
            pass
        # manifest unmoved: orphan dirs invisible, survivor set unchanged
        assert sink.meta()["last_batch_id"] == 0
        assert sink.survivors(spark).count() == n1
    finally:
        sink._commit = real_commit

    sink.apply_batch(batches[1], 1)                # redelivery
    assert sink.meta()["last_batch_id"] == 1
    n2 = sink.survivors(spark).count()
    sink.apply_batch(batches[1], 1)                # committed replay: no-op
    assert sink.survivors(spark).count() == n2


def test_dedup_sink_append_keeps_a_rivals_fold(spark, tmp_path):
    """A second sink object on the same manifest (a restarted trigger
    overlapping the old one) folds the logs between batch 3's land and
    its commit. The append must add batch 3's dirs to the logs as the
    lock reads them — [c1, b3] — not to the list read before the fold:
    that would drop c1, keep listing the tombstoned b0-b2, and the
    vacuum would then delete live data."""
    batches = _batches(spark, 4)
    want = sorted((r.key, r.seq) for r in _drive(
        spark, tmp_path / "plain", batches).survivors(spark).collect())
    sink = _drive(spark, tmp_path / "d", batches[:3])
    rival = KeyedDedupSink(out_path=str(tmp_path / "d" / "out"),
                           seen_path=str(tmp_path / "d" / "seen"),
                           keys=["key"], order_col="seq")
    real = sink._locked_commit

    def fold_first(mutate):
        sink._locked_commit = real
        assert rival.compact(spark)["compacted"]
        return real(mutate)

    sink._locked_commit = fold_first
    sink.apply_batch(batches[3], 3)
    m = sink.meta()
    assert m["last_batch_id"] == 3
    for s in ("out", "seen"):
        assert len(m[s]) == 2, (s, m[s])            # [c1, b3]
        assert not set(m[s]) & set(m["tombstones"]), (s, m)
    sink.vacuum()
    assert sorted((r.key, r.seq)
                  for r in sink.survivors(spark).collect()) == want


def test_dedup_sink_compact_noop_on_single_entry_log(spark, tmp_path):
    sink = _drive(spark, tmp_path / "d", _batches(spark, 1))
    res = sink.compact(spark)
    assert not res["compacted"]
    assert sink.meta().get("tombstones", []) == []


@pytest.mark.slow_soak
def test_dedup_sink_soak_stays_bounded_with_compaction(spark, tmp_path):
    """Mini-soak (30 fixed-size batches): with compact_after the
    manifest NEVER exceeds compact_after+1 entries per store at any
    point mid-stream, survivors stay correct, and per-batch time stays
    within a loose envelope of the early batches (4× — generous for
    shared-box noise; tools/ivm_soak.py --sink dedup measures the
    wall-clock form at 120 batches)."""
    import time

    sink = KeyedDedupSink(out_path=str(tmp_path / "out"),
                          seen_path=str(tmp_path / "seen"),
                          keys=["key"], order_col="seq",
                          compact_after=4)
    times = []
    n = 30
    for i in range(n):
        # 50 redelivered keys + 5 new per batch
        rows = ([(k, i * 1000 + k, "old") for k in range(50)]
                + [(1000 + i * 5 + j, i, "new") for j in range(5)])
        df = spark.createDataFrame(
            rows, "key long, seq long, payload string")
        t0 = time.time()
        sink.apply_batch(df, i)
        times.append(time.time() - t0)
        m = sink.meta()
        for s in ("out", "seen"):
            assert len(m[s]) <= 5, (i, s, len(m[s]))
        sink.vacuum()

    # 50 keys from batch 0 + 5 new per batch
    assert sink.survivors(spark).count() == 50 + 5 * n
    assert sink.seen_keys(spark).count() == 50 + 5 * n
    first10 = sum(times[:10]) / 10
    last10 = sum(times[-10:]) / 10
    assert last10 <= 4 * first10, (first10, last10)
