"""VersionedStore.compact_logs — the one delta-log compaction the
append-only sinks (KeyedDedupSink, VectorIndexSink, SignatureIndexSink,
JoinSink) fold through — pinned on plain parquet logs, without a sink:
the minor/major tiering, the bounded listing, crash and abort behaviour
of the one commit per pass, the snapshot name each pass takes under
that commit's lock, and the flock under two writers."""

from __future__ import annotations

import os
import sys
import threading

import pytest

from postgres_es_cdc_spark.streaming.store import (MAJOR_AFTER,
                                                   VersionedStore,
                                                   _is_snapshot)

LOGS = ("x", "y")


def _store(base) -> VersionedStore:
    return VersionedStore(str(base / "manifest.json"),
                          {**{s: [] for s in LOGS}, "last_batch_id": -1})


def _logs(base) -> dict:
    return {s: str(base / s) for s in LOGS}


def _append(spark, st, base, i: int) -> dict:
    """Batch i appends ids [10 i, 10 i + 10) to every log."""
    dirs = {}
    for s in LOGS:
        dirs[s] = str(base / s / f"b{i}")
        spark.range(10 * i, 10 * i + 10).write.mode("overwrite") \
            .parquet(dirs[s])
    return st.append(spark, i, dirs)


def _ids(spark, st) -> dict:
    m = st.meta()
    return {s: sorted(r.id for r in spark.read.parquet(*m[s]).collect())
            for s in LOGS}


def _snapshots(entries) -> list:
    return [d for d in entries if os.path.basename(d).startswith("c")]


def _on_disk(base) -> set:
    return {str(base / s / d) for s in LOGS for d in os.listdir(base / s)}


def test_minor_keeps_snapshots_major_only_above_cap(spark, tmp_path):
    """Trigger-path use (compact whenever a log exceeds compact_after):
    a minor pass never rewrites an earlier snapshot, the major pass
    fires exactly when the snapshots outnumber min(MAJOR_AFTER,
    compact_after), and no log ever holds more than compact_after + 1
    entries."""
    compact_after = 2
    cap = min(MAJOR_AFTER, compact_after)
    st, logs = _store(tmp_path), _logs(tmp_path)
    kept: dict = {}                 # snapshot dir -> mtime when first seen
    majors = 0
    for i in range(12):
        meta = _append(spark, st, tmp_path, i)
        if max(len(meta[s]) for s in LOGS) > compact_after:
            tails = [d for d in meta["x"] if d not in _snapshots(meta["x"])]
            after_minor = len(_snapshots(meta["x"])) + (len(tails) > 1)
            r = st.compact_logs(spark, logs, compact_after)
            assert r["major"] == (after_minor > cap), (i, meta["x"])
            # a lone tail dir is not folded: nothing to union it with
            assert r["compacted"] == (len(tails) > 1 or r["major"])
            majors += r["major"]
        meta = st.meta()
        for s in LOGS:
            assert len(meta[s]) <= compact_after + 1, (i, s, meta[s])
            for d in _snapshots(meta[s]):
                # a snapshot still listed was never rewritten
                assert os.path.getmtime(d) == kept.setdefault(
                    d, os.path.getmtime(d)), (i, d)
    assert majors >= 2
    want = list(range(120))
    assert _ids(spark, st) == {s: want for s in LOGS}
    assert st.vacuum() == len(meta["tombstones"]) > 0
    assert _on_disk(tmp_path) == {d for s in LOGS for d in meta[s]}
    assert _ids(spark, st) == {s: want for s in LOGS}


def test_crash_in_commit_leaves_meta_and_retry_reuses_gen(spark, tmp_path):
    """A crash in the pass's one commit leaves meta() as it was; the
    retry lands the same c<gen> path, so nothing outside manifest +
    tombstones is left on disk."""
    st, logs = _store(tmp_path), _logs(tmp_path)
    for i in range(3):
        _append(spark, st, tmp_path, i)
    before = st.meta()

    real = st._commit
    st._commit = lambda m: (_ for _ in ()).throw(OSError("crash"))
    try:
        with pytest.raises(OSError):
            st.compact_logs(spark, logs, None)
    finally:
        st._commit = real
    assert st.meta() == before

    assert st.compact_logs(spark, logs, None)["compacted"]
    m = st.meta()
    assert m["compact_gen"] == 1
    assert {s: m[s] for s in LOGS} == {s: [logs[s] + "/c1"] for s in LOGS}
    assert _on_disk(tmp_path) == (
        {d for s in LOGS for d in m[s]} | set(m["tombstones"]))
    assert _ids(spark, st) == {s: list(range(30)) for s in LOGS}


def test_fold_of_already_folded_dirs_aborts(spark, tmp_path):
    """Another commit folds the same dirs between this pass's read and
    its commit: the pass aborts and changes nothing, so no entry points
    at a tombstoned dir."""
    st, logs = _store(tmp_path), _logs(tmp_path)
    rival = _store(tmp_path)
    for i in range(3):
        _append(spark, st, tmp_path, i)

    real = st._locked_commit

    def interleaved(mutate):
        rival.compact_logs(spark, logs, None)
        return real(mutate)

    st._locked_commit = interleaved
    try:
        r = st.compact_logs(spark, logs, None)
    finally:
        st._locked_commit = real
    assert not r["compacted"]
    m = st.meta()
    assert m["compact_gen"] == 1            # the rival's fold, alone
    for s in LOGS:
        assert m[s] == [logs[s] + "/c1"]
        assert not set(m[s]) & set(m["tombstones"])
    assert _ids(spark, st) == {s: list(range(30)) for s in LOGS}


def _rival_before_write(st, step) -> None:
    """Run ``step`` once, after ``st``'s fold pass has read the
    manifest and before it writes its fold."""
    real = st._read_log

    def read_log(*a):
        st._read_log = real
        step()
        return real(*a)
    st._read_log = read_log


def test_fold_never_overwrites_a_rivals_committed_snapshot(spark,
                                                            tmp_path):
    """A rival appends and folds between this pass's manifest read and
    its write: the rival's committed c<gen> keeps the rival's rows (a
    gen taken from the earlier read made this pass overwrite it), and
    this pass aborts."""
    st, logs = _store(tmp_path), _logs(tmp_path)
    rival = _store(tmp_path)
    for i in range(3):
        _append(spark, st, tmp_path, i)

    def rival_step():
        _append(spark, rival, tmp_path, 3)
        assert rival.compact_logs(spark, logs, None)["compacted"]
    _rival_before_write(st, rival_step)
    assert not st.compact_logs(spark, logs, None)["compacted"]
    m = st.meta()
    assert m["compact_gen"] == 1
    assert {s: m[s] for s in LOGS} == {s: [logs[s] + "/c1"] for s in LOGS}
    assert _ids(spark, st) == {s: list(range(40)) for s in LOGS}
    assert _on_disk(tmp_path) == (
        {d for s in LOGS for d in m[s]} | set(m["tombstones"]))


def test_minor_and_rival_major_take_distinct_gens(spark, tmp_path):
    """A rival's major pass commits between this minor pass's manifest
    read and its write: both commit, each under its own c<gen>, so the
    log never lists one snapshot twice and keeps every row (a shared
    gen made this pass overwrite the rival's snapshot and list it
    twice)."""
    st, logs = _store(tmp_path), _logs(tmp_path)
    rival = _store(tmp_path)
    for i in range(4):
        _append(spark, st, tmp_path, i)
    assert st._fold(spark, logs, lambda d: d.endswith(("b0", "b1")))
    assert st._fold(spark, logs, lambda d: d.endswith(("b2", "b3")))
    for i in range(4, 6):
        _append(spark, st, tmp_path, i)
    assert st.meta()["x"] == [logs["x"] + f"/{d}"
                              for d in ("c1", "c2", "b4", "b5")]

    _rival_before_write(st, lambda: rival._fold(spark, logs, _is_snapshot))
    assert st.compact_logs(spark, logs, MAJOR_AFTER)["compacted"]
    m = st.meta()
    assert m["compact_gen"] == 4
    assert {s: m[s] for s in LOGS} == {
        s: [logs[s] + "/c3", logs[s] + "/c4"] for s in LOGS}
    assert _ids(spark, st) == {s: list(range(60)) for s in LOGS}


def test_locked_commit_keeps_both_writers_appends(tmp_path):
    """Two store objects on one manifest, each in its own thread,
    append to one list through _locked_commit: the flock serializes
    the read-modify-writes, so no append is lost."""
    n = 200
    stores = [_store(tmp_path), _store(tmp_path)]

    def run(k: int) -> None:
        for i in range(n):
            stores[k]._locked_commit(
                lambda cur, e=f"w{k}-{i}": {**cur, "x": cur["x"] + [e]})

    threads = [threading.Thread(target=run, args=(k,)) for k in (0, 1)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)     # interleave the two writers often
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    got = stores[0].meta()["x"]
    assert len(got) == 2 * n
    assert set(got) == {f"w{k}-{i}" for k in (0, 1) for i in range(n)}
