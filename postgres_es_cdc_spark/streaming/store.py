"""VersionedStore — the one commit primitive every streaming sink uses.

A sink's durable state is one manifest (a small JSON file) naming the
parquet directories that are current, the last applied micro-batch id,
and whatever small fields the sink carries across batches (a watermark,
a decode context, tombstones). New data always lands in directories no
manifest references yet; one ``os.replace`` of the manifest then makes
all of it current at once — the commit step Delta/Iceberg take on
their log. A crash before the repoint leaves the prior state current
(the new dirs are invisible and the retry overwrites them); the
``last_batch_id`` committed in the same replace makes a redelivered
micro-batch a no-op, which is how an at-least-once ``foreachBatch``
gets an exactly-once effect (Structured Streaming, SIGMOD 2018). The
reference instead keeps its only progress marker in memory, on a
temporary slot (producer.go:55).

Manifest fields that name data come in two shapes:

  * a FRAME: one dir string, replaced whole by a commit (a snapshot —
    every batch's merge is also its compaction). The superseded dir is
    deleted right after the repoint, so a frame occupies at most two
    versions on disk.
  * a DELTA LOG: a list of dirs its sink appends to and compacts. Dirs
    folded away are TOMBSTONED in the manifest, never deleted in the
    commit path, and ``vacuum`` reclaims them as a separate restartable
    step — a crash can never orphan live data.

Sinks inherit from the store (``meta``, ``_commit``, ``_manifest_path``
and ``_locked_commit`` are their manifest surface) or, for a one-frame
state, hold a ``SnapshotStore``.
"""

from __future__ import annotations

import copy
import fcntl
import json
import os
import shutil
import time
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, SparkSession


class VersionedStore:
    def __init__(self, manifest: str, empty: dict):
        # empty: the manifest before the first commit; it must hold
        # "last_batch_id": -1 (the replay gate) and every frame / log
        # key the sink reads
        self._manifest = manifest
        self._empty = empty

    # -- manifest ------------------------------------------------------
    def _manifest_path(self) -> str:
        return self._manifest

    def meta(self) -> dict:
        p = self._manifest_path()
        if os.path.exists(p):
            with open(p) as f:
                return json.load(f)
        return copy.deepcopy(self._empty)

    def _commit(self, meta: dict) -> None:
        p = self._manifest_path()
        os.makedirs(os.path.dirname(p) or ".", exist_ok=True)
        tmp = p + ".tmp"
        with open(tmp, "w") as f:
            json.dump(meta, f)
        os.replace(tmp, p)

    def applied(self, batch_id: int) -> bool:
        """The replay gate: True when ``batch_id`` is already committed."""
        return batch_id <= self.meta()["last_batch_id"]

    def _locked_commit(self, mutate) -> dict | None:
        """Serialized read-modify-write of the manifest: take an
        exclusive flock, re-read the manifest, apply ``mutate(current)
        -> new | None`` (None aborts without writing) and write the
        result in one os.replace. A compactor running beside the
        trigger makes TWO writers; a blind write of a manifest read
        earlier would lose the other writer's commit (the classic lost
        update). The lock is held only around read+mutate+write —
        never around Spark work — so contention is microseconds. flock
        is advisory and host-local, which fits one box; on a cluster
        the manifest lives in a coordination service or a table format
        with optimistic CAS commits. Frames the new manifest no longer
        names are deleted after the repoint."""
        p = self._manifest_path()
        os.makedirs(os.path.dirname(p) or ".", exist_ok=True)
        with open(p + ".lock", "w") as lk:
            fcntl.flock(lk, fcntl.LOCK_EX)
            try:
                cur = self.meta()
                new = mutate(cur)
                if new is None:
                    return None
                self._commit(new)
            finally:
                fcntl.flock(lk, fcntl.LOCK_UN)
        live = {v for v in new.values() if isinstance(v, str)}
        for old in cur.values():
            if isinstance(old, str) and old not in live \
                    and os.path.isdir(old):
                shutil.rmtree(old, ignore_errors=True)
        return new

    # -- frames --------------------------------------------------------
    def read(self, spark: SparkSession, frame: str) -> DataFrame | None:
        """The committed version of a frame; None before its first
        commit."""
        d = self.meta().get(frame)
        return spark.read.parquet(d) if d else None

    @staticmethod
    def _read_log(spark: SparkSession, dirs: list) -> DataFrame | None:
        """A delta log's committed rows; None while it is empty."""
        return spark.read.parquet(*dirs) if dirs else None

    def version_dir(self, frame: str, batch_id: int) -> str:
        """Where batch ``batch_id`` lands its version of ``frame``:
        beside the manifest, invisible until the repoint. Never the
        dir currently committed, because the replay gate never lets a
        batch id commit twice."""
        return os.path.join(os.path.dirname(self._manifest_path()),
                            f"{frame}.v{batch_id}")

    def land(self, frames: dict, batch_id: int) -> dict:
        """Write each named frame to its version dir; return
        {frame: dir} for ``commit``."""
        dirs = {f: self.version_dir(f, batch_id) for f in frames}
        write_all({dirs[f]: df.write for f, df in frames.items()})
        return dirs

    def commit(self, batch_id: int, fields) -> dict | None:
        """Repoint the manifest to ``fields`` with ``batch_id`` as its
        new replay gate, in one locked os.replace. ``fields`` is a dict
        or a function of the current manifest returning one — the
        latter appends to delta logs another writer may have compacted
        since they were read. Returns the new manifest, or None when
        the batch was already committed."""
        def mutate(cur: dict) -> dict | None:
            if batch_id <= cur["last_batch_id"]:
                return None
            new = dict(cur)
            new.update(fields(cur) if callable(fields) else fields)
            new["last_batch_id"] = batch_id
            return new
        return self._locked_commit(mutate)

    # -- tombstones and vacuum -----------------------------------------
    @staticmethod
    def _tomb_path(t) -> str:
        """A tombstone is a bare path (always eligible for vacuum) or a
        [path, tombstoned_unix] pair (eligible once older than the
        reader-retention window)."""
        return t if isinstance(t, str) else t[0]

    # pending entries (claimed fold outputs) share the tombstone
    # encoding: bare path or [path, claimed_unix]
    _pend_path = _tomb_path

    def vacuum(self, reclaim_pending: bool = False,
               grace_s: float = 0.0,
               pending_grace_s: float | None = None) -> int:
        """Delete tombstoned dirs and drop them from the manifest —
        separate from the commit that tombstoned them, so a crash can
        never orphan LIVE data (re-running re-deletes already-gone
        dirs, a no-op). Merge-aware: the commit drops exactly the dirs
        THIS call deleted, preserving tombstones a concurrent fold
        added in between. Returns the number of dirs reclaimed.

        ``grace_s`` is the reader-retention window: a tombstone younger
        than this may still be READ by an in-flight trigger that
        planned from the pre-fold manifest, so a CONCURRENT maintenance
        process must vacuum with grace_s above the longest micro-batch.
        grace_s=0 reclaims everything, right for a single writer.

        ``reclaim_pending=True`` also deletes ALL ``pending`` dirs —
        leftovers of a fold that crashed or lost its swap. Only safe
        when no compactor is mid-fold (a live fold's outputs sit in
        pending until its swap commits), so it is an operator sweep,
        never part of the trigger path. ``pending_grace_s`` is the
        concurrent-safe form: only entries claimed longer ago than the
        window (longer than any fold pass) are deleted."""
        meta = self.meta()
        cutoff = time.time() - grace_s
        dead = [self._tomb_path(t) for t in meta.get("tombstones", [])
                if isinstance(t, str) or t[1] <= cutoff]
        if reclaim_pending:
            ripe_p = list(meta.get("pending", []))
        elif pending_grace_s is not None:
            pcut = time.time() - pending_grace_s
            ripe_p = [p for p in meta.get("pending", [])
                      if isinstance(p, str) or p[1] <= pcut]
        else:
            ripe_p = []
        pend = [self._pend_path(p) for p in ripe_p]
        for d in dead + pend:
            shutil.rmtree(d, ignore_errors=True)
        if dead or pend:
            def drop(cur: dict) -> dict:
                new = dict(cur)
                new["tombstones"] = [
                    t for t in cur.get("tombstones", [])
                    if self._tomb_path(t) not in dead]
                if pend:
                    new["pending"] = [
                        p for p in cur.get("pending", [])
                        if self._pend_path(p) not in pend]
                return new
            self._locked_commit(drop)
        return len(dead) + len(pend)


class SnapshotStore(VersionedStore):
    """A store whose whole state is ONE frame — the merge-per-batch
    sinks (keyed totals, top-k, sketches, cluster labels, SCD2
    history), where every batch's merge is also the compaction. The
    frame is named after ``path``, so its versions land as
    ``<path>.v<batch_id>`` beside the ``<path>._state.json``
    manifest."""

    def __init__(self, path: str):
        self.frame = os.path.basename(path)
        super().__init__(path + "._state.json",
                         {self.frame: None, "last_batch_id": -1})

    def state(self, spark: SparkSession) -> DataFrame | None:
        return self.read(spark, self.frame)

    def replace(self, df: DataFrame, batch_id: int) -> None:
        self.commit(batch_id, self.land({self.frame: df}, batch_id))


def write_all(writers: dict) -> None:
    """Run {dir: DataFrameWriter} writes (overwrite mode) — several at
    once from a small thread pool: independent Spark jobs are only
    sequential because the driver submits them sequentially, so the
    second job's tasks back-fill the first's tail. All land before the
    caller's one commit."""
    jobs = [lambda w=w, d=d: w.mode("overwrite").parquet(d)
            for d, w in writers.items()]
    if len(jobs) < 2:
        for j in jobs:
            j()
        return
    with ThreadPoolExecutor(max_workers=len(jobs)) as pool:
        for f in [pool.submit(j) for j in jobs]:
            f.result()
