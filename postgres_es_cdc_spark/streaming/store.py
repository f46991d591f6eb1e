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
  * a DELTA LOG: a list of dirs, declared once as ``{log: base dir}``
    with the store's ``compact_after``. The store owns the whole log
    life: ``land`` writes a batch's delta to ``<base>/b<batch_id>``,
    and ``append`` adds the batch's dirs to their logs as the manifest
    reads UNDER the lock, sets the replay gate in the same repoint and
    folds (``compact``) once any log holds more than ``compact_after``
    entries. Every log is an append-only bag, so a fold is a bag-union
    rewrite. The one rule (``compact_logs``): a minor pass folds a
    log's ``b*`` dirs into one ``c<gen>`` dir, and a major pass folds
    the ``c*`` snapshots into one once there are more than
    min(MAJOR_AFTER, compact_after) of them, so a log compacted
    whenever it holds more than ``compact_after`` dirs never holds
    more than ``compact_after + 1``. Each pass lands its fold in a
    private dir, then one locked commit picks ``gen`` from the manifest
    it reads, moves the fold to ``c<gen>``, repoints the logs, bumps
    ``compact_gen`` and TOMBSTONES the folded dirs; ``vacuum``
    reclaims tombstones as a separate restartable step, so a crash can
    never orphan live data. Every delta log of the package — the
    dedup, index and join sinks' alike — folds here and nowhere else.

A sink declares the schema of each frame and log it writes once, in
``__init__`` beside its logs (``schemas``: {name: DDL}). Every read the
store makes of that name — ``read``, ``_read_log`` (committed lists and
a just-landed delta alike) and ``_fold`` — passes it to
``spark.read.schema``, so no read runs parquet's schema-inference job
(one Spark job per read, a footer read of a file the sink itself
wrote). Spark's parquet reader widens an int column to a declared
long, so a delta landed from int ids reads back as the log declares.
A name without a declaration reads with the inferred schema.

No sink's trigger calls ``vacuum``: a fold may tombstone the very
``b<batch_id>`` dir a downstream reader takes the batch's output
from — the near-dup stream feeds ``<pairs>/b<i>`` to its keeper sink
and re-reads every one in its oracle — so when to reclaim is the
caller's decision, made once nothing reads a folded dir by path.

Sinks inherit from the store (``meta``, ``land``, ``commit``,
``append`` and ``compact`` are their surface) or, for a one-frame
state, hold a ``SnapshotStore``.
"""

from __future__ import annotations

import copy
import fcntl
import json
import os
import shutil
import uuid
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, SparkSession


MAJOR_AFTER = 4
"""A delta log's major pass fires once it holds more than
min(MAJOR_AFTER, compact_after) snapshots (SCALE.md round 11)."""


def _is_snapshot(d: str) -> bool:
    return os.path.basename(d).startswith("c")


class VersionedStore:
    # Fold outputs are index-grain: a few files each, where a shuffle-
    # grain write would land ~32 and every later scan pays their
    # footers (the round-11 small-files measurement).
    FOLD_FILES = 8
    # {log: sort keys}: a log named here folds range-partitioned and
    # sorted by its keys, so each snapshot file covers a disjoint key
    # range that a pushed-down predicate prunes at the parquet footer.
    FOLD_SORT: dict = {}

    def __init__(self, manifest: str, empty: dict,
                 logs: dict | None = None,
                 compact_after: int | None = None,
                 schemas: dict | None = None):
        # empty: the manifest's other fields before the first commit
        # (every frame key the sink reads); the replay gate starts at
        # -1 and each delta log ({log: base dir}) empty. compact_after:
        # ``append`` folds once a log holds more entries (None: only an
        # explicit ``compact`` folds). schemas: {frame or log: DDL or
        # StructType}, the declared read schema (module docstring)
        self._manifest = manifest
        self.logs = dict(logs or {})
        self.compact_after = compact_after
        self.schemas = dict(schemas or {})
        self._empty = {"last_batch_id": -1,
                       **{s: [] for s in self.logs}, **empty}

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
        result in one os.replace. A store has one writer, but two sink
        objects on one manifest (a restarted trigger overlapping the
        old one) must not lose each other's commit to a blind write of
        a manifest read earlier (the classic lost update). The lock is
        held only around read+mutate+write, never around Spark work.
        flock is advisory and host-local, which fits one box; on a
        cluster the manifest lives in a coordination service or a
        table format with optimistic CAS commits. Frames the new
        manifest no longer names are deleted after the repoint."""
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
    def _reader(self, spark: SparkSession, name: str):
        """A parquet reader for frame or log ``name``: its declared
        schema when it has one, else parquet's inferred one."""
        schema = self.schemas.get(name)
        return spark.read.schema(schema) if schema else spark.read

    def read(self, spark: SparkSession, frame: str) -> DataFrame | None:
        """The committed version of a frame; None before its first
        commit."""
        d = self.meta().get(frame)
        return self._reader(spark, frame).parquet(d) if d else None

    def _read_log(self, spark: SparkSession, log: str,
                  dirs: list) -> DataFrame | None:
        """Rows of log ``log``'s dirs ``dirs`` (the committed list, or a
        landed delta); None while there are none."""
        return self._reader(spark, log).parquet(*dirs) if dirs else None

    def version_dir(self, frame: str, batch_id: int) -> str:
        """Where batch ``batch_id`` lands its version of ``frame``:
        beside the manifest, invisible until the repoint. Never the
        dir currently committed, because the replay gate never lets a
        batch id commit twice."""
        return os.path.join(os.path.dirname(self._manifest_path()),
                            f"{frame}.v{batch_id}")

    def land(self, frames: dict, batch_id: int) -> dict:
        """Write each named frame where batch ``batch_id`` lands it — a
        delta log's delta to ``<base>/b<batch_id>``, any other frame to
        its version dir — and return {name: dir} for ``commit`` or
        ``append``."""
        dirs = {f: os.path.join(self.logs[f], f"b{batch_id}")
                if f in self.logs else self.version_dir(f, batch_id)
                for f in frames}
        write_all({dirs[f]: df.write for f, df in frames.items()})
        return dirs

    @staticmethod
    def _gated(cur: dict, batch_id: int, fields: dict) -> dict | None:
        """``cur`` updated by ``fields`` with ``batch_id`` as its replay
        gate; None when the batch is already committed."""
        if batch_id <= cur["last_batch_id"]:
            return None
        return {**cur, **fields, "last_batch_id": batch_id}

    def commit(self, batch_id: int, fields: dict) -> dict | None:
        """Repoint the manifest to ``fields`` with ``batch_id`` as its
        new replay gate, in one locked os.replace. Returns the new
        manifest, or None when the batch was already committed."""
        return self._locked_commit(
            lambda cur: self._gated(cur, batch_id, fields))

    # -- delta logs ----------------------------------------------------
    def append(self, spark: SparkSession, batch_id: int,
               entries: dict) -> dict | None:
        """Commit batch ``batch_id``'s delta-log entries ({log: entry},
        as ``land`` returns them): one locked repoint adds each entry
        to its log AS THE MANIFEST READS UNDER THE LOCK — never to a
        list read earlier, which would drop a fold another sink object
        committed meanwhile and keep listing the dirs it tombstoned —
        and sets the replay gate. Then ``compact`` runs once any log
        holds more than ``compact_after`` entries. Returns the appended
        manifest, or None when the batch was already committed."""
        new = self._locked_commit(lambda cur: self._gated(
            cur, batch_id, {s: cur[s] + [e] for s, e in entries.items()}))
        if new is not None and self.compact_after is not None and max(
                len(new[s]) for s in self.logs) > self.compact_after:
            self.compact(spark)
        return new

    def compact(self, spark: SparkSession) -> dict:
        """Fold the store's delta logs (``compact_logs``)."""
        return self.compact_logs(spark, self.logs, self.compact_after)

    def compact_logs(self, spark: SparkSession, logs: dict,
                     compact_after: int | None) -> dict:
        """Fold the delta logs ``logs`` ({log name: base dir}) by the
        module docstring's rule: a minor pass over each log's ``b*``
        dirs, then a major pass over its ``c*`` snapshots when there
        are more than min(MAJOR_AFTER, compact_after) of them (more
        than one when ``compact_after`` is None). A minor pass leaves
        earlier snapshots untouched, so its cost is O(tail); the major
        pass rewrites the whole log once every ~compact_after batches
        (SCALE.md round 11). A crash between the passes leaves a
        consistent minor state; ``last_batch_id`` carries through, so
        the replay gate survives."""
        cap = 1 if compact_after is None else min(MAJOR_AFTER,
                                                  compact_after)
        folded = self._fold(spark, logs, lambda d: not _is_snapshot(d))
        meta = self.meta()
        major = max(sum(map(_is_snapshot, meta.get(s, [])))
                    for s in logs) > cap
        if major:
            folded |= self._fold(spark, logs, _is_snapshot)
        return {"compacted": folded, "major": major}

    def _fold(self, spark: SparkSession, logs: dict, pick) -> bool:
        """One pass: each log with more than one ``pick``ed dir folds
        them into a private dir under its base, then one locked commit
        takes ``gen`` from the manifest it reads, moves each private
        dir to ``<base>/c<gen>``, puts it where the first folded dir
        was, tombstones the folded dirs and bumps ``compact_gen``.
        Taking ``gen`` under the lock means no pass overwrites a
        committed snapshot and no two commits share a ``c<gen>``: a
        ``c<gen>`` above the committed ``compact_gen`` is never listed,
        so the move may replace what a crashed commit left there. The
        commit aborts when the manifest no longer lists a folded dir
        (another commit folded it). A private dir that is not moved
        into place is removed. Returns whether the pass committed."""
        meta = self.meta()
        folds = {s: f for s in logs
                 if len(f := [d for d in meta.get(s, []) if pick(d)]) > 1}
        if not folds:
            return False
        tmp = {s: os.path.join(logs[s], f"_fold-{uuid.uuid4().hex}")
               for s in folds}
        dead = [d for f in folds.values() for d in f]

        def repoint(cur: dict) -> dict | None:
            if any(d not in cur[s] for s, f in folds.items() for d in f):
                return None
            gen = cur.get("compact_gen", 0) + 1
            new = {**cur, "compact_gen": gen,
                   "tombstones": cur.get("tombstones", []) + dead}
            for s, fold in folds.items():
                cdir = os.path.join(logs[s], f"c{gen}")
                shutil.rmtree(cdir, ignore_errors=True)
                os.rename(tmp[s], cdir)
                new[s] = [cdir if d == fold[0] else d
                          for d in cur[s] if d == fold[0] or d not in fold]
            return new
        try:
            for s, fold in folds.items():
                df = self._read_log(spark, s, fold)
                keys = self.FOLD_SORT.get(s)
                df = (df.repartitionByRange(self.FOLD_FILES, *keys)
                        .sortWithinPartitions(*keys) if keys
                      else df.coalesce(self.FOLD_FILES))
                df.write.mode("overwrite").parquet(tmp[s])
            return self._locked_commit(repoint) is not None
        finally:
            for d in tmp.values():
                shutil.rmtree(d, ignore_errors=True)

    def vacuum(self) -> int:
        """Delete tombstoned dirs and drop them from the manifest —
        separate from the commit that tombstoned them, so a crash can
        never orphan LIVE data (re-running re-deletes already-gone
        dirs, a no-op). Merge-aware: the commit drops exactly the dirs
        THIS call deleted. Returns the number of dirs reclaimed. No
        sink's trigger calls it (module docstring): the caller vacuums
        once nothing reads a folded dir by path."""
        dead = self.meta().get("tombstones", [])
        for d in dead:
            shutil.rmtree(d, ignore_errors=True)
        if dead:
            self._locked_commit(lambda cur: {**cur, "tombstones": [
                t for t in cur.get("tombstones", []) if t not in dead]})
        return len(dead)


class SnapshotStore(VersionedStore):
    """A store whose whole state is ONE frame — the merge-per-batch
    sinks (keyed totals, top-k, sketches, cluster labels, SCD2
    history), where every batch's merge is also the compaction. The
    frame is named after ``path``, so its versions land as
    ``<path>.v<batch_id>`` beside the ``<path>._state.json``
    manifest."""

    def __init__(self, path: str):
        self.frame = os.path.basename(path)
        super().__init__(path + "._state.json", {self.frame: None})

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
