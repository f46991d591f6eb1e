"""Tracing for the benchmark's traced run: spans recorded around the
eager calls into each engine layer by patching attributes at run time
(no source edit), plus Spark job/stage counters read from the driver's
local UI REST API and attributed to the span that was open when each
job was submitted.

Spans live in memory: (id, name, start, end, parent, batch), wall-clock
seconds. A span's self time is its duration minus its direct children's.
"""

from __future__ import annotations

import json
import threading
import time
import urllib.request
from datetime import datetime, timezone


class Tracer:
    def __init__(self) -> None:
        self.spans: list = []
        self.batch = None            # batch id stamped on new spans
        self.bookkeeping_s = 0.0     # time spent inside the tracer itself
        self._local = threading.local()
        self._undo: list = []
        self._lock = threading.Lock()

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def call(self, name: str, fn, *args, **kwargs):
        t0 = time.perf_counter()
        st = self._stack()
        parent = st[-1] if st else None
        with self._lock:
            sid = len(self.spans)
            self.spans.append([sid, name, 0.0, 0.0, parent, self.batch])
        st.append(sid)
        self.bookkeeping_s += time.perf_counter() - t0
        start = time.time()
        try:
            return fn(*args, **kwargs)
        finally:
            end = time.time()
            t1 = time.perf_counter()
            span = self.spans[sid]
            span[2], span[3] = start, end
            st.pop()
            self.bookkeeping_s += time.perf_counter() - t1

    def wrap(self, owner, attr: str, name: str, batch_arg: int | None = None):
        """Replace ``owner.attr`` by a span-recording wrapper.
        ``batch_arg``: positional index of a batch-id argument that
        sets the batch stamp for this call and its children."""
        orig = getattr(owner, attr)
        tracer = self

        def wrapper(*args, **kwargs):
            if batch_arg is not None and len(args) > batch_arg:
                tracer.batch = args[batch_arg]
            return tracer.call(name, orig, *args, **kwargs)

        setattr(owner, attr, wrapper)
        self._undo.append((owner, attr, orig))

    def unpatch(self) -> None:
        for owner, attr, orig in reversed(self._undo):
            setattr(owner, attr, orig)
        self._undo.clear()

    # -- analysis -------------------------------------------------------
    def finished(self, name: str, t0: float, t1: float) -> list:
        return [s for s in self.spans
                if s[1] == name and s[3] and t0 <= s[2] and s[3] <= t1]

    def total(self, name: str, t0: float, t1: float) -> float:
        return sum(s[3] - s[2] for s in self.finished(name, t0, t1))

    def self_total(self, name: str, t0: float, t1: float) -> float:
        child: dict = {}
        for s in self.spans:
            if s[4] is not None and s[3]:
                child[s[4]] = child.get(s[4], 0.0) + (s[3] - s[2])
        return sum(s[3] - s[2] - child.get(s[0], 0.0)
                   for s in self.finished(name, t0, t1))

    def innermost(self, t: float):
        """Name of the shortest finished span containing time ``t``."""
        best = None
        for s in self.spans:
            if s[3] and s[2] - 0.002 <= t <= s[3] + 0.002:
                if best is None or s[3] - s[2] < best[3] - best[2]:
                    best = s
        return best[1] if best else None

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"spans": [dict(zip(
                ("id", "name", "start", "end", "parent", "batch"), s))
                for s in self.spans], **extra}, f)


# ---------------------------------------------------------------------------
# Spark UI REST counters
# ---------------------------------------------------------------------------

_STAGE_KEYS = ("numTasks", "executorRunTime", "jvmGcTime", "inputBytes",
               "outputBytes", "outputRecords", "shuffleWriteBytes",
               "shuffleWriteRecords", "memoryBytesSpilled",
               "diskBytesSpilled")


def _get(url: str):
    with urllib.request.urlopen(url, timeout=30) as r:
        return json.loads(r.read())


def _epoch(ts: str) -> float:
    # "2026-10-16T18:40:51.337GMT"
    return datetime.strptime(ts.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f") \
        .replace(tzinfo=timezone.utc).timestamp()


def spark_jobs(spark) -> list:
    """Every job the UI retained: (job id, submission epoch s, summed
    stage counters). A stage shared by several jobs is counted once,
    under the lowest job id that lists it."""
    sc = spark.sparkContext
    base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
    # the UI's listener bus is asynchronous: wait until no job still
    # reads as running
    for _ in range(50):
        jobs = _get(f"{base}/jobs")
        if all(j["status"] != "RUNNING" for j in jobs):
            break
        time.sleep(0.1)
    stages: dict = {}
    for st in _get(f"{base}/stages"):
        agg = stages.setdefault(st["stageId"], dict.fromkeys(_STAGE_KEYS, 0))
        for k in _STAGE_KEYS:
            agg[k] += st.get(k, 0) or 0
    out = []
    seen: set = set()
    for j in sorted(jobs, key=lambda j: j["jobId"]):
        if "submissionTime" not in j:
            continue
        tot = dict.fromkeys(_STAGE_KEYS, 0)
        for sid in j["stageIds"]:
            if sid in seen or sid not in stages:
                continue
            seen.add(sid)
            for k in _STAGE_KEYS:
                tot[k] += stages[sid][k]
        out.append((j["jobId"], _epoch(j["submissionTime"]), tot))
    return out


def sum_jobs(jobs: list, t0: float, t1: float, tracer: Tracer | None = None,
             spans: tuple = ()) -> dict:
    """Counters of the jobs submitted in [t0, t1]; with ``spans``, only
    jobs whose innermost open span at submission is one of them."""
    tot = dict.fromkeys(_STAGE_KEYS, 0)
    tot["jobs"] = 0
    for _, t, c in jobs:
        if not (t0 - 0.002 <= t <= t1 + 0.002):
            continue
        if spans and tracer.innermost(t) not in spans:
            continue
        tot["jobs"] += 1
        for k in _STAGE_KEYS:
            tot[k] += c[k]
    return tot
