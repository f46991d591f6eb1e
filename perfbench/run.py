"""Benchmark of the engine's streaming paths.

Usage (from the repository root):

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Each run generates its workload's input from ``--seed`` (same seed, same
bytes), builds a local Spark session through ``session.get_spark``,
sets the pipeline up ``SETUPS`` times on fresh state (the first, cold
one then runs ``WARMUP`` untimed batches; the last one is what the timed
phase continues), then runs a closed loop for ``--seconds``: one driver
thread sends the next batch only after the previous one has finished.
Batch cost is the CPU time of the pipeline's processes, which leaves out
the time the hypervisor steals from this VM's vCPUs. Outputs are checked
against an independent oracle. The last stdout line is one JSON object
with ``correct``, ``attempted``, ``failed`` and ``metrics``: the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. The line before it records the hardware, versions, wall
times and the host's steal share.

Workloads (perfbench/README.md has the full rationale):

* ``wal_to_es`` — seeded pgoutput WAL segments (two tables) replayed
  through ``wal_cdc_pipeline`` (maxFilesPerTrigger=1) into
  ``EsForwardingTxnSink``, which posts ``_bulk`` requests to
  ``sinks.es_fake.EsStore`` served from a separate process.
* ``cdc_backfill`` — one seeded JSON envelope log folded by
  ``apply_changes`` and written to parquet, repeated.
* ``docs_near_dup_stream`` — a seeded corpus with planted near-copies;
  per batch ``docs_minhash_signatures``, then
  ``SignatureIndexSink.apply_batch``, then the batch's emitted pairs
  through ``ClusterKeeperSink.apply_batch``.

Every state, checkpoint, Spark local and temp path lives in a per-run
directory under ``.perfbench_tmp/`` that is removed at exit; traced runs
write their spans to ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [ROOT]
if __name__ == "__main__" and not os.path.isfile(
        os.path.join(ROOT, "postgres_es_cdc_spark", "session.py")):
    sys.exit("run from the repository root: postgres_es_cdc_spark/ "
             "not found")

import gen  # noqa: E402  (perfbench/gen.py; needs ROOT on sys.path)
import tracing as tr  # noqa: E402  (perfbench/tracing.py)

WORKLOADS = ("wal_to_es", "cdc_backfill", "docs_near_dup_stream")
SETUPS = 2                 # fresh-state set-ups per run; setup_s = median
WARMUP = 1                 # untimed batches on the first (cold) set-up
MIN_TIMED = 3              # timed batches run even past --seconds
POLL_S = 0.005             # closed-loop completion polling interval
JIT_THREADS = ("C1 Compiler", "C2 Compiler")  # left out of CPU time

WAL_MSGS_PER_SEGMENT = 600
WAL_BULK_ACTIONS = 1_000_000   # one _bulk request per table per batch
BACKFILL_EVENTS = 400_000
BACKFILL_KEYS = 40_000
DOC_BATCH = 500
DOC_MAX_BATCHES = 64

END_TO_END = (("setup_s", "s"), ("records_per_cpu_s", "1/cpu_s"),
              ("batch_cpu_p50_s", "cpu_s"), ("peak_rss_mb", "MB"))
PER_LAYER = (
    ("pgoutput.apply_self_s", "s"), ("pgoutput.messages", "count"),
    ("pgoutput.read_amplification", "ratio"),
    ("txn.self_s", "s"), ("txn.committed_frac", "ratio"),
    ("txn.pending_rows", "count"),
    ("merge.s", "s"), ("merge.state_rows_rewritten_per_event", "ratio"),
    ("merge.bytes_written", "bytes"),
    ("es_rest.s", "s"), ("es_rest.requests", "count"),
    ("es_rest.actions_per_request", "ratio"),
    ("es_rest.bytes_posted", "bytes"),
    ("es_fake.busy_s", "s"), ("es_fake.item_errors", "count"),
    ("stream.trigger_overhead_s", "s"),
    ("signatures.s", "s"),
    ("index.s", "s"), ("index.candidate_pairs", "count"),
    ("index.log_dirs", "count"), ("index.compactions", "count"),
    ("index.planted_recall", "ratio"),
    ("keepers.s", "s"), ("keepers.label_rows", "count"),
    ("spark.jobs_per_batch", "count"), ("spark.tasks_per_batch", "count"),
    ("spark.executor_run_s", "s"), ("spark.shuffle_write_bytes", "bytes"),
    ("spark.gc_s", "s"), ("spark.spill_bytes", "bytes"),
    ("trace.overhead_frac", "ratio"),
)


# ---------------------------------------------------------------------------
# environment
# ---------------------------------------------------------------------------


def _ram_bytes() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    return 0


def configure(run_dir: str, cores: int) -> None:
    """Fit Spark to this machine and confine every path to the run dir
    (must run before pyspark launches its JVM)."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    mem_gb = max(1, min(3, _ram_bytes() // 4 // 2 ** 30))
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{mem_gb}g"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    confs = {
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100000",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
    }
    args = []
    for k, v in confs.items():
        args += ["--conf", f"{k}={v}"]
    args += ["--driver-java-options",
             f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
             # a pre-touched fixed heap: without it the JVM's resident
             # size follows G1's lazy heap growth and peak_rss_mb swings
             # by a third between identical runs
             f"-Xms{mem_gb}g -XX:+AlwaysPreTouch "
             # compiler threads that live as long as the JVM, so their
             # CPU time can be told apart (see tree_cpu_s)
             "-XX:-UseDynamicNumberOfCompilerThreads"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])


def _tree(root: int | None = None) -> dict:
    """{pid: /proc stat fields after the command name} for process
    ``root`` (default: this one) and every live descendant (the JVM,
    Python workers, the ES process)."""
    stats: dict = {}
    children: dict = {}
    for p in os.listdir("/proc"):
        if not p.isdigit():
            continue
        try:
            with open(f"/proc/{p}/stat") as f:
                fs = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        stats[int(p)] = fs
        children.setdefault(int(fs[1]), []).append(int(p))
    out: dict = {}
    todo = [os.getpid() if root is None else root]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, ()))
        if pid in stats:
            out[pid] = stats[pid]
    return out


def tree_cpu_s(skip: int | None = None) -> float:
    """CPU seconds (user + system, reaped children included) this process
    tree has used so far, leaving out process ``skip`` and its children
    and the JVM's JIT compiler threads."""
    tree = _tree()
    if skip is not None:
        for p in _tree(skip):
            tree.pop(p, None)
    ticks = sum(int(x) for fs in tree.values() for x in fs[11:15])
    for pid in tree:
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            try:
                with open(f"/proc/{pid}/task/{tid}/stat") as f:
                    name, fs = f.read().split("(", 1)[1].rsplit(")", 1)
            except (OSError, ValueError):
                continue
            if name.startswith(JIT_THREADS):
                ticks -= sum(int(x) for x in fs.split()[11:13])
    return ticks / os.sysconf("SC_CLK_TCK")


def host_cpu_ticks() -> tuple:
    """(all ticks, steal ticks) of this machine's CPUs so far: steal is
    time the hypervisor ran something else on a vCPU that wanted to run."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return sum(ticks), (ticks[7] if len(ticks) > 7 else 0)


def tree_hwm_mb() -> tuple:
    """Peak resident memory (VmHWM, MB) summed over this process tree,
    and the per-process breakdown {"pid name": MB}."""
    per: dict = {}
    for pid in _tree():
        try:
            with open(f"/proc/{pid}/status") as f:
                fields = dict(line.split(":", 1) for line in f)
            per[f"{pid} {fields['Name'].strip()}"] = \
                int(fields["VmHWM"].split()[0]) / 1024
        except (OSError, KeyError, ValueError):
            pass
    return sum(per.values()), per


class EsProcess:
    """sinks.es_fake served by perfbench/es_server.py in a child
    process; commands go over its stdin, JSON answers come back on its
    stdout."""

    def __init__(self) -> None:
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "es_server.py")], cwd=ROOT,
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True)
        self.url = self.proc.stdout.readline().strip()
        if not self.url.startswith("http://"):
            raise RuntimeError("es_server did not start")

    def ask(self, cmd: str) -> dict:
        self.proc.stdin.write(cmd + "\n")
        self.proc.stdin.flush()
        return json.loads(self.proc.stdout.readline())

    def close(self) -> None:
        try:
            self.proc.stdin.close()
        except OSError:
            pass
        try:
            self.proc.wait(timeout=10)
        except subprocess.TimeoutExpired:
            self.proc.kill()
            self.proc.wait()


class Ctx:
    """What a workload needs: session, run dir, seed, time budget, the
    tracer (None when untraced) and the result being filled in."""

    def __init__(self, spark, run_dir, seed, seconds, tracer):
        self.spark = spark
        self.run_dir = run_dir
        self.seed = seed
        self.seconds = seconds
        self.tracer = tracer
        self.setups: list = []       # seconds per fresh-state set-up
        self.warmup_s = 0.0          # untimed warm-up batches, in total
        self.batches: list = []      # seconds per timed batch
        self.recs: list = []         # records per timed batch
        self.cpu: list = []          # CPU seconds per timed batch (no ES)
        self.records = 0             # records completed in the timed phase
        self.first_timed = 0         # id of the first timed batch
        self.steal_frac = 0.0        # host's share of vCPU time, timed phase
        self.peak_mb = 0.0           # process-tree VmHWM at the end of it
        self.peak_by_proc: dict = {}
        self.attempted = 0
        self.failed = 0
        self.errors: list = []       # oracle mismatches
        self.t0 = self.t1 = 0.0      # timed window, epoch seconds
        self.layers: dict = {}       # per-layer metrics (traced runs)
        self.model = None            # generator output for the oracle
        self.es: EsProcess | None = None

    def call(self, name: str, fn, *args):
        if self.tracer is None:
            return fn(*args)
        return self.tracer.call(name, fn, *args)

    def check(self, ok: bool, what: str) -> None:
        if not ok:
            self.errors.append(what)

    def warm_up(self, step, first: int) -> None:
        """``WARMUP`` untimed batches from id ``first`` on the cold first
        set-up, before the next set-up starts; ``step(i)`` runs batch i."""
        t = time.perf_counter()
        for i in range(first, first + WARMUP):
            step(i)
        self.warmup_s = time.perf_counter() - t

    def closed_loop(self, step, first: int, limit: int) -> int:
        """Timed batches from id ``first``: the next one starts only while
        the median timed batch would still end within ``--seconds`` (at
        least ``MIN_TIMED`` run, ids stay below ``limit``). ``step(i)``
        runs batch i and returns (seconds, records). Returns the next
        unused batch id."""
        i = self.first_timed = first
        steal0 = host_cpu_ticks()
        self.t0 = time.time()
        start = time.perf_counter()
        while i < limit:
            if len(self.batches) >= MIN_TIMED and (
                    time.perf_counter() - start
                    + statistics.median(self.batches) > self.seconds):
                break
            es = self.es.proc.pid if self.es is not None else None
            cpu = tree_cpu_s(es)
            lat, recs = step(i)
            self.cpu.append(tree_cpu_s(es) - cpu)
            self.batches.append(lat)
            self.recs.append(recs)
            self.records += recs
            i += 1
        self.t1 = time.time()
        # before the oracle, whose DuckDB recompute is not the system's
        self.peak_mb, self.peak_by_proc = tree_hwm_mb()
        steal1 = host_cpu_ticks()
        self.steal_frac = ((steal1[1] - steal0[1])
                           / max(steal1[0] - steal0[0], 1))
        return i


def spark_layers(ctx: Ctx, n: int, jobs: list) -> None:
    """The spark.* per-batch counters over the timed window."""
    c = tr.sum_jobs(jobs, ctx.t0, ctx.t1)
    ctx.layers.update({
        "spark.jobs_per_batch": c["jobs"] / n,
        "spark.tasks_per_batch": c["numTasks"] / n,
        "spark.executor_run_s": c["executorRunTime"] / 1000 / n,
        "spark.shuffle_write_bytes": c["shuffleWriteBytes"] / n,
        "spark.gc_s": c["jvmGcTime"] / 1000 / n,
        "spark.spill_bytes": (c["memoryBytesSpilled"]
                              + c["diskBytesSpilled"]) / n,
    })


# ---------------------------------------------------------------------------
# wal_to_es
# ---------------------------------------------------------------------------


def _norm_docs(docs: dict) -> dict:
    return {str(k): {c: str(v) for c, v in d.items() if v is not None}
            for k, d in docs.items()}


def _parquet_state(path: str) -> dict:
    """A sink state dir as {id: {column: str}}, bookkeeping columns
    (``_cdc_version``) dropped."""
    import pyarrow.parquet as pq
    rows = pq.read_table(path).to_pylist()
    return _norm_docs({r["id"]: {c: v for c, v in r.items()
                                 if not c.startswith("_")} for r in rows})


def run_wal_to_es(ctx: Ctx) -> None:
    from pyspark.sql.types import _parse_datatype_string

    from postgres_es_cdc_spark.cdc.txn import TxnUpsertSink
    from postgres_es_cdc_spark.sinks.es_rest import EsForwardingTxnSink
    from postgres_es_cdc_spark.sources import pgoutput
    from postgres_es_cdc_spark.streaming.pipeline import UpsertSink

    spark, tracer = ctx.spark, ctx.tracer
    if tracer is not None:
        tracer.wrap(pgoutput.WalStreamApply, "apply", "pgoutput.apply",
                    batch_arg=2)
        tracer.wrap(pgoutput, "decode_with_relation_resends",
                    "pgoutput.decode")
        tracer.wrap(TxnUpsertSink, "apply_batch", "txn.apply_batch")
        tracer.wrap(UpsertSink, "_merge", "merge")
        tracer.wrap(EsForwardingTxnSink, "_on_committed", "es_rest")
    schemas = {t: _parse_datatype_string(ddl)
               for t, (_, _, ddl) in gen.WAL_TABLES.items()}
    wal = gen.WalGen(ctx.seed, WAL_MSGS_PER_SEGMENT)
    segs: list = []                   # (ops, staged path, bytes, messages)
    stage = os.path.join(ctx.run_dir, "segments")
    os.makedirs(stage)

    def segment(i: int) -> tuple:
        while len(segs) <= i:
            rows, ops = wal.segment()
            p = os.path.join(stage, f"seg{len(segs):05d}.parquet")
            segs.append((ops, p, gen.write_segment(rows, p), len(rows)))
        return segs[i]

    es = ctx.es = EsProcess()

    def start(k: int) -> tuple:
        es.ask("reset")
        d = os.path.join(ctx.run_dir, f"pipeline{k}")
        src = os.path.join(d, "wal")
        os.makedirs(src)
        sink = EsForwardingTxnSink(os.path.join(d, "state"), schemas,
                                   es_url=es.url,
                                   max_actions=WAL_BULK_ACTIONS)
        stream = (spark.readStream.schema("offset long, data binary")
                  .option("maxFilesPerTrigger", "1").parquet(src))
        q = pgoutput.wal_cdc_pipeline(stream, sink,
                                      os.path.join(d, "ckpt"),
                                      trigger_once=False)
        return sink, q, src

    def feed(q, src: str, i: int) -> tuple:
        """Land segment i in the source dir; wait for its batch."""
        _, path, _, _ = segment(i)
        hidden = os.path.join(src, f".seg{i:05d}.parquet")
        shutil.copyfile(path, hidden)
        t = time.perf_counter()
        os.rename(hidden, os.path.join(src, f"seg{i:05d}.parquet"))
        ctx.attempted += 1
        while True:
            lp = q.lastProgress
            if lp is not None and lp["batchId"] == i \
                    and lp["numInputRows"] > 0:
                return time.perf_counter() - t, lp
            if not q.isActive:
                ctx.failed += 1
                raise RuntimeError(f"stream stopped: {q.exception()}")
            time.sleep(POLL_S)

    for k in range(SETUPS):
        t = time.perf_counter()
        sink, q, src = start(k)
        feed(q, src, 0)
        ctx.setups.append(time.perf_counter() - t)
        if k == 0:
            ctx.warm_up(lambda i: feed(q, src, i), 1)
        if k < SETUPS - 1:
            q.stop()

    es0: dict = {}
    progress = []

    def step(i: int) -> tuple:
        if tracer is not None and i == ctx.first_timed:
            es0.update(es.ask("stats"))
        lat, lp = feed(q, src, i)
        progress.append(lp["durationMs"])
        # rows committing in segment i (a transaction spans <= 2 segments)
        prev = [segs[i - 1][0]] if i else []
        return lat, (gen.committed_rows(prev + [segs[i][0]])
                     - gen.committed_rows(prev))

    i = ctx.closed_loop(step, 1, 1 << 30)
    n = len(ctx.batches)
    q.stop()

    fed_ops = [s[0] for s in segs[:i]]
    state = es.ask("state")
    ctx.failed += state["item_errors"]
    want = gen.wal_expected(fed_ops)
    for t in gen.WAL_TABLES:
        ctx.check(_norm_docs(state["indices"].get(t, {})) == want[t],
                  f"ES index {t} != model")
        ctx.check(_parquet_state(sink.table_path(t)) == want[t],
                  f"sink state {t} != model")

    if tracer is None:
        return
    import pyarrow.parquet as pq

    all_jobs = tr.spark_jobs(spark)
    win = (ctx.t0, ctx.t1)
    timed = segs[ctx.first_timed:i]
    seg_bytes = sum(s[2] for s in timed)
    arrived = sum(1 for s in timed for op in s[0] if op[0] in
                  gen.WAL_TABLES)
    merge_c = tr.sum_jobs(all_jobs, *win, tracer, ("merge",))
    batch_c = tr.sum_jobs(all_jobs, *win)
    pending = sink.table_path(TxnUpsertSink.PENDING)
    ctx.layers.update({
        "pgoutput.apply_self_s":
            tracer.self_total("pgoutput.apply", *win) / n,
        "pgoutput.messages": sum(s[3] for s in timed) / n,
        "pgoutput.read_amplification": batch_c["inputBytes"] / seg_bytes,
        "txn.self_s": tracer.self_total("txn.apply_batch", *win) / n,
        "txn.committed_frac": ctx.records / max(arrived, 1),
        "txn.pending_rows": pq.read_table(pending).num_rows,
        "merge.s": tracer.total("merge", *win) / n,
        "merge.state_rows_rewritten_per_event":
            merge_c["outputRecords"] / max(ctx.records, 1),
        "merge.bytes_written": merge_c["outputBytes"] / n,
        "es_rest.s": tracer.total("es_rest", *win) / n,
        "es_rest.requests": (state["requests"] - es0["requests"]) / n,
        "es_rest.actions_per_request":
            (state["actions"] - es0["actions"])
            / max(state["requests"] - es0["requests"], 1),
        "es_rest.bytes_posted":
            (state["bytes_posted"] - es0["bytes_posted"]) / n,
        "es_fake.busy_s": (state["busy_s"] - es0["busy_s"]) / n,
        "es_fake.item_errors": state["item_errors"],
        "stream.trigger_overhead_s": statistics.fmean(
            (d["triggerExecution"] - d["addBatch"]) / 1000
            for d in progress[-n:]),
    })
    spark_layers(ctx, n, all_jobs)


# ---------------------------------------------------------------------------
# cdc_backfill
# ---------------------------------------------------------------------------


def run_cdc_backfill(ctx: Ctx) -> None:
    import pyarrow.parquet as pq
    from pyspark.sql.types import _parse_datatype_string

    from postgres_es_cdc_spark.cdc.apply import apply_changes

    spark = ctx.spark
    log = os.path.join(ctx.run_dir, "events.parquet")
    want = ctx.model
    schema = _parse_datatype_string(gen.ENV_DDL)
    outs: list = []

    def fold(k: int) -> str:
        out = os.path.join(ctx.run_dir, f"fold{k}")
        apply_changes(spark.read.parquet(log), schema) \
            .write.mode("overwrite").parquet(out)
        return out

    def rep(_i: int = 0) -> tuple:
        t = time.perf_counter()
        ctx.attempted += 1
        outs.append(ctx.call("fold", fold, len(outs)))
        return time.perf_counter() - t, BACKFILL_EVENTS

    for k in range(SETUPS):
        ctx.setups.append(rep()[0])
        if k == 0:
            ctx.warm_up(rep, 0)
    ctx.closed_loop(rep, 0, 1 << 30)
    n = len(ctx.batches)

    rows = pq.read_table(outs[-1]).to_pylist()
    got = {r["id"]: tuple(r[c] for c in gen.ENV_COLS[1:]) for r in rows}
    ctx.check(got == want, "folded state != model")
    for out in outs[:-1]:
        ctx.check(pq.read_table(out, columns=["id"]).num_rows == len(want),
                  f"{os.path.basename(out)} row count != model")

    if ctx.tracer is not None:
        spark_layers(ctx, n, tr.spark_jobs(spark))


# ---------------------------------------------------------------------------
# docs_near_dup_stream
# ---------------------------------------------------------------------------


def _components(pairs) -> dict:
    """{doc: component minimum} by union-find (the oracle's own)."""
    parent: dict = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def duckdb_pairs(files: list) -> set:
    """Candidate pairs recomputed by DuckDB: the engine's portable
    signature SQL, then a band self-join written here."""
    import duckdb

    from postgres_es_cdc_spark.llm.dedup import (DOCS_MINHASH_SIG_SQL,
                                                 LSH_BANDS)

    con = duckdb.connect()
    con.execute("SET threads TO 2")
    flist = ", ".join("'" + f.replace("'", "''") + "'" for f in files)
    con.execute(f"CREATE VIEW documents AS "
                f"SELECT * FROM read_parquet([{flist}])")
    bands = " UNION ALL ".join(
        f"SELECT doc_id, {bi} AS band_idx, md5(CAST(sig{a} AS VARCHAR) "
        f"|| '_' || CAST(sig{b} AS VARCHAR)) AS band_key FROM sigs"
        for bi, (a, b) in enumerate(LSH_BANDS))
    rows = con.execute(
        f"WITH sigs AS ({DOCS_MINHASH_SIG_SQL}), banded AS ({bands}) "
        f"SELECT DISTINCT l.doc_id, r.doc_id FROM banded l JOIN banded r "
        f"ON l.band_idx = r.band_idx AND l.band_key = r.band_key "
        f"WHERE l.doc_id < r.doc_id").fetchall()
    con.close()
    return set(rows)


def run_docs_near_dup_stream(ctx: Ctx) -> None:
    import pyarrow.parquet as pq

    from postgres_es_cdc_spark.llm.dedup import docs_minhash_signatures
    from postgres_es_cdc_spark.streaming.dedup import (ClusterKeeperSink,
                                                       SignatureIndexSink)

    spark, tracer = ctx.spark, ctx.tracer
    if tracer is not None:
        tracer.wrap(SignatureIndexSink, "apply_batch", "index",
                    batch_arg=2)
        tracer.wrap(ClusterKeeperSink, "apply_batch", "keepers")
    ids, texts, quality, planted = ctx.model
    qdf = spark.createDataFrame(list(zip(ids, quality)),
                                "doc_id long, quality double")

    def corpus_dir(i: int, tag: str) -> str:
        # a fresh dir per use: llm.dedup memoizes per (session, dir)
        d = os.path.join(ctx.run_dir, f"corpus-{tag}-{i}")
        gen.write_documents(ids[i * DOC_BATCH:(i + 1) * DOC_BATCH],
                            texts[i * DOC_BATCH:(i + 1) * DOC_BATCH], d)
        return d

    def signatures(d: str):
        return docs_minhash_signatures(spark, d).localCheckpoint()

    def start(k: int) -> tuple:
        d = os.path.join(ctx.run_dir, f"pipeline{k}")
        return (d, SignatureIndexSink(os.path.join(d, "pairs"),
                                      os.path.join(d, "index"),
                                      compact_after=3),
                ClusterKeeperSink(os.path.join(d, "keepers"), qdf,
                                  a_col="doc_a", b_col="doc_b"))

    def batch(pipe: tuple, d: str, i: int) -> float:
        base, isink, ksink = pipe
        t = time.perf_counter()
        ctx.attempted += 1
        if tracer is not None:
            tracer.batch = i
        sigs = ctx.call("signatures", signatures, d)
        isink.apply_batch(sigs, i)
        pairs = spark.read.parquet(os.path.join(base, "pairs", f"b{i}"))
        ksink.apply_batch(pairs, i)
        return time.perf_counter() - t

    files = []
    for k in range(SETUPS):
        d = corpus_dir(0, f"s{k}")
        t = time.perf_counter()
        pipe = start(k)
        batch(pipe, d, 0)
        ctx.setups.append(time.perf_counter() - t)
        if k == 0:
            ctx.warm_up(lambda i: batch(pipe, corpus_dir(i, "w"), i), 1)
    files.append(os.path.join(d, "documents.parquet"))

    def step(i: int) -> tuple:
        d = corpus_dir(i, "t")
        files.append(os.path.join(d, "documents.parquet"))
        return batch(pipe, d, i), DOC_BATCH

    i = ctx.closed_loop(step, 1, DOC_MAX_BATCHES)
    n = len(ctx.batches)

    base, isink, ksink = pipe
    emitted = [pq.read_table(os.path.join(base, "pairs", f"b{j}"))
               for j in range(i)]
    got = set()
    per_batch = []
    for tbl in emitted:
        rows = list(zip(tbl.column("doc_a").to_pylist(),
                        tbl.column("doc_b").to_pylist()))
        per_batch.append(len(rows))
        got.update(rows)
    want = duckdb_pairs(files)
    ctx.check(got == want, f"emitted pairs ({len(got)}) != DuckDB "
                           f"recompute ({len(want)})")
    comp = _components(want)
    qmap = dict(zip(ids, quality))
    members: dict = {}
    for x, root in comp.items():
        members.setdefault(root, []).append(x)
    want_keep = {(root, max(ms, key=lambda m: (qmap[m], -m)))
                 for root, ms in members.items()}
    meta = ksink.meta()
    keep = pq.read_table(meta["keepers"]).to_pylist()
    got_keep = {(r["label"], r["keep_id"]) for r in keep}
    ctx.check(got_keep == want_keep, "keepers != one per DuckDB component")
    ctx.check(all(r["keep_q"] == qmap[r["keep_id"]] for r in keep),
              "keeper quality != generated quality")

    if tracer is None:
        return
    all_jobs = tr.spark_jobs(spark)
    win = (ctx.t0, ctx.t1)
    imeta = isink.meta()
    last = i * DOC_BATCH
    seen = [p for p in planted if p[1] <= last]
    ctx.layers.update({
        "signatures.s": tracer.total("signatures", *win) / n,
        "index.s": tracer.total("index", *win) / n,
        "index.candidate_pairs": sum(per_batch[ctx.first_timed:]) / n,
        "index.log_dirs": sum(len(imeta[s]) for s in isink.STORES),
        "index.compactions": imeta.get("compact_gen", 0),
        "index.planted_recall":
            sum(1 for p in seen if p in got) / max(len(seen), 1),
        "keepers.s": tracer.total("keepers", *win) / n,
        "keepers.label_rows": pq.read_table(meta["labels"]).num_rows,
    })
    spark_layers(ctx, n, all_jobs)


RUNNERS = {"wal_to_es": run_wal_to_es, "cdc_backfill": run_cdc_backfill,
           "docs_near_dup_stream": run_docs_near_dup_stream}


def make_inputs(ctx: Ctx, workload: str) -> None:
    """Seeded input generation (not part of any timed or set-up phase)."""
    if workload == "cdc_backfill":
        ctx.model = gen.envelope_log(
            ctx.seed, BACKFILL_EVENTS, BACKFILL_KEYS,
            os.path.join(ctx.run_dir, "events.parquet"))
    elif workload == "docs_near_dup_stream":
        ctx.model = gen.corpus(ctx.seed, DOC_BATCH * DOC_MAX_BATCHES)


# ---------------------------------------------------------------------------
# main
# ---------------------------------------------------------------------------


def _untraced_record(workload: str) -> str:
    return os.path.join(ROOT, ".perfbench_out", f"untraced-{workload}.json")


def overhead_frac(ctx: Ctx, workload: str) -> float:
    """Traced batch_cpu_p50 against the median batch_cpu_p50 of the
    untraced runs recorded in this checkout; with none recorded, the
    share of the timed phase spent inside the tracer's own bookkeeping."""
    p50 = statistics.median(ctx.cpu)
    try:
        with open(_untraced_record(workload)) as f:
            base = statistics.median(json.load(f))
        return p50 / base - 1
    except (OSError, ValueError, statistics.StatisticsError):
        return ctx.tracer.bookkeeping_s / max(ctx.t1 - ctx.t0, 1e-9)


def record_untraced(ctx: Ctx, workload: str) -> None:
    path = _untraced_record(workload)
    try:
        with open(path) as f:
            vals = json.load(f)
    except (OSError, ValueError):
        vals = []
    vals = (vals + [statistics.median(ctx.cpu)])[-50:]
    with open(path, "w") as f:
        json.dump(vals, f)


def stop_spark(spark) -> None:
    """Stop the session and wait for its JVM (and the Python workers it
    forked) to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except (OSError, AttributeError):
            pass
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def env_info(spark, cores: int) -> dict:
    import pyspark
    return {"cores": cores, "ram_gib": round(_ram_bytes() / 2 ** 30, 1),
            "pyspark": pyspark.__version__,
            "java": spark.sparkContext._jvm.System.getProperty(
                "java.version"),
            "driver_mem": os.environ["SPARK_GRAFT_DRIVER_MEM"]}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    started = time.perf_counter()
    cores = len(os.sched_getaffinity(0))
    run_dir = os.path.join(ROOT, ".perfbench_tmp",
                           f"{args.workload}-{os.getpid()}")
    configure(run_dir, cores)
    spark = None
    ctx = None
    try:
        tracer = tr.Tracer() if args.trace else None
        ctx = Ctx(None, run_dir, args.seed, args.seconds, tracer)
        make_inputs(ctx, args.workload)
        t = time.perf_counter()
        from postgres_es_cdc_spark.session import get_spark
        spark = ctx.spark = get_spark("perfbench")
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - t
        info = env_info(spark, cores)
        try:
            RUNNERS[args.workload](ctx)
        except Exception:
            traceback.print_exc()
            ctx.failed = max(ctx.failed, 1)
            ctx.errors.append("run raised")
        if not ctx.batches:
            print("no timed batch completed", file=sys.stderr)
            return 1
        if not ctx.peak_mb:          # the timed phase raised
            ctx.peak_mb, ctx.peak_by_proc = tree_hwm_mb()
        out = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out, exist_ok=True)
        if tracer is not None:
            tracer.unpatch()
            ctx.layers["trace.overhead_frac"] = overhead_frac(
                ctx, args.workload)
            tracer.dump(os.path.join(
                out, f"trace-{args.workload}-{args.seed}.json"),
                {"workload": args.workload, "seed": args.seed,
                 "timed": [ctx.t0, ctx.t1], "env": info})
            metrics = {name: {"value": float(ctx.layers.get(name, 0.0)),
                              "unit": unit} for name, unit in PER_LAYER}
        else:
            if not ctx.errors:
                record_untraced(ctx, args.workload)
            e2e = {
                "setup_s": (session_s + statistics.median(ctx.setups)
                            + ctx.warmup_s),
                "records_per_cpu_s": statistics.median(
                    r / max(c, 1e-9) for r, c in zip(ctx.recs, ctx.cpu)),
                "batch_cpu_p50_s": statistics.median(ctx.cpu),
                "peak_rss_mb": ctx.peak_mb,
            }
            metrics = {name: {"value": e2e[name], "unit": unit}
                       for name, unit in END_TO_END}
        for e in ctx.errors:
            print(f"CHECK FAILED: {e}", file=sys.stderr)
        print(json.dumps({"env": info, "workload": args.workload,
                          "seed": args.seed,
                          "timed_batches": len(ctx.batches),
                          "setups_s": ctx.setups, "session_s": session_s,
                          "warmup_s": ctx.warmup_s,
                          "steal_frac": ctx.steal_frac,
                          "cpu_s_by_batch": ctx.cpu,
                          "batches_s": ctx.batches,
                          "records_by_batch": ctx.recs,
                          "elapsed_s": time.perf_counter() - started,
                          "peak_rss_by_process_mb": ctx.peak_by_proc}))
        print(json.dumps({"correct": not ctx.errors,
                          "attempted": ctx.attempted,
                          "failed": ctx.failed, "metrics": metrics}))
        return 0
    finally:
        if ctx is not None and ctx.es is not None:
            ctx.es.close()
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
