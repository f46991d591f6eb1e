"""Long-run JoinSink soak: drive N fixed-size micro-batches and record
PER-BATCH wall time over the batch index — the measured form of the
IVM docstring claim "per-batch cost is O(|delta| + matches), not
O(history)". Without compaction the delta log accrues one dir per
store per batch and listing/footer overhead grows with uptime (the
round-8 verdict's named scale-killer: 1.75 -> 2.63 s/probe at 10x
history); with --compact-after N the store folds the log by its
minor/major rule (streaming/store.py) and the curve must stay FLAT.

Reported: per-batch seconds (first-10 avg vs last-10 avg — the
flatness ratio), manifest entry counts at close, final view row count,
and a correctness echo (maintained view row count == one-shot join row
count over everything that arrived).

Usage: PYTHONPATH=. python tools/ivm_soak.py [--batches 60]
         [--rows 10000] [--compact-after 16] [--vacuum]
Prints one JSON line.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--batches", type=int, default=60)
    ap.add_argument("--rows", type=int, default=10_000)
    ap.add_argument("--compact-after", type=int, default=None)
    ap.add_argument("--vacuum", action="store_true",
                    help="vacuum tombstones after every batch (the "
                         "operational steady state)")
    ap.add_argument("--sink", choices=["join", "dedup", "vector", "lsh",
                                       "lshsink", "clusters",
                                       "clustersink", "keepersink"],
                    default="join",
                    help="join = JoinSink (round-9 soak); dedup = "
                         "KeyedDedupSink (round-10: the append-only "
                         "pair's manifest/compaction discipline); "
                         "vector = VectorIndexSink (round-10: the "
                         "rep-grain embedding index under the same "
                         "protocol); lsh = the raw probe/merge compute "
                         "loop (no files); lshsink = SignatureIndexSink "
                         "(round-11: the durable text-LSH index with "
                         "the persisted band log); clusters = "
                         "merge_cluster_labels (round-12: incremental "
                         "connected components over pair deltas); "
                         "clustersink = ClusterLabelSink (round-13: "
                         "the same fold through the DURABLE "
                         "versioned-snapshot store)")
    ap.add_argument("--bands", type=int, default=2,
                    help="vector only: sign-LSH bands (bands*bits=64)")
    ap.add_argument("--bits", type=int, default=32,
                    help="vector only: bits per band — the CANDIDATE-"
                         "VOLUME knob: accidental candidates/batch ~ "
                         "bands*batch*index/2^bits, the day-scale "
                         "residual the round-12 288 soak measured; "
                         "(2,32) is the measured sink default")
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from postgres_es_cdc_spark.session import get_spark
    from postgres_es_cdc_spark.streaming.ivm import JoinSink

    spark = get_spark(app_name="ivm_soak")
    spark.sparkContext.setLogLevel("ERROR")

    if args.sink == "dedup":
        _dedup_soak(spark, args)
        return
    if args.sink == "vector":
        _vector_soak(spark, args)
        return
    if args.sink == "lsh":
        _lsh_soak(spark, args)
        return
    if args.sink == "lshsink":
        _lshsink_soak(spark, args)
        return
    if args.sink in ("clusters", "clustersink", "keepersink"):
        _cluster_soak(spark, args, durable=args.sink != "clusters",
                      keepers=args.sink == "keepersink")
        return

    base = tempfile.mkdtemp(prefix="ivm_soak_")
    try:
        sink = JoinSink(os.path.join(base, "join"), key_col="k",
                        left_cols=["name"], right_cols=["qty"],
                        compact_after=args.compact_after)

        def batch_df(i: int):
            # fixed-size delta: rows//2 keys, L and R rows for each —
            # every key matches within its own batch (delta x delta),
            # plus one cross-batch key (0) per batch so the
            # accumulated-side probe path is exercised every batch.
            lo = 1 + i * (args.rows // 2)
            keys = spark.range(lo, lo + args.rows // 2).select(
                F.col("id").alias("k"))
            l = keys.select("k", F.lit("L").alias("side"),
                            F.concat(F.lit("n"), F.col("k")).alias("name"),
                            F.lit(None).cast("long").alias("qty"))
            r = keys.select("k", F.lit("R").alias("side"),
                            F.lit(None).cast("string").alias("name"),
                            (F.col("k") % 97).alias("qty"))
            probe = spark.createDataFrame(
                [(0, "R", None, i)], "k long, side string, name string,"
                                     " qty long")
            seed = spark.createDataFrame(
                [(0, "L", "seed", None)], "k long, side string,"
                                          " name string, qty long")
            out = l.unionByName(r).unionByName(probe)
            return out.unionByName(seed) if i == 0 else out

        times = []
        for i in range(args.batches):
            df = batch_df(i).localCheckpoint(eager=True)  # exclude gen
            t0 = time.time()
            sink.apply_batch(df, i)
            if args.vacuum:
                sink.vacuum()
            times.append(round(time.time() - t0, 3))

        m = sink.meta()
        view_rows = sink.state_view(spark).count()
        # one-shot echo: every batch key matches itself once; key 0
        # matches (batches) R rows + the seed pairing produced per batch
        want = args.batches * (args.rows // 2) + args.batches
        first10 = sum(times[:10]) / min(10, len(times))
        last10 = sum(times[-10:]) / min(10, len(times))
        print(json.dumps({
            "metric": "ivm_joinsink_soak",
            "batches": args.batches,
            "rows_per_batch": args.rows,
            "compact_after": args.compact_after,
            "vacuum": args.vacuum,
            "first10_avg_s": round(first10, 3),
            "last10_avg_s": round(last10, 3),
            "flatness_last_over_first": round(last10 / first10, 2),
            "entries_at_close": {s: len(m[s])
                                 for s in ("left", "right", "view")},
            "tombstones_at_close": len(m.get("tombstones", [])),
            "view_rows": view_rows,
            "view_rows_expected": want,
            "view_ok": view_rows == want,
            "per_batch_s": times,
        }))
    finally:
        shutil.rmtree(base, ignore_errors=True)


def _dedup_soak(spark, args) -> None:
    """KeyedDedupSink soak: fixed-size batches, ~90% redelivered keys
    (the continuous-crawl shape the sink exists for). Flatness claim:
    per-batch cost is O(batch + store probe); without compaction the
    seen-log listing grows one dir per batch with uptime."""
    from pyspark.sql import functions as F

    from postgres_es_cdc_spark.streaming.dedup import KeyedDedupSink

    base = tempfile.mkdtemp(prefix="dedup_soak_")
    try:
        sink = KeyedDedupSink(out_path=os.path.join(base, "out"),
                              seen_path=os.path.join(base, "seen"),
                              keys=["key"], order_col="seq",
                              compact_after=args.compact_after)
        redeliver = args.rows * 9 // 10
        fresh = args.rows - redeliver

        def batch_df(i: int):
            old = spark.range(redeliver).select(
                F.col("id").alias("key"),
                (F.lit(i) * 1000000 + F.col("id")).alias("seq"),
                F.lit("old").alias("payload"))
            new = spark.range(
                1_000_000 + i * fresh, 1_000_000 + (i + 1) * fresh
            ).select(F.col("id").alias("key"),
                     F.lit(i).cast("long").alias("seq"),
                     F.lit("new").alias("payload"))
            return old.unionByName(new)

        times = []
        max_files = 0
        for i in range(args.batches):
            df = batch_df(i).localCheckpoint(eager=True)  # exclude gen
            t0 = time.time()
            sink.apply_batch(df, i)
            if args.vacuum:
                sink.vacuum()
            times.append(round(time.time() - t0, 3))
            n_files = sum(len(files) for _, _, files
                          in os.walk(base))
            max_files = max(max_files, n_files)

        m = sink.meta()
        survivors = sink.survivors(spark).count()
        want = redeliver + fresh * args.batches
        first10 = sum(times[:10]) / min(10, len(times))
        last10 = sum(times[-10:]) / min(10, len(times))
        print(json.dumps({
            "metric": "keyed_dedup_sink_soak",
            "batches": args.batches,
            "rows_per_batch": args.rows,
            "compact_after": args.compact_after,
            "vacuum": args.vacuum,
            "first10_avg_s": round(first10, 3),
            "last10_avg_s": round(last10, 3),
            "flatness_last_over_first": round(last10 / first10, 2),
            "entries_at_close": {s: len(m[s]) for s in ("out", "seen")},
            "tombstones_at_close": len(m.get("tombstones", [])),
            "max_files_any_point": max_files,
            "survivors": survivors,
            "survivors_expected": want,
            "survivors_ok": survivors == want,
            "per_batch_s": times,
        }))
    finally:
        shutil.rmtree(base, ignore_errors=True)


def _lsh_soak(spark, args) -> None:
    """Signature-store crawl-loop soak: probe -> merge_signature_store
    over n synthetic batches (mostly-fresh signatures + a fixed
    100-key duplicate pool), measuring the per-batch cost curve of
    llm/dedup's _probe_signature_store as the store grows — the
    batch-LSH twin of the vector sink's soak, which caught the
    union+groupBy candidate shape growing with index size. LSH band
    keys are md5 pairs (128-bit), so unlike the 8-bit sign bands there
    are no accidental bucket collisions: any growth measured here is
    pure infrastructure (store-band shuffle), not candidate volume."""
    from pyspark.sql import functions as F

    from postgres_es_cdc_spark.llm.dedup import (
        _SIG_COLS, _probe_signature_store, merge_signature_store)

    pool = 100
    fresh_per = args.rows - pool

    def sigs(key):
        return [(F.xxhash64(key, F.lit(j)) % F.lit(1_000_003))
                .alias(f"sig{j}") for j in range(len(_SIG_COLS))]

    def batch_mem(i: int):
        dup = spark.range(pool).select(F.col("id").alias("key")).select(
            (F.lit(i) * args.rows + F.col("key")).alias("doc_id"),
            *sigs(F.col("key")))
        fr = (spark.range(fresh_per)
              .select(F.col("id").alias("key"))
              .select((F.lit(i) * args.rows + pool
                       + F.col("key")).alias("doc_id"),
                      *sigs(F.lit(10_000_000) + F.lit(i) * fresh_per
                            + F.col("key"))))
        u = dup.unionByName(fr)
        # synthetic batches have one doc per signature: rep = doc_id
        return u.withColumn("rep", F.col("doc_id"))

    store = None
    times, n_pairs = [], 0
    for i in range(args.batches):
        bmem = batch_mem(i).localCheckpoint(eager=True)
        t0 = time.time()
        if store is None:
            empty = bmem.limit(0)
            store = (empty.select("doc_id", "rep"),
                     empty.select("rep", *_SIG_COLS))
        n_pairs += _probe_signature_store(store, bmem).count()
        store = merge_signature_store(store, bmem)
        store = (store[0].localCheckpoint(eager=True),
                 store[1].localCheckpoint(eager=True))
        times.append(round(time.time() - t0, 3))

    want = pool * args.batches * (args.batches - 1) // 2
    one_shot = _lsh_one_shot_count(store[0], store[1])
    first10 = sum(times[:10]) / min(10, len(times))
    last10 = sum(times[-10:]) / min(10, len(times))
    print(json.dumps({
        "metric": "lsh_signature_store_soak",
        "batches": args.batches,
        "rows_per_batch": args.rows,
        "first10_avg_s": round(first10, 3),
        "last10_avg_s": round(last10, 3),
        "flatness_last_over_first": round(last10 / first10, 2),
        "pairs": n_pairs,
        "pairs_pool_formula": want,
        "pairs_one_shot": one_shot,
        "pairs_ok": n_pairs == one_shot,
        "per_batch_s": times,
    }))


def _lsh_one_shot_count(members, reps) -> int:
    """The TRUE correctness gate for the LSH soaks: the one-shot
    MEMBER-grain candidate-pair count over everything that arrived
    (reconstruct (doc_id, sigs) through the rep store, band, distinct
    pairs). The pool formula undercounts by accidental band collisions
    — at 600k distinct signatures with (sig_i, sig_j) band keys mod
    1,000,003 the birthday bound makes ~1 expected (the 120-batch sink
    soak caught exactly one: a REAL candidate the formula missed; the
    engines agreed 714,001 == 714,001).

    CAP ASSUMPTION (ADVICE r11): this recompute is UNCAPPED while the
    sink's probe applies PAIR_BUCKET_CAP (=1000) per bucket — valid
    for these soak fixtures because the duplicate pool is 100 keys and
    fresh signatures are unique, so no band bucket approaches the cap.
    A fixture with >1000 reps in one bucket would report a false
    pairs_ok mismatch; replicate the probe's arrival-ordered cap here
    before using such a fixture (a one-shot row_number over rep ids is
    NOT equivalent — the probe's cap binds in arrival order across the
    store/batch union)."""
    from pyspark.sql import functions as F

    from postgres_es_cdc_spark.llm.dedup import _rep_bands

    sigs = (members.join(reps, "rep")
                   .drop("rep")
                   .withColumnRenamed("doc_id", "rep"))
    banded = _rep_bands(sigs)
    a = banded.withColumnRenamed("rep", "ra")
    b = banded.withColumnRenamed("rep", "rb")
    return (a.join(b, ["band_idx", "band_key"])
             .filter(F.col("ra") < F.col("rb"))
             .select("ra", "rb").distinct().count())


def _lshsink_soak(spark, args) -> None:
    """SignatureIndexSink soak (round 11): the durable text-LSH index
    — same batch fixture as _lsh_soak (mostly-fresh signatures + a
    fixed 100-key duplicate pool), but driven through the real sink:
    manifest commits, four delta logs, persisted band log, compaction.
    Flatness claim: per-batch cost is O(batch + matched distinct
    content) with the band log read, not recomputed."""
    from pyspark.sql import functions as F

    from postgres_es_cdc_spark.llm.dedup import _SIG_COLS
    from postgres_es_cdc_spark.streaming.dedup import SignatureIndexSink

    pool = 100
    fresh_per = args.rows - pool

    def sigs(key):
        return [(F.xxhash64(key, F.lit(j)) % F.lit(1_000_003))
                .alias(f"sig{j}") for j in range(len(_SIG_COLS))]

    def batch_df(i: int):
        dup = spark.range(pool).select(F.col("id").alias("key")).select(
            (F.lit(i) * args.rows + F.col("key")).alias("doc_id"),
            *sigs(F.col("key")))
        fr = (spark.range(fresh_per)
              .select(F.col("id").alias("key"))
              .select((F.lit(i) * args.rows + pool
                       + F.col("key")).alias("doc_id"),
                      *sigs(F.lit(10_000_000) + F.lit(i) * fresh_per
                            + F.col("key"))))
        return dup.unionByName(fr)

    base = tempfile.mkdtemp(prefix="lshsink_soak_")
    try:
        sink = SignatureIndexSink(out_path=os.path.join(base, "pairs"),
                                  index_path=os.path.join(base, "index"),
                                  compact_after=args.compact_after)
        times = []
        max_files = 0
        for i in range(args.batches):
            df = batch_df(i).localCheckpoint(eager=True)  # exclude gen
            t0 = time.time()
            sink.apply_batch(df, i)
            if args.vacuum:
                sink.vacuum()
            times.append(round(time.time() - t0, 3))
            n_files = sum(len(files) for _, _, files in os.walk(base))
            max_files = max(max_files, n_files)

        m = sink.meta()
        n_pairs = sink.pairs(spark).count()
        want = pool * args.batches * (args.batches - 1) // 2
        mem, reps = sink.index(spark, batch_df(0))
        one_shot = _lsh_one_shot_count(mem, reps)
        first10 = sum(times[:10]) / min(10, len(times))
        last10 = sum(times[-10:]) / min(10, len(times))
        print(json.dumps({
            "metric": "signature_index_sink_soak",
            "batches": args.batches,
            "rows_per_batch": args.rows,
            "compact_after": args.compact_after,
            "vacuum": args.vacuum,
            "first10_avg_s": round(first10, 3),
            "last10_avg_s": round(last10, 3),
            "flatness_last_over_first": round(last10 / first10, 2),
            "entries_at_close": {s: len(m[s])
                                 for s in ("out", "members", "reps",
                                           "bands")},
            "tombstones_at_close": len(m.get("tombstones", [])),
            "max_files_any_point": max_files,
            "pairs": n_pairs,
            "pairs_pool_formula": want,
            "pairs_one_shot": one_shot,
            "pairs_ok": n_pairs == one_shot,
            "per_batch_s": times,
        }))
    finally:
        shutil.rmtree(base, ignore_errors=True)


def _cluster_soak(spark, args, durable: bool = False,
                  keepers: bool = False) -> None:
    """merge_cluster_labels soak (round 12): per-batch incremental
    component maintenance over synthetic pair deltas — each batch
    adds fresh 3-node chains (new components), `pool` edges attaching
    a fresh node to an old component (forcing label remaps through the
    broadcast join), and one old-old merge edge (the late cross-
    component case). Flatness claim: per-batch cost is O(delta + one
    NARROW node-grain store scan), never O(accumulated pairs) and
    never an iterative propagation over history. Correctness echo: the
    final store equals a driver-side one-shot union-find over every
    edge that arrived.

    ``durable=True`` (round 13, --sink clustersink): the identical
    fold through ClusterLabelSink — each batch commits the store to a
    versioned parquet snapshot (manifest repoint + replay gate), so
    per-batch time additionally carries one node-grain parquet
    write+read cycle; the flatness law must survive the durable
    path. ``keepers=True`` (--sink keepersink): ClusterKeeperSink —
    labels PLUS the label-grain argmax-quality keeper store in one
    two-frame snapshot commit; per-node quality is a deterministic
    hash-derived double, and the echo additionally checks the keeper
    store against a driver-side per-component argmax."""
    from pyspark.sql import functions as F

    from postgres_es_cdc_spark.llm.dedup import (
        _label_union_find, merge_cluster_labels)

    pool = 100
    fresh_edges = args.rows - pool - 1

    def batch_edges(i: int):
        # fresh chains: ids unique per batch, 10_000_000-offset space
        lo = 10_000_000 + i * (fresh_edges + 1)
        fresh = [(lo + k, lo + k + 1) for k in range(fresh_edges)]
        # pool attachments: old component j gains fresh member
        att = [(j, 20_000_000 + i * pool + j) for j in range(pool)]
        # one old-old merge per batch: chain pool components together
        # gradually (component i%pool merges into component i+1%pool)
        merge = [(i % pool, (i + 1) % pool)] if i > 0 else []
        return fresh + att + merge

    def to_df(edges):
        return spark.createDataFrame(
            [(int(min(a, b)), int(max(a, b))) for a, b in edges],
            "a long, b long")

    def qual(n: int) -> float:
        # deterministic hash-derived quality per node id
        return ((n * 2654435761) % 1000003) / 1000003.0

    sink = base = None
    if durable:
        base = tempfile.mkdtemp(prefix="cluster_sink_soak_")
        if keepers:
            from postgres_es_cdc_spark.streaming.dedup import (
                ClusterKeeperSink)
            # quality lookup covering the whole id space the generator
            # can emit (fresh chains, pool, attachments)
            qdf = (spark.range(30_000_000)
                   .selectExpr("id AS doc_id",
                               "CAST((id * 2654435761) % 1000003 AS "
                               "DOUBLE) / 1000003.0 AS quality"))
            sink = ClusterKeeperSink(os.path.join(base, "state"), qdf)
        else:
            from postgres_es_cdc_spark.streaming.dedup import (
                ClusterLabelSink)
            sink = ClusterLabelSink(os.path.join(base, "labels"))
    labels = None
    times = []
    all_edges: list = []
    for i in range(args.batches):
        edges = batch_edges(i)
        all_edges.extend(edges)
        df = to_df(edges).localCheckpoint(eager=True)
        t0 = time.time()
        if durable:
            sink.apply_batch(df, i)
        else:
            labels = merge_cluster_labels(labels, df).localCheckpoint(
                eager=True)
        times.append(round(time.time() - t0, 3))
    if durable:
        labels = sink.labels(spark)

    got = sorted((r.rep, r.label) for r in labels.collect())
    remap = _label_union_find(all_edges)
    nodes = sorted({x for p in all_edges for x in p})
    want = [(n, remap.get(n, n)) for n in nodes]
    keepers_ok = None
    if keepers:
        comp: dict = {}
        for n in nodes:
            comp.setdefault(remap.get(n, n), []).append(n)
        want_k = sorted(
            (lab, max(ms, key=lambda m: (qual(m), -m)))
            for lab, ms in comp.items())
        got_k = sorted((r.label, r.keep_id)
                       for r in sink.keepers(spark).collect())
        keepers_ok = got_k == want_k
    first10 = sum(times[:10]) / min(10, len(times))
    last10 = sum(times[-10:]) / min(10, len(times))
    print(json.dumps({
        "metric": ("cluster_keeper_sink_soak" if keepers
                   else "cluster_label_sink_soak" if durable
                   else "incremental_cluster_labels_soak"),
        "batches": args.batches,
        "edges_per_batch": args.rows,
        "first10_avg_s": round(first10, 3),
        "last10_avg_s": round(last10, 3),
        "flatness_last_over_first": round(last10 / first10, 2),
        "nodes_at_close": len(got),
        "labels_ok": got == want,
        "keepers_ok": keepers_ok,
        "per_batch_s": times,
    }))
    if base is not None:
        shutil.rmtree(base, ignore_errors=True)


def _vector_soak(spark, args) -> None:
    """VectorIndexSink soak: mostly-fresh vectors (the organic-crawl
    shape — the INDEX grows every batch) plus a small fixed duplicate
    pool for liveness. Flatness claim: per-batch probe cost is
    O(batch + matched distinct content) — independent of how large the
    members log has grown — and compaction keeps the three delta-log
    listings bounded. (Pair OUTPUT per batch grows ~linearly here by
    construction: each pool key gains one member per batch and the
    answer itself is the pair set — answer-size growth is semantics,
    not infrastructure; the infrastructure cost is what this measures.)
    """
    from pyspark.sql import functions as F

    from postgres_es_cdc_spark.streaming.dedup import VectorIndexSink

    base = tempfile.mkdtemp(prefix="vector_soak_")
    try:
        sink = VectorIndexSink(out_path=os.path.join(base, "pairs"),
                               index_path=os.path.join(base, "index"),
                               compact_after=args.compact_after,
                               n_bands=args.bands, bits=args.bits)
        pool = 100
        fresh_per = args.rows - pool

        def vec(key):
            # deterministic pseudo-random 64-dim int vector per key:
            # identical keys => identical vectors (cos 1), distinct
            # keys => uncorrelated (|cos| << 0.9 at dim 64). xxhash64
            # mixes (key, d) properly — a multiplicative-linear
            # sequence mod a prime is near-affine in d and CORRELATES
            # across keys (the first draft emitted 22x the expected
            # pairs); no oracle runs here, so portability is moot.
            return F.transform(
                F.sequence(F.lit(1), F.lit(64)),
                lambda d: F.xxhash64(key, d) % F.lit(1000003))

        def batch_df(i: int):
            # two-step selects: aliasing a NEW "id" in the same select
            # would shadow the input column for later expressions
            # (lateral column alias resolution) and silently re-key
            # every batch's "duplicate" vectors
            dup = spark.range(pool).select(F.col("id").alias("key")) \
                .select((F.lit(i) * args.rows + F.col("key")).alias("id"),
                        vec(F.col("key")).alias("q"))
            fresh = spark.range(fresh_per) \
                .select(F.col("id").alias("key")) \
                .select((F.lit(i) * args.rows + pool
                         + F.col("key")).alias("id"),
                        vec(F.lit(10_000_000) + F.lit(i) * fresh_per
                            + F.col("key")).alias("q"))
            return dup.unionByName(fresh)

        times = []
        max_files = 0
        for i in range(args.batches):
            df = batch_df(i).localCheckpoint(eager=True)  # exclude gen
            t0 = time.time()
            sink.apply_batch(df, i)
            if args.vacuum:
                sink.vacuum()
            times.append(round(time.time() - t0, 3))
            n_files = sum(len(files) for _, _, files in os.walk(base))
            max_files = max(max_files, n_files)

        m = sink.meta()
        n_pairs = sink.pairs(spark).count()
        # every pool-key pair across batches, none among fresh vectors:
        # C(batches, 2) per pool key
        want = pool * args.batches * (args.batches - 1) // 2
        first10 = sum(times[:10]) / min(10, len(times))
        last10 = sum(times[-10:]) / min(10, len(times))
        print(json.dumps({
            "metric": "vector_index_sink_soak",
            "batches": args.batches,
            "rows_per_batch": args.rows,
            "compact_after": args.compact_after,
            "banding": [args.bands, args.bits],
            "vacuum": args.vacuum,
            "first10_avg_s": round(first10, 3),
            "last10_avg_s": round(last10, 3),
            "flatness_last_over_first": round(last10 / first10, 2),
            "entries_at_close": {s: len(m[s])
                                 for s in ("out", "members", "reps",
                                           "bands")},
            "tombstones_at_close": len(m.get("tombstones", [])),
            "max_files_any_point": max_files,
            "pairs": n_pairs,
            "pairs_expected": want,
            "pairs_ok": n_pairs == want,
            "per_batch_s": times,
        }))
    finally:
        shutil.rmtree(base, ignore_errors=True)


if __name__ == "__main__":
    main()
