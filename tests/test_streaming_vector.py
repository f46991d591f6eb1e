"""VectorIndexSink — continuous vector near-dup detection over a
durable rep-grain embedding index. Pins the exactly-once law (any
batch split folded from an empty index == the one-shot
emb_cosine_near_dup_pairs recompute), the replay gate, and the
manifest/compaction discipline (tests mirror
test_streaming_dedup_compaction.py's)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from postgres_es_cdc_spark.llm.similarity import (
    _q_corpus, emb_cosine_near_dup_pairs)
from postgres_es_cdc_spark.streaming.dedup import VectorIndexSink


def _batches(spark, sf_dir, n: int):
    """The planted near-dup corpus in n interleaved id slices — the
    interleaving makes first-arrival reps differ from min-id reps, the
    ordering assumption a streaming index can NOT make."""
    c = _q_corpus(spark, sf_dir)
    return [c.filter(F.col("id") % n == i) for i in range(n)]


def _drive(spark, base, batches, **kw) -> VectorIndexSink:
    sink = VectorIndexSink(out_path=str(base / "pairs"),
                           index_path=str(base / "index"), **kw)
    for i, b in enumerate(batches):
        sink.apply_batch(b, i)
    return sink


def _pairs(sink, spark):
    df = sink.pairs(spark)
    return sorted((r.id1, r.id2, r.cos_sim) for r in df.collect())


@pytest.mark.slow_soak
def test_vector_sink_fold_equals_one_shot_with_replay(
        spark, sf_dir, tmp_path):
    want = sorted((r.id1, r.id2, r.cos_sim)
                  for r in emb_cosine_near_dup_pairs(spark, sf_dir)
                  .collect())
    assert want
    batches = _batches(spark, sf_dir, 3)
    # (8, 8) banding: the law compared here is equality with
    # emb_cosine_near_dup_pairs, whose SEMANTICS include its blocking
    sink = _drive(spark, tmp_path / "v", batches, n_bands=8, bits=8)
    assert _pairs(sink, spark) == want      # exact, incl. the doubles
    sink.apply_batch(batches[1], 1)         # committed replay: no-op
    assert _pairs(sink, spark) == want
    # a RESTARTED sink (fresh object, same paths) continues the gate
    sink2 = VectorIndexSink(out_path=str(tmp_path / "v" / "pairs"),
                            index_path=str(tmp_path / "v" / "index"),
                            n_bands=8, bits=8)
    sink2.apply_batch(batches[0], 0)
    assert _pairs(sink2, spark) == want


@pytest.mark.slow_soak
def test_vector_sink_compact_mid_stream_equals_uncompacted(
        spark, sf_dir, tmp_path):
    batches = _batches(spark, sf_dir, 4)
    plain = _drive(spark, tmp_path / "plain", batches)
    want = _pairs(plain, spark)
    sink = _drive(spark, tmp_path / "compact", batches, compact_after=1)
    # default (2, 32) banding on BOTH sinks here: the law is
    # compaction-invariance, not blocking semantics
    assert _pairs(sink, spark) == want
    m = sink.meta()
    assert m.get("compact_gen", 0) >= 2
    for s in ("out", "members", "reps", "bands"):
        assert len(m[s]) <= 2, (s, len(m[s]))
    # tombstones reclaimed, live state intact, stream continues
    assert sink.vacuum() > 0
    assert _pairs(sink, spark) == want
    c = _q_corpus(spark, sf_dir)
    empty = c.limit(0)
    sink.apply_batch(empty, len(batches))   # empty batch: no new pairs
    assert _pairs(sink, spark) == want


def test_vector_sink_crash_before_commit_is_invisible(
        spark, sf_dir, tmp_path):
    batches = _batches(spark, sf_dir, 3)
    sink = _drive(spark, tmp_path / "v", batches[:2], n_bands=8, bits=8)
    before = _pairs(sink, spark)

    real_commit = sink._commit
    sink._commit = lambda m: (_ for _ in ()).throw(OSError("crash"))
    try:
        try:
            sink.apply_batch(batches[2], 2)
            raise AssertionError("expected injected crash")
        except OSError:
            pass
        assert sink.meta()["last_batch_id"] == 1
        assert _pairs(sink, spark) == before
    finally:
        sink._commit = real_commit

    sink.apply_batch(batches[2], 2)         # redelivery applies once
    want = sorted((r.id1, r.id2, r.cos_sim)
                  for r in emb_cosine_near_dup_pairs(spark, sf_dir)
                  .collect())
    assert _pairs(sink, spark) == want

    # crash during COMPACTION repoint: old log stays current
    meta_before = sink.meta()
    sink._commit = lambda m: (_ for _ in ()).throw(OSError("crash"))
    try:
        try:
            sink.compact(spark)
            raise AssertionError("expected injected crash")
        except OSError:
            pass
        assert sink.meta() == meta_before
        assert _pairs(sink, spark) == want
    finally:
        sink._commit = real_commit
    assert sink.compact(spark)["compacted"]     # retry succeeds
    assert _pairs(sink, spark) == want


def test_vector_sink_exact_duplicate_vectors_across_batches(
        spark, tmp_path):
    """The planted corpus has no EXACT duplicate vectors, so this pins
    the path replicated crawls hit: the same vector arriving in every
    batch must pair with all its prior twins (cos computed by the same
    kernel both engines run: x/(sqrt(x)*sqrt(x))), exactly once each,
    while the reps log stays at one row per distinct vector."""
    from pyspark.sql import functions as F

    def vec(key):
        return F.transform(F.sequence(F.lit(1), F.lit(64)),
                           lambda d: F.xxhash64(key, d) % F.lit(1000003))

    def batch(i, n_dup=3, n_fresh=5):
        dup = spark.range(n_dup).select(F.col("id").alias("key")).select(
            (F.lit(i) * 100 + F.col("key")).alias("id"),
            vec(F.col("key")).alias("q"))
        fresh = spark.range(n_fresh).select(F.col("id").alias("key")) \
            .select((F.lit(i) * 100 + 50 + F.col("key")).alias("id"),
                    vec(F.lit(7_000_000) + F.lit(i) * n_fresh
                        + F.col("key")).alias("q"))
        return dup.unionByName(fresh)

    sink = VectorIndexSink(out_path=str(tmp_path / "p"),
                           index_path=str(tmp_path / "i"))
    for i in range(4):
        sink.apply_batch(batch(i).localCheckpoint(), i)

    rows = sink.pairs(spark).collect()
    got = {(r.id1, r.id2) for r in rows}
    assert len(rows) == len(got)            # each pair exactly once
    # 3 dup keys, one member per batch: C(4,2) pairs each, cos == 1-ish
    want = {(a * 100 + k, b * 100 + k)
            for k in range(3) for a in range(4) for b in range(a + 1, 4)}
    assert got == want
    assert all(r.cos_sim >= 0.9 for r in rows)
    # index invariant: one reps row per distinct vector
    mem, reps = sink.index(spark, batch(0))
    assert reps.count() == 3 + 4 * 5        # 3 dup groups + all fresh
    assert mem.count() == 4 * 8


def test_vector_sink_416_banding_matches_numpy_bruteforce(
        spark, sf_dir, tmp_path):
    """The sink's default (4, 16) blocking, checked against an
    INDEPENDENT numpy construction of the same semantics: all pairs
    that (a) share at least one 16-bit sign-band key and (b) have
    exact-integer cosine >= 0.9 — no Spark code reused."""
    import numpy as np

    want_rows = _q_corpus(spark, sf_dir).collect()
    ids = np.array([r.id for r in want_rows], dtype=np.int64)
    Q = np.array([r.q for r in want_rows], dtype=np.int64)
    signs = (Q >= 0)
    weights = (1 << np.arange(16, dtype=np.int64))
    keys = np.stack([signs[:, b * 16:(b + 1) * 16] @ weights
                     for b in range(4)], axis=1)      # (n, 4)
    share = np.zeros((len(ids), len(ids)), dtype=bool)
    for b in range(4):
        share |= keys[:, b][:, None] == keys[:, b][None, :]
    Qf = Q.astype(np.float64)
    dots = (Q @ Q.T).astype(np.float64)
    nrm = np.sqrt(np.diag(dots))
    cosm = dots / (nrm[:, None] * nrm[None, :])
    hit = share & (cosm >= 0.9) & (ids[:, None] < ids[None, :])
    want = {(int(ids[i]), int(ids[j]))
            for i, j in zip(*np.nonzero(hit))}

    sink = _drive(spark, tmp_path / "v416", _batches(spark, sf_dir, 3))
    got = {(r.id1, r.id2) for r in sink.pairs(spark).collect()}
    assert got == want
    assert want, "fixture must produce pairs"


def test_vector_sink_through_real_stream(spark, sf_dir, tmp_path):
    """Drive VectorIndexSink through an ACTUAL Structured Streaming
    query (file source, foreachBatch, checkpoint, availableNow) — the
    law holds for whatever micro-batch split the engine chooses,
    because the fold equals the one-shot recompute under ANY split."""
    c = _q_corpus(spark, sf_dir)
    src = str(tmp_path / "src")
    for i in range(3):
        (c.filter(F.col("id") % 3 == i).coalesce(1)
          .write.mode("append").parquet(src))
    sink = VectorIndexSink(out_path=str(tmp_path / "pairs"),
                           index_path=str(tmp_path / "index"),
                           n_bands=8, bits=8)
    stream = (spark.readStream.schema(c.schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    q = (stream.writeStream.foreachBatch(sink.writer())
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    assert q.awaitTermination(300), "stream did not finish within 300s"
    want = sorted((r.id1, r.id2, r.cos_sim)
                  for r in emb_cosine_near_dup_pairs(spark, sf_dir)
                  .collect())
    assert _pairs(sink, spark) == want
    assert sink.meta()["last_batch_id"] >= 0


def test_vector_sink_band_log_matches_reps(spark, sf_dir, tmp_path):
    """Round-11 band-log invariant: the persisted fourth log is
    row-for-row the sign-LSH banding of the committed reps log — the
    probe reading it sees EXACTLY what recomputing would see, which is
    why the fold law is untouched by the optimization."""
    from postgres_es_cdc_spark.llm.similarity import _emb_rep_bands

    sink = _drive(spark, tmp_path / "v", _batches(spark, sf_dir, 3))
    _, reps = sink.index(spark, _q_corpus(spark, sf_dir))
    want = {(r.rep, r.band_idx, r.band_key)
            for r in _emb_rep_bands(reps, sink.n_bands,
                                    sink.bits).collect()}
    got = {(r.rep, r.band_idx, r.band_key)
           for r in sink.band_rows(spark).collect()}
    assert got == want and want
    # geometry pinned in the manifest: a restarted sink with different
    # banding must refuse (its band keys would not match the log's)
    bad = VectorIndexSink(out_path=str(tmp_path / "v" / "pairs"),
                          index_path=str(tmp_path / "v" / "index"),
                          n_bands=8, bits=8)
    try:
        bad.apply_batch(_q_corpus(spark, sf_dir).limit(0), 99)
        raise AssertionError("expected banding-geometry ValueError")
    except ValueError as e:
        assert "banding" in str(e)


def test_vector_sink_probe_reads_band_log_not_reps(spark, tmp_path):
    """Round-11 regression pin: the probe must take its store-side
    candidates from the PERSISTED band log, not from re-banding the
    reps log. Evidence: emptying the committed band log (keeping reps
    intact) makes a later exact-duplicate batch emit NO pair — if a
    refactor quietly reverted to recomputing bands from reps, the pair
    would reappear and this test fails."""
    import pyspark.sql.functions as F

    def vec(key):
        return F.transform(F.sequence(F.lit(1), F.lit(64)),
                           lambda d: F.xxhash64(key, d) % F.lit(1000003))

    def batch(i):
        return spark.range(1).select(
            (F.lit(i) * 100).alias("id"), vec(F.lit(7)).alias("q"))

    sink = VectorIndexSink(out_path=str(tmp_path / "p"),
                           index_path=str(tmp_path / "i"))
    sink.apply_batch(batch(0).localCheckpoint(), 0)
    # sanity: with the log intact, the duplicate pairs
    probe_dirs = sink.meta()["bands"]
    assert len(probe_dirs) == 1
    # empty the band log IN PLACE (schema kept, zero rows)
    empty = sink.band_rows(spark).limit(0).localCheckpoint()
    empty.write.mode("overwrite").parquet(probe_dirs[0])
    sink.apply_batch(batch(1).localCheckpoint(), 1)
    assert sink.pairs(spark).count() == 0
