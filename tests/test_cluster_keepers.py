"""ClusterKeeperSink / merge_cluster_keepers (round 13): per-cluster
keeper decisions (argmax quality, ties to min id) maintained
incrementally alongside the label store. Pins:

- the confluence law: ANY batch partition/order of the pair set folds
  to the one-shot per-component argmax (quality static, components
  only grow/merge, argmax with total tiebreak is assoc-commutative);
- a late merge of two OLD components max-combines their keepers under
  the surviving label;
- the tie rule (equal quality → min id), the thing a window ORDER BY
  and a struct-max must agree on;
- sink durability: replay no-op, crash between the two parquet writes
  and the manifest leaves the previous labels+keepers PAIR current
  (no version skew), restart continues;
- the trigger's plans: the landed frames scan no Python-built RDD (the
  label remap is a JVM-local relation), and the quality lookup is
  pruned to the touched ``_qb`` buckets by dynamic partition pruning.
"""

from __future__ import annotations

import pytest

import itertools

from postgres_es_cdc_spark.llm.dedup import _label_union_find
from postgres_es_cdc_spark.streaming.dedup import ClusterKeeperSink


def _pairs_df(spark, pairs):
    return spark.createDataFrame(
        [(int(a), int(b)) for a, b in pairs], "a long, b long")


def _quality_df(spark, q):
    return spark.createDataFrame(
        [(int(k), float(v)) for k, v in q.items()],
        "doc_id long, quality double")


def _one_shot_keepers(pairs, q):
    remap = _label_union_find(list(pairs))
    nodes = sorted({x for p in pairs for x in p})
    comp: dict = {}
    for n in nodes:
        comp.setdefault(remap.get(n, n), []).append(n)
    out = []
    for label, members in comp.items():
        keep = max(members, key=lambda m: (q[m], -m))
        out.append((label, keep, q[keep]))
    return sorted(out)


def _fold(spark, tmp_path, batches, q, name="k"):
    sink = ClusterKeeperSink(str(tmp_path / name),
                             _quality_df(spark, q))
    for i, b in enumerate(batches):
        sink.apply_batch(_pairs_df(spark, b), i)
    return sink


def _keepers(sink, spark):
    return sorted((r.label, r.keep_id, r.keep_q)
                  for r in sink.keepers(spark).collect())


@pytest.mark.slow_soak
def test_fold_equals_one_shot_under_batch_permutations(spark, tmp_path):
    pairs = [(10, 20), (20, 30), (30, 40), (70, 80), (80, 90), (40, 70)]
    q = {10: 0.1, 20: 0.9, 30: 0.5, 40: 0.2, 70: 0.8, 80: 0.95, 90: 0.3}
    want = _one_shot_keepers(pairs, q)
    batches = [pairs[0:2], pairs[2:4], pairs[4:]]
    for j, perm in enumerate(itertools.permutations(batches)):
        sink = _fold(spark, tmp_path, perm, q, name=f"p{j}")
        assert _keepers(sink, spark) == want, perm


def test_late_merge_combines_old_keepers(spark, tmp_path):
    # components {1,2} (keeper 2, q .9) and {5,6} (keeper 5, q .7)
    # built independently; the late edge merges them — keeper of the
    # surviving label must be the GLOBAL argmax (id 2), found through
    # the keeper stores alone (no member re-scan)
    q = {1: 0.2, 2: 0.9, 5: 0.7, 6: 0.1}
    sink = _fold(spark, tmp_path, [[(1, 2)], [(5, 6)], [(2, 6)]], q)
    assert _keepers(sink, spark) == [(1, 2, 0.9)]
    labels = sorted((r.rep, r.label)
                    for r in sink.labels(spark).collect())
    assert labels == [(1, 1), (2, 1), (5, 1), (6, 1)]


def test_quality_tie_breaks_to_min_id(spark, tmp_path):
    q = {3: 0.5, 7: 0.5, 9: 0.5}
    sink = _fold(spark, tmp_path, [[(7, 9)], [(3, 9)]], q)
    assert _keepers(sink, spark) == [(3, 3, 0.5)]


def test_sink_replay_restart_and_crash_atomicity(spark, tmp_path):
    q = {1: 0.4, 2: 0.6, 3: 0.8, 4: 0.2}
    qdf = _quality_df(spark, q)
    sink = ClusterKeeperSink(str(tmp_path / "k"), qdf)
    sink.apply_batch(_pairs_df(spark, [(1, 2)]), 0)
    sink.apply_batch(_pairs_df(spark, [(3, 4)]), 1)
    want = _keepers(sink, spark)
    assert want == [(1, 2, 0.6), (3, 3, 0.8)]

    sink.apply_batch(_pairs_df(spark, [(3, 4)]), 1)   # replay: no-op
    assert _keepers(sink, spark) == want

    # crash AFTER the parquet writes, BEFORE the manifest repoint:
    # both stores must stay at the previous committed PAIR
    import os
    real = os.replace
    meta_before = sink.meta()

    def crashy(src, dst):
        if dst.endswith("_keeper_state.json"):
            raise OSError("crash at manifest repoint")
        return real(src, dst)

    os.replace = crashy
    try:
        try:
            sink.apply_batch(_pairs_df(spark, [(2, 3)]), 2)
            raise AssertionError("expected injected crash")
        except OSError:
            pass
    finally:
        os.replace = real
    assert sink.meta() == meta_before
    assert _keepers(sink, spark) == want

    # restart (fresh object, same path) + redelivery lands once
    sink2 = ClusterKeeperSink(str(tmp_path / "k"), qdf)
    sink2.apply_batch(_pairs_df(spark, [(2, 3)]), 2)
    assert _keepers(sink2, spark) == [(1, 3, 0.8)]


def test_keeper_sink_tails_vector_index_pair_log(spark, sf_dir,
                                                 tmp_path):
    """The vector-side production wiring (the text-side twin lives in
    test_cluster_sink.py): per trigger, VectorIndexSink commits its
    verified-pair delta dir, then ClusterKeeperSink folds exactly that
    delta — final labels must equal TRUE components over the one-shot
    emb_cosine_near_dup_pairs set, and keepers the per-component
    argmax of a synthetic id-derived quality."""
    import os

    from pyspark.sql import functions as F

    from postgres_es_cdc_spark.llm.similarity import (
        _q_corpus, emb_cosine_near_dup_pairs)
    from postgres_es_cdc_spark.streaming.dedup import VectorIndexSink

    c = _q_corpus(spark, sf_dir)
    qdf = c.select(F.col("id").alias("doc_id"),
                   (F.pmod(F.col("id") * 2654435761, F.lit(1000003))
                    .cast("double") / 1000003.0).alias("quality"))
    idx = VectorIndexSink(out_path=str(tmp_path / "pairs"),
                          index_path=str(tmp_path / "index"),
                          n_bands=8, bits=8)
    keep = ClusterKeeperSink(str(tmp_path / "state"), qdf,
                             a_col="id1", b_col="id2")
    for i in range(3):
        idx.apply_batch(c.filter(F.col("id") % 3 == i), i)
        keep.apply_batch(
            spark.read.parquet(os.path.join(str(tmp_path / "pairs"),
                                            f"b{i}")), i)

    pairs = [(r.id1, r.id2)
             for r in emb_cosine_near_dup_pairs(spark, sf_dir)
             .collect()]
    q = {r.doc_id: r.quality for r in qdf.collect()}
    labels = sorted((r.rep, r.label)
                    for r in keep.labels(spark).collect())
    remap = _label_union_find(list(pairs))
    nodes = sorted({x for p in pairs for x in p})
    assert labels == [(n, remap.get(n, n)) for n in nodes]
    assert _keepers(keep, spark) == _one_shot_keepers(pairs, q)


def _landed_on_merge(spark, tmp_path, monkeypatch):
    """Fold three parquet-backed batches whose last one merges two
    components (a non-empty remap) and return the {frame: DataFrame}
    that batch passes to ``land``, unexecuted plans included."""
    seen = {}
    land = ClusterKeeperSink.land

    def capture(self, frames, batch_id):
        seen[batch_id] = frames
        return land(self, frames, batch_id)

    monkeypatch.setattr(ClusterKeeperSink, "land", capture)
    q = {1: 0.2, 2: 0.9, 5: 0.7, 6: 0.1}
    sink = ClusterKeeperSink(str(tmp_path / "k"), _quality_df(spark, q))
    for i, b in enumerate([[(1, 2)], [(5, 6)], [(2, 6)]]):
        d = str(tmp_path / f"pairs{i}")
        _pairs_df(spark, b).write.parquet(d)
        sink.apply_batch(spark.read.parquet(d), i)
    assert _keepers(sink, spark) == [(1, 2, 0.9)]
    return seen[2]


def test_keeper_merge_scans_no_python_rdd(spark, tmp_path, monkeypatch):
    """A merging trigger fed from parquet builds its landed frames from
    parquet scans and JVM-local relations only: no LogicalRDD (a
    ``parallelize``d Python list, whose every broadcast runs Python
    worker tasks)."""
    frames = _landed_on_merge(spark, tmp_path, monkeypatch)
    for name in ("labels", "keepers"):
        plan = frames[name]._jdf.queryExecution().optimizedPlan().toString()
        assert "LogicalRDD" not in plan, (name, plan)
        assert "ExistingRDD" not in plan, (name, plan)


def test_keeper_quality_scan_pruned_by_dpp(spark, tmp_path, monkeypatch):
    """The seeds join prunes the quality store's ``_qb`` partitions at
    run time from the broadcast new endpoints (dynamic partition
    pruning), with no driver-side collect of the batch's buckets."""
    frames = _landed_on_merge(spark, tmp_path, monkeypatch)
    plan = frames["keepers"]._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruningexpression(_qb" in plan, plan
