"""Streaming exact dedup with a PERSISTED key store — the unbounded-
retention companion of pipeline.dedup_events_within_watermark (which
bounds state by event time) and the streaming twin of
llm/dedup.docs_incremental_lsh_pairs (which probes a persisted
signature store per batch).

REF anchor: the reference redelivers on every restart and relies on
last-write-wins upserts to hide it (es.go:95-98, utils.go:49). This
module is the general fix when the sink is APPEND-shaped (a training-
data corpus, an audit log) and cannot absorb duplicates: each
micro-batch is reduced to one candidate row per key, anti-joined
against the durable seen-key store, survivors appended and their keys
merged into the store.

Scale shape: per batch cost is O(batch + matched store partitions) —
the anti-join is a join on the key column only (the store holds keys,
not payloads), broadcastable while the new-key set is small and a
plain shuffle join at corpus scale; the store is the frame you would
keep bucketed by key on a cluster so the probe co-locates. History is
never re-read.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from postgres_es_cdc_spark.catalog import table
from postgres_es_cdc_spark.streaming.store import (SnapshotStore,
                                                   VersionedStore)


class KeyedDedupSink(VersionedStore):
    """foreachBatch sink: first-arrival-wins keyed dedup with a durable
    parquet seen-key store and an append-only survivor output.

    In-batch ties resolve by ``order_col`` (min wins) so replays are
    deterministic.

    Both stores are APPEND-ONLY delta logs of the sink's
    VersionedStore (streaming/store.py), ``out`` under ``out_path`` and
    ``seen`` under ``seen_path``: per batch the store lands one
    ``b<batch_id>`` dir per log and one ``append`` commits both with
    the last applied batch id. A crash at any point leaves the
    previously committed manifest current (orphan dirs are invisible
    and overwritten on retry), a redelivered batch id is a no-op, and
    per-batch cost is O(batch + store probe) in rows — the seen store
    is never rewritten.

    The LOG still grows one dir per store per batch — listing +
    parquet-footer overhead O(entries) with uptime (288 entries/day at
    5-minute triggers; the JoinSink soak measured 1.98× probe growth).
    With ``compact_after=N`` the store's ``append`` folds the logs
    (VersionedStore.compact_logs) whenever either exceeds N entries:
    both stores are append-only BAGS (appended key sets are disjoint by
    construction — a key is appended only when absent from everything
    before it), so a fold is a pure bag-union rewrite, committed by one
    repoint with the folded dirs TOMBSTONED; the store's vacuum()
    reclaims them as a separate restartable step. Shapes pinned by
    tests/test_streaming_dedup_compaction.py; the wall-clock flatness
    is tools/ivm_soak.py --sink dedup."""

    def __init__(self, out_path: str, seen_path: str, keys: list[str],
                 order_col: str, compact_after: int | None = None):
        super().__init__(os.path.join(out_path, "_dedup_manifest.json"),
                         {}, {"out": out_path, "seen": seen_path},
                         compact_after)
        self.keys = keys
        self.order_col = order_col

    def survivors(self, spark: SparkSession) -> DataFrame | None:
        """The committed survivor output (union of the delta log)."""
        return self._read_log(spark, "out", self.meta()["out"])

    def seen_keys(self, spark: SparkSession) -> DataFrame | None:
        """The committed seen-key store (union of the delta log)."""
        return self._read_log(spark, "seen", self.meta()["seen"])

    # -- per-batch fold ------------------------------------------------
    def _batch_first(self, batch: DataFrame) -> DataFrame:
        firsts = batch.groupBy(*self.keys).agg(
            F.min(self.order_col).alias(self.order_col))
        return firsts.join(batch, [*self.keys, self.order_col])

    def apply_batch(self, batch: DataFrame, batch_id: int) -> None:
        if self.applied(batch_id):
            return                      # committed replay: no-op
        spark = batch.sparkSession
        cand = self._batch_first(batch)
        seen = self._read_log(spark, "seen", self.meta()["seen"])
        if seen is not None:
            # key-only anti-join: the store holds keys, not payloads —
            # broadcastable while the store is small, shuffle at scale
            cand = cand.join(seen, self.keys, "left_anti")
        cand = cand.localCheckpoint()  # one computation for both writes
        # independent writes off the checkpointed frame, overlapped;
        # both land before the one append
        self.append(spark, batch_id, self.land(
            {"out": cand, "seen": cand.select(*self.keys)}, batch_id))

    def writer(self):
        return self.apply_batch


def streaming_dedup_first_event(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """KeyedDedupSink's per-micro-batch algebra exposed as a driver-
    checkable query (the exposure pattern of ivm_orders_priority_rollup):
    fold events through three batches (batch i = event_id % 3 == i),
    keeping each user's FIRST event under first-arrival-wins — in-batch
    winner is the min event_id, cross-batch the earliest batch wins via
    the seen-store anti-join; no history re-scan. The oracle is the
    batch-mode statement of the same semantics: per user, the event
    minimizing (batch_idx, event_id) — so batch boundaries provably
    re-derive the one-shot answer."""
    ev = table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type")
    out: DataFrame | None = None
    seen: DataFrame | None = None
    for i in range(3):
        batch = ev.filter(F.col("event_id") % 3 == i)
        firsts = batch.groupBy("user_id").agg(
            F.min("event_id").alias("first_event_id"))
        if seen is not None:
            firsts = firsts.join(seen, "user_id", "left_anti")
        out = firsts if out is None else out.unionByName(firsts)
        seen = out.select("user_id")
    return (out.join(ev.select(F.col("event_id").alias("first_event_id"),
                               "event_type"), "first_event_id")
               .select("user_id", "first_event_id",
                       F.col("event_type").alias("first_event_type")))


STREAMING_DEDUP_FIRST_SQL = """
WITH w AS (
  SELECT user_id, event_id, event_type,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY event_id % 3 ASC, event_id ASC) AS rn
  FROM events
)
SELECT user_id, event_id AS first_event_id, event_type AS first_event_type
FROM w WHERE rn = 1
"""


class _IndexSinkBase(VersionedStore):
    """Shared layout of the two streaming near-dup index sinks
    (vector / MinHash-LSH): four append-only delta logs of the sink's
    VersionedStore — pair output ``out`` under ``out_path``, and the
    member, rep and band logs under ``index_path``. Per batch the
    store lands each log's ``b<batch_id>`` dir (two ``land`` calls:
    the band delta is derived from the WRITTEN reps delta) and one
    ``append`` commits all four with the last applied batch id (crash
    ⇒ orphan dirs invisible, retry overwrites; redelivered batch id ⇒
    no-op). With ``compact_after=N`` that ``append`` folds the logs
    (VersionedStore.compact_logs: a minor pass over the per-batch
    tail, a major pass once the snapshots outnumber min(MAJOR_AFTER,
    N)) whenever a log exceeds N entries, so each log keeps <= N + 1
    entries; appends are disjoint from all committed state by
    construction, so every fold is a pure bag union, and the folded
    dirs are TOMBSTONED and reclaimed by the store's vacuum() as a
    separate restartable step."""

    _MANIFEST = "_index_manifest.json"
    STORES = ("out", "members", "reps", "bands")

    # Fold-output CLUSTERED LAYOUT (round 13 — the mechanism behind
    # the attach pushdown): the store's fold writes these logs range-
    # partitioned + sorted by their key, so each snapshot file covers
    # a DISJOINT key range and the pushdown's In(rep, ...) predicate
    # prunes whole files / row groups at the parquet footer. Without
    # this, arrival-ordered snapshots spread every key range across
    # every file and the "pushdown" still scans every data page. Delta
    # dirs stay arrival-ordered: one micro-batch = one file = one row
    # group, where internal order cannot change footer min/max.
    FOLD_SORT: dict = {"reps": ["rep"],
                       "bands": ["band_idx", "band_key"]}

    def __init__(self, out_path: str, index_path: str,
                 compact_after: int | None, schemas: dict):
        # schemas: each log's declared read schema ({log: DDL}), so no
        # read of a log or of a landed delta runs parquet inference
        super().__init__(os.path.join(out_path, self._MANIFEST), {},
                         {s: out_path if s == "out"
                          else os.path.join(index_path, s)
                          for s in self.STORES}, compact_after, schemas)
        self.index_path = index_path

    def pairs(self, spark: SparkSession) -> DataFrame | None:
        """The committed verified/candidate-pair output (log union)."""
        return self._read_log(spark, "out", self.meta()["out"])

    def band_rows(self, spark: SparkSession) -> DataFrame | None:
        """The committed band log (rep, band_idx, band_key) — one row
        per (rep, band); None while the index is empty."""
        return self._read_log(spark, "bands", self.meta()["bands"])

    def writer(self):
        return self.apply_batch


class VectorIndexSink(_IndexSinkBase):
    """foreachBatch sink: continuous vector near-dup detection over a
    DURABLE rep-grain embedding index — the streaming wrapper of
    llm/similarity's embedding_store family (probe → append deltas),
    committed through the same VersionedStore as KeyedDedupSink above.

    Per micro-batch of (id, q) rows (q = the ×1e6 fixed-point int64
    vector, similarity.quantize): collapse identical vectors to a
    representative, probe the committed index (sign-LSH banding,
    rep-grain exact-cosine verification ≥ threshold, arithmetic member
    expansion — similarity._probe_embedding_store), append the verified
    pairs to the output log and the batch's member/rep deltas to the
    index logs. merge_embedding_deltas' appends are DISJOINT from all
    committed state by construction (an id arrives once; a rep is added
    only when its vector is unseen), so all FOUR stores are append-only
    bags: one commit lands them together with the batch id
    (_IndexSinkBase), and ``compact_after=N`` folds the logs by pure
    bag union through the store's one compaction
    (VersionedStore.compact_logs).

    The fourth log is the PERSISTED BAND LOG (round 11): each new rep's
    (rep, band_idx, band_key) sign-LSH rows are appended once, when the
    rep enters the index, so the per-trigger probe joins the batch's
    band rows against three narrow int64 columns instead of recomputing
    64 element_at signs per stored rep — the round-10 soak's residual
    1.78× per-batch growth term (the one measured O(index) cost left).
    The manifest pins the banding geometry; a restart with a different
    (n_bands, bits) raises instead of silently probing the wrong
    buckets. On a cluster this is the frame you'd keep bucketed by
    band_key so the candidate join co-locates.

    The exactly-once law the tests pin: folding a corpus through ANY
    batch split starting from an empty index emits every verified pair
    of the whole corpus exactly once (in the batch where its later
    member arrives) — the streaming answer equals the one-shot
    emb_cosine_near_dup_pairs recompute.

    Scale shape: per-batch cost is O(batch·bands + matched
    DISTINCT-content buckets) — independent of corpus size and
    duplicate multiplicity (the round-10 rep-grain discipline); the
    index logs are the frames you'd keep bucketed by band key on a
    cluster. History vectors are never re-read, only the rep-grain
    index is."""

    _MANIFEST = "_vector_manifest.json"

    def __init__(self, out_path: str, index_path: str,
                 threshold: float = 0.9,
                 compact_after: int | None = None,
                 n_bands: int = 2, bits: int = 32):
        # (2, 32) — the MEASURED rule from the round-12 288-batch day
        # soak: accidental candidates/batch ~ bands*batch*index/2^bits,
        # an O(index) per-batch term. At (4,16) that reads ~300k
        # accidental candidates/batch by batch 200 (and keeps the
        # probe's id-pushdown guard permanently exceeded, deactivating
        # it); at (2,32) accidental candidates are near zero, the
        # pushdown stays active, and absolutes ran ~20% faster at the
        # same recall gate (pairs bit-exact vs the one-shot recompute —
        # SCALE.md, round-12 soak rows). Recall on exact duplicates is
        # 1 under any sign banding; the manifest pins geometry, so
        # existing indexes keep working by passing their committed
        # (n_bands, bits) explicitly.
        super().__init__(out_path, index_path, compact_after, {
            "out": "id1 long, id2 long, cos_sim double",
            "members": "id long, rep long",
            "reps": "rep long, q array<long>",
            "bands": "rep long, band_idx int, band_key long"})
        self._empty["banding"] = [n_bands, bits]
        self.threshold = threshold
        self.n_bands = n_bands
        self.bits = bits

    def index(self, spark: SparkSession, batch: DataFrame,
              meta: dict | None = None) -> tuple:
        """The committed (members, reps) index; empty frames derived
        from the batch schema when no state is committed yet."""
        meta = meta or self.meta()
        mem = self._read_log(spark, "members", meta["members"])
        reps = self._read_log(spark, "reps", meta["reps"])
        if mem is None:
            mem = batch.select("id", F.col("id").alias("rep")).limit(0)
        if reps is None:
            reps = batch.select(F.col("id").alias("rep"), "q").limit(0)
        return (mem.select("id", "rep"), reps.select("rep", "q"))

    def _band_log(self, spark: SparkSession,
                  meta: dict) -> DataFrame | None:
        """The committed band rows (None while the index is empty),
        refusing an index built with another banding geometry."""
        if meta["banding"] != [self.n_bands, self.bits]:
            raise ValueError(
                f"index at {self.index_path} was built with banding "
                f"{meta['banding']}, sink configured "
                f"{[self.n_bands, self.bits]} — band keys would not "
                f"match; rebuild the index or match the geometry")
        return self._read_log(spark, "bands", meta["bands"])

    # -- per-batch fold ------------------------------------------------
    def apply_batch(self, batch: DataFrame, batch_id: int) -> None:
        from postgres_es_cdc_spark.llm.similarity import (
            _emb_collapsed, _emb_rep_bands, _probe_embedding_store,
            merge_embedding_deltas)

        if self.applied(batch_id):
            return                      # committed replay: no-op
        spark = batch.sparkSession
        meta = self.meta()
        bmem = _emb_collapsed(batch.select("id", "q")).localCheckpoint()
        store = self.index(spark, batch, meta)
        store_bands = self._band_log(spark, meta)
        # repartition(1), NOT coalesce(1): every delta is micro-batch-
        # sized — without it each dir lands ~32 shuffle-grain files and
        # probe scans pay O(dirs x 32) footers (VersionedStore.
        # FOLD_FILES). coalesce(1) would merge the FINAL stage to one
        # task and serialize the whole probe/merge compute (measured in the
        # round-11 tiered iterations); the extra one-file shuffle of a
        # micro-batch-sized delta is noise by comparison.
        probe = _probe_embedding_store(
            store, bmem, self.threshold, self.n_bands, self.bits,
            store_bands=store_bands)
        # store_bands prefilters the merge's vector-equality scan too
        # (round 12): the reps log's q column is only read for reps
        # whose band-0 key collides with the batch — the last measured
        # per-batch O(index·520B) term
        new_members, new_reps = merge_embedding_deltas(
            store, bmem, store_bands=store_bands,
            n_bands=self.n_bands, bits=self.bits)
        # probe / member-delta / rep-delta writes are independent jobs,
        # run concurrently; everything lands before the one append
        dirs = self.land({"out": probe.repartition(1),
                          "members": new_members.repartition(1),
                          "reps": new_reps.repartition(1)}, batch_id)
        # band the WRITTEN rep rows (no recompute of the merge plan):
        # the band log stays row-for-row derived from the committed
        # reps log, the invariant tests pin
        dirs |= self.land({"bands": _emb_rep_bands(
            self._read_log(spark, "reps", [dirs["reps"]]), self.n_bands,
            self.bits).repartition(1)}, batch_id)
        self.append(spark, batch_id, dirs)


class SignatureIndexSink(_IndexSinkBase):
    """foreachBatch sink: continuous MinHash-LSH TEXT near-dup
    detection over a durable rep-grain signature index — the streaming
    wrapper of llm/dedup's signature_store family, completing the
    streaming triad (exact = KeyedDedupSink, embedding =
    VectorIndexSink, THIS = text LSH) on the shared _IndexSinkBase
    layout.

    Per micro-batch of (doc_id, sig0..7) rows (MinHash signatures,
    dedup._signatures_from_sh — text never reaches the sink): collapse
    identical signature vectors to a representative (_sig_collapsed),
    probe the committed index (md5 band keys over LSH_BANDS slot
    pairs, candidate member pairs via dedup._probe_signature_store —
    join-shaped, store band rows read from the PERSISTED band log),
    append candidate pairs to the output log and the batch's
    member/rep/band deltas to the index logs
    (dedup.merge_signature_deltas — disjoint appends by construction).

    The exactly-once law the tests pin: folding a corpus through ANY
    batch split starting from an empty index emits every candidate
    pair of the whole corpus exactly once (in the batch where its
    later member arrives) — the union over batches equals the one-shot
    docs_minhash_lsh_pairs recompute, the law
    llm/dedup.docs_streaming_lsh_fold exposes to the driver gate
    against DOCS_MINHASH_LSH_SQL.

    Scale shape: per-batch cost is O(batch·bands + matched
    DISTINCT-content buckets) — the probe streams the band log through
    a broadcast semi-join on the batch's touched band keys, so neither
    the member log nor the rep log is shuffled; band keys are md5 of
    signature pairs (128-bit), so there are NO accidental bucket
    collisions and candidate volume is exactly the true answer. On a
    cluster the band log is the frame you'd keep bucketed by
    band_key."""

    _MANIFEST = "_signature_manifest.json"

    def __init__(self, out_path: str, index_path: str,
                 compact_after: int | None = None,
                 cap: int | None = None):
        from postgres_es_cdc_spark.llm.dedup import (PAIR_BUCKET_CAP,
                                                     _SIG_COLS)
        super().__init__(out_path, index_path, compact_after, {
            "out": "doc_a long, doc_b long",
            "members": "doc_id long, rep long",
            "reps": ", ".join(["rep long",
                               *(f"{c} long" for c in _SIG_COLS)]),
            "bands": "rep long, band_idx int, band_key string"})
        self.cap = PAIR_BUCKET_CAP if cap is None else cap

    def index(self, spark: SparkSession, batch: DataFrame,
              meta: dict | None = None) -> tuple:
        """The committed (members, reps) index; empty frames derived
        from the batch schema when no state is committed yet."""
        from postgres_es_cdc_spark.llm.dedup import _SIG_COLS
        meta = meta or self.meta()
        mem = self._read_log(spark, "members", meta["members"])
        reps = self._read_log(spark, "reps", meta["reps"])
        if mem is None:
            mem = batch.select("doc_id",
                               F.col("doc_id").alias("rep")).limit(0)
        if reps is None:
            reps = batch.select(F.col("doc_id").alias("rep"),
                                *_SIG_COLS).limit(0)
        return (mem.select("doc_id", "rep"),
                reps.select("rep", *_SIG_COLS))

    # -- per-batch fold ------------------------------------------------
    def apply_batch(self, batch: DataFrame, batch_id: int) -> None:
        from postgres_es_cdc_spark.llm.dedup import (
            _SIG_COLS, _probe_signature_store, _rep_bands,
            _sig_collapsed, merge_signature_deltas)

        if self.applied(batch_id):
            return                      # committed replay: no-op
        spark = batch.sparkSession
        meta = self.meta()
        bmem = _sig_collapsed(
            batch.select("doc_id", *_SIG_COLS)).localCheckpoint()
        store = self.index(spark, batch, meta)
        store_bands = self._read_log(spark, "bands", meta["bands"])
        # repartition(1), NOT coalesce(1): micro-batch-sized deltas,
        # one file each without serializing the probe compute into a
        # single task (VersionedStore.FOLD_FILES)
        probe = _probe_signature_store(store, bmem, self.cap,
                                       store_bands=store_bands)
        new_members, new_reps = merge_signature_deltas(store, bmem)
        # probe / member-delta / rep-delta writes are independent jobs,
        # run concurrently; everything lands before the one append
        dirs = self.land({"out": probe.repartition(1),
                          "members": new_members.repartition(1),
                          "reps": new_reps.repartition(1)}, batch_id)
        # band the WRITTEN rep rows: the band log stays row-for-row
        # derived from the committed reps log (VectorIndexSink's
        # round-11 invariant, same rationale)
        dirs |= self.land({"bands": _rep_bands(
            self._read_log(spark, "reps", [dirs["reps"]]))
            .repartition(1)}, batch_id)
        self.append(spark, batch_id, dirs)


class ClusterLabelSink:
    """foreachBatch sink maintaining LIVE connected-component cluster
    labels over the candidate/verified-pair stream the index sinks
    emit — the round-13 completion of the crawl loop: the triad
    (KeyedDedupSink / VectorIndexSink / SignatureIndexSink) keeps the
    INDEXES current per trigger and appends each batch's pairs to its
    output log; this sink folds exactly those pair deltas into a
    durable (rep, label) store, so cluster membership — the thing a
    dedup ROUTING decision actually reads — is available continuously
    instead of via a from-scratch re-cluster per cycle.

    Per micro-batch of (a, b) pair rows (column names configurable —
    VectorIndexSink logs (id1, id2), SignatureIndexSink (doc_a,
    doc_b)): llm/dedup.merge_cluster_labels resolves the delta
    endpoints' current labels, contracts the delta to LABEL grain
    (≤ |delta| edges, guarded driver collect), min-wins union-finds
    it, and applies the remap as ONE broadcast join over the
    node-grain store — per-batch cost O(delta + narrow node-grain
    scan), never O(historical pairs), no iterative propagation.

    State is the one frame of a SnapshotStore (streaming/store.py:
    versioned dir + atomic manifest repoint + batch-id replay gate): label
    maintenance is a WHOLE-STORE merge per batch — a remap may touch
    any row — so the single-snapshot discipline applies, and every
    batch's merge IS the compaction (the store never grows with
    history, only with distinct nodes; the AggSink-family shape, not
    the append-only-log shape of the index sinks). The replay gate
    matters doubly here: merge_cluster_labels is idempotent on label
    VALUES under redelivery, but new-endpoint rows would duplicate —
    the gate makes redelivery a strict no-op.

    Composition (the production wiring): tail an index sink's pair
    log with readStream.parquet(out_path) → foreachBatch(writer()),
    or call apply_batch inline after the index sink's own apply_batch
    inside one trigger (tools/ivm_soak.py --sink clustersink drives
    the latter). The fold law the driver gate pins
    (docs_streaming_cluster_fold): folding ANY batch partition of the
    pair set yields the one-shot recursive-CTE TRUE connected
    components — min-label merging is confluent, so batch boundaries
    change nothing.

    Reference parity note: the reference (es.go:95-108) has no notion
    of cluster state at all; this is [EXT] surface driven by SURVEY §2
    Table B's training-pipeline rows."""

    def __init__(self, path: str, a_col: str = "a", b_col: str = "b",
                 max_label_edges: int | None = None):
        from postgres_es_cdc_spark.llm.dedup import MAX_LABEL_EDGES
        self.a_col = a_col
        self.b_col = b_col
        self.max_label_edges = (MAX_LABEL_EDGES if max_label_edges
                                is None else max_label_edges)
        self._st = SnapshotStore(path)

    def apply_batch(self, batch: DataFrame, batch_id: int) -> None:
        from postgres_es_cdc_spark.llm.dedup import merge_cluster_labels

        if self._st.applied(batch_id):
            return                      # committed replay: no-op
        delta = batch.select(
            F.col(self.a_col).cast("long").alias("a"),
            F.col(self.b_col).cast("long").alias("b"))
        labels = self._st.state(batch.sparkSession)
        new = merge_cluster_labels(labels, delta, self.max_label_edges)
        # the commit's parquet write is ALSO the per-batch lineage
        # barrier the incremental loop needs (the _build_cluster_labels
        # note) — no extra localCheckpoint
        self._st.replace(new.select("rep", "label"), batch_id)

    def labels(self, spark: SparkSession) -> DataFrame | None:
        """The committed node-grain (rep, label) store; None before
        the first commit."""
        return self._st.state(spark)

    def writer(self):
        return self.apply_batch


class ClusterKeeperSink(VersionedStore):
    """foreachBatch sink maintaining, per live near-dup cluster, the
    member a pipeline should KEEP — the round-13 continuation of
    ClusterLabelSink: labels answer "which cluster is this doc in",
    keepers answer the question the dedup decision actually asks,
    "which doc survives" (highest quality, ties to min id —
    docs_cluster_representatives' convention, now maintained per
    trigger instead of recomputed per re-cluster cycle).

    Per micro-batch of (a, b) pair rows: one _cluster_label_step
    (label store fold + the {old->new} remap + first-seen endpoints),
    then merge_cluster_keepers folds the LABEL-grain keeper store —
    merged components' keepers max-combine under the surviving label,
    new endpoints seed candidates with their quality from the static
    ``quality`` lookup (id, quality) the sink is constructed with (a
    quality score is upstream-landed state in a real pipeline, exactly
    like the embeddings the vector sink probes).

    BOTH stores are frames of the sink's VersionedStore and commit in
    ONE repoint (labels.v{n} + keepers.v{n} dirs, batch-id replay
    gate, superseded versions deleted after the repoint) — a crash
    between the two writes leaves the previous pair current, never a
    labels/keepers version skew. The quality lookup is landed once as
    a store partitioned by ``_qb`` (the _quality_bucket hash), and the
    seeds join reads only the buckets the batch's new endpoints hash
    into by dynamic partition pruning: the broadcast seeds side prunes
    the scan's ``_qb`` partitions at run time, with no collect of the
    batch's buckets on the driver. All three frames are read with the
    schemas the sink declares (the quality columns typed as the
    ``quality`` frame's), so no read runs parquet inference; the
    label remap is one JVM-local frame (_cluster_label_step), so the
    trigger starts no Python worker.
    Confluence (the driver-gate law, docs_streaming_cluster_keepers):
    any batch partition of the pair set yields the one-shot
    per-component argmax — min-label merge and quality argmax are both
    associative-commutative folds."""

    _MANIFEST = "_keeper_state.json"

    def __init__(self, path: str, quality: DataFrame,
                 a_col: str = "a", b_col: str = "b",
                 max_label_edges: int | None = None):
        from postgres_es_cdc_spark.llm.dedup import MAX_LABEL_EDGES
        self.quality = quality.select(
            F.col(quality.columns[0]).alias("id"),
            F.col(quality.columns[1]).alias("quality"))
        qt = {f.name: f.dataType.simpleString()
              for f in self.quality.schema}
        super().__init__(
            os.path.join(path, self._MANIFEST),
            {"labels": None, "keepers": None, "quality": None},
            schemas={"labels": "rep long, label long",
                     "keepers": f"label long, keep_id long, "
                                f"keep_q {qt['quality']}",
                     "quality": f"id {qt['id']}, quality "
                                f"{qt['quality']}, _qb int"})
        self.path = path
        self.a_col = a_col
        self.b_col = b_col
        self.max_label_edges = (MAX_LABEL_EDGES if max_label_edges
                                is None else max_label_edges)

    def labels(self, spark: SparkSession) -> DataFrame | None:
        """The committed node-grain (rep, label) store."""
        return self.read(spark, "labels")

    def keepers(self, spark: SparkSession) -> DataFrame | None:
        """The committed label-grain (label, keep_id, keep_q) store."""
        return self.read(spark, "keepers")

    def apply_batch(self, batch: DataFrame, batch_id: int) -> None:
        from postgres_es_cdc_spark.llm.dedup import (
            N_QUALITY_BUCKETS, _cluster_label_step, _quality_bucket,
            merge_cluster_keepers)

        if self.applied(batch_id):
            return                      # committed replay: no-op
        spark = batch.sparkSession
        # the quality store lands once (class docstring); the dir is
        # only trusted once the manifest commit below records it, so a
        # crash before that rewrites it
        qdir = self.meta()["quality"]
        if qdir is None:
            qdir = os.path.join(self.path, "quality_store")
            (self.quality.withColumn("_qb", _quality_bucket("id"))
                 .repartition(N_QUALITY_BUCKETS, F.col("_qb"))
                 .write.mode("overwrite").partitionBy("_qb")
                 .parquet(qdir))
        qstore = self._reader(spark, "quality").parquet(qdir)
        delta = batch.select(
            F.col(self.a_col).cast("long").alias("a"),
            F.col(self.b_col).cast("long").alias("b"))
        labels2, remap, new_rows = _cluster_label_step(
            self.labels(spark), delta, self.max_label_edges)
        keepers2 = merge_cluster_keepers(
            self.keepers(spark), remap, new_rows, qstore)
        # both writes land (concurrently) BEFORE the one repoint — the
        # parquet writes double as the per-batch lineage barrier
        frames = self.land(
            {"labels": labels2.select("rep", "label"),
             "keepers": keepers2.select("label", "keep_id", "keep_q")},
            batch_id)
        self.commit(batch_id, {**frames, "quality": qdir})

    def writer(self):
        return self.apply_batch
