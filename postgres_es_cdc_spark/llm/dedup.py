"""Deduplication operators ([EXT] surface): exact, MinHash+LSH banding,
SimHash, and n-gram Jaccard — the standard near-dup arsenal of an LLM
training-data pipeline, expressed array-native (no Python UDFs).

Portability design: every hash is derived from md5 (identical bytes in
Spark and DuckDB) reduced to a 32-bit int; MinHash permutations are
``(a*h + b) mod p`` with ``a < 2^30`` so products stay inside int64.

Scale design: signatures are computed with higher-order array functions
(transform/array_min) directly on each document row — NO explode, NO
shuffle for the signature stage. Only the LSH band self-join shuffles,
and it shuffles 4 short rows per document (band_idx, band_key), not
shingles. That's the shape that survives 100 TB: the candidate-pair join
is on O(docs·bands), never O(docs²) and never O(shingles).

Because the driver corpus has no duplicates, near-dup queries run on a
"mutated corpus": documents ∪ copies with the last token dropped
(doc_id + 1_000_000) — deterministic in SQL on both engines, giving the
detectors real positives to find.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from postgres_es_cdc_spark.catalog import driver_frame, scan_parallel, table
from postgres_es_cdc_spark.llm.text import (
    _STOP_SQL, TOKENS_SQL, h32, quality_expr, shingles3, tokens)
from postgres_es_cdc_spark.memo import register

# MinHash permutation params: a < 2^30 (a*h32 < 2^62), p prime < 2^32.
MINHASH_PERMS: tuple[tuple[int, int], ...] = (
    (1000000007, 12345), (998244353, 54321), (805306457, 2468),
    (469762049, 13579), (167772161, 97531), (754974721, 11111),
    (613566757, 222), (536870909, 99999),
)
MINHASH_P = 4294967291  # largest prime < 2^32
LSH_BANDS = tuple((i, i + 1) for i in range(0, len(MINHASH_PERMS), 2))

# Degenerate-bucket guard for the pair-generation paths. LSH bounds
# EXPECTED bucket size, but one adversarial key (empty/boilerplate docs
# with identical signatures) would make a single bucket's quadratic pair
# fan-out unbounded at 100 TB. Band buckets (MinHash LSH, SimHash) keep
# only the first PAIR_BUCKET_CAP members (deterministic: lowest doc_ids,
# bounded BEFORE the array is collected, via a spill-capable row_number
# window); shingle-blocking buckets over the cap are dropped whole
# (document-frequency capping — truncation would undercount pair
# intersections, dropping keeps Jaccard exact over the retained feature
# space, the standard stop-shingle treatment). NO SILENT CAPS:
# dedup_bucket_overflow_report reports per-path bucket counts, max
# bucket size, over-cap bucket count, and dropped members/pairs; at the
# driver scale factors no bucket comes near the cap, so capped and
# uncapped outputs are identical (the report proves it with zeros).
PAIR_BUCKET_CAP = 1000

# Loud-failure threshold for the UNCAPPED rep-grain pair generator
# (_rep_candidate_pairs): rep buckets hold DISTINCT signature vectors
# under md5-128 band keys, so sizes are small on every measured corpus
# — but LSH bands collide similar-not-identical signatures by DESIGN,
# so a degenerate future corpus (e.g. near-constant documents) could
# still produce a hot bucket whose k² explode OOMs an executor. The
# guard raises in-plan (F.assert_true before the explode) instead of
# OOMing; at 10k reps the explode is 100M rows — far past any bucket
# either consumer's oracle has ever seen, and an operator signal, not
# a silent cap (ADVICE r12).
REP_BUCKET_GUARD = 10_000


def _cap_buckets(banded: DataFrame, keys: list, order_col: str,
                 cap: int) -> DataFrame:
    """Keep at most ``cap`` members per bucket, lowest ``order_col``
    first. row_number runs in the same shuffle partitioning as the
    downstream groupBy (no extra exchange) and WindowExec spills its
    per-key buffer — bounded executor memory even on a degenerate key."""
    w = Window.partitionBy(*keys).orderBy(order_col)
    return (banded.withColumn("_rn", F.row_number().over(w))
                  .filter(F.col("_rn") <= cap)
                  .drop("_rn"))

_MUTATED_SQL = f"""
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id,
         array_to_string(list_slice({TOKENS_SQL.format(col='text')}, 1,
             len({TOKENS_SQL.format(col='text')}) - 1), ' ') AS text
  FROM documents
"""

_SHINGLES_SQL = f"""
  SELECT doc_id,
         list_distinct(list_transform(
             generate_series(1, greatest(len(toks)-2, 0)),
             i -> ('0x'||substr(md5(array_to_string(list_slice(toks, i, i+2), ' ')),1,8))::BIGINT
         )) AS sh
  FROM (SELECT doc_id, {TOKENS_SQL.format(col='text')} AS toks FROM ({_MUTATED_SQL}))
"""


def mutated_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents ∪ near-duplicate mutants (last token dropped).

    No scan_parallel here: consumers like docs_exact_dedup do only
    cheap per-row work (one md5) before a partial agg, so a pre-shuffle
    of full texts costs more than the parallelism buys; the
    shingle-pipeline loaders fan out instead."""
    d = table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = tokens(F.col("text"))
    mut = d.select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.array_join(F.slice(toks, 1, F.size(toks) - 1), " ").alias("text"),
    )
    return d.unionByName(mut)


_DEDUP_STAGE_CACHE: dict = register({})


def _memoized(spark: SparkSession, sf_dir: str, stage: str, build):
    """Memoize a dedup pipeline stage per (session, corpus) as a lazily
    localCheckpointed frame. The MinHash family (signatures → LSH pairs →
    estimate/verify → clusters) shares its two expensive stages — the
    shingle-hash scan and the candidate-pair set — instead of re-running
    tokenize/shingle/md5 once per query. At 100 TB these are the frames
    you would persist as tables between pipeline steps; here they live
    as materialized blocks for the session."""
    key = (spark.sparkContext.applicationId, sf_dir, stage)
    hit = _DEDUP_STAGE_CACHE.get(key)
    if hit is None:
        hit = build().localCheckpoint(eager=False)
        _DEDUP_STAGE_CACHE[key] = hit
    return hit


def _mutated_shingle_hashes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shingle hashes for the mutated corpus WITHOUT hashing it twice.

    Dropping the last token drops exactly the last 3-gram, so the
    mutant's shingle array is a prefix slice of the original's — the
    tokenize/shingle/md5 pipeline runs ONCE per source doc and both
    corpus halves are emitted from one Generate (explode), not a union
    (union branches would each re-evaluate the expression: Spark does no
    cross-branch CSE). Halves the dominant hash cost of every near-dup
    query at any scale. Memoized per (session, corpus): the whole MinHash
    family reads one materialization."""
    return _memoized(spark, sf_dir, "mutated_sh",
                     lambda: _build_mutated_shingle_hashes(spark, sf_dir))


def _build_mutated_shingle_hashes(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    d = scan_parallel(
        spark, table(spark, sf_dir, "documents").select("doc_id", "text"))
    hs = F.transform(shingles3(tokens(F.col("text"))), h32)
    base = d.select("doc_id", hs.alias("hs"))
    pair = F.array(
        F.struct(F.col("doc_id").alias("doc_id"),
                 F.array_distinct("hs").alias("sh")),
        F.struct((F.col("doc_id") + 1000000).alias("doc_id"),
                 F.array_distinct(
                     F.slice("hs", 1, F.greatest(F.size("hs") - 1, F.lit(0)))
                 ).alias("sh")))
    return base.select(F.explode(pair).alias("r")).select("r.doc_id", "r.sh")


def _signatures_from_sh(sh: DataFrame) -> DataFrame:
    """8-permutation MinHash signature per doc (array_min of (a*h+b)%p)
    over a precomputed (doc_id, sh) shingle-hash frame."""
    sig_cols = [
        F.array_min(F.transform(
            F.col("sh"), lambda h: (h * F.lit(a) + F.lit(b)) % F.lit(MINHASH_P)
        )).alias(f"sig{i}")
        for i, (a, b) in enumerate(MINHASH_PERMS)
    ]
    return sh.select("doc_id", *sig_cols)


def docs_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup on the mutated corpus: md5-keyed groups, canonical =
    min doc_id. One hash shuffle on a 16-byte key; the 100 TB shape."""
    d = mutated_corpus(spark, sf_dir)
    return (
        d.groupBy(F.md5("text").alias("content_md5"))
         .agg(F.min("doc_id").alias("canonical_id"),
              F.count("*").alias("n_copies"))
    )


DOCS_EXACT_DEDUP_SQL = f"""
SELECT md5(text) AS content_md5,
       MIN(doc_id) AS canonical_id,
       COUNT(*) AS n_copies
FROM ({_MUTATED_SQL})
GROUP BY md5(text)
"""


def exact_dedup_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The persisted exact-dedup index of the already-ingested corpus:
    (content_md5, canonical_id, n_copies) over the ORIGINAL documents —
    one row per distinct content, the md5 twin of signature_store /
    fingerprint_store, completing the incremental family's third
    member (exact / LSH near-dup / exact-substring). All columns
    int/string; parquet round-trips bit-exactly."""
    d = table(spark, sf_dir, "documents").select("doc_id", "text")
    return (d.groupBy(F.md5("text").alias("content_md5"))
             .agg(F.min("doc_id").alias("canonical_id"),
                  F.count(F.lit(1)).alias("n_copies")))


def save_exact_dedup_store(store: DataFrame, path: str) -> None:
    store.write.mode("overwrite").parquet(path)


def load_exact_dedup_store(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path).select(
        "content_md5", "canonical_id", "n_copies")


def docs_incremental_exact_dedup(spark: SparkSession, sf_dir: str,
                                 store: DataFrame | None = None
                                 ) -> DataFrame:
    """Incremental exact dedup: fold a NEW batch (the mutant half,
    doc_id >= 1e6) into a PERSISTED md5 store without re-reading or
    re-hashing the old corpus, emitting the updated group rows the
    batch TOUCHED — the exact-hash member of the incremental trio
    (near-dup: docs_incremental_lsh_pairs; substring:
    docs_incremental_winnow_overlap).

    One partial agg over the batch (one md5 per row), one key equi-join
    against the store: merged canonical = least(store, batch) — equal
    to the global min because the store row already holds the min over
    old members — and merged count = store + batch counts. Groups the
    batch never touches are never read past the join probe, so
    per-batch cost is O(batch + matched store rows), independent of
    corpus size. Oracle: the full-corpus exact dedup restricted to
    groups containing at least one batch doc (mutant ids all sort above
    originals, so that is exactly MAX(doc_id) >= 1e6), proving
    incremental == full on the touched set."""
    if store is None:
        store = exact_dedup_store(spark, sf_dir)
    batch = (mutated_corpus(spark, sf_dir)
             .filter(F.col("doc_id") >= 1000000)
             .groupBy(F.md5("text").alias("content_md5"))
             .agg(F.min("doc_id").alias("b_min"),
                  F.count(F.lit(1)).alias("b_n")))
    s = store.select("content_md5",
                     F.col("canonical_id").alias("s_min"),
                     F.col("n_copies").alias("s_n"))
    return (batch.join(s, "content_md5", "left")
                 .select("content_md5",
                         F.least("b_min", F.coalesce("s_min", "b_min"))
                          .alias("canonical_id"),
                         (F.col("b_n") + F.coalesce("s_n", F.lit(0)))
                          .alias("n_copies")))


DOCS_INCREMENTAL_EXACT_SQL = f"""
SELECT md5(text) AS content_md5,
       MIN(doc_id) AS canonical_id,
       COUNT(*) AS n_copies
FROM ({_MUTATED_SQL})
GROUP BY md5(text)
HAVING MAX(doc_id) >= 1000000
"""


def docs_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures on the original corpus (deterministic,
    portable). Reads the original half of the shared shingle-hash
    materialization (mutant ids are offset by 1e6), so the tokenize/
    shingle/md5 pass is shared with the whole dedup family."""
    sh = _mutated_shingle_hashes(spark, sf_dir).filter(
        F.col("doc_id") < 1000000)
    return _signatures_from_sh(sh)


_ORIG_SHINGLES_SQL = _SHINGLES_SQL.replace(f"({_MUTATED_SQL})", "documents")

DOCS_MINHASH_SIG_SQL = f"""
SELECT doc_id,
""" + ",\n".join(
    f"       list_min(list_transform(sh, h -> (h*{a}+{b}) % {MINHASH_P})) AS sig{i}"
    for i, (a, b) in enumerate(MINHASH_PERMS)
) + f"""
FROM ({_ORIG_SHINGLES_SQL})
"""


def docs_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH candidate pairs on the mutated corpus: 4 bands of 2 signature
    slots; docs sharing any band key become candidates.

    The join key is (band_idx, md5(sig_a||'_'||sig_b)) — O(docs·4) rows
    shuffled, self-joined, deduped to (doc_a, doc_b). The pair set is
    memoized per (session, corpus): clusters and the Jaccard estimator
    reuse it without re-running banding."""
    return _memoized(spark, sf_dir, "lsh_pairs",
                     lambda: _build_lsh_pairs(spark, sf_dir))


def _lsh_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, band_idx, band_key) — the MinHash LSH banding stage,
    shared by the pair generator and dedup_bucket_overflow_report.
    Memoized like the other family stages: consumers read one
    materialization of the signature pipeline."""
    return _memoized(spark, sf_dir, "lsh_banded",
                     lambda: _build_lsh_banded(spark, sf_dir))


def _build_lsh_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    sigs = _signatures_from_sh(_mutated_shingle_hashes(spark, sf_dir))
    bands = F.array(*[
        F.struct(F.lit(bi).alias("band_idx"),
                 F.md5(F.concat_ws("_",
                                   F.col(f"sig{a}").cast("string"),
                                   F.col(f"sig{b}").cast("string"))).alias("band_key"))
        for bi, (a, b) in enumerate(LSH_BANDS)
    ])
    return sigs.select("doc_id", F.explode(bands).alias("bk")).select(
        "doc_id", "bk.band_idx", "bk.band_key")


def _build_lsh_pairs(spark: SparkSession, sf_dir: str,
                     cap: int = PAIR_BUCKET_CAP) -> DataFrame:
    banded = _lsh_banded(spark, sf_dir)
    # Group-then-pair instead of a self-join: a self-join would evaluate
    # the whole signature pipeline twice (both join inputs are the same
    # unmaterialized subplan). collect_list computes signatures ONCE,
    # shuffles only (band_idx, band_key, doc_id), and emits pairs from
    # each bucket's id array — in-bucket work is quadratic only in the
    # duplicate-cluster size, which LSH bounds in expectation and
    # _cap_buckets bounds worst-case (see PAIR_BUCKET_CAP).
    buckets = (
        _cap_buckets(banded, ["band_idx", "band_key"], "doc_id", cap)
        .groupBy("band_idx", "band_key")
        .agg(F.collect_list("doc_id").alias("ids"))
        .filter(F.size("ids") > 1)
    )
    return (
        buckets.select(F.explode("ids").alias("doc_a"), "ids")
               .select("doc_a", F.explode("ids").alias("doc_b"))
               .filter(F.col("doc_a") < F.col("doc_b"))
               .distinct()
    )


_SIG_COLS = tuple(f"sig{i}" for i in range(len(MINHASH_PERMS)))


def _sig_collapsed(sigs: DataFrame) -> DataFrame:
    """(doc_id, sig0..7, rep): exact-duplicate SIGNATURE collapse — docs
    with identical full MinHash signature vectors form a group, rep =
    min doc_id. One window shuffle over the 8 signature columns; all
    sig_i are null together (empty shingle set), and SQL grouping
    treats the all-null vector as one group — exactly matching the
    member-grain banding, where concat_ws skips nulls and every
    empty-sig doc lands in the md5("") bucket."""
    w = Window.partitionBy(*_SIG_COLS)
    return sigs.withColumn("rep", F.min("doc_id").over(w))


def _rep_bands(reps: DataFrame) -> DataFrame:
    """(rep, band_idx, band_key) for a rep-grain signature frame — the
    banding stage of _build_lsh_banded applied to representatives."""
    bands = F.array(*[
        F.struct(F.lit(bi).alias("band_idx"),
                 F.md5(F.concat_ws(
                     "_", F.col(f"sig{a}").cast("string"),
                     F.col(f"sig{b}").cast("string"))).alias("band_key"))
        for bi, (a, b) in enumerate(LSH_BANDS)
    ])
    return (reps.select("rep", F.explode(bands).alias("bk"))
                .select("rep", "bk.band_idx", "bk.band_key"))


def signature_store(spark: SparkSession, sf_dir: str) -> tuple:
    """The persisted LSH index of the already-ingested corpus, at
    REPRESENTATIVE grain (round-10: the dense-clique discipline of
    fingerprint_store/docs_dedup_clusters_collapsed ported to the LSH
    store, closing the family's last super-linear curve — the
    member-grain probe fanned out on exact-duplicate store twins,
    ~20× per 10× on duplication-heavy corpora at sf10):
    (members, reps) where members = (doc_id, rep) and reps =
    (rep, sig0..7), one row per DISTINCT signature vector. Identical
    documents have identical MinHash signatures, so indexing them
    separately buys nothing — the store is written once at corpus
    build, probed on every new batch without re-reading text (the
    dedup twin of similarity.trained_quantizer's train-once
    discipline), and UPDATED per batch by merge_signature_store (the
    continuous-crawl loop: probe, then fold the batch in). Band keys
    are derived from reps on read (_rep_bands — a projection, no
    shuffle); the store keeps the signature VECTORS because the merge
    must match batch groups to store groups by exact signature
    equality, which derived md5 band keys could only approximate. All
    columns int, so save/load round-trips parquet bit-exactly."""
    key = (spark.sparkContext.applicationId, sf_dir, "sig_store_rep")
    hit = _DEDUP_STAGE_CACHE.get(key)
    if hit is None:
        mem = _sig_collapsed(
            _signatures_from_sh(_mutated_shingle_hashes(spark, sf_dir))
            .filter(F.col("doc_id") < 1000000)
        ).localCheckpoint(eager=False)
        hit = (mem.select("doc_id", "rep"),
               mem.filter(F.col("doc_id") == F.col("rep"))
                  .select("rep", *_SIG_COLS))
        _DEDUP_STAGE_CACHE[key] = hit
    return hit


def save_signature_store(store: tuple, path: str) -> None:
    """Persist the rep-grain LSH store: members + reps dirs (mirrors
    save_fingerprint_store)."""
    members, reps = store
    members.write.mode("overwrite").parquet(path + "/members")
    reps.write.mode("overwrite").parquet(path + "/reps")


def load_signature_store(spark: SparkSession, path: str) -> tuple:
    return (spark.read.parquet(path + "/members").select("doc_id", "rep"),
            spark.read.parquet(path + "/reps").select("rep", *_SIG_COLS))


def merge_signature_deltas(store: tuple, batch_mem: DataFrame) -> tuple:
    """The APPEND half of the crawl-loop merge (the factoring
    merge_embedding_deltas established for vectors, round 10):
    (new_members, new_reps) a collapsed batch adds to a (members, reps)
    store — pure appends, disjoint from all committed state (a doc_id
    arrives once; a rep is added only when its signature vector is
    unseen), which is what lets SignatureIndexSink keep its stores as
    append-only delta logs folded by bag union.

    Merge rule, preserving both store invariants (rep ∈ its group;
    rep = FIRST-ARRIVAL doc_id of the group — the min when batches
    arrive in ascending id order): a batch group whose signature
    vector EQUALS an existing store group's joins that group — its
    members remap to the store rep; a batch group with an unseen
    signature becomes a new store group under its own rep. The join is
    one broadcast-able rep-grain equi-join on the 8 signature columns
    (eqNullSafe: the all-null vector — empty shingle sets — is one
    group too, matching _sig_collapsed's SQL grouping semantics).
    Store cost stays O(distinct content); members grow by exactly the
    batch."""
    members, reps = store
    breps = batch_mem.filter(F.col("doc_id") == F.col("rep")).select(
        F.col("rep").alias("brep"), *[F.col(c).alias(f"b_{c}")
                                      for c in _SIG_COLS])
    cond = [reps[c].eqNullSafe(breps[f"b_{c}"]) for c in _SIG_COLS]
    matched = breps.join(reps, cond, "left").select(
        "brep", F.col("rep").alias("srep"),
        *[F.col(f"b_{c}").alias(c) for c in _SIG_COLS])
    remap = matched.select("brep",
                           F.coalesce("srep", F.col("brep")).alias("rep"))
    new_members = (batch_mem.select("doc_id", F.col("rep").alias("brep"))
                            .join(remap, "brep")
                            .select("doc_id", "rep"))
    new_reps = (matched.filter(F.col("srep").isNull())
                       .select(F.col("brep").alias("rep"), *_SIG_COLS))
    return new_members, new_reps


def merge_signature_store(store: tuple, batch_mem: DataFrame) -> tuple:
    """Fold a probed batch INTO the store — the write half of the
    continuous-crawl loop (probe with docs_incremental_lsh_pairs, then
    merge so the NEXT batch sees this one as corpus; merge rule and
    invariants in merge_signature_deltas)."""
    members, reps = store
    new_members, new_reps = merge_signature_deltas(store, batch_mem)
    return (members.unionByName(new_members),
            reps.unionByName(new_reps))


def docs_incremental_lsh_pairs(spark: SparkSession, sf_dir: str,
                               store: tuple | None = None,
                               cap: int = PAIR_BUCKET_CAP) -> DataFrame:
    """Incremental near-dup detection: candidate pairs for a NEW batch
    of documents against a PERSISTED signature store, without
    recomputing (or even reading the text of) the already-ingested
    corpus — the production shape of continuous corpus curation, and
    the dedup twin of sources/incremental.py's offset-polling loop
    (there the checkpoint bounds what is re-read; here the signature
    store bounds what is re-hashed).

    Round-10 rewrite at REPRESENTATIVE grain, same oracle: both the
    store (signature_store) and the in-flight batch collapse
    identical-signature docs to one rep before banding; the bucket
    cap, the bucket-group pass, and the pair `distinct` all run on
    DISTINCT content, and member pairs expand arithmetically from rep
    pairs afterwards. This is bit-exact with the member-grain full
    recompute (not a sibling semantics): identical signature vectors
    imply identical band keys in every band, so (1) every member of a
    group shares exactly its rep's buckets — expanding a rep pair
    through membership reproduces precisely the cross-group member
    pairs, and (2) same-group members always co-bucket — the
    within-batch-group self-join reproduces the new×new in-group
    pairs (old×old in-group pairs are excluded by the incremental
    semantics and never materialize). Each member pair is emitted
    exactly once (membership is a function, rep pairs are distinct),
    so NO distinct ever runs at member grain — the only quadratic
    left is the size of the correct answer itself.

    The "new batch" is the mutated half (doc_id >= 1e6); pair
    generation emits ONLY new×old and new×new rep pairs, so per-batch
    cost is O(batch·bands + matched DISTINCT-content buckets),
    independent of both corpus size and duplicate multiplicity. The
    degenerate-bucket cap now bounds reps (distinct content) per
    bucket, a strictly less lossy guard than the member-grain cap; it
    never binds at driver scale factors (oracle has no cap). Oracle: a
    full-corpus LSH recompute restricted to pairs touching the batch
    (all new ids sort above all old ids, so that is exactly
    doc_b >= 1e6) — proving incremental == full."""
    if store is None:
        store = signature_store(spark, sf_dir)
    bmem = _sig_collapsed(
        _signatures_from_sh(_mutated_shingle_hashes(spark, sf_dir))
        .filter(F.col("doc_id") >= 1000000)
    ).localCheckpoint(eager=False)
    return _probe_signature_store(store, bmem, cap)


def _probe_signature_store(store: tuple, bmem: DataFrame,
                           cap: int = PAIR_BUCKET_CAP,
                           store_bands: DataFrame | None = None
                           ) -> DataFrame:
    """The probe kernel of docs_incremental_lsh_pairs (docstring
    there), shared with the multi-batch fold: candidate member pairs
    for a collapsed batch frame (doc_id, sig0..7, rep) against a
    (members, reps) store.

    Round-11 join-shaped rewrite (the vector probe's discipline, with
    _cap_buckets preserved): a bucket can only emit pairs if it holds a
    NEW rep, so the store's band rows first stream through a broadcast
    semi-join against the batch's (band_idx, band_key) set — only
    matched-bucket rows enter the cap window and the groupBy. Per-probe
    shuffle drops from O(store bands) to O(batch + matched rows); the
    cap stays BIT-EXACT because row_number ranks are per-bucket, and
    within a touched bucket the restricted frame holds exactly the same
    rows the global window saw (the round-10 union shape measured
    1.43×/60× store growth in the lsh soak — sub-linear, but the shape
    was still a full store-band shuffle per batch).

    ``store_bands`` (rep, band_idx, band_key), when given, replaces the
    in-plan banding of the store's reps — SignatureIndexSink persists
    band rows once per rep (its fourth delta log) so the per-trigger
    probe reads three narrow columns instead of recomputing 4 md5
    digests per stored rep; one-shot callers keep passing None."""
    store_members, store_reps = store
    batch_members = bmem.select("doc_id", "rep")
    batch_bands = _rep_bands(bmem.filter(F.col("doc_id") == F.col("rep")))
    touched = batch_bands.select("band_idx", "band_key").distinct()
    if store_bands is None:
        store_bands = _rep_bands(store_reps)
    else:
        store_bands = store_bands.select("rep", "band_idx", "band_key")
    flagged = (store_bands
                   .join(F.broadcast(touched), ["band_idx", "band_key"])
                   .withColumn("is_new", F.lit(False))
                   .unionByName(
               batch_bands.withColumn("is_new", F.lit(True))))
    buckets = (
        _cap_buckets(flagged, ["band_idx", "band_key"], "rep", cap)
        .groupBy("band_idx", "band_key")
        .agg(F.collect_list(F.when(~F.col("is_new"), F.col("rep")))
              .alias("old_reps"),
             F.collect_list(F.when(F.col("is_new"), F.col("rep")))
              .alias("new_reps"))
        .filter((F.size("new_reps") > 0)
                & (F.size("old_reps") + F.size("new_reps") > 1))
    )
    rep_pairs = (
        buckets.select(F.explode("new_reps").alias("n"),
                       F.concat("old_reps", "new_reps").alias("cands"))
               .select("n", F.explode("cands").alias("m"))
               .filter(F.col("n") != F.col("m"))
               .select(F.least("n", "m").alias("pa"),
                       F.greatest("n", "m").alias("pb"))
               .distinct()
    )
    members = store_members.unionByName(batch_members)
    cross = (
        members.select(F.col("rep").alias("pa"), F.col("doc_id").alias("da"))
               .join(F.broadcast(rep_pairs), "pa")
               .join(members.select(F.col("rep").alias("pb"),
                                    F.col("doc_id").alias("db")), "pb")
               .select(F.least("da", "db").alias("doc_a"),
                       F.greatest("da", "db").alias("doc_b"))
    )
    m1, m2 = batch_members.alias("m1"), batch_members.alias("m2")
    within = (m1.join(m2, (F.col("m1.rep") == F.col("m2.rep"))
                          & (F.col("m1.doc_id") < F.col("m2.doc_id")))
                .select(F.col("m1.doc_id").alias("doc_a"),
                        F.col("m2.doc_id").alias("doc_b")))
    return cross.unionByName(within)


def docs_incremental_lsh_multibatch(spark: SparkSession, sf_dir: str,
                                    n_batches: int = 2,
                                    cap: int = PAIR_BUCKET_CAP
                                    ) -> DataFrame:
    """The full continuous-crawl LOOP: the new corpus arrives in
    ``n_batches`` sequential batches; each batch PROBES the store for
    candidate pairs, then MERGES into it (merge_signature_store), so
    later batches see earlier ones as corpus. Union of the per-batch
    probe outputs == the one-shot incremental result == the full
    recompute restricted to batch-touching pairs — the SAME oracle as
    docs_incremental_lsh_pairs, because every mutant-touching pair is
    emitted by exactly the probe of its LATER side's batch (old×bᵢ and
    bⱼ×bᵢ with j<i by probe i via the store; bᵢ×bᵢ by probe i's
    in-group self-join), and no pair is emitted twice (each probe's
    output touches its own batch, probed stores never contain it).
    This is the delta-join law JoinSink rests on ("every output row is
    produced once — by the batch in which its LATER input arrives"),
    replayed for LSH dedup.

    Batch i = mutants with orig doc_id ≡ i (mod n_batches) — an
    arbitrary, deterministic split; batch-boundary invariance is
    exactly the claim under test. Per-probe cost stays bounded by
    DISTINCT content on both sides; merges are rep-grain equi-joins."""
    store = signature_store(spark, sf_dir)
    sigs = (_signatures_from_sh(_mutated_shingle_hashes(spark, sf_dir))
            .filter(F.col("doc_id") >= 1000000)
            .localCheckpoint(eager=False))
    out: DataFrame | None = None
    for i in range(n_batches):
        bmem = _sig_collapsed(
            sigs.filter((F.col("doc_id") - 1000000) % n_batches == i)
        ).localCheckpoint(eager=False)
        pairs = _probe_signature_store(store, bmem, cap)
        out = pairs if out is None else out.unionByName(pairs)
        if i + 1 < n_batches:
            members, reps = merge_signature_store(store, bmem)
            # barrier per merge: the store frames would otherwise chain
            # n_batches deep (the Pregel-loop lineage discipline)
            store = (members.localCheckpoint(eager=False),
                     reps.localCheckpoint(eager=False))
    return out


def docs_streaming_lsh_fold(spark: SparkSession, sf_dir: str,
                            n_batches: int = 3,
                            cap: int = PAIR_BUCKET_CAP) -> DataFrame:
    """streaming.SignatureIndexSink's per-micro-batch algebra exposed
    as a driver-checkable query (the exposure pattern of
    emb_streaming_near_dup_fold): fold the ENTIRE mutated corpus
    through ``n_batches`` id-sliced micro-batches starting from an
    EMPTY index — probe, emit candidate pairs, merge the batch in,
    repeat. Every candidate pair of the corpus is emitted exactly
    once, in the batch where its LATER member arrives (earlier member
    already indexed ⇒ cross pair; same batch ⇒ in-batch pair), so the
    union over batches IS the one-shot docs_minhash_lsh_pairs answer —
    the oracle is the same full-recompute SQL, proving that batch
    boundaries (and first-arrival rep choice, which the interleaved
    id slices exercise — originals and mutants mix in every batch)
    change nothing.

    Scale: n_batches bounds the driver loop (a trigger count, not a
    data size); each iteration is the join-shaped rep-grain probe, so
    per-batch cost is O(batch + matched distinct content)."""
    sigs = (_signatures_from_sh(_mutated_shingle_hashes(spark, sf_dir))
            .localCheckpoint(eager=False))
    store = (sigs.select("doc_id", F.col("doc_id").alias("rep")).limit(0),
             sigs.select(F.col("doc_id").alias("rep"),
                         *_SIG_COLS).limit(0))
    out: DataFrame | None = None
    for i in range(n_batches):
        bmem = _sig_collapsed(
            sigs.filter(F.col("doc_id") % n_batches == i)
        ).localCheckpoint(eager=False)
        pairs = _probe_signature_store(store, bmem, cap)
        out = pairs if out is None else out.unionByName(pairs)
        members, reps = merge_signature_store(store, bmem)
        # barrier per merge (the Pregel-loop lineage discipline)
        store = (members.localCheckpoint(eager=False),
                 reps.localCheckpoint(eager=False))
    return out


_BANDS_SQL = " UNION ALL ".join(
    f"SELECT doc_id, {bi} AS band_idx, "
    f"md5(CAST(sig{a} AS VARCHAR) || '_' || CAST(sig{b} AS VARCHAR)) AS band_key "
    f"FROM sigs"
    for bi, (a, b) in enumerate(LSH_BANDS)
)

DOCS_MINHASH_LSH_SQL = f"""
WITH sh AS ({_SHINGLES_SQL}),
sigs AS (
  SELECT doc_id,
""" + ",\n".join(
    f"         list_min(list_transform(sh, h -> (h*{a}+{b}) % {MINHASH_P})) AS sig{i}"
    for i, (a, b) in enumerate(MINHASH_PERMS)
) + f"""
  FROM sh
),
banded AS ({_BANDS_SQL})
SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
FROM banded l JOIN banded r
  ON l.band_idx = r.band_idx AND l.band_key = r.band_key
WHERE l.doc_id < r.doc_id
"""

# Oracle for the incremental path: the FULL recompute restricted to
# pairs that touch the new batch. New ids (>= 1e6) all sort above old
# ids, so "at least one side new" for an ordered pair is doc_b >= 1e6.
# incremental == full on this set is exactly the claim being verified.
DOCS_INCREMENTAL_LSH_SQL = DOCS_MINHASH_LSH_SQL.replace(
    "WHERE l.doc_id < r.doc_id",
    "WHERE l.doc_id < r.doc_id AND r.doc_id >= 1000000")
assert "1000000" in DOCS_INCREMENTAL_LSH_SQL


def _shared_shingle_intersections(spark: SparkSession, sf_dir: str,
                                  cap: int = PAIR_BUCKET_CAP) -> DataFrame:
    """(doc_a, doc_b, na, nb, inter) for every candidate pair sharing at
    least one retained shingle — the shared blocking+intersection stage
    of docs_ngram_jaccard_pairs and docs_minhash_containment, memoized
    per (session, corpus, cap) so both verifiers read one run.

    Group-then-pair (see _build_lsh_pairs): one computation of the
    shingle pipeline, one shuffle by shingle hash, per-shingle doc lists
    expanded to ordered pairs. The document-frequency cap runs as a
    window count in the same partitioning (no extra exchange, spills)."""
    return _memoized(
        spark, sf_dir, f"shared_inter{cap}",
        lambda: _build_shared_shingle_intersections(spark, sf_dir, cap))


def _build_shared_shingle_intersections(spark: SparkSession, sf_dir: str,
                                        cap: int) -> DataFrame:
    sh = _mutated_shingle_hashes(spark, sf_dir)
    sized = sh.select("doc_id", F.size("sh").alias("n_sh"),
                      F.explode("sh").alias("h"))
    df_w = Window.partitionBy("h")
    docs_per_shingle = (
        sized.withColumn("_df", F.count(F.lit(1)).over(df_w))
             .filter(F.col("_df") <= cap)
             .groupBy("h")
             .agg(F.collect_list(F.struct("doc_id", "n_sh")).alias("ds"))
             .filter(F.size("ds") > 1)
    )
    return (
        docs_per_shingle
        .select(F.explode("ds").alias("a"), "ds")
        .select("a", F.explode("ds").alias("b"))
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(F.col("a.doc_id").alias("doc_a"),
                 F.col("b.doc_id").alias("doc_b"),
                 F.col("a.n_sh").alias("na"),
                 F.col("b.n_sh").alias("nb"))
        .agg(F.count("*").alias("inter"))
    )


def docs_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str,
                             cap: int = PAIR_BUCKET_CAP) -> DataFrame:
    """Exact n-gram Jaccard similarity for candidate pairs sharing at
    least one shingle (shared-shingle blocking), threshold 0.5.

    Explode-join-group: shuffles (shingle_hash, doc_id); blocking keeps
    the pair space sparse. Shingles shared by more than ``cap`` docs are
    dropped whole (document-frequency cap — boilerplate features; see
    PAIR_BUCKET_CAP), keeping both the bucket array and the pair fan-out
    bounded; when the cap fires, intersections count only retained
    features while set sizes stay full, so the score is a conservative
    lower bound (the cap never fires at driver scale factors). At
    100 TB you'd run LSH first and verify only candidates — that
    composition is docs_minhash_lsh_pairs + this."""
    shared = _shared_shingle_intersections(spark, sf_dir, cap)
    jac = F.col("inter").cast("double") / (F.col("na") + F.col("nb") - F.col("inter"))
    return (
        shared.withColumn("jaccard", jac)
              .filter(F.col("jaccard") >= 0.5)
              .select("doc_a", "doc_b", "jaccard")
    )


DOCS_NGRAM_JACCARD_SQL = f"""
WITH sh AS ({_SHINGLES_SQL}),
exploded AS (
  SELECT doc_id, len(sh) AS n_sh, unnest(sh) AS h FROM sh
),
shared AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.n_sh AS na, b.n_sh AS nb,
         COUNT(*) AS inter
  FROM exploded a JOIN exploded b ON a.h = b.h AND a.doc_id < b.doc_id
  GROUP BY 1, 2, 3, 4
)
SELECT doc_a, doc_b,
       CAST(inter AS DOUBLE)/(na + nb - inter) AS jaccard
FROM shared
WHERE CAST(inter AS DOUBLE)/(na + nb - inter) >= 0.5
"""


def _cluster_labels(spark: SparkSession, sf_dir: str,
                    max_iters: int = 5) -> DataFrame:
    """(doc_id, label) connected-component labels over the LSH
    candidate-pair graph — the shared core of docs_dedup_clusters and
    docs_cluster_representatives (min-label propagation, fixed
    iteration count so the unrolled-CTE oracle is an exact twin).
    Memoized per (session, corpus) like the other family stages: both
    consumers read one run of the propagation loop."""
    return _memoized(spark, sf_dir, f"labels{max_iters}",
                     lambda: _build_cluster_labels(spark, sf_dir, max_iters))


def _build_cluster_labels(spark: SparkSession, sf_dir: str,
                          max_iters: int) -> DataFrame:
    pairs = docs_minhash_lsh_pairs(spark, sf_dir)
    # undirected edge list + self-loops for isolated-node identity.
    # Cached: every propagation round references edges twice, and without
    # the cache each reference recomputes the whole shingle->minhash->band
    # pipeline (10+ recomputes of the expensive stage). The edge list is
    # tiny (candidate pairs only), so this is the right persistence point
    # at any scale.
    edges = (pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
                  .unionByName(pairs.select(F.col("doc_b").alias("src"),
                                            F.col("doc_a").alias("dst")))
                  .cache())
    nodes = edges.select(F.col("src").alias("doc_id")).distinct()
    labels = nodes.withColumn("label", F.col("doc_id"))
    for _ in range(max_iters):
        # Each round references `labels` TWICE (neighbor join + merge),
        # so the uncut lineage doubles per iteration — 2^iters replays
        # of the whole pipeline. The LAZY localCheckpoint truncates the
        # logical plan per round while deferring materialization
        # (persist-on-first-compute) to the final action — no blocking
        # per-round driver job (r13: −7 jobs on CC), and shuffle-stage
        # reuse bounds recompute within that one job tree. On a cluster
        # this would be a checkpoint to reliable storage.
        labels = _prop_round(edges, labels).localCheckpoint(eager=False)
    return labels


def _prop_round(edges: DataFrame, labels: DataFrame) -> DataFrame:
    """One min-label propagation round, with both joins PINNED to
    shuffle_hash (round-10 survival guard): on duplication-heavy
    corpora the member-grain pair graph is clique² (123M pairs at
    sf10), and AQE — seeing only the post-checkpoint size of `labels`
    — elected to BROADCAST the node-grain label table into the edge
    join, OOMing the driver (SCALE.md round 9). The label table is
    node-grain (millions of rows at 100 TB), never broadcast material;
    a shuffle-hash join on the label key degrades to slow-but-alive at
    any scale and never sorts the edge list. The collapsed sibling
    (docs_dedup_clusters_collapsed) remains the designated 100× path —
    this pin keeps the member-grain semantics ALIVE, per the
    no-silent-caps discipline. Shape pinned by tests/test_plans.py."""
    neigh = (edges.join(labels.hint("shuffle_hash"),
                        edges.dst == labels.doc_id)
                  .groupBy(F.col("src").alias("doc_id"))
                  .agg(F.min("label").alias("nlabel")))
    return (labels.join(neigh.hint("shuffle_hash"), "doc_id", "left")
                  .select("doc_id",
                          F.least(F.col("label"),
                                  F.coalesce("nlabel", F.col("label")))
                           .alias("label")))


def docs_dedup_clusters(spark: SparkSession, sf_dir: str,
                        max_iters: int = 5) -> DataFrame:
    """Near-duplicate clustering: connected components over the LSH
    candidate-pair graph (iterative label propagation — each doc takes
    the min label among itself and its neighbors until fixpoint).

    This is the step that turns pairwise near-dup detection into
    dedup *groups* (keep one canonical doc per cluster). Iterative like
    k-means: per iteration one join + one aggregation, nothing
    collected; max_iters bounds label-chain depth (pairs from mutant
    corpora are 1-hop, so this converges immediately; chains converge in
    O(log n) iterations with doubling, linear here).
    """
    labels = _cluster_labels(spark, sf_dir, max_iters)
    return (labels.groupBy("label")
                  .agg(F.count("*").alias("cluster_size"),
                       F.min("doc_id").alias("canonical_id"),
                       F.max("doc_id").alias("max_member_id")))


def docs_dedup_clusters_collapsed(spark: SparkSession, sf_dir: str,
                                  max_iters: int = 5,
                                  cap: int = PAIR_BUCKET_CAP) -> DataFrame:
    """Near-duplicate clustering with exact-duplicate SIGNATURE collapse
    before LSH banding — the duplication-heavy-corpus variant of
    docs_dedup_clusters, applying the representative discipline that
    fixed winnowing (round 8) and semdedup (round 9) to the third
    family member. Motivation measured at sf10: the member-grain pair
    graph is clique² in the duplicate multiplicity (123M candidate
    pairs on the ×100-replication fixture, SCALE.md round 9); identical
    documents have identical MinHash signatures, so banding them
    separately buys nothing — they pair with everything their
    representative pairs with.

    Semantics (the oracle mirrors this construction verbatim):
    (1) docs with IDENTICAL full signature vectors form a group,
    rep = min doc_id — group members are near-dups of each other by
    construction (equal signatures) and always cluster together, even
    where an over-cap band bucket would have dropped their pairwise
    edges in the member-grain pipeline; (2) banding, the bucket cap,
    candidate pairs, and the fixed 5-round min-label propagation all
    run at REP grain — pair work and propagation are bounded by
    DISTINCT content; (3) members inherit their rep's label (groups
    with no cross-group candidates keep label = rep). Label-chain
    DEPTH differs from the member-grain variant (collapsed cliques
    shorten paths), so this is a sibling definition, not a bit-equal
    rewrite — both rows stay registered, each against its own oracle.

    Scale: one window shuffle over the 8 signature columns for the
    collapse; everything after is the standard pipeline on ≤ distinct
    rows. On the ×100 fixture the rep graph has ~1/200th the nodes and
    ~1/40000th the candidate pairs of the member-grain graph."""
    sigs = _signatures_from_sh(_mutated_shingle_hashes(spark, sf_dir))
    sigcols = [f"sig{i}" for i in range(len(MINHASH_PERMS))]
    w = Window.partitionBy(*sigcols)
    mem = (sigs.select("doc_id", *sigcols)
               .withColumn("rep", F.min("doc_id").over(w))
               .localCheckpoint(eager=False))
    reps = mem.filter(F.col("doc_id") == F.col("rep"))
    bands = F.array(*[
        F.struct(F.lit(bi).alias("band_idx"),
                 F.md5(F.concat_ws(
                     "_", F.col(f"sig{a}").cast("string"),
                     F.col(f"sig{b}").cast("string"))).alias("band_key"))
        for bi, (a, b) in enumerate(LSH_BANDS)
    ])
    banded = (reps.select(F.col("rep").alias("doc_id"),
                          F.explode(bands).alias("bk"))
                  .select("doc_id", "bk.band_idx", "bk.band_key"))
    buckets = (_cap_buckets(banded, ["band_idx", "band_key"], "doc_id",
                            cap)
               .groupBy("band_idx", "band_key")
               .agg(F.collect_list("doc_id").alias("ids"))
               .filter(F.size("ids") > 1))
    pairs = (buckets.select(F.explode("ids").alias("doc_a"), "ids")
                    .select("doc_a", F.explode("ids").alias("doc_b"))
                    .filter(F.col("doc_a") < F.col("doc_b")).distinct())
    edges = (pairs.select(F.col("doc_a").alias("src"),
                          F.col("doc_b").alias("dst"))
                  .unionByName(pairs.select(
                      F.col("doc_b").alias("src"),
                      F.col("doc_a").alias("dst")))
                  .localCheckpoint(eager=False))
    nodes = edges.select(F.col("src").alias("rep_id")).distinct()
    labels = nodes.withColumn("label", F.col("rep_id"))
    for _ in range(max_iters):
        neigh = (edges.join(labels, edges.dst == labels.rep_id)
                      .groupBy(F.col("src").alias("rep_id"))
                      .agg(F.min("label").alias("nlabel")))
        labels = (labels.join(neigh, "rep_id", "left")
                        .select("rep_id",
                                F.least(F.col("label"),
                                        F.coalesce("nlabel", F.col("label")))
                                 .alias("label"))
                        .localCheckpoint(eager=False))
    out = (mem.select("doc_id", "rep")
              .join(labels, mem.rep == labels.rep_id, "left")
              .select("doc_id",
                      F.coalesce("label", F.col("rep")).alias("label")))
    return (out.groupBy("label")
               .agg(F.count(F.lit(1)).alias("cluster_size"),
                    F.min("doc_id").alias("canonical_id"),
                    F.max("doc_id").alias("max_member_id")))


def docs_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash over distinct token hashes, array-native.

    Bit j of the signature = sign of sum over tokens of (+1 if bit j of
    the token hash else -1). No shuffle at all — pure per-row transform."""
    d = scan_parallel(
        spark, table(spark, sf_dir, "documents").select("doc_id", "text"))
    th = F.array_distinct(F.transform(tokens(F.col("text")), h32))
    n = F.size(th)

    def bit_sum(j: int):
        # factory keeps the merge lambda binary — PySpark dispatches
        # higher-order lambdas on arity, so a captured-default third
        # parameter would break F.aggregate.
        return F.aggregate(
            th, F.lit(0).cast("long"),
            lambda acc, h: acc + (F.shiftright(h, j) % 2) * 2 - 1,
        ).alias(f"b{j}")

    bit_sums = [bit_sum(j) for j in range(16)]
    sim = d.select("doc_id", n.cast("long").alias("n_uniq_tokens"), *bit_sums)
    simhash = sum(
        (F.when(F.col(f"b{j}") >= 0, F.lit(1 << j)).otherwise(F.lit(0)))
        for j in range(16)
    )
    return sim.select("doc_id", "n_uniq_tokens",
                      simhash.cast("long").alias("simhash16"))


_BITSUM_SQL = ",\n".join(
    f"         list_sum(list_transform(th, h -> ((h >> {j}) & 1)*2 - 1)) AS b{j}"
    for j in range(16)
)

DOCS_SIMHASH_SQL = f"""
WITH th AS (
  SELECT doc_id,
         list_distinct(list_transform({TOKENS_SQL.format(col='text')},
             t -> ('0x'||substr(md5(t),1,8))::BIGINT)) AS th
  FROM documents
), bits AS (
  SELECT doc_id, len(th) AS n_uniq_tokens,
{_BITSUM_SQL}
  FROM th
)
SELECT doc_id, CAST(n_uniq_tokens AS BIGINT) AS n_uniq_tokens,
       CAST({' + '.join(f'(CASE WHEN b{j} >= 0 THEN {1 << j} ELSE 0 END)' for j in range(16))} AS BIGINT) AS simhash16
FROM bits
"""


def _label_prop_iter_sql(i: int) -> str:
    """One min-label propagation round as SQL (the exact join+agg the
    Spark loop in docs_dedup_clusters runs)."""
    prev = f"l{i - 1}"
    return f"""l{i} AS (
  SELECT l.doc_id,
         LEAST(l.label, COALESCE(MIN(r.label), l.label)) AS label
  FROM {prev} l
  LEFT JOIN edges e ON e.src = l.doc_id
  LEFT JOIN {prev} r ON r.doc_id = e.dst
  GROUP BY l.doc_id, l.label
)"""


# Shared CTE prefix ending at l5 = (doc_id, label): the LSH pair
# pipeline as a derived table, then the SAME fixed 5 rounds of min-label
# propagation unrolled as chained CTEs (propagation is idempotent at
# fixpoint, so equal iteration counts => equal labels).
_CLUSTERS_CTE_SQL = (
    "WITH pairs AS (" + DOCS_MINHASH_LSH_SQL + "),\n"
    "edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs\n"
    "          UNION ALL SELECT doc_b AS src, doc_a AS dst FROM pairs),\n"
    "nodes AS (SELECT DISTINCT src AS doc_id FROM edges),\n"
    "l0 AS (SELECT doc_id, doc_id AS label FROM nodes),\n"
    + ",\n".join(_label_prop_iter_sql(i) for i in range(1, 6)) + "\n"
)


_SIG_COL_LIST = ", ".join(f"sig{i}" for i in range(len(MINHASH_PERMS)))

DOCS_DEDUP_CLUSTERS_COLLAPSED_SQL = f"""
WITH sh AS ({_SHINGLES_SQL}),
sigs AS (
  SELECT doc_id,
""" + ",\n".join(
    f"         list_min(list_transform(sh, h -> (h*{a}+{b}) % {MINHASH_P})) AS sig{i}"
    for i, (a, b) in enumerate(MINHASH_PERMS)
) + f"""
  FROM sh
),
mem AS (
  SELECT doc_id, {_SIG_COL_LIST},
         MIN(doc_id) OVER (PARTITION BY {_SIG_COL_LIST}) AS rep
  FROM sigs
),
reps AS (SELECT rep AS doc_id, {_SIG_COL_LIST} FROM mem
         WHERE doc_id = rep),
banded AS (""" + " UNION ALL ".join(
    f"SELECT doc_id, {bi} AS band_idx, "
    f"md5(CAST(sig{a} AS VARCHAR) || '_' || CAST(sig{b} AS VARCHAR)) AS band_key "
    f"FROM reps"
    for bi, (a, b) in enumerate(LSH_BANDS)
) + f"""),
pairs AS (
  SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
  FROM banded l JOIN banded r
    ON l.band_idx = r.band_idx AND l.band_key = r.band_key
  WHERE l.doc_id < r.doc_id
),
edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
          UNION ALL SELECT doc_b AS src, doc_a AS dst FROM pairs),
nodes AS (SELECT DISTINCT src AS doc_id FROM edges),
l0 AS (SELECT doc_id, doc_id AS label FROM nodes),
""" + ",\n".join(_label_prop_iter_sql(i) for i in range(1, 6)) + """
SELECT COALESCE(l.label, m.rep) AS label,
       COUNT(*) AS cluster_size,
       MIN(m.doc_id) AS canonical_id,
       MAX(m.doc_id) AS max_member_id
FROM mem m LEFT JOIN l5 l ON l.doc_id = m.rep
GROUP BY 1
"""




DOCS_DEDUP_CLUSTERS_SQL = (
    _CLUSTERS_CTE_SQL
    + "SELECT label, COUNT(*) AS cluster_size,\n"
    "       MIN(doc_id) AS canonical_id, MAX(doc_id) AS max_member_id\n"
    "FROM l5 GROUP BY label"
)


def docs_minhash_jaccard_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash similarity ESTIMATION next to ground truth: for every LSH
    candidate pair, the signature-agreement estimate (matching slots / 8
    — the Broder estimator) alongside the exact shingle-set Jaccard.
    Both values are deterministic, so the driver hash-checks the
    estimator itself, not just a bound — closing the MinHash loop:
    signatures (docs_minhash_signatures) -> candidates
    (docs_minhash_lsh_pairs) -> estimation (here) -> exact verify
    (docs_ngram_jaccard_pairs).

    Scale: pairs are LSH-bounded; each pair costs one array_intersect
    over the two (distinct-hash) shingle arrays — no explode, no
    per-shingle shuffle for the verify step."""
    sh = _mutated_shingle_hashes(spark, sf_dir)
    sig_cols = [
        F.array_min(F.transform(
            F.col("sh"), lambda h: (h * F.lit(a) + F.lit(b)) % F.lit(MINHASH_P)
        )).alias(f"sig{i}")
        for i, (a, b) in enumerate(MINHASH_PERMS)
    ]
    enr = sh.select("doc_id", "sh", *sig_cols)
    pairs = docs_minhash_lsh_pairs(spark, sf_dir)
    a = enr.select(F.col("doc_id").alias("doc_a"),
                   F.col("sh").alias("a_sh"),
                   *[F.col(f"sig{i}").alias(f"a_sig{i}")
                     for i in range(len(MINHASH_PERMS))])
    b = enr.select(F.col("doc_id").alias("doc_b"),
                   F.col("sh").alias("b_sh"),
                   *[F.col(f"sig{i}").alias(f"b_sig{i}")
                     for i in range(len(MINHASH_PERMS))])
    j = pairs.join(a, "doc_a").join(b, "doc_b")
    matches = sum(
        F.when(F.col(f"a_sig{i}") == F.col(f"b_sig{i}"), 1).otherwise(0)
        for i in range(len(MINHASH_PERMS)))
    inter = F.size(F.array_intersect("a_sh", "b_sh"))
    uni = F.size(F.array_union("a_sh", "b_sh"))
    return j.select(
        "doc_a", "doc_b",
        (matches.cast("double") / F.lit(float(len(MINHASH_PERMS))))
        .alias("est_jaccard"),
        (inter.cast("double") / uni.cast("double")).alias("exact_jaccard"),
    )


_SIG_COLS_SQL = ",\n".join(
    f"         list_min(list_transform(sh, h -> (h*{a}+{b}) % {MINHASH_P})) AS sig{i}"
    for i, (a, b) in enumerate(MINHASH_PERMS))

_EST_SQL = " + ".join(
    f"CASE WHEN a.sig{i} = b.sig{i} THEN 1 ELSE 0 END"
    for i in range(len(MINHASH_PERMS)))

DOCS_MINHASH_JACCARD_EST_SQL = f"""
WITH sh AS ({_SHINGLES_SQL}),
enr AS (
  SELECT doc_id, sh,
{_SIG_COLS_SQL}
  FROM sh
),
sigs AS (SELECT * EXCLUDE (sh) FROM enr),
banded AS ({_BANDS_SQL}),
pairs AS (
  SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
  FROM banded l JOIN banded r
    ON l.band_idx = r.band_idx AND l.band_key = r.band_key
  WHERE l.doc_id < r.doc_id
)
SELECT p.doc_a, p.doc_b,
       CAST({_EST_SQL} AS DOUBLE) / {len(MINHASH_PERMS)}.0 AS est_jaccard,
       CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
         / CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS DOUBLE) AS exact_jaccard
FROM pairs p
JOIN enr a ON a.doc_id = p.doc_a
JOIN enr b ON b.doc_id = p.doc_b
"""


def docs_dedup_rate_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level dedup governance report (one row): how much of the
    mutated corpus is exact-duplicate, how much is near-duplicate, and
    the resulting kept-fraction — the summary a training-data pipeline
    publishes after its dedup stage (c4/RefinedWeb-style dedup-rate
    tables).

    Composes the family's shared stages: exact groups re-use the one
    md5 pass, near-dup pairs re-use the memoized LSH candidate set — so
    the report costs two small aggregations on top of work the session
    already did. Every ratio is ONE double division of exact counts."""
    d = mutated_corpus(spark, sf_dir)
    exact = (d.groupBy(F.md5("text").alias("h"))
              .agg(F.count(F.lit(1)).alias("n"))
              .agg(F.count(F.lit(1)).alias("n_groups"),
                   F.sum("n").alias("n_docs"),
                   F.sum(F.col("n") - 1).alias("n_exact_dups")))
    pairs = docs_minhash_lsh_pairs(spark, sf_dir)
    near = pairs.agg(F.count(F.lit(1)).alias("n_near_pairs"))
    near_docs = (pairs.select(F.col("doc_a").alias("doc_id"))
                      .unionByName(pairs.select(F.col("doc_b").alias("doc_id")))
                      .distinct().agg(F.count(F.lit(1)).alias("n_near_docs")))
    return (exact.crossJoin(F.broadcast(near))
                 .crossJoin(F.broadcast(near_docs))
                 .select("n_docs", "n_groups", "n_exact_dups",
                         "n_near_pairs", "n_near_docs",
                         (F.col("n_exact_dups").cast("double")
                          / F.col("n_docs").cast("double")).alias("exact_dup_rate"),
                         (F.col("n_near_docs").cast("double")
                          / F.col("n_docs").cast("double")).alias("near_dup_rate")))


DOCS_DEDUP_RATE_SQL = f"""
WITH corpus AS ({_MUTATED_SQL}),
exact AS (
  SELECT COUNT(*) AS n_groups, SUM(n) AS n_docs, SUM(n - 1) AS n_exact_dups
  FROM (SELECT md5(text) AS h, COUNT(*) AS n FROM corpus GROUP BY 1)
),
sh AS ({_SHINGLES_SQL}),
sigs AS (
  SELECT doc_id,
{_SIG_COLS_SQL}
  FROM sh
),
banded AS ({_BANDS_SQL}),
pairs AS (
  SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
  FROM banded l JOIN banded r
    ON l.band_idx = r.band_idx AND l.band_key = r.band_key
  WHERE l.doc_id < r.doc_id
),
near AS (SELECT COUNT(*) AS n_near_pairs FROM pairs),
near_docs AS (
  SELECT COUNT(*) AS n_near_docs FROM (
    SELECT DISTINCT doc_id FROM (
      SELECT doc_a AS doc_id FROM pairs
      UNION ALL SELECT doc_b AS doc_id FROM pairs))
)
SELECT CAST(e.n_docs AS BIGINT) AS n_docs, e.n_groups,
       CAST(e.n_exact_dups AS BIGINT) AS n_exact_dups,
       n.n_near_pairs, nd.n_near_docs,
       CAST(e.n_exact_dups AS DOUBLE) / CAST(e.n_docs AS DOUBLE) AS exact_dup_rate,
       CAST(nd.n_near_docs AS DOUBLE) / CAST(e.n_docs AS DOUBLE) AS near_dup_rate
FROM exact e, near n, near_docs nd
"""


CHUNK_TOKENS = 10


def docs_chunk_dedup(spark: SparkSession, sf_dir: str,
                     chunk: int = CHUNK_TOKENS) -> DataFrame:
    """Chunk-level (line/paragraph) deduplication stats — the CCNet /
    RefinedWeb pass that removes boilerplate shared ACROSS documents
    rather than whole-document duplicates: split each doc into disjoint
    ``chunk``-token windows, hash each window, count how many distinct
    docs contain each hash, and report per-doc how much text survives
    dropping chunks seen in more than one doc. (The driver corpus has no
    newlines, so the "line" unit is a fixed token window; with real text
    the splitter would be ``split(text, '\\n')`` and nothing else
    changes.)

    Scale shape: chunk hashing is map-side (array ops on each row, no
    explode of raw text); the frequency count shuffles (chunk_hash,
    doc_id) once and the group-then-emit pattern (see _build_lsh_pairs)
    avoids a second evaluation of the chunk pipeline; the per-doc rollup
    shuffles one small row per chunk. Two shuffles total, both on
    8-byte keys — at 100 TB this is exactly the two-pass line-dedup
    MapReduce CCNet describes.
    """
    d = scan_parallel(spark, mutated_corpus(spark, sf_dir))
    base = (d.select("doc_id", tokens(F.col("text")).alias("toks"))
             .select("doc_id", "toks", F.size("toks").alias("n")))
    nch = F.ceil(F.col("n").cast("double") / chunk).cast("int")
    idx = F.sequence(F.lit(0), F.greatest(nch - 1, F.lit(0)))
    chunks = F.transform(idx, lambda i: F.struct(
        h32(F.array_join(F.slice(F.col("toks"), i * chunk + 1, chunk), " "))
        .alias("h"),
        F.least(F.lit(chunk), F.col("n") - i * chunk).cast("long")
        .alias("clen")))
    ex = (base.select("doc_id", F.explode(chunks).alias("c"))
              .select("doc_id", F.col("c.h").alias("h"),
                      F.col("c.clen").alias("clen")))
    # "Seen in more than one doc" needs no per-hash array at all:
    # min(doc_id) != max(doc_id) over a window partitioned by the chunk
    # hash. WindowExec buffers each key run with spill — bounded
    # executor memory even on a degenerate hash (a boilerplate chunk
    # shared by millions of docs), where a collect_list bucket would be
    # an unbounded single array. Same single evaluation of the chunk
    # pipeline, same one shuffle on the 8-byte hash.
    hw = Window.partitionBy("h")
    back = ex.withColumn(
        "dup", F.min("doc_id").over(hw) != F.max("doc_id").over(hw))
    return (back.groupBy("doc_id")
                .agg(F.count(F.lit(1)).alias("n_chunks"),
                     F.sum(F.col("dup").cast("long")).alias("n_dup_chunks"),
                     F.sum("clen").alias("n_tokens"),
                     F.sum(F.when(~F.col("dup"), F.col("clen"))
                           .otherwise(F.lit(0))).alias("n_retained_tokens"))
                .withColumn("dup_chunk_ratio",
                            F.col("n_dup_chunks").cast("double")
                            / F.col("n_chunks").cast("double")))


def _chunk_dedup_sql(chunk: int = CHUNK_TOKENS) -> str:
    """DuckDB twin of docs_chunk_dedup, parameterized by the same
    ``chunk`` window so non-default calls keep the parity contract."""
    return f"""
WITH corpus AS ({_MUTATED_SQL}),
t AS (
  SELECT doc_id, toks, len(toks) AS n
  FROM (SELECT doc_id, {TOKENS_SQL.format(col='text')} AS toks FROM corpus)
),
idx AS (
  SELECT doc_id, toks, n,
         unnest(generate_series(0,
             greatest(CAST(ceil(n / {chunk}.0) AS INT) - 1, 0))) AS i
  FROM t
),
ch AS (
  SELECT doc_id,
         ('0x' || substr(md5(array_to_string(
             list_slice(toks, i*{chunk}+1, i*{chunk}+{chunk}),
             ' ')), 1, 8))::BIGINT AS h,
         CAST(least({chunk}, n - i*{chunk}) AS BIGINT) AS clen
  FROM idx
),
freq AS (SELECT h, COUNT(DISTINCT doc_id) AS ndocs FROM ch GROUP BY h)
SELECT ch.doc_id,
       COUNT(*) AS n_chunks,
       CAST(SUM(CASE WHEN f.ndocs > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks,
       CAST(SUM(clen) AS BIGINT) AS n_tokens,
       CAST(SUM(CASE WHEN f.ndocs > 1 THEN 0 ELSE clen END) AS BIGINT) AS n_retained_tokens,
       CAST(SUM(CASE WHEN f.ndocs > 1 THEN 1 ELSE 0 END) AS DOUBLE)
         / CAST(COUNT(*) AS DOUBLE) AS dup_chunk_ratio
FROM ch JOIN freq f USING (h)
GROUP BY ch.doc_id
"""


DOCS_CHUNK_DEDUP_SQL = _chunk_dedup_sql()


SIMHASH_BITS = 60
SIMHASH_BAND_BITS = 15
SIMHASH_MAX_HAMMING = 3


def _h60(col):
    """60-bit md5-prefix hash (15 hex digits) — positive in int64.

    DuckDB twin: ('0x' || substr(md5(x), 1, 15))::BIGINT.
    """
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def _simhash_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, sh, band_idx, band_key) — 60-bit shingle-feature SimHash
    fingerprints banded into 4 x 15-bit keys; shared by the Hamming-pair
    generator and dedup_bucket_overflow_report. Memoized: the 60
    bit-sum aggregates per doc are the family's most expensive stage
    (~5 s at sf0.1), so consumers must read one materialization."""
    return _memoized(spark, sf_dir, "simhash_banded",
                     lambda: _build_simhash_banded(spark, sf_dir))


def _build_simhash_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    sh = _mutated_shingle_hashes(spark, sf_dir)
    base = sh.select(
        "doc_id",
        F.transform("sh", lambda h: _h60(h.cast("string"))).alias("th"))

    def bit_sum(j: int):
        return F.aggregate(
            F.col("th"), F.lit(0).cast("long"),
            lambda acc, h: acc + (F.shiftright(h, j) % 2) * 2 - 1,
        ).alias(f"b{j}")

    sim = base.select("doc_id", *[bit_sum(j) for j in range(SIMHASH_BITS)])
    fp = sum((F.when(F.col(f"b{j}") >= 0, F.lit(1 << j)).otherwise(F.lit(0)))
             for j in range(SIMHASH_BITS))
    fps = sim.select("doc_id", fp.cast("long").alias("sh"))
    bands = F.array(*[
        F.struct(F.lit(b).alias("band_idx"),
                 (F.shiftright(F.col("sh"), b * SIMHASH_BAND_BITS)
                  % F.lit(1 << SIMHASH_BAND_BITS)).alias("band_key"))
        for b in range(SIMHASH_BITS // SIMHASH_BAND_BITS)])
    return fps.select("doc_id", "sh", F.explode(bands).alias("bk")).select(
        "doc_id", "sh", "bk.band_idx", "bk.band_key")


def docs_simhash_hamming_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup PAIRS: 60-bit shingle-feature SimHash per doc on
    the mutated corpus, banded into 4 x 15-bit keys for candidate
    generation, verified with an exact Hamming-distance filter (<= 3).

    EXACT by pigeonhole: any pair within Hamming distance 3 of a 60-bit
    fingerprint differs in at most 3 of the 4 bands, so at least one
    band matches — banding loses nothing, and the oracle (same banding)
    is provably the full hamming<=3 pair set. (Exactness holds while no
    band bucket exceeds PAIR_BUCKET_CAP — never at driver scale factors;
    over-cap buckets are bounded and reported, see
    dedup_bucket_overflow_report.)

    Features are the 3-gram shingle hashes (the memoized family stage),
    re-hashed to 60 bits — shingle sets have far higher entropy than
    unigram token sets on a small vocabulary, so fingerprints of
    unrelated docs spread out while a mutant (one dropped shingle)
    stays within a few bits of its source.

    Scale shape: the fingerprint is a per-row array pass (no shuffle);
    candidates shuffle 4 short (band, key15) rows per doc and pair up
    inside buckets (group-then-pair, quadratic only in bucket size,
    which 2^15 keys keep tiny); the verify is one integer XOR+popcount
    per candidate. This is the billion-doc SimHash layout from Manku et
    al.'s web-dedup paper, expressed relationally.
    """
    banded = _simhash_banded(spark, sf_dir)
    # Degenerate-bucket guard, same as the MinHash band stage: bound the
    # bucket BEFORE collecting it (see PAIR_BUCKET_CAP).
    capped = _cap_buckets(banded, ["band_idx", "band_key"], "doc_id",
                          PAIR_BUCKET_CAP)
    buckets = (capped.groupBy("band_idx", "band_key")
                     .agg(F.collect_list(F.struct("doc_id", "sh")).alias("ds"))
                     .filter(F.size("ds") > 1))
    pairs = (buckets.select(F.explode("ds").alias("a"), "ds")
                    .select("a", F.explode("ds").alias("b"))
                    .filter(F.col("a.doc_id") < F.col("b.doc_id"))
                    .select(F.col("a.doc_id").alias("doc_a"),
                            F.col("b.doc_id").alias("doc_b"),
                            F.col("a.sh").alias("sh_a"),
                            F.col("b.sh").alias("sh_b"))
                    .distinct())
    ham = F.bit_count(F.expr("sh_a ^ sh_b")).cast("long")
    return (pairs.withColumn("hamming", ham)
                 .filter(F.col("hamming") <= SIMHASH_MAX_HAMMING)
                 .select("doc_a", "doc_b", "hamming"))


_BITSUM60_SQL = ",\n".join(
    f"         list_sum(list_transform(th, h -> ((h >> {j}) & 1)*2 - 1)) AS b{j}"
    for j in range(SIMHASH_BITS))

_FP60_SQL = " + ".join(
    f"(CASE WHEN b{j} >= 0 THEN {1 << j} ELSE 0 END)"
    for j in range(SIMHASH_BITS))

_BANDS60_SQL = " UNION ALL ".join(
    f"SELECT doc_id, sh, {b} AS band_idx, "
    f"(sh >> {b * SIMHASH_BAND_BITS}) % {1 << SIMHASH_BAND_BITS} AS band_key "
    f"FROM fps"
    for b in range(SIMHASH_BITS // SIMHASH_BAND_BITS))

# Fingerprint-CTE prefix ending at the `fps` CTE — referenced directly
# by tests (append a SELECT over `fps`) so the full query text below can
# be reformatted freely.
SIMHASH_FPS_CTE_SQL = f"""
WITH sh AS ({_SHINGLES_SQL}),
th AS (
  SELECT doc_id,
         list_transform(sh,
             h -> ('0x'||substr(md5(CAST(h AS VARCHAR)),1,15))::BIGINT) AS th
  FROM sh
), bits AS (
  SELECT doc_id,
{_BITSUM60_SQL}
  FROM th
), fps AS (
  SELECT doc_id, CAST({_FP60_SQL} AS BIGINT) AS sh FROM bits
)"""

DOCS_SIMHASH_HAMMING_SQL = f"""{SIMHASH_FPS_CTE_SQL}, banded AS ({_BANDS60_SQL}),
pairs AS (
  SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b,
         l.sh AS sh_a, r.sh AS sh_b
  FROM banded l JOIN banded r
    ON l.band_idx = r.band_idx AND l.band_key = r.band_key
  WHERE l.doc_id < r.doc_id
)
SELECT doc_a, doc_b, CAST(bit_count(xor(sh_a, sh_b)) AS BIGINT) AS hamming
FROM pairs
WHERE bit_count(xor(sh_a, sh_b)) <= {SIMHASH_MAX_HAMMING}
"""


def _simhash_rep_bands(reps: DataFrame) -> DataFrame:
    """(rep, sh, band_idx, band_key) from a rep-grain (rep, sh) frame —
    the 4×15-bit band slices are pure bit arithmetic on the
    fingerprint, so the store never persists bands."""
    bands = F.array(*[
        F.struct(F.lit(b).alias("band_idx"),
                 (F.shiftright(F.col("sh"), b * SIMHASH_BAND_BITS)
                  % F.lit(1 << SIMHASH_BAND_BITS)).alias("band_key"))
        for b in range(SIMHASH_BITS // SIMHASH_BAND_BITS)])
    return reps.select("rep", "sh", F.explode(bands).alias("bk")).select(
        "rep", "sh", "bk.band_idx", "bk.band_key")


def simhash_store(spark: SparkSession, sf_dir: str) -> tuple:
    """The persisted SimHash index of the already-ingested corpus, at
    REPRESENTATIVE grain: (members, reps) with members = (doc_id, rep)
    and reps = (rep, sh) — one row per DISTINCT 60-bit fingerprint
    (the fourth member of the incremental store family: md5 exact /
    MinHash-LSH / winnowing / SimHash). The collapse is exact for
    EVERYTHING downstream because both the band keys and the Hamming
    verify are functions of sh alone: equal fingerprints share every
    bucket and every distance. All-int columns — parquet round-trips
    bit-exactly via save/load_simhash_store."""
    key = (spark.sparkContext.applicationId, sf_dir, "simhash_store_rep")
    hit = _DEDUP_STAGE_CACHE.get(key)
    if hit is None:
        fps = (_simhash_banded(spark, sf_dir)
               .filter((F.col("doc_id") < 1000000)
                       & (F.col("band_idx") == 0))
               .select("doc_id", "sh"))
        mem = (fps.withColumn("rep", F.min("doc_id").over(
                   Window.partitionBy("sh")))
                  .localCheckpoint(eager=False))
        hit = (mem.select("doc_id", "rep"),
               mem.filter(F.col("doc_id") == F.col("rep"))
                  .select("rep", "sh"))
        _DEDUP_STAGE_CACHE[key] = hit
    return hit


def save_simhash_store(store: tuple, path: str) -> None:
    members, reps = store
    members.write.mode("overwrite").parquet(path + "/members")
    reps.write.mode("overwrite").parquet(path + "/reps")


def load_simhash_store(spark: SparkSession, path: str) -> tuple:
    return (spark.read.parquet(path + "/members").select("doc_id", "rep"),
            spark.read.parquet(path + "/reps").select("rep", "sh"))


def docs_incremental_simhash_pairs(spark: SparkSession, sf_dir: str,
                                   store: tuple | None = None,
                                   cap: int = PAIR_BUCKET_CAP
                                   ) -> DataFrame:
    """Incremental SimHash near-dup pairs: the NEW batch (mutant half)
    probes the persisted fingerprint store — old×old never
    materializes, nothing of the old corpus is re-hashed, and (the
    SimHash twin of round-10's rep-grain LSH probe) the bucket pass,
    cap, pair-distinct, and Hamming verify all run on DISTINCT
    fingerprints; member pairs expand arithmetically afterwards, each
    emitted exactly once. Pigeonhole exactness is inherited unchanged:
    equal fingerprints have equal band slices, so rep buckets ARE
    member buckets. Cross-group pairs carry hamming(sh_a, sh_b) —
    identical for every member of the groups — and within-batch-group
    pairs are hamming 0 by construction. Oracle: the one-shot banded
    Hamming≤3 pair set restricted to pairs touching the batch
    (doc_b >= 1e6), proving incremental == full."""
    if store is None:
        store = simhash_store(spark, sf_dir)
    store_members, store_reps = store
    bfps = (_simhash_banded(spark, sf_dir)
            .filter((F.col("doc_id") >= 1000000)
                    & (F.col("band_idx") == 0))
            .select("doc_id", "sh"))
    bmem = (bfps.withColumn("rep", F.min("doc_id").over(
                Window.partitionBy("sh")))
                .localCheckpoint(eager=False))
    batch_members = bmem.select("doc_id", "rep")
    batch_reps = (bmem.filter(F.col("doc_id") == F.col("rep"))
                      .select("rep", "sh"))
    flagged = (_simhash_rep_bands(store_reps)
               .withColumn("is_new", F.lit(False))
               .unionByName(_simhash_rep_bands(batch_reps)
                            .withColumn("is_new", F.lit(True))))
    buckets = (
        _cap_buckets(flagged, ["band_idx", "band_key"], "rep", cap)
        .groupBy("band_idx", "band_key")
        .agg(F.collect_list(F.when(~F.col("is_new"),
                                   F.struct("rep", "sh"))).alias("old"),
             F.collect_list(F.when(F.col("is_new"),
                                   F.struct("rep", "sh"))).alias("new"))
        .filter((F.size("new") > 0) & (F.size("old") + F.size("new") > 1))
    )
    rep_pairs = (
        buckets.select(F.explode("new").alias("n"),
                       F.concat("old", "new").alias("cands"))
               .select("n", F.explode("cands").alias("m"))
               .filter(F.col("n.rep") != F.col("m.rep"))
               .select(F.least("n.rep", "m.rep").alias("pa"),
                       F.greatest("n.rep", "m.rep").alias("pb"),
                       F.bit_count(F.expr("n.sh ^ m.sh")).cast("long")
                        .alias("hamming"))
               .filter(F.col("hamming") <= SIMHASH_MAX_HAMMING)
               .distinct()
    )
    members = store_members.unionByName(batch_members)
    cross = (
        members.select(F.col("rep").alias("pa"), F.col("doc_id").alias("da"))
               .join(F.broadcast(rep_pairs), "pa")
               .join(members.select(F.col("rep").alias("pb"),
                                    F.col("doc_id").alias("db")), "pb")
               .select(F.least("da", "db").alias("doc_a"),
                       F.greatest("da", "db").alias("doc_b"), "hamming")
    )
    m1, m2 = batch_members.alias("m1"), batch_members.alias("m2")
    within = (m1.join(m2, (F.col("m1.rep") == F.col("m2.rep"))
                          & (F.col("m1.doc_id") < F.col("m2.doc_id")))
                .select(F.col("m1.doc_id").alias("doc_a"),
                        F.col("m2.doc_id").alias("doc_b"),
                        F.lit(0).cast("long").alias("hamming")))
    return cross.unionByName(within)


DOCS_INCREMENTAL_SIMHASH_SQL = DOCS_SIMHASH_HAMMING_SQL.replace(
    "WHERE l.doc_id < r.doc_id",
    "WHERE l.doc_id < r.doc_id AND r.doc_id >= 1000000")
assert "1000000" in DOCS_INCREMENTAL_SIMHASH_SQL


def dedup_bucket_overflow_report(spark: SparkSession, sf_dir: str,
                                 cap: int = PAIR_BUCKET_CAP) -> DataFrame:
    """Observability for the PAIR_BUCKET_CAP guard (no-silent-caps): one
    row per capped pair-generation path with the bucket count, the
    largest bucket, how many buckets exceed the cap, and how many bucket
    members the cap would drop (band paths truncate to the cap;
    shingle-blocking drops over-cap buckets whole). At driver scale
    factors every n_over_cap/n_dropped_members is 0 — the proof that the
    capped pair queries equal their uncapped oracles — while n_buckets/
    max_bucket are real corpus statistics. At 100 TB this is the health
    report a pipeline operator watches for boilerplate explosions.

    Scale shape: three partial-aggregable count passes over the memoized
    banding stages; each path's rollup is a one-row aggregate."""
    def path_stats(df: DataFrame, keys: list, path: str,
                   drop_whole: bool) -> DataFrame:
        sizes = df.groupBy(*keys).agg(F.count(F.lit(1)).alias("c"))
        over = F.col("c") > cap
        dropped = F.when(
            over, F.col("c") if drop_whole else F.col("c") - cap
        ).otherwise(F.lit(0))
        return sizes.agg(
            F.count(F.lit(1)).alias("n_buckets"),
            F.max("c").alias("max_bucket"),
            F.sum(over.cast("long")).alias("n_over_cap"),
            F.sum(dropped).alias("n_dropped_members"),
        ).select(F.lit(path).alias("path"), "n_buckets", "max_bucket",
                 "n_over_cap", "n_dropped_members")

    sh_ex = _mutated_shingle_hashes(spark, sf_dir).select(
        "doc_id", F.explode("sh").alias("h"))
    return (
        path_stats(_lsh_banded(spark, sf_dir), ["band_idx", "band_key"],
                   "minhash_lsh_bands", False)
        .unionByName(path_stats(sh_ex, ["h"],
                                "jaccard_shingle_blocks", True))
        .unionByName(path_stats(_simhash_banded(spark, sf_dir),
                                ["band_idx", "band_key"],
                                "simhash_bands", False))
    )


_SIGS_SELECT_SQL = ",\n".join(
    f"         list_min(list_transform(sh, h -> (h*{a}+{b}) % {MINHASH_P})) AS sig{i}"
    for i, (a, b) in enumerate(MINHASH_PERMS))

_OVERFLOW_PATH_SQL = """
SELECT '{path}' AS path, COUNT(*) AS n_buckets,
       CAST(MAX(c) AS BIGINT) AS max_bucket,
       CAST(SUM(CASE WHEN c > {cap} THEN 1 ELSE 0 END) AS BIGINT) AS n_over_cap,
       CAST(SUM(CASE WHEN c > {cap} THEN {dropped} ELSE 0 END) AS BIGINT)
         AS n_dropped_members
FROM {sizes}"""

DEDUP_BUCKET_OVERFLOW_SQL = f"""
WITH sh AS ({_SHINGLES_SQL}),
sigs AS (
  SELECT doc_id,
{_SIGS_SELECT_SQL}
  FROM sh
),
banded AS ({_BANDS_SQL}),
lsh_sz AS (SELECT COUNT(*) AS c FROM banded GROUP BY band_idx, band_key),
ex AS (SELECT doc_id, unnest(sh) AS h FROM sh),
sh_sz AS (SELECT COUNT(*) AS c FROM ex GROUP BY h),
th AS (
  SELECT doc_id,
         list_transform(sh,
             h -> ('0x'||substr(md5(CAST(h AS VARCHAR)),1,15))::BIGINT) AS th
  FROM sh
), bits AS (
  SELECT doc_id,
{_BITSUM60_SQL}
  FROM th
), fps AS (
  SELECT doc_id, CAST({_FP60_SQL} AS BIGINT) AS sh FROM bits
), banded60 AS ({_BANDS60_SQL}),
sim_sz AS (SELECT COUNT(*) AS c FROM banded60 GROUP BY band_idx, band_key)
{_OVERFLOW_PATH_SQL.format(path="minhash_lsh_bands", cap=PAIR_BUCKET_CAP,
                           dropped=f"c - {PAIR_BUCKET_CAP}", sizes="lsh_sz")}
UNION ALL
{_OVERFLOW_PATH_SQL.format(path="jaccard_shingle_blocks",
                           cap=PAIR_BUCKET_CAP, dropped="c", sizes="sh_sz")}
UNION ALL
{_OVERFLOW_PATH_SQL.format(path="simhash_bands", cap=PAIR_BUCKET_CAP,
                           dropped=f"c - {PAIR_BUCKET_CAP}", sizes="sim_sz")}
"""


def _rep_candidate_pairs(reps: DataFrame) -> DataFrame:
    """(a, b) UNCAPPED candidate pairs over a rep-grain signature frame
    — LSH banding + group-then-pair at representative grain, shared by
    docs_dedup_routing_report and docs_incremental_cluster_fold. No
    _cap_buckets: rep-grain buckets hold DISTINCT signature vectors
    under md5-128 band keys (no accidental collisions), so bucket
    sizes are small by construction — and both consumers' oracles are
    uncapped, so the Spark side must be too. 'Small by construction'
    is not GUARANTEED (bands collide similar-but-distinct signatures
    by design), so a REP_BUCKET_GUARD assert fails loudly in-plan
    before the k² explode instead of OOMing on a degenerate corpus;
    it drops nothing (assert_true returns NULL on pass)."""
    buckets = (
        _rep_bands(reps)
        .groupBy("band_idx", "band_key")
        .agg(F.collect_list("rep").alias("ids"))
        .filter(F.size("ids") > 1)
        .filter(F.assert_true(
            F.size("ids") <= F.lit(REP_BUCKET_GUARD),
            F.concat(F.lit("rep-grain LSH bucket over guard "
                           f"({REP_BUCKET_GUARD}): band_idx="),
                     F.col("band_idx").cast("string"),
                     F.lit(" size="),
                     F.size("ids").cast("string"),
                     F.lit(" — k^2 pair explode would OOM; raise "
                           "REP_BUCKET_GUARD deliberately or route "
                           "via docs_dedup_routing_report"))).isNull())
    )
    return (
        buckets.select(F.explode("ids").alias("a"), "ids")
               .select("a", F.explode("ids").alias("b"))
               .filter(F.col("a") < F.col("b"))
               .distinct()
    )


def docs_dedup_routing_report(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """The MEMBER-vs-REP routing side channel (round-11, the
    dedup_bucket_overflow_report pattern): one row comparing the
    member-grain LSH candidate-pair graph (what docs_dedup_clusters
    propagates over — clique² in duplicate multiplicity, 123M pairs /
    216s at sf10) against the signature-collapsed rep-grain graph (what
    docs_dedup_clusters_collapsed propagates over — 7.96s at sf10).
    ``pair_expansion_q`` (×1e6 member/rep pair ratio) is the routing
    number a pipeline operator reads: near 1e6 ⇒ member grain is fine;
    orders of magnitude above ⇒ route to the collapsed row, the
    designated 100× path (README routing note). No-silent-caps: the
    report names the cost instead of letting the slow row time out.

    Scale shape: reuses the memoized banding/pair stages; the rep-grain
    side is one window collapse + rep-grain banding; output is four
    1-row aggregates cross-joined (broadcast-scalar shape).

    NO _cap_buckets on the rep side (ADVICE r11): the oracle's rpairs
    CTE is uncapped, and for a 1-row ROUTING diagnostic the true
    rep-pair count is the number wanted — a cap would hide exactly the
    expansion being measured. Rep-grain buckets hold DISTINCT
    signature vectors (md5-128 band keys, no accidental collisions),
    so bucket sizes are small by construction and the uncapped
    group-then-pair stays bounded where the member grain would not."""
    member_pairs = docs_minhash_lsh_pairs(spark, sf_dir)
    sigs = _signatures_from_sh(_mutated_shingle_hashes(spark, sf_dir))
    mem = _sig_collapsed(sigs)
    reps = mem.filter(F.col("doc_id") == F.col("rep"))
    rep_pairs = _rep_candidate_pairs(reps)
    out = (sigs.agg(F.count(F.lit(1)).alias("n_docs"))
           .crossJoin(reps.agg(F.count(F.lit(1)).alias("n_reps")))
           .crossJoin(member_pairs.agg(
               F.count(F.lit(1)).alias("member_candidate_pairs")))
           .crossJoin(rep_pairs.agg(
               F.count(F.lit(1)).alias("rep_candidate_pairs"))))
    return out.select(
        "n_docs", "n_reps", "member_candidate_pairs",
        "rep_candidate_pairs",
        F.when(F.col("rep_candidate_pairs") == 0, F.lit(None))
         .otherwise(F.expr("(1000000 * member_candidate_pairs)"
                           " div rep_candidate_pairs"))
         .cast("long").alias("pair_expansion_q"))


_REP_BANDS_SQL = " UNION ALL ".join(
    f"SELECT rep, {bi} AS band_idx, "
    f"md5(CAST(sig{a} AS VARCHAR) || '_' || CAST(sig{b} AS VARCHAR))"
    f" AS band_key FROM repsigs"
    for bi, (a, b) in enumerate(LSH_BANDS)
)

DOCS_DEDUP_ROUTING_SQL = f"""
WITH sh AS ({_SHINGLES_SQL}),
sigs AS (
  SELECT doc_id,
{_SIGS_SELECT_SQL}
  FROM sh
),
banded AS ({_BANDS_SQL}),
mpairs AS (
  SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
  FROM banded l JOIN banded r
    ON l.band_idx = r.band_idx AND l.band_key = r.band_key
  WHERE l.doc_id < r.doc_id
),
repsigs AS (
  SELECT {", ".join(f"sig{i}" for i in range(len(MINHASH_PERMS)))},
         MIN(doc_id) AS rep
  FROM sigs
  GROUP BY {", ".join(f"sig{i}" for i in range(len(MINHASH_PERMS)))}
),
rbanded AS ({_REP_BANDS_SQL}),
rpairs AS (
  SELECT DISTINCT l.rep AS a, r.rep AS b
  FROM rbanded l JOIN rbanded r
    ON l.band_idx = r.band_idx AND l.band_key = r.band_key
  WHERE l.rep < r.rep
)
SELECT (SELECT COUNT(*) FROM sigs) AS n_docs,
       (SELECT COUNT(*) FROM repsigs) AS n_reps,
       (SELECT COUNT(*) FROM mpairs) AS member_candidate_pairs,
       (SELECT COUNT(*) FROM rpairs) AS rep_candidate_pairs,
       CASE WHEN (SELECT COUNT(*) FROM rpairs) = 0 THEN NULL
            ELSE (1000000 * (SELECT COUNT(*) FROM mpairs))
                 // (SELECT COUNT(*) FROM rpairs) END AS pair_expansion_q
"""


def _label_union_find(edges: list) -> dict:
    """Min-wins union-find over a label-grain edge list: returns
    {label -> component minimum} for every label that MOVES (identity
    mappings omitted). Union by value (smaller label becomes the
    root), with path compression — the root of a component is always
    its minimum label, which is what keeps incremental labels equal to
    the one-shot min-id-per-component convention."""
    parent: dict = {}

    def find(x):
        r = x
        while parent.get(r, r) != r:
            r = parent[r]
        while parent.get(x, x) != x:
            parent[x], x = r, parent[x]
        return r

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: r for x in list(parent) if (r := find(x)) != x}


MAX_LABEL_EDGES = 1_000_000


def merge_cluster_labels(labels: DataFrame | None,
                         delta_pairs: DataFrame,
                         max_label_edges: int = MAX_LABEL_EDGES
                         ) -> DataFrame:
    """Incremental connected-component maintenance (round 12 — the
    streaming triad's natural next operator: the index sinks emit
    verified pairs continuously, but cluster labels were batch-only,
    so a crawl loop re-clustered from scratch every cycle): fold ONE
    batch of rep-grain candidate pairs (a, b) into a persisted
    (rep, label) store, label = min rep of the component, without
    touching historical pairs.

    Per batch: (1) resolve the delta endpoints' CURRENT labels — new
    endpoints provisionally label themselves; (2) contract the delta
    to LABEL grain (≤ |delta| edges after distinct) and union-find it
    driver-side — the classic incremental-CC split: member-grain work
    stays distributed, while the merge decisions ride a delta-bounded
    edge list (guarded by ``max_label_edges``; a batch that exceeds it
    raises rather than silently collecting unbounded state); (3) apply
    the resulting {old label -> new label} remap as one broadcast join
    over the node-grain store plus the batch's new rows.

    Cost shape: O(delta) shuffled + one NARROW store scan (two int64
    columns) per batch — never O(pairs), never an iterative
    propagation loop over history. The union-find sees only labels
    touched by this delta; components merged long ago never resurface.
    Equality law (pinned by docs_incremental_cluster_fold and its
    recursive-CTE oracle): folding ANY partition of the pair set, in
    any batch order, yields the one-shot true-connected-components
    labels — min-label merging is confluent."""
    store, _, _ = _cluster_label_step(labels, delta_pairs,
                                      max_label_edges)
    return store


def _cluster_label_step(labels: DataFrame | None,
                        delta_pairs: DataFrame,
                        max_label_edges: int = MAX_LABEL_EDGES
                        ) -> tuple:
    """merge_cluster_labels' kernel, returning the parts a DERIVED
    per-cluster store needs alongside the new label store (round 13 —
    keeper maintenance): (new_labels, remap, new_rows) where ``remap``
    is the (label, new_label) frame of the {old label -> new label}
    map this batch's union-find decided (None when no components
    merged) and ``new_rows`` is the (rep, label) frame of endpoints
    first seen in this batch, with their FINAL (post-remap) labels.

    The remap frame is built ONCE, from a pyarrow table
    (catalog.driver_frame): a JVM-local relation, so every broadcast
    of it — the label store's, the new rows' and the keeper store's —
    runs no Python worker task and no job of its own, where a frame
    built from the Python list makes each of them a ``parallelize``
    job of Python tasks."""
    ends = (delta_pairs.select(F.col("a").alias("rep"))
                       .unionByName(delta_pairs.select(
                           F.col("b").alias("rep")))
                       .distinct())
    if labels is None:
        labels = ends.limit(0).withColumn("label", F.col("rep"))
    cur = (ends.join(labels, "rep", "left")
               .select("rep",
                       F.coalesce("label", F.col("rep")).alias("label")))
    ledges = (delta_pairs
              .join(cur.select(F.col("rep").alias("a"),
                               F.col("label").alias("la")), "a")
              .join(cur.select(F.col("rep").alias("b"),
                               F.col("label").alias("lb")), "b")
              .filter(F.col("la") != F.col("lb"))
              .select("la", "lb").distinct())
    rows = ledges.limit(max_label_edges + 1).collect()
    if len(rows) > max_label_edges:
        raise ValueError(
            f"label-grain delta exceeds max_label_edges="
            f"{max_label_edges}; split the batch or raise the guard")
    remap = _label_union_find([(r.la, r.lb) for r in rows])
    new_rows = (ends.join(labels.select("rep"), "rep", "left_anti")
                    .select("rep", F.col("rep").alias("label")))
    if not remap:
        return labels.unionByName(new_rows), None, new_rows
    rm = F.broadcast(driver_frame(delta_pairs.sparkSession,
                                  list(remap.items()),
                                  "label long, new_label long"))

    def apply(df: DataFrame) -> DataFrame:
        return (df.join(rm, "label", "left")
                  .select("rep", F.coalesce("new_label", "label")
                                  .alias("label")))

    fresh = apply(new_rows)
    return apply(labels).unionByName(fresh), rm, fresh


N_QUALITY_BUCKETS = 16   # quality-store hash buckets (ClusterKeeperSink)


def _quality_bucket(col: str):
    """Canonical bucket expression for the keeper quality store — the
    WRITER (ClusterKeeperSink landing the store) and the READER (the
    per-trigger seeds join) must hash identically for partition
    pruning to be correct."""
    return F.pmod(F.xxhash64(F.col(col)),
                  F.lit(N_QUALITY_BUCKETS)).cast("int")


def merge_cluster_keepers(keepers: DataFrame | None,
                          remap: DataFrame | None, new_rows: DataFrame,
                          quality: DataFrame) -> DataFrame:
    """Incremental per-cluster KEEPER maintenance (round 13 — the
    dedup DECISION step made continuous): fold one label-fold step's
    outputs into a persisted (label, keep_id, keep_q) store holding,
    per component, the highest-quality member seen so far (ties break
    to the min id — docs_cluster_representatives' convention).

    Inputs are _cluster_label_step's byproducts: ``remap`` (its one
    broadcast (label, new_label) frame, None when nothing merged —
    merged components' keepers max-combine under the surviving label;
    the frame is JVM-local, so this join adds no job) and ``new_rows``
    ((rep, label) endpoints first seen this batch — each seeds a
    keeper candidate with its quality from the ``quality`` lookup
    (id, quality); the caller guarantees coverage of new endpoints —
    an upstream quality score is exactly the kind of column a crawl
    pipeline lands next to the raw text).

    Confluent by the same argument as min-label merging: quality is
    static per doc, components only grow or merge, and argmax with a
    total tiebreak is associative-commutative — so ANY batch order
    yields the one-shot per-component argmax (the law
    docs_streaming_cluster_keepers pins against a recursive-CTE
    oracle). Per-batch cost: O(new endpoints + remapped labels) joined
    against a LABEL-grain store — strictly smaller than the label
    store the fold already scans; the argmax rides one groupBy over
    (store + seeds) with lexicographic struct max, no window.
    """
    if "_qb" in quality.columns:
        # Bucketed quality store (r14, guide §3/§6: join on the small
        # delta): the lookup parquet is partitioned by _qb =
        # pmod(xxhash64(id), NB). The seeds side computes the same
        # bucket and is explicitly broadcast, so the join carries the
        # equi-condition on the PARTITION column and dynamic partition
        # pruning restricts the quality scan to the buckets this
        # batch's new endpoints hash into — per-trigger lookup I/O is
        # O(delta), not O(corpus). The _qb equality is implied by
        # rep == id (same hash expression both sides): rows identical.
        # Spark inserts the pruning only when the filtering side holds
        # a Filter it deems selective (PartitionPruning's
        # hasPartitionPruningFilter); an anti join and the inferred
        # isnotnull filters do not count, so the bucket range check —
        # true for every row — is that Filter. It rides the seeds
        # broadcast: no extra job, and no driver collect of buckets.
        q = quality.select(F.col("id").alias("rep"), "quality", "_qb")
        seeds = (F.broadcast(
                    new_rows.withColumn("_qb", _quality_bucket("rep"))
                            .filter(F.col("_qb") < N_QUALITY_BUCKETS))
                 .join(q, ["rep", "_qb"])
                 .select("label", F.col("rep").alias("keep_id"),
                         F.col("quality").alias("keep_q")))
    else:
        seeds = (new_rows.join(quality.select(F.col("id").alias("rep"),
                                              "quality"), "rep")
                         .select("label", F.col("rep").alias("keep_id"),
                                 F.col("quality").alias("keep_q")))
    if keepers is None:
        keepers = seeds.limit(0)
    if remap is not None:
        keepers = (keepers.join(remap, "label", "left")
                          .select(F.coalesce("new_label", "label")
                                   .alias("label"),
                                  "keep_id", "keep_q"))
    # argmax(quality) with min-id tiebreak = lexicographic struct max
    # over (q, -id): one partial-aggregable groupBy, no window
    return (keepers.unionByName(seeds)
            .groupBy("label")
            .agg(F.max(F.struct(F.col("keep_q").alias("q"),
                                (-F.col("keep_id")).alias("nid")))
                 .alias("m"))
            .select("label", (-F.col("m.nid")).alias("keep_id"),
                    F.col("m.q").alias("keep_q")))


def docs_incremental_cluster_fold(spark: SparkSession, sf_dir: str,
                                  n_batches: int = 3) -> DataFrame:
    """merge_cluster_labels' fold law exposed to the driver gate (the
    streaming_dedup_first_event exposure pattern): split the rep-grain
    LSH candidate-pair set into ``n_batches`` hash slices — components
    deliberately straddle slices, so later batches MERGE components
    built by earlier ones, including three-way old-old merges through
    a new edge — fold them through the incremental label store, and
    summarize the final clusters. The oracle is a recursive-CTE TRUE
    connected components over the same (uncapped) rep-grain pair set:
    unlike the fixed-5-round propagation queries, the incremental fold
    has no depth bound, so the law compared is exact reachability."""
    sigs = _signatures_from_sh(_mutated_shingle_hashes(spark, sf_dir))
    reps = (_sig_collapsed(sigs)
            .filter(F.col("doc_id") == F.col("rep"))
            .select("rep", *_SIG_COLS))
    pairs = _rep_candidate_pairs(reps).localCheckpoint(eager=True)
    labels: DataFrame | None = None
    for i in range(n_batches):
        delta = pairs.filter((F.col("a") + F.col("b")) % n_batches == i)
        # per-batch materialization: the store is node-grain tiny and
        # the fold is the lineage-truncation point every incremental
        # loop needs (the _build_cluster_labels barrier note)
        labels = merge_cluster_labels(labels, delta).localCheckpoint(
            eager=True)
    return (labels.groupBy("label")
                  .agg(F.count(F.lit(1)).alias("cluster_size"),
                       F.max("rep").alias("max_member_rep")))


DOCS_INCREMENTAL_CLUSTER_SQL = f"""
WITH RECURSIVE sh AS ({_SHINGLES_SQL}),
sigs AS (
  SELECT doc_id,
{_SIGS_SELECT_SQL}
  FROM sh
),
repsigs AS (
  SELECT {", ".join(f"sig{i}" for i in range(len(MINHASH_PERMS)))},
         MIN(doc_id) AS rep
  FROM sigs
  GROUP BY {", ".join(f"sig{i}" for i in range(len(MINHASH_PERMS)))}
),
rbanded AS ({_REP_BANDS_SQL}),
rpairs AS (
  SELECT DISTINCT l.rep AS a, r.rep AS b
  FROM rbanded l JOIN rbanded r
    ON l.band_idx = r.band_idx AND l.band_key = r.band_key
  WHERE l.rep < r.rep
),
edges AS (
  SELECT a AS src, b AS dst FROM rpairs
  UNION ALL
  SELECT b AS src, a AS dst FROM rpairs
),
reach(id, lab) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.src, r.lab FROM edges e JOIN reach r ON e.dst = r.id
),
lab AS (SELECT id, MIN(lab) AS label FROM reach GROUP BY id)
SELECT label, COUNT(*) AS cluster_size, MAX(id) AS max_member_rep
FROM lab GROUP BY label
"""


def docs_streaming_cluster_fold(spark: SparkSession, sf_dir: str,
                                n_batches: int = 3) -> DataFrame:
    """streaming.ClusterLabelSink's per-trigger algebra exposed to the
    driver gate — docs_incremental_cluster_fold's law driven through
    the DURABLE sink instead of in-memory folds (the round-13
    completion of the crawl loop: index sinks keep the pair logs
    current per trigger; the label sink tails them into a live
    (rep, label) store). Same hash-sliced batch split (components
    straddle slices; later batches merge earlier components), but
    every fold commits through the sink's versioned-snapshot manifest
    with its batch-id replay gate — one batch is REDELIVERED
    mid-stream to prove the gate (a replay must be a strict no-op:
    without the gate the new-endpoint rows would duplicate). The final
    summary is localCheckpoint'd before the sink's files are removed,
    so the returned frame survives cleanup. Oracle: the SAME
    recursive-CTE TRUE-connected-components SQL — exact reachability,
    no depth bound."""
    import os as _os
    import shutil as _shutil
    import tempfile as _tempfile

    from postgres_es_cdc_spark.streaming.dedup import ClusterLabelSink

    sigs = _signatures_from_sh(_mutated_shingle_hashes(spark, sf_dir))
    reps = (_sig_collapsed(sigs)
            .filter(F.col("doc_id") == F.col("rep"))
            .select("rep", *_SIG_COLS))
    pairs = _rep_candidate_pairs(reps).localCheckpoint(eager=True)
    base = _tempfile.mkdtemp(prefix="cluster_sink_")
    try:
        sink = ClusterLabelSink(_os.path.join(base, "labels"))
        for i in range(n_batches):
            delta = pairs.filter(
                (F.col("a") + F.col("b")) % n_batches == i)
            sink.apply_batch(delta, i)
            if i == 1:                  # mid-stream redelivery: no-op
                sink.apply_batch(delta, i)
        out = (sink.labels(spark)
                   .groupBy("label")
                   .agg(F.count(F.lit(1)).alias("cluster_size"),
                        F.max("rep").alias("max_member_rep"))
                   .localCheckpoint(eager=True))
    finally:
        _shutil.rmtree(base, ignore_errors=True)
    return out


def docs_streaming_cluster_keepers(spark: SparkSession, sf_dir: str,
                                   n_batches: int = 3) -> DataFrame:
    """ClusterKeeperSink's per-trigger algebra exposed to the driver
    gate (round 13): fold the rep-grain LSH pair set through the
    DURABLE keeper sink in hash-sliced batches — components straddle
    slices, so later batches MERGE earlier components and their
    keepers must max-combine under the surviving label — and emit, per
    final cluster, its size and its keeper (highest quality_expr, ties
    to min id). The oracle is the recursive-CTE TRUE-connected-
    components chain joined with the identical quality heuristic and a
    per-component argmax window: exact reachability AND the exact
    decision row, independent of batch boundaries (min-label merge and
    quality argmax are both confluent folds). One batch is redelivered
    mid-stream to prove the replay gate. Summary localCheckpoint'd
    before the sink's files are removed."""
    import os as _os
    import shutil as _shutil
    import tempfile as _tempfile

    from postgres_es_cdc_spark.streaming.dedup import ClusterKeeperSink

    sigs = _signatures_from_sh(_mutated_shingle_hashes(spark, sf_dir))
    reps = (_sig_collapsed(sigs)
            .filter(F.col("doc_id") == F.col("rep"))
            .select("rep", *_SIG_COLS))
    pairs = _rep_candidate_pairs(reps).localCheckpoint(eager=True)
    # Raw plan handed to the sink: ClusterKeeperSink lands the lookup
    # ONCE as a hash-bucketed parquet store on its first batch (one
    # corpus scan + tokenize total, same as the r13 checkpoint), and
    # every trigger's seeds join then reads only the buckets its new
    # endpoints hash into — per-trigger lookup I/O O(delta) instead of
    # rescanning the O(corpus) checkpoint (r14, guide §3/§6).
    quality = (mutated_corpus(spark, sf_dir)
               .select("doc_id", quality_expr(F.col("text")).alias("quality")))
    base = _tempfile.mkdtemp(prefix="keeper_sink_")
    try:
        sink = ClusterKeeperSink(_os.path.join(base, "state"), quality)
        for i in range(n_batches):
            delta = pairs.filter(
                (F.col("a") + F.col("b")) % n_batches == i)
            sink.apply_batch(delta, i)
            if i == 1:                  # mid-stream redelivery: no-op
                sink.apply_batch(delta, i)
        sizes = (sink.labels(spark)
                     .groupBy("label")
                     .agg(F.count(F.lit(1)).alias("cluster_size")))
        out = (sink.keepers(spark)
                   .join(sizes, "label")
                   .select("label", "cluster_size",
                           F.col("keep_id").alias("keep_doc_id"),
                           F.col("keep_q").alias("keep_quality"))
                   .localCheckpoint(eager=True))
    finally:
        _shutil.rmtree(base, ignore_errors=True)
    return out


def docs_cluster_representatives(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """The dedup DECISION step: for every near-dup cluster (label
    propagation over the LSH pair graph), keep the highest-quality
    member (ties broken by min doc_id) — what a training-data pipeline
    actually writes out after clustering, rather than blind
    keep-min-id. Composes the memoized LSH stages with the
    quality_expr heuristic over the same mutated corpus.

    Scale shape: clustering cost is the label-prop loop (candidate
    pairs only); the quality join touches only docs that appear in some
    cluster; the representative choice is one window over cluster-sized
    partitions.
    """
    labels = _cluster_labels(spark, sf_dir)
    q = mutated_corpus(spark, sf_dir).select(
        "doc_id", quality_expr(F.col("text")).alias("quality"))
    j = labels.join(q, "doc_id")
    w = Window.partitionBy("label")
    wo = w.orderBy(F.desc("quality"), F.asc("doc_id"))
    return (j.withColumn("rn", F.row_number().over(wo))
             .withColumn("cluster_size", F.count(F.lit(1)).over(w))
             .filter(F.col("rn") == 1)
             .select("label", "cluster_size",
                     F.col("doc_id").alias("rep_doc_id"),
                     F.col("quality").alias("rep_quality")))


_QUALITY60_SQL = (
    "0.4*(CAST(len(list_distinct(toks)) AS DOUBLE)/len(toks))"
    " + 0.3*LEAST(CAST(len(toks) AS DOUBLE)/100.0, 1.0)"
    f" + 0.3*LEAST(CAST(len(list_filter(toks, x -> x IN {_STOP_SQL}))"
    " AS DOUBLE)/len(toks)*5.0, 1.0)")

DOCS_CLUSTER_REPS_SQL = (
    _CLUSTERS_CTE_SQL
    + f""", q AS (
  SELECT doc_id, {_QUALITY60_SQL} AS quality
  FROM (SELECT doc_id, {TOKENS_SQL.format(col='text')} AS toks
        FROM ({_MUTATED_SQL}))
)
SELECT label, cluster_size, rep_doc_id, rep_quality
FROM (
  SELECT l.label,
         COUNT(*) OVER (PARTITION BY l.label) AS cluster_size,
         l.doc_id AS rep_doc_id, q.quality AS rep_quality,
         ROW_NUMBER() OVER (PARTITION BY l.label
                            ORDER BY q.quality DESC, l.doc_id ASC) AS rn
  FROM l5 l JOIN q ON q.doc_id = l.doc_id
)
WHERE rn = 1
""")


def _keeper_oracle_sql() -> str:
    """DOCS_INCREMENTAL_CLUSTER_SQL's CTE chain (recursive TRUE-CC
    over the rep-grain pair set) with its final summary swapped for
    the keeper decision: quality join + per-component argmax window.
    Built by splitting at the one-shot summary SELECT so the CTE text
    stays byte-identical with the green cluster-fold oracle."""
    prefix, sep, _ = DOCS_INCREMENTAL_CLUSTER_SQL.partition(
        "SELECT label, COUNT(*) AS cluster_size")
    assert sep, "cluster oracle SQL changed shape"
    toks = TOKENS_SQL.format(col="text")
    return prefix + f""", q AS (
  SELECT doc_id, {_QUALITY60_SQL} AS quality
  FROM (SELECT doc_id, {toks} AS toks
        FROM ({_MUTATED_SQL}))
)
SELECT label, cluster_size, keep_doc_id, keep_quality
FROM (
  SELECT l.label,
         COUNT(*) OVER (PARTITION BY l.label) AS cluster_size,
         l.id AS keep_doc_id, q.quality AS keep_quality,
         ROW_NUMBER() OVER (PARTITION BY l.label
                            ORDER BY q.quality DESC, l.id ASC) AS rn
  FROM lab l JOIN q ON q.doc_id = l.id
)
WHERE rn = 1
"""


DOCS_STREAMING_KEEPERS_SQL = _keeper_oracle_sql()


def docs_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram NOVELTY against everything ingested before
    it (doc_id order = ingestion order): the share of a doc's distinct
    shingles whose FIRST corpus occurrence is this doc. The running
    redundancy diagnostic a crawl pipeline tracks — novelty trending
    to zero means the crawl is re-reading the web; mutants score ~0
    because their source doc (lower id) already contributed every
    shingle.

    Reuses the memoized family shingle stage. Scale shape: one
    explode + min-aggregate keyed by shingle hash (the first-seen
    table), one join back, one per-doc rollup — all 8-byte-key
    shuffles, text never moves.
    """
    sh = _mutated_shingle_hashes(spark, sf_dir)
    ex = sh.select("doc_id", F.explode("sh").alias("h"))
    first = ex.groupBy("h").agg(F.min("doc_id").alias("first_doc"))
    return (ex.join(first, "h")
              .groupBy("doc_id")
              .agg(F.count(F.lit(1)).alias("n_shingles"),
                   F.sum((F.col("first_doc") == F.col("doc_id"))
                         .cast("long")).alias("n_novel"))
              .withColumn("novelty",
                          F.col("n_novel").cast("double")
                          / F.col("n_shingles").cast("double")))


DOCS_NGRAM_NOVELTY_SQL = f"""
WITH sh AS ({_SHINGLES_SQL}),
ex AS (SELECT doc_id, unnest(sh) AS h FROM sh),
first AS (SELECT h, MIN(doc_id) AS first_doc FROM ex GROUP BY h)
SELECT ex.doc_id,
       COUNT(*) AS n_shingles,
       CAST(SUM(CASE WHEN f.first_doc = ex.doc_id THEN 1 ELSE 0 END) AS BIGINT)
         AS n_novel,
       CAST(SUM(CASE WHEN f.first_doc = ex.doc_id THEN 1 ELSE 0 END) AS DOUBLE)
         / CAST(COUNT(*) AS DOUBLE) AS novelty
FROM ex JOIN first f USING (h)
GROUP BY ex.doc_id
"""


CONTAINMENT_TAU = 0.9


def docs_minhash_containment(spark: SparkSession, sf_dir: str,
                             threshold: float = CONTAINMENT_TAU,
                             cap: int = PAIR_BUCKET_CAP) -> DataFrame:
    """Shingle-set CONTAINMENT C(sub→sup) = |sub ∩ sup| / |sub| — the
    asymmetric companion of Jaccard that catches sub-document
    duplication (quotes, boilerplate wrappers, truncated copies): a
    mutant whose shingles are a strict subset of its source scores
    containment 1.0 while its Jaccard is below 1. Standard kit next to
    Jaccard since Broder's original resemblance/containment pair.

    Naming note: the computation is EXACT shingle-set containment (no
    MinHash signatures anywhere in this path); the `minhash_` prefix
    is kept only because the registry groups the Broder dedup family
    under it and the name is fingerprint-pinned driver-green — renaming
    would orphan the ledger row for a cosmetic gain.

    Reads the memoized shared-shingle intersection stage (one shuffle
    on the 8-byte shingle hash, pair space sparse, over-cap boilerplate
    features dropped whole and reported) that docs_ngram_jaccard_pairs
    also verifies from; each unordered candidate pair emits both
    directions and keeps those with containment >= threshold."""
    shared = _shared_shingle_intersections(spark, sf_dir, cap)
    fwd = shared.select(F.col("doc_a").alias("doc_sub"),
                        F.col("doc_b").alias("doc_sup"),
                        (F.col("inter").cast("double") / F.col("na"))
                        .alias("containment"))
    bwd = shared.select(F.col("doc_b").alias("doc_sub"),
                        F.col("doc_a").alias("doc_sup"),
                        (F.col("inter").cast("double") / F.col("nb"))
                        .alias("containment"))
    return fwd.unionByName(bwd).filter(
        F.col("containment") >= threshold)


DOCS_CONTAINMENT_SQL = f"""
WITH sh AS ({_SHINGLES_SQL}),
exploded AS (
  SELECT doc_id, len(sh) AS n_sh, unnest(sh) AS h FROM sh
),
shared AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.n_sh AS na, b.n_sh AS nb,
         COUNT(*) AS inter
  FROM exploded a JOIN exploded b ON a.h = b.h AND a.doc_id < b.doc_id
  GROUP BY 1, 2, 3, 4
),
both_dirs AS (
  SELECT doc_a AS doc_sub, doc_b AS doc_sup,
         CAST(inter AS DOUBLE)/na AS containment FROM shared
  UNION ALL
  SELECT doc_b AS doc_sub, doc_a AS doc_sup,
         CAST(inter AS DOUBLE)/nb AS containment FROM shared
)
SELECT doc_sub, doc_sup, containment
FROM both_dirs WHERE containment >= {CONTAINMENT_TAU}
"""


def docs_dedup_survivorship_quality(spark: SparkSession,
                                    sf_dir: str) -> DataFrame:
    """Dedup IMPACT report: for the clustered (near-duplicate) portion
    of the corpus, compare kept representatives vs pruned members on
    count, token mass, and mean quality — the before/after evidence a
    pipeline owner reviews before enabling a dedup pass (quality-aware
    representative selection should show kept-quality >= pruned).

    Composes the memoized label-propagation stage with the shared
    quality heuristic; quality is quantized to 1e-6 integers so the
    per-class mean is an exact integer sum with one deterministic
    division. Output: one row per status ('kept' / 'pruned')."""
    labels = _cluster_labels(spark, sf_dir)
    q = mutated_corpus(spark, sf_dir).select(
        "doc_id",
        F.floor(quality_expr(F.col("text")) * 1000000 + F.lit(0.5))
         .cast("long").alias("q6"),
        F.size(tokens(F.col("text"))).cast("long").alias("n_tokens"))
    m = labels.join(q, "doc_id")
    w = Window.partitionBy("label").orderBy(F.desc("q6"), F.asc("doc_id"))
    status = F.when(F.row_number().over(w) == 1,
                    F.lit("kept")).otherwise(F.lit("pruned"))
    return (m.withColumn("status", status)
             .groupBy("status")
             .agg(F.count(F.lit(1)).alias("n_docs"),
                  F.sum("n_tokens").alias("sum_tokens"),
                  (F.sum("q6").cast("double") / F.count(F.lit(1))
                   / F.lit(1.0e6)).alias("avg_quality")))


DOCS_SURVIVORSHIP_SQL = (
    _CLUSTERS_CTE_SQL
    + f""", qq AS (
  SELECT doc_id,
         CAST(floor(({_QUALITY60_SQL}) * 1000000 + 0.5) AS BIGINT) AS q6,
         CAST(len(toks) AS BIGINT) AS n_tokens
  FROM (SELECT doc_id, {TOKENS_SQL.format(col='text')} AS toks
        FROM ({_MUTATED_SQL}))
),
m AS (
  SELECT l.label, l.doc_id, qq.q6, qq.n_tokens,
         ROW_NUMBER() OVER (PARTITION BY l.label
                            ORDER BY qq.q6 DESC, l.doc_id ASC) AS rn
  FROM l5 l JOIN qq ON qq.doc_id = l.doc_id
)
SELECT CASE WHEN rn = 1 THEN 'kept' ELSE 'pruned' END AS status,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
       CAST(SUM(q6) AS DOUBLE) / COUNT(*) / 1.0E6 AS avg_quality
FROM m GROUP BY 1
""")


def docs_cluster_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup observability: log2 histogram of near-dup cluster sizes
    (clusters from the memoized label-propagation run) — the shape
    report a curation pipeline checks before pruning: a heavy tail here
    means boilerplate families, a spike at 2 means simple mirrors.
    Composes docs_dedup_clusters; the histogram bucket is
    length(bin(size)) (integer bit-length, portable).

    Scale: runs on the cluster table (one row per cluster), output
    O(log max_size) rows."""
    cl = docs_dedup_clusters(spark, sf_dir)
    return (cl.select(F.expr("CAST(length(bin(cluster_size)) AS INT)")
                       .alias("bucket"),
                      "cluster_size")
              .groupBy("bucket")
              .agg(F.count(F.lit(1)).alias("n_clusters"),
                   F.sum("cluster_size").alias("n_members"),
                   F.min("cluster_size").alias("min_size"),
                   F.max("cluster_size").alias("max_size")))


DOCS_CLUSTER_SIZE_HIST_SQL = (
    _CLUSTERS_CTE_SQL
    + """, cl AS (
  SELECT label, COUNT(*) AS cluster_size FROM l5 GROUP BY label
)
SELECT CAST(length(bin(cluster_size)) AS INT) AS bucket,
       COUNT(*) AS n_clusters,
       CAST(SUM(cluster_size) AS BIGINT) AS n_members,
       MIN(cluster_size) AS min_size, MAX(cluster_size) AS max_size
FROM cl GROUP BY 1
"""
)


def docs_near_dup_rate_by_source(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """Cross-source duplication matrix: LSH candidate pairs rolled up
    by the (source, source) of their endpoints — the governance table
    that shows WHICH feeds copy from which (mirror sites, syndication,
    scraper overlap) and directs source-level dedup effort. Mutant ids
    map back to their origin doc (id - 1e6) before the source lookup,
    so a mutant pair counts its real provenance.

    Scale: reads the memoized pair set (LSH-bounded), joins the small
    (doc_id, source) projection twice, one partial-agg rollup on the
    |sources|² key space. Pair order is normalized (source_a <=
    source_b) so the matrix is upper-triangular and deterministic."""
    pairs = docs_minhash_lsh_pairs(spark, sf_dir)
    src = (table(spark, sf_dir, "documents")
           .select("doc_id", "source"))
    orig = lambda c: F.when(c >= 1000000, c - 1000000).otherwise(c)  # noqa: E731
    pa = pairs.select(orig(F.col("doc_a")).alias("da"),
                      orig(F.col("doc_b")).alias("db"))
    # shuffle_hash pins (round-10, the _prop_round lesson applied to
    # the second consumer of the member-grain pair set): at sf10 the
    # duplication fixture's 123M checkpointed pairs misled the planner
    # into BROADCASTING a join side and OOMing the driver. The source
    # projection is docs-grain (billions of rows at 100 TB) and the
    # pair set is clique²-unbounded — NEITHER side is broadcast
    # material; a shuffle-hash join on the doc id stays alive at any
    # scale and never sorts the pair set.
    j = (pa.join(src.select(F.col("doc_id").alias("da"),
                            F.col("source").alias("sa"))
                    .hint("shuffle_hash"), "da")
           .join(src.select(F.col("doc_id").alias("db"),
                            F.col("source").alias("sb"))
                    .hint("shuffle_hash"), "db"))
    return (j.select(F.least("sa", "sb").alias("source_a"),
                     F.greatest("sa", "sb").alias("source_b"))
             .groupBy("source_a", "source_b")
             .agg(F.count(F.lit(1)).alias("n_pairs")))


DOCS_NEAR_DUP_BY_SOURCE_SQL = f"""
WITH pairs AS ({DOCS_MINHASH_LSH_SQL}),
norm AS (
  SELECT CASE WHEN doc_a >= 1000000 THEN doc_a - 1000000 ELSE doc_a END AS da,
         CASE WHEN doc_b >= 1000000 THEN doc_b - 1000000 ELSE doc_b END AS db
  FROM pairs
)
SELECT LEAST(a.source, b.source) AS source_a,
       GREATEST(a.source, b.source) AS source_b,
       COUNT(*) AS n_pairs
FROM norm
JOIN documents a ON a.doc_id = norm.da
JOIN documents b ON b.doc_id = norm.db
GROUP BY 1, 2
"""


FUZZY_MAX_DIST = 5


def part_name_fuzzy_pairs(spark: SparkSession, sf_dir: str,
                          max_dist: int = FUZZY_MAX_DIST,
                          cap: int = PAIR_BUCKET_CAP) -> DataFrame:
    """Edit-distance fuzzy duplicate pairs over the part-name VOCABULARY
    — the string-similarity member of the dedup arsenal (exact / MinHash
    / SimHash / n-gram Jaccard / embedding-cosine / chunk / THIS), the
    shape behind catalog-entity resolution and typo-tolerant keying.

    Blocking is the standard token fuzzy-join: candidate pairs must
    share at least one word (join on the exploded word table), then the
    exact Levenshtein distance verifies candidates at <= max_dist.
    Both engines implement textbook unit-cost edit distance, so the
    pair set is bit-exact.

    Scale shape: everything runs on the NAME VOCABULARY (one groupBy of
    the part scan), never on part rows — fuzzy joins over raw rows
    would square corpus size. Word blocks are row_number-capped at
    PAIR_BUCKET_CAP before pairing (same guard as every pair path, same
    no-silent-caps discipline: at driver scale the largest block is the
    vocabulary itself, far under the cap). Per-pair verification is one
    O(len²) distance on ≤25-char strings."""
    p = table(spark, sf_dir, "part")
    names = p.groupBy("p_name").agg(F.count(F.lit(1)).alias("n_parts"))
    words = (names.select("p_name",
                          F.explode(F.split("p_name", " ")).alias("w"))
                  .distinct())
    words = _cap_buckets(words, ["w"], "p_name", cap)
    a = words.select(F.col("p_name").alias("name_a"), "w")
    b = words.select(F.col("p_name").alias("name_b"), "w")
    cand = (a.join(b, "w").filter(F.col("name_a") < F.col("name_b"))
             .select("name_a", "name_b").distinct())
    dist = F.levenshtein("name_a", "name_b").cast("long")
    na = names.select(F.col("p_name").alias("name_a"),
                      F.col("n_parts").alias("n_parts_a"))
    nb = names.select(F.col("p_name").alias("name_b"),
                      F.col("n_parts").alias("n_parts_b"))
    return (cand.withColumn("dist", dist)
                .filter(F.col("dist") <= max_dist)
                .join(F.broadcast(na), "name_a")
                .join(F.broadcast(nb), "name_b")
                .select("name_a", "name_b", "dist",
                        "n_parts_a", "n_parts_b"))


PART_NAME_FUZZY_SQL = f"""
WITH names AS (SELECT p_name, COUNT(*) AS n_parts FROM part GROUP BY 1),
words AS (
  SELECT DISTINCT p_name, unnest(string_split(p_name, ' ')) AS w
  FROM names
),
wcap AS (
  SELECT p_name, w
  FROM (SELECT p_name, w,
               ROW_NUMBER() OVER (PARTITION BY w ORDER BY p_name) AS rn
        FROM words)
  WHERE rn <= {PAIR_BUCKET_CAP}
),
cand AS (
  SELECT DISTINCT a.p_name AS name_a, b.p_name AS name_b
  FROM wcap a JOIN wcap b ON a.w = b.w AND a.p_name < b.p_name
)
SELECT name_a, name_b,
       CAST(levenshtein(name_a, name_b) AS BIGINT) AS dist,
       na.n_parts AS n_parts_a, nb.n_parts AS n_parts_b
FROM cand
JOIN names na ON na.p_name = name_a
JOIN names nb ON nb.p_name = name_b
WHERE levenshtein(name_a, name_b) <= {FUZZY_MAX_DIST}
"""


LSH_CURVE_TARGET = 500


def docs_lsh_recall_curve(spark: SparkSession, sf_dir: str,
                          cap: int = PAIR_BUCKET_CAP) -> DataFrame:
    """LSH banding RECALL CURVE — the S-curve every LSH deployment
    tunes against, measured on real data instead of assumed from
    theory: for each true-Jaccard decile over shared-shingle candidate
    pairs, what fraction did the banded MinHash index flag? Theory says
    P(flagged | J) = 1-(1-J^r)^b (r=2, b=4 here); this table is the
    empirical check that the configured bands still match the corpus's
    similarity profile.

    Scale shape: calibration is a STATISTIC, so it runs on a
    deterministic document sample (stride s = max(1, N div 500),
    derived from COUNT(*) with the same integer arithmetic in the
    oracle — the knn-stride pattern): the exact truth pair set is
    quadratic in sample size, constant at every sf, never in corpus
    size (the first unsampled draft hung the adversarial sf1 sweep,
    whose duplicate cliques inflate true pairs 100×). Both stages read
    the memoized family materializations filtered to the sample BEFORE
    any explode or pair join.

    Exactness: jaccard is one double division of exact ints; the
    decile is floor(j·10) clamped to 9; flagging is set membership in
    the banded pair set over the same sample. BOTH caps on this path —
    the truth side's shingle doc-frequency cap (blocks with _df > cap
    dropped whole, so `inter` counts retained shingles against
    full-array na/nb — a documented, engine-shared approximation) and
    the LSH side's row_number bucket cap — are mirrored in the DuckDB
    CTEs (dfc / bandcap), so the comparison stays bit-exact even when
    a sampled bucket reaches the cap."""
    n = table(spark, sf_dir, "documents").count()
    stride = max(1, n // LSH_CURVE_TARGET)

    def in_sample(c):
        return (c % 1000000) % stride == 0

    sh = (_mutated_shingle_hashes(spark, sf_dir)
          .filter(in_sample(F.col("doc_id"))))
    sized = sh.select("doc_id", F.size("sh").alias("n_sh"),
                      F.explode("sh").alias("h"))
    df_w = Window.partitionBy("h")
    per_sh = (
        sized.withColumn("_df", F.count(F.lit(1)).over(df_w))
             .filter(F.col("_df") <= cap)
             .groupBy("h")
             .agg(F.collect_list(F.struct("doc_id", "n_sh")).alias("ds"))
             .filter(F.size("ds") > 1))
    shared = (
        per_sh.select(F.explode("ds").alias("a"), "ds")
              .select("a", F.explode("ds").alias("b"))
              .filter(F.col("a.doc_id") < F.col("b.doc_id"))
              .groupBy(F.col("a.doc_id").alias("doc_a"),
                       F.col("b.doc_id").alias("doc_b"),
                       F.col("a.n_sh").alias("na"),
                       F.col("b.n_sh").alias("nb"))
              .agg(F.count("*").alias("inter")))
    jac = (F.col("inter").cast("double")
           / (F.col("na") + F.col("nb") - F.col("inter")))
    truth = shared.select(
        "doc_a", "doc_b",
        F.least(F.floor(jac * 10).cast("int"), F.lit(9)).alias("bucket"))

    banded = (_lsh_banded(spark, sf_dir)
              .filter(in_sample(F.col("doc_id"))))
    buckets = (
        _cap_buckets(banded, ["band_idx", "band_key"], "doc_id", cap)
        .groupBy("band_idx", "band_key")
        .agg(F.collect_list("doc_id").alias("ids"))
        .filter(F.size("ids") > 1))
    lsh = (
        buckets.select(F.explode("ids").alias("doc_a"), "ids")
               .select("doc_a", F.explode("ids").alias("doc_b"))
               .filter(F.col("doc_a") < F.col("doc_b"))
               .distinct()
               .withColumn("_f", F.lit(1)))

    j = truth.join(lsh, ["doc_a", "doc_b"], "left")
    return (j.groupBy("bucket")
             .agg(F.count(F.lit(1)).alias("n_pairs"),
                  F.sum(F.coalesce("_f", F.lit(0)).cast("long"))
                   .alias("n_flagged"))
             .select("bucket", "n_pairs", "n_flagged",
                     (F.col("n_flagged").cast("double")
                      / F.col("n_pairs").cast("double")).alias("recall")))


def _docs_lsh_recall_sql(cap: int) -> str:
    """Oracle builder for docs_lsh_recall_curve, cap-parameterized so a
    test can compare both engines under a BINDING cap (the production
    constant never binds on the sample at driver scale)."""
    return f"""
WITH par AS (
  SELECT GREATEST(1, COUNT(*) // {LSH_CURVE_TARGET}) AS s FROM documents
),
sh0 AS ({_SHINGLES_SQL}),
sh AS (
  SELECT sh0.* FROM sh0, par WHERE (doc_id % 1000000) % par.s = 0
),
exploded AS (
  SELECT doc_id, len(sh) AS n_sh, unnest(sh) AS h FROM sh
),
dfc AS (
  SELECT doc_id, n_sh, h
  FROM (SELECT doc_id, n_sh, h,
               COUNT(*) OVER (PARTITION BY h) AS _df
        FROM exploded)
  WHERE _df <= {cap}
),
truth AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         LEAST(CAST(FLOOR(CAST(COUNT(*) AS DOUBLE)
                          / (a.n_sh + b.n_sh - COUNT(*)) * 10) AS INT),
               9) AS bucket
  FROM dfc a JOIN dfc b ON a.h = b.h AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id, a.n_sh, b.n_sh
),
sigs AS (
  SELECT doc_id,
""" + ",\n".join(
        f"         list_min(list_transform(sh, h -> (h*{a}+{b}) % {MINHASH_P})) AS sig{i}"
        for i, (a, b) in enumerate(MINHASH_PERMS)
    ) + f"""
  FROM sh
),
banded AS ({_BANDS_SQL}),
bandcap AS (
  SELECT band_idx, band_key, doc_id
  FROM (SELECT band_idx, band_key, doc_id,
               ROW_NUMBER() OVER (PARTITION BY band_idx, band_key
                                  ORDER BY doc_id) AS rn
        FROM banded)
  WHERE rn <= {cap}
),
lsh AS (
  SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
  FROM bandcap l JOIN bandcap r
    ON l.band_idx = r.band_idx AND l.band_key = r.band_key
  WHERE l.doc_id < r.doc_id
)
SELECT t.bucket, COUNT(*) AS n_pairs,
       CAST(SUM(CASE WHEN lsh.doc_a IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_flagged,
       CAST(SUM(CASE WHEN lsh.doc_a IS NOT NULL THEN 1 ELSE 0 END)
            AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS recall
FROM truth t
LEFT JOIN lsh ON t.doc_a = lsh.doc_a AND t.doc_b = lsh.doc_b
GROUP BY t.bucket
"""


DOCS_LSH_RECALL_SQL = _docs_lsh_recall_sql(PAIR_BUCKET_CAP)


def docs_leakage_safe_splits(spark: SparkSession, sf_dir: str,
                             max_iters: int = 5) -> DataFrame:
    """LEAKAGE-SAFE train/val/test assignment: split membership is a
    pure hash of the NEAR-DUPLICATE CLUSTER id, never the document id,
    so every member of a near-dup cluster lands in the same split —
    the rule that keeps eval sets honest (a test doc whose near-twin
    sits in train is contamination; docs_split_assign's plain id-hash
    cannot see that). Composes the dedup family's memoized cluster
    labels (LSH pairs -> min-label components) with the engine-wide
    split hash; singleton docs are their own group, so the assignment
    degrades to the plain split exactly where no near-dup exists.

    Report per split: docs, distinct groups, and n_rescued — documents
    whose naive id-hash split DIFFERS from their cluster split, i.e.
    the leakage this rule prevented (0 iff every cluster is split-pure
    by luck).

    Scale shape: one corpus pass LEFT-joined to the pair-graph-sized
    label table (near-dup members only), then a partial-aggregable
    rollup; the hash is join-free so any worker recomputes membership.
    """
    from postgres_es_cdc_spark.llm.sampling import key_hash

    def split_of(c):
        b = key_hash(c) % 100
        return (F.when(b < 90, F.lit("train"))
                 .when(b < 95, F.lit("val"))
                 .otherwise(F.lit("test")))

    docs = mutated_corpus(spark, sf_dir).select("doc_id")
    labels = _cluster_labels(spark, sf_dir, max_iters)
    g = (docs.join(labels, "doc_id", "left")
             .select("doc_id", F.coalesce("label", "doc_id").alias("gid")))
    return (g.select("gid", split_of(F.col("gid")).alias("split"),
                     (split_of(F.col("gid")) != split_of(F.col("doc_id")))
                     .cast("long").alias("_moved"))
             .groupBy("split")
             .agg(F.count(F.lit(1)).alias("n_docs"),
                  F.countDistinct("gid").alias("n_groups"),
                  F.sum("_moved").alias("n_rescued")))


def _split_case_sql(key: str) -> str:
    from postgres_es_cdc_spark.llm.sampling import KEY_HASH_SQL  # noqa
    h = KEY_HASH_SQL.format(key=key)
    return (f"CASE WHEN {h} % 100 < 90 THEN 'train' "
            f"WHEN {h} % 100 < 95 THEN 'val' ELSE 'test' END")


def _leakage_splits_sql() -> str:
    from postgres_es_cdc_spark.llm.sampling import KEY_HASH_SQL  # noqa
    return (_CLUSTERS_CTE_SQL + f""",
docs AS (SELECT doc_id FROM ({_MUTATED_SQL})),
g AS (SELECT d.doc_id, COALESCE(l.label, d.doc_id) AS gid
      FROM docs d LEFT JOIN l5 l ON d.doc_id = l.doc_id),
s AS (SELECT gid,
             {_split_case_sql('gid')} AS split,
             CASE WHEN {_split_case_sql('gid')} != {_split_case_sql('d.doc_id')}
                  THEN 1 ELSE 0 END AS moved
      FROM g d)
SELECT split, COUNT(*) AS n_docs,
       CAST(COUNT(DISTINCT gid) AS BIGINT) AS n_groups,
       CAST(SUM(moved) AS BIGINT) AS n_rescued
FROM s GROUP BY split
""")


DOCS_LEAKAGE_SPLITS_SQL = _leakage_splits_sql()


# Winnowing (Schleimer/Wilkerson/Aiken, SIGMOD'03 — the MOSS scheme):
# hash every positional k-gram, then keep the MINIMUM hash of each
# w-length window of consecutive k-gram hashes. Guarantee: any shared
# substring of >= w+k-1 tokens contributes at least one IDENTICAL
# fingerprint to both documents — so unlike the MinHash family (which
# estimates whole-document similarity) this detects EXACT substring
# overlap, the token-level contamination/plagiarism signal.
WINNOW_W = 8
WINNOW_TOP = 50


def winnow_fingerprints(c: DataFrame, w: int = WINNOW_W) -> DataFrame:
    """(doc_id, text) → (doc_id, fps): the winnowed fingerprint set —
    positional 3-gram hashes, then the distinct minima of every
    w-length hash window. Guarantee (tested): two documents sharing any
    substring of ≥ w+2 tokens share at least one fingerprint.

    Checkpoints BETWEEN the per-row array stages: higher-order
    functions are interpreted (CodegenFallback) with NO common-
    subexpression elimination, and ProjectCollapse inlines the upstream
    expression into each lambda — without the barriers the winnow
    lambda re-evaluates the full md5-gram transform PER WINDOW and the
    gram lambda re-runs the regex tokenize PER GRAM (O(len²)
    interpreted work; measured 28.8s for the gram stage alone at sf1 vs
    ~3s with the barriers).

    scan_parallel before the tokenize: the interpreted-HOF stages are
    the expensive per-row work this corpus sees, and a single-row-group
    scan pins them to one task (30s single-threaded at 30× vs ~3s
    fanned out); at real scale the scan arrives with many splits and
    the fan-out is a no-op."""
    from postgres_es_cdc_spark.catalog import scan_parallel
    c = scan_parallel(c.sparkSession, c.select("doc_id", "text"))
    tk = (c.select("doc_id", tokens(F.col("text")).alias("toks"))
           .localCheckpoint(eager=False))
    n = F.size(F.col("toks"))
    grams = F.when(n >= 3, F.transform(
        F.sequence(F.lit(1), n - 2),
        lambda i: h32(F.array_join(F.slice(F.col("toks"), i, 3), " "))
    )).otherwise(F.array().cast("array<bigint>"))
    g = (tk.select("doc_id", grams.alias("grams"))
           .localCheckpoint(eager=False))
    ng = F.size(F.col("grams"))
    fps = (F.when(ng >= w, F.array_distinct(F.transform(
               F.sequence(F.lit(1), ng - w + 1),
               lambda i: F.array_min(F.slice(F.col("grams"), i, w)))))
            .when(ng >= 1, F.array(F.array_min(F.col("grams"))))
            .otherwise(F.array().cast("array<bigint>")))
    return g.select("doc_id", fps.alias("fps")).localCheckpoint(eager=True)


def _winnow_groups(f: DataFrame) -> DataFrame:
    """Representative collapse: group docs by their (sorted) fingerprint
    SET — gid = min doc_id, m = clique multiplicity. One shuffle on the
    set key; eager checkpoint (the frame fans out to members/postings).
    Shared by the one-shot overlap query and the incremental store."""
    wk = Window.partitionBy("_k")
    return (f.select("doc_id", F.array_sort("fps").alias("_k"),
                     F.size("fps").cast("long").alias("n_fp"))
             .withColumn("gid", F.min("doc_id").over(wk))
             .withColumn("m", F.count(F.lit(1)).over(wk))
             .localCheckpoint(eager=True))


def docs_winnowing_overlap(spark: SparkSession, sf_dir: str,
                           w: int = WINNOW_W, top: int = WINNOW_TOP,
                           cap: int = PAIR_BUCKET_CAP) -> DataFrame:
    """Cross-document exact-substring overlap via winnowing fingerprints:
    top pairs by shared fingerprint count, with overlap_ratio =
    shared / min(|fps_a|, |fps_b|) (≈ fraction of the smaller doc
    covered by shared substrings, by winnowing's density guarantee).
    Corpus: documents ∪ last-token-dropped mutants, so near-complete
    overlaps exist at every sf.

    Engine discipline: positional 3-gram hashes and the windowed minima
    are per-row ARRAY transforms (higher-order functions over the token
    array — no corpus×length explode; the only exploded relation is the
    winnowed fingerprint set, ~|tokens|·2/(w+1) rows per doc). Pair
    generation joins the fingerprint postings with itself: degenerate
    fingerprints (boilerplate every doc shares) are dropped WHOLE by a
    document-frequency cap before the join — the stop-shingle treatment
    jaccard blocks use, mirrored verbatim in the oracle CTE so a
    binding cap cannot diverge the engines (round-6 ADVICE rule).

    Exactness: counts are integers; overlap_ratio is one int→double
    division; top-k is fully tie-broken (n_shared DESC, doc_a, doc_b).

    Representative collapse (dense-clique mitigation): documents with
    IDENTICAL fingerprint sets — exact-duplicate cliques, the shape
    crawl dedup exists for — are collapsed to one representative per
    set (gid = min doc_id) with a multiplicity m BEFORE pair
    generation. The posting join then pairs representatives (work
    bounded by DISTINCT-content volume, not clique²); doc-grain pairs
    are recovered arithmetically: a cross pair (g1,g2) expands to
    m1·m2 doc pairs, a within-clique pair to C(m,2), all with the
    identical n_shared. Only the tiers of n_shared that can reach the
    top-k are expanded (cumulative-weight threshold over tier sums),
    so expansion is O(top + boundary tier), never O(Σ clique²). The
    document-frequency cap stays at DOC grain (Σ multiplicities per
    fingerprint), so the output is bit-identical to the uncollapsed
    plan — the oracle remains the direct doc-grain spec and the hash
    gate proves the equivalence.

    Scale: posting-list join work is Σ bucket² over capped buckets of
    DISTINCT contents — O(distinct corpus · cap) worst case; clique
    size never enters a join; everything before the posting join is
    map-side plus one shuffle on the fingerprint-set key."""
    f = winnow_fingerprints(mutated_corpus(spark, sf_dir), w)
    g = _winnow_groups(f)
    members = g.select("doc_id", "gid")
    groups = g.select("gid", "_k", "n_fp", "m").dropDuplicates(["gid"])
    post = groups.select("gid", "m", "n_fp", F.explode("_k").alias("fp"))
    # doc-grain document frequency = sum of clique multiplicities
    kept = (post.withColumn("dfreq", F.sum("m").over(
                Window.partitionBy("fp")))
                .filter(F.col("dfreq") <= cap).drop("dfreq"))
    cross = (kept.select(F.col("gid").alias("g1"), F.col("m").alias("m1"),
                         F.col("n_fp").alias("n1"), "fp")
             .join(kept.select(F.col("gid").alias("g2"),
                               F.col("m").alias("m2"),
                               F.col("n_fp").alias("n2"), "fp"), "fp")
             .filter(F.col("g1") < F.col("g2"))
             .groupBy("g1", "g2", "m1", "m2", "n1", "n2")
             .agg(F.count(F.lit(1)).alias("n_shared"))
             .select("g1", "g2", "n1", "n2", "n_shared",
                     (F.col("m1") * F.col("m2")).alias("weight")))
    within = (kept.groupBy("gid", "m", "n_fp")
              .agg(F.count(F.lit(1)).alias("n_shared"))
              .filter(F.col("m") >= 2)
              .select(F.col("gid").alias("g1"), F.col("gid").alias("g2"),
                      F.col("n_fp").alias("n1"), F.col("n_fp").alias("n2"),
                      "n_shared",
                      (F.col("m") * (F.col("m") - 1) / 2)
                      .cast("long").alias("weight")))
    rep = cross.unionByName(within).localCheckpoint(eager=True)
    # keep every n_shared tier whose strictly-higher tiers expand to
    # fewer than `top` doc pairs — the only tiers the top-k can touch
    tiers = (rep.groupBy("n_shared")
                .agg(F.sum("weight").alias("tw"))
                .withColumn("before", F.coalesce(F.sum("tw").over(
                    Window.orderBy(F.desc("n_shared"))
                          .rowsBetween(Window.unboundedPreceding, -1)),
                    F.lit(0)))
                .filter(F.col("before") < top)
                .select("n_shared"))
    rk = rep.join(F.broadcast(tiers), "n_shared")
    exp = (F.broadcast(rk)
             .join(members.select(F.col("gid").alias("g1"),
                                   F.col("doc_id").alias("da")), "g1")
             .join(members.select(F.col("gid").alias("g2"),
                                   F.col("doc_id").alias("db")), "g2")
             .filter((F.col("g1") != F.col("g2"))
                     | (F.col("da") < F.col("db"))))
    ratio = (F.col("n_shared").cast("double")
             / F.least(F.col("n1"), F.col("n2")).cast("double"))
    return (exp.select(F.least("da", "db").alias("doc_a"),
                       F.greatest("da", "db").alias("doc_b"),
                       "n_shared", ratio.alias("overlap_ratio"))
            .orderBy(F.desc("n_shared"), F.asc("doc_a"), F.asc("doc_b"))
            .limit(top))


DOCS_WINNOWING_SQL = f"""
WITH corpus AS ({_MUTATED_SQL}),
t AS (SELECT doc_id, {TOKENS_SQL.format(col='text')} AS toks FROM corpus),
g AS (
  SELECT doc_id,
         CASE WHEN len(toks) >= 3 THEN list_transform(
                generate_series(1, len(toks) - 2),
                i -> ('0x' || substr(md5(
                        array_to_string(list_slice(toks, i, i + 2), ' ')),
                      1, 8))::BIGINT)
              ELSE [] END AS grams
  FROM t
),
f AS (
  SELECT doc_id,
         CASE WHEN len(grams) >= {WINNOW_W} THEN list_distinct(
                list_transform(
                  generate_series(1, len(grams) - {WINNOW_W} + 1),
                  i -> list_min(list_slice(grams, i, i + {WINNOW_W} - 1))))
              WHEN len(grams) >= 1 THEN [list_min(grams)]
              ELSE [] END AS fps
  FROM g
),
nf AS (SELECT doc_id, len(fps) AS n_fp FROM f),
fd AS (SELECT doc_id, unnest(fps) AS fp FROM f),
kept AS (
  SELECT doc_id, fp FROM (
    SELECT doc_id, fp, COUNT(*) OVER (PARTITION BY fp) AS dfreq FROM fd)
  WHERE dfreq <= {PAIR_BUCKET_CAP}
),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
  FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, n_shared,
       CAST(n_shared AS DOUBLE)
         / CAST(LEAST(na.n_fp, nb.n_fp) AS DOUBLE) AS overlap_ratio
FROM pairs
JOIN nf na ON na.doc_id = doc_a
JOIN nf nb ON nb.doc_id = doc_b
ORDER BY n_shared DESC, doc_a ASC, doc_b ASC
LIMIT {WINNOW_TOP}
"""


# Exact duplicate-SPAN removal (Lee et al., "Deduplicating Training
# Data Makes Language Models Better", ACL'22 — the ExactSubstr
# recipe): any W-token span occurring more than once in the corpus is
# removed from every document; unlike doc-level dedup this surgically
# cuts boilerplate/licenses/templates while keeping the unique
# remainder.
SPAN_W = 12


def docs_duplicate_span_removal(spark: SparkSession,
                                sf_dir: str,
                                w: int = SPAN_W) -> DataFrame:
    """Per-document duplicate-span removal accounting: positions
    covered by any W-token span that occurs >= 2 times corpus-wide are
    marked removed; returns (doc_id, n_tokens, n_removed, keep_ratio).
    Corpus: documents ∪ mutants, so cross-doc duplicated spans exist at
    every sf (a doc and its last-token-dropped mutant share their whole
    prefix); self-repeats inside one document count too — exactly the
    ExactSubstr rule.

    Engine discipline: positional W-gram hashes are one per-row array
    transform (checkpoint barrier after tokenize — the interpreted-HOF
    lesson); the only exploded relation is (doc, pos, gram); duplicate
    grams come from one partial-aggregable count; removed-token counts
    use the INTERVAL-UNION window (running max of span ends over the
    pos order — overlap-safe without exploding W rows per occurrence).
    All integers except the final keep_ratio division.

    Scale: corpus-linear; the gram count is the only corpus-wide
    shuffle and carries (hash, count), never text. At 100 TB this runs
    per shard after a global gram-count broadcast-threshold pass (the
    df side-channel the LSH family already uses)."""
    from postgres_es_cdc_spark.catalog import scan_parallel

    c = scan_parallel(spark,
                      mutated_corpus(spark, sf_dir).select("doc_id", "text"))
    tk = (c.select("doc_id", tokens(F.col("text")).alias("toks"))
           .localCheckpoint(eager=False))
    n = F.size(F.col("toks"))
    nt = tk.select("doc_id", n.cast("long").alias("n_tokens")) \
           .localCheckpoint(eager=True)
    grams = F.when(n >= w, F.transform(
        F.sequence(F.lit(1), n - w + 1),
        lambda i: F.struct(
            i.alias("pos"),
            h32(F.array_join(F.slice(F.col("toks"), i, w), " "))
             .alias("g"))
    )).otherwise(F.array().cast("array<struct<pos:int,g:bigint>>"))
    occ = (tk.select("doc_id", F.explode(grams).alias("o"))
             .select("doc_id", F.col("o.pos").alias("pos"),
                     F.col("o.g").alias("g"))
             .localCheckpoint(eager=True))
    dupg = (occ.groupBy("g").agg(F.count(F.lit(1)).alias("cnt"))
               .filter(F.col("cnt") >= 2).select("g"))
    hits = occ.join(dupg, "g").select(
        "doc_id", "pos", (F.col("pos") + w - 1).alias("end"))
    prev_end = F.max("end").over(
        Window.partitionBy("doc_id").orderBy("pos")
              .rowsBetween(Window.unboundedPreceding, -1))
    contrib = F.greatest(
        F.lit(0),
        F.col("end") - F.greatest(F.col("pos") - 1,
                                  F.coalesce(prev_end, F.lit(0))))
    removed = (hits.withColumn("_c", contrib)
                   .groupBy("doc_id")
                   .agg(F.sum("_c").cast("long").alias("n_removed")))
    nr = F.coalesce("n_removed", F.lit(0))
    return (nt.join(removed, "doc_id", "left")
              .select("doc_id", "n_tokens", nr.alias("n_removed"),
                      ((F.col("n_tokens") - nr).cast("double")
                       / F.col("n_tokens").cast("double"))
                      .alias("keep_ratio")))


DOCS_SPAN_REMOVAL_SQL = f"""
WITH corpus AS ({_MUTATED_SQL}),
t AS (SELECT doc_id, {TOKENS_SQL.format(col='text')} AS toks FROM corpus),
nt AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens FROM t),
occ AS (
  SELECT doc_id, o.pos AS pos, o.g AS g FROM (
    SELECT doc_id, unnest(os) AS o FROM (
      SELECT doc_id,
             CASE WHEN len(toks) >= {SPAN_W} THEN list_transform(
                    generate_series(1, len(toks) - {SPAN_W} + 1),
                    i -> struct_pack(pos := i,
                         g := ('0x' || substr(md5(array_to_string(
                                list_slice(toks, i, i + {SPAN_W} - 1), ' ')),
                              1, 8))::BIGINT))
                  ELSE [] END AS os
      FROM t))
),
dupg AS (SELECT g FROM occ GROUP BY g HAVING COUNT(*) >= 2),
hits AS (
  SELECT occ.doc_id, occ.pos, occ.pos + {SPAN_W} - 1 AS e
  FROM occ JOIN dupg ON occ.g = dupg.g
),
contrib AS (
  SELECT doc_id,
         GREATEST(0, e - GREATEST(pos - 1,
             COALESCE(MAX(e) OVER (PARTITION BY doc_id ORDER BY pos
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND 1 PRECEDING), 0))) AS c
  FROM hits
),
removed AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_removed
            FROM contrib GROUP BY doc_id)
SELECT nt.doc_id, nt.n_tokens,
       COALESCE(r.n_removed, 0) AS n_removed,
       CAST(nt.n_tokens - COALESCE(r.n_removed, 0) AS DOUBLE)
         / CAST(nt.n_tokens AS DOUBLE) AS keep_ratio
FROM nt LEFT JOIN removed r ON nt.doc_id = r.doc_id
"""


def fingerprint_store(spark: SparkSession, sf_dir: str,
                      w: int = WINNOW_W) -> tuple:
    """The persisted side of INCREMENTAL winnowing, at REPRESENTATIVE
    grain (the dense-clique discipline of the one-shot query, baked
    into the store): (members, postings) where members = (doc_id, gid)
    and postings = (gid, m, n_fp, fp) — exact-duplicate fingerprint
    sets stored once with their multiplicity, so a probe's pair work
    is bounded by DISTINCT content, never clique². Text never needs
    re-reading to probe a new batch (the winnowing twin of
    signature_store). All-int columns, so save/load round-trips
    parquet bit-exactly."""
    g = _winnow_groups(winnow_fingerprints(
        table(spark, sf_dir, "documents").select("doc_id", "text"), w))
    members = g.select("doc_id", "gid")
    postings = (g.dropDuplicates(["gid"])
                 .select("gid", "m", "n_fp", F.explode("_k").alias("fp")))
    return members, postings


def save_fingerprint_store(store: tuple, path: str) -> None:
    members, postings = store
    members.write.mode("overwrite").parquet(path + "/members")
    postings.write.mode("overwrite").parquet(path + "/postings")


def load_fingerprint_store(spark: SparkSession, path: str) -> tuple:
    return (spark.read.parquet(path + "/members")
                 .select("doc_id", "gid"),
            spark.read.parquet(path + "/postings")
                 .select("gid", "m", "n_fp", "fp"))


def docs_incremental_winnow_overlap(spark: SparkSession, sf_dir: str,
                                    store: DataFrame | None = None,
                                    w: int = WINNOW_W,
                                    top: int = WINNOW_TOP,
                                    cap: int = PAIR_BUCKET_CAP
                                    ) -> DataFrame:
    """Incremental exact-substring overlap: the NEW batch's winnowed
    fingerprints probe the PERSISTED posting store — old×old pairs (the
    quadratic bulk of a full recompute) never materialize, and the old
    corpus's text is never re-read. The production shape of continuous
    contamination/plagiarism screening, completing the incremental
    family (LSH near-dup: docs_incremental_lsh_pairs; exact-substring:
    THIS).

    The "new batch" is the mutant half (doc_id >= 1e6); fingerprints
    are computed batch-only. The document-frequency cap is taken over
    store ∪ batch — the full-corpus df, so a degenerate fingerprint is
    dropped under exactly the rule the one-shot query applies. Pair
    generation joins full-side postings against BATCH-side postings
    with doc_a < doc_b; because every new id sorts above every old id,
    pairs touching the batch are exactly those with doc_b >= 1e6 —
    which is also how the oracle restricts the full recompute, proving
    incremental == full-restricted bit-for-bit. Per-batch cost is
    O(batch·postings + matched buckets), independent of corpus size.

    Output mirrors docs_winnowing_overlap: top pairs by shared
    fingerprints with overlap_ratio = shared/min(|fps|). Both sides use
    the REPRESENTATIVE collapse (store is rep-grain; the batch groups
    in-flight): pair work is bounded by distinct content on both sides
    — the fixture's 30-member cliques cost one row, not 900 — and doc
    pairs expand arithmetically from the top-k-reachable tiers only.
    Batch gids all sort above store gids (>= 1e6), so a.gid < b.gid
    against batch-side postings enumerates exactly store×batch and
    batch×batch pairs; store×store never materializes."""
    if store is None:
        store = fingerprint_store(spark, sf_dir, w)
    store_members, store_post = store
    bg = _winnow_groups(winnow_fingerprints(
        mutated_corpus(spark, sf_dir).filter(F.col("doc_id") >= 1000000),
        w))
    batch_members = bg.select("doc_id", "gid")
    batch_post = (bg.dropDuplicates(["gid"])
                    .select("gid", "m", "n_fp",
                            F.explode("_k").alias("fp")))
    # Round-11 join shape (the _probe_signature_store discipline, third
    # port): pairs can only involve fingerprints the BATCH carries, so
    # the store's postings stream through a broadcast semi-join on the
    # batch's fp set before the df-cap window — per-probe shuffle is
    # O(batch + matched postings), not O(store postings). The cap stays
    # BIT-EXACT: dfreq is per-fp, and a touched fp keeps ALL its store
    # rows through the semi-join, so its store∪batch sum is unchanged;
    # untouched fps can never reach the cross join (no shared fp).
    touched = batch_post.select("fp").distinct()
    allp = (store_post.join(F.broadcast(touched), "fp")
                      .unionByName(batch_post)
                      .localCheckpoint(eager=True))
    kept = (allp.withColumn("dfreq", F.sum("m").over(
                Window.partitionBy("fp")))
                .filter(F.col("dfreq") <= cap).drop("dfreq"))
    kept_b = kept.filter(F.col("gid") >= 1000000)
    cross = (kept.select(F.col("gid").alias("g1"), F.col("m").alias("m1"),
                         F.col("n_fp").alias("n1"), "fp")
             .join(kept_b.select(F.col("gid").alias("g2"),
                                 F.col("m").alias("m2"),
                                 F.col("n_fp").alias("n2"), "fp"), "fp")
             .filter(F.col("g1") < F.col("g2"))
             .groupBy("g1", "g2", "m1", "m2", "n1", "n2")
             .agg(F.count(F.lit(1)).alias("n_shared"))
             .select("g1", "g2", "n1", "n2", "n_shared",
                     (F.col("m1") * F.col("m2")).alias("weight")))
    within = (kept_b.groupBy("gid", "m", "n_fp")
              .agg(F.count(F.lit(1)).alias("n_shared"))
              .filter(F.col("m") >= 2)
              .select(F.col("gid").alias("g1"), F.col("gid").alias("g2"),
                      F.col("n_fp").alias("n1"), F.col("n_fp").alias("n2"),
                      "n_shared",
                      (F.col("m") * (F.col("m") - 1) / 2)
                      .cast("long").alias("weight")))
    rep = cross.unionByName(within).localCheckpoint(eager=True)
    tiers = (rep.groupBy("n_shared")
                .agg(F.sum("weight").alias("tw"))
                .withColumn("before", F.coalesce(F.sum("tw").over(
                    Window.orderBy(F.desc("n_shared"))
                          .rowsBetween(Window.unboundedPreceding, -1)),
                    F.lit(0)))
                .filter(F.col("before") < top)
                .select("n_shared"))
    rk = rep.join(F.broadcast(tiers), "n_shared")
    members = store_members.unionByName(batch_members)
    exp = (F.broadcast(rk)
             .join(members.select(F.col("gid").alias("g1"),
                                   F.col("doc_id").alias("da")), "g1")
             .join(members.select(F.col("gid").alias("g2"),
                                   F.col("doc_id").alias("db")), "g2")
             .filter((F.col("g1") != F.col("g2"))
                     | (F.col("da") < F.col("db"))))
    ratio = (F.col("n_shared").cast("double")
             / F.least(F.col("n1"), F.col("n2")).cast("double"))
    return (exp.select(F.least("da", "db").alias("doc_a"),
                       F.greatest("da", "db").alias("doc_b"),
                       "n_shared", ratio.alias("overlap_ratio"))
            .orderBy(F.desc("n_shared"), F.asc("doc_a"), F.asc("doc_b"))
            .limit(top))


DOCS_INC_WINNOW_SQL = DOCS_WINNOWING_SQL.replace(
    "FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc_id < b.doc_id",
    "FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc_id < b.doc_id "
    "AND b.doc_id >= 1000000")
