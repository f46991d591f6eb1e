"""Text-analysis operators over the ``documents`` table ([EXT] surface).

Token counting, per-language profiling, quality scoring, and document
fingerprinting — all as JVM-side expressions (split / regexp /
higher-order array functions), no Python UDFs, so they run inside
whole-stage codegen and scale linearly with a parquet scan.

Cross-engine notes: tokenization is ``split(trim(text), '\\s+')`` in both
engines; integer division uses explicit double semantics; hashes are
md5-hex-prefix -> bigint (identical in Spark `conv` and DuckDB hex cast).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from postgres_es_cdc_spark.catalog import driver_frame, table
from postgres_es_cdc_spark.memo import register

STOPWORDS = ("the", "a", "of", "and", "to", "in", "is")
_STOP_SQL = "(" + ", ".join(f"'{w}'" for w in STOPWORDS) + ")"


def tokens(col: Column) -> Column:
    return F.split(F.trim(col), r"\s+")


# DuckDB twin of tokens()
TOKENS_SQL = "string_split_regex(trim({col}), '\\s+')"


def h32(col: Column) -> Column:
    """Portable 32-bit string hash: first 8 hex digits of md5 as bigint.

    DuckDB twin: ('0x' || substr(md5(x), 1, 8))::BIGINT.
    """
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")


def shingles3(toks: Column) -> Column:
    """Word 3-gram shingles, zip-based.

    PERFORMANCE CONTRACT: no lambda here references an outer column —
    an outer expression inside a higher-order lambda is re-evaluated per
    array element (tokenize-per-shingle turned the naive
    slice-by-index formulation quadratic per document). The shifted
    copies are built once as transform *arguments*; the zip lambdas only
    touch their own variables. Tail positions concat to null (concat
    propagates null) and are sliced away.
    """
    n = F.size(toks)
    t2 = F.slice(toks, 2, F.greatest(n - 1, F.lit(0)))
    t3 = F.slice(toks, 3, F.greatest(n - 2, F.lit(0)))
    joined = F.zip_with(
        F.zip_with(toks, t2, lambda x, y: F.concat(x, F.lit(" "), y)),
        t3, lambda xy, z: F.concat(xy, F.lit(" "), z))
    return F.slice(joined, 1, F.greatest(n - 2, F.lit(0)))


def docs_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token counts — whitespace tokenizer + distinct count."""
    d = table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    chars_no_ws = F.length(F.regexp_replace(F.col("text"), r"\s", ""))
    return d.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_uniq_tokens"),
        F.length("text").cast("long").alias("n_chars_text"),
        (chars_no_ws.cast("double") / F.size(toks)).alias("avg_token_len"),
    )


DOCS_TOKEN_STATS_SQL = f"""
SELECT doc_id,
       len({TOKENS_SQL.format(col='text')}) AS n_tokens,
       len(list_distinct({TOKENS_SQL.format(col='text')})) AS n_uniq_tokens,
       LENGTH(text) AS n_chars_text,
       CAST(LENGTH(regexp_replace(text, '\\s', '', 'g')) AS DOUBLE)
         / len({TOKENS_SQL.format(col='text')}) AS avg_token_len
FROM documents
"""


def docs_lang_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus profile per language tag: doc counts, token mass, avg length."""
    d = table(spark, sf_dir, "documents")
    n_tokens = F.size(tokens(F.col("text"))).cast("long")
    return (
        d.withColumn("n_tokens", n_tokens)
         .groupBy("lang")
         .agg(F.count("*").alias("n_docs"),
              F.sum("n_tokens").alias("total_tokens"),
              (F.sum("n_chars").cast("double") / F.count("*")).alias("avg_chars"),
              F.countDistinct("source").alias("n_sources"))
    )


DOCS_LANG_PROFILE_SQL = f"""
SELECT lang, COUNT(*) AS n_docs,
       CAST(SUM(len({TOKENS_SQL.format(col='text')})) AS BIGINT) AS total_tokens,
       CAST(SUM(n_chars) AS DOUBLE)/COUNT(*) AS avg_chars,
       COUNT(DISTINCT source) AS n_sources
FROM documents GROUP BY lang
"""


def quality_expr(text_col: Column) -> Column:
    """The quality score of ``docs_quality_score`` as a reusable column
    expression (identical double arithmetic in the DuckDB twin, so a
    threshold filter on it is hash-stable across engines)."""
    toks = tokens(text_col)
    n_tok = F.size(toks).cast("long")
    n_uniq = F.size(F.array_distinct(toks)).cast("long")
    n_stop = F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS))).cast("long")
    uniq_ratio = n_uniq.cast("double") / n_tok
    stop_ratio = n_stop.cast("double") / n_tok
    len_score = F.least(n_tok.cast("double") / F.lit(100.0), F.lit(1.0))
    stop_score = F.least(stop_ratio * 5.0, F.lit(1.0))
    return 0.4 * uniq_ratio + 0.3 * len_score + 0.3 * stop_score


def docs_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic quality heuristic: length, lexical diversity, stopword
    coverage — the standard cheap pre-filters of an LLM data pipeline."""
    d = table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    n_tok = F.size(toks).cast("long")
    n_uniq = F.size(F.array_distinct(toks)).cast("long")
    n_stop = F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS))).cast("long")
    uniq_ratio = n_uniq.cast("double") / n_tok
    stop_ratio = n_stop.cast("double") / n_tok
    len_score = F.least(n_tok.cast("double") / F.lit(100.0), F.lit(1.0))
    stop_score = F.least(stop_ratio * 5.0, F.lit(1.0))
    quality = 0.4 * uniq_ratio + 0.3 * len_score + 0.3 * stop_score
    return d.select(
        "doc_id", "lang",
        n_tok.alias("n_tokens"),
        n_stop.alias("n_stopwords"),
        uniq_ratio.alias("uniq_ratio"),
        stop_ratio.alias("stop_ratio"),
        quality.alias("quality"),
    )


DOCS_QUALITY_SQL = f"""
WITH t AS (
  SELECT doc_id, lang,
         {TOKENS_SQL.format(col='text')} AS toks
  FROM documents
), m AS (
  SELECT doc_id, lang,
         len(toks) AS n_tokens,
         len(list_distinct(toks)) AS n_uniq,
         len(list_filter(toks, x -> x IN {_STOP_SQL})) AS n_stopwords
  FROM t
)
SELECT doc_id, lang, n_tokens, n_stopwords,
       CAST(n_uniq AS DOUBLE)/n_tokens AS uniq_ratio,
       CAST(n_stopwords AS DOUBLE)/n_tokens AS stop_ratio,
       0.4*(CAST(n_uniq AS DOUBLE)/n_tokens)
     + 0.3*LEAST(CAST(n_tokens AS DOUBLE)/100.0, 1.0)
     + 0.3*LEAST(CAST(n_stopwords AS DOUBLE)/n_tokens*5.0, 1.0) AS quality
FROM m
"""


def docs_term_frequency(spark: SparkSession, sf_dir: str,
                        k: int = 25) -> DataFrame:
    """Corpus term statistics: top-k terms by total frequency with
    document frequency — the tf/df primitive under TF-IDF ranking and
    vocabulary pruning. (IDF's logarithm is deliberately not computed in
    the oracle-checked output: libm log differs across engines by ulps;
    consumers derive it from df/n_docs.)

    Scale: explode tokens -> one partial-agg shuffle keyed by term;
    top-k via TakeOrdered."""
    d = table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(tokens(F.col("text"))).alias("term"))
    stats = tok.groupBy("term").agg(
        F.count("*").alias("tf"),
        F.countDistinct("doc_id").alias("df"))
    return stats.orderBy(F.desc("tf"), F.asc("term")).limit(k)


DOCS_TERM_FREQUENCY_SQL = f"""
SELECT term, COUNT(*) AS tf, COUNT(DISTINCT doc_id) AS df
FROM (SELECT doc_id, unnest({TOKENS_SQL.format(col='text')}) AS term
      FROM documents)
GROUP BY term
ORDER BY tf DESC, term ASC
LIMIT 25
"""


_TEXT_STAGE_CACHE: dict = register({})


def _char_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, lang, bg) — the character-bigram explosion of the
    corpus, memoized per (session, corpus) as a lazily
    localCheckpointed frame: docs_lang_id consumes it through TWO plan
    branches (profile training + per-doc scoring) and Spark does no
    cross-branch CSE, so without materialization the explode (the
    dominant cost, O(chars) rows) runs twice per query — and again in
    docs_langid_confusion, which composes docs_lang_id."""
    key = (spark.sparkContext.applicationId, sf_dir, "char_bigrams")
    hit = _TEXT_STAGE_CACHE.get(key)
    if hit is None:
        d = table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
        pos = F.posexplode(F.sequence(F.lit(1), F.length("text") - 1))
        hit = (d.select("doc_id", "lang", "text", pos.alias("_i", "i"))
                .select("doc_id", "lang",
                        F.expr("substr(text, i, 2)").alias("bg"))
                .localCheckpoint(eager=False))
        _TEXT_STAGE_CACHE[key] = hit
    return hit


def docs_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-bigram language ID, trained and applied in one plan.

    Train: per language tag, the top-20 character bigrams by frequency
    (tie-break bigram asc) over the labeled corpus. Classify: each doc
    scores every language by |distinct doc bigrams ∩ top-20|; argmax
    wins (tie-break lang asc). Fully deterministic, no external model —
    the n-gram heuristic an LLM-data pipeline runs before a real
    classifier. Scale shape: profile table is tiny -> broadcast; docs
    stream through one explode + join + argmax window (the explode is
    memoized — see _char_bigrams).
    """
    bigrams = _char_bigrams(spark, sf_dir)
    w_rank = Window.partitionBy("lang").orderBy(F.desc("cnt"), F.asc("bg"))
    profiles = (
        bigrams.groupBy("lang", "bg").agg(F.count("*").alias("cnt"))
               .withColumn("rn", F.row_number().over(w_rank))
               .filter(F.col("rn") <= 20)
               .select(F.col("lang").alias("cand_lang"), "bg")
    )
    doc_bg = bigrams.select("doc_id", "lang", "bg").distinct()
    scores = (
        doc_bg.join(F.broadcast(profiles), "bg")
              .groupBy("doc_id", "lang", "cand_lang")
              .agg(F.count("*").alias("score"))
    )
    w_best = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("cand_lang"))
    return (
        scores.withColumn("rn", F.row_number().over(w_best))
              .filter(F.col("rn") == 1)
              .select("doc_id", "lang",
                      F.col("cand_lang").alias("pred_lang"),
                      F.col("score"),
                      (F.col("cand_lang") == F.col("lang")).alias("correct"))
    )


DOCS_LANG_ID_SQL = """
WITH bigrams AS (
  SELECT doc_id, lang, substr(text, i, 2) AS bg
  FROM (SELECT doc_id, lang, text,
               unnest(generate_series(1, LENGTH(text) - 1)) AS i
        FROM documents)
), profiles AS (
  SELECT lang AS cand_lang, bg
  FROM (SELECT lang, bg, COUNT(*) AS cnt,
               ROW_NUMBER() OVER (PARTITION BY lang ORDER BY COUNT(*) DESC, bg ASC) AS rn
        FROM bigrams GROUP BY lang, bg)
  WHERE rn <= 20
), doc_bg AS (
  SELECT DISTINCT doc_id, lang, bg FROM bigrams
), scores AS (
  SELECT d.doc_id, d.lang, p.cand_lang, COUNT(*) AS score
  FROM doc_bg d JOIN profiles p ON d.bg = p.bg
  GROUP BY d.doc_id, d.lang, p.cand_lang
)
SELECT doc_id, lang, cand_lang AS pred_lang, score,
       cand_lang = lang AS correct
FROM (SELECT doc_id, lang, cand_lang, score,
             ROW_NUMBER() OVER (PARTITION BY doc_id
                                ORDER BY score DESC, cand_lang ASC) AS rn
      FROM scores)
WHERE rn = 1
"""


def docs_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content fingerprints: full-text md5 + 60-bit int prefix + shingle
    min-hash (single function) — the primitives exact/near dedup builds on."""
    d = table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    shingles = shingles3(toks)
    shingle_hashes = F.transform(F.array_distinct(shingles), h32)
    return d.select(
        "doc_id",
        F.md5("text").alias("content_md5"),
        F.conv(F.substring(F.md5("text"), 1, 15), 16, 10).cast("long").alias("fp60"),
        F.size(F.array_distinct(shingles)).cast("long").alias("n_shingles"),
        F.array_min(shingle_hashes).alias("min_shingle_h"),
        F.array_max(shingle_hashes).alias("max_shingle_h"),
    )


DOCS_FINGERPRINT_SQL = f"""
WITH t AS (
  SELECT doc_id, text, {TOKENS_SQL.format(col='text')} AS toks FROM documents
), s AS (
  SELECT doc_id, text,
         list_distinct(list_transform(
             generate_series(1, greatest(len(toks)-2, 0)),
             i -> array_to_string(list_slice(toks, i, i+2), ' '))) AS shingles
  FROM t
)
SELECT doc_id,
       md5(text) AS content_md5,
       ('0x' || substr(md5(text), 1, 15))::BIGINT AS fp60,
       len(shingles) AS n_shingles,
       list_min(list_transform(shingles, x -> ('0x'||substr(md5(x),1,8))::BIGINT)) AS min_shingle_h,
       list_max(list_transform(shingles, x -> ('0x'||substr(md5(x),1,8))::BIGINT)) AS max_shingle_h
FROM s
"""


# GPT-2-style pretokenizer, simplified to RE2-compatible ASCII classes
# (no lookahead — DuckDB is RE2; Java regex agrees on this subset):
# letter runs, digit runs, punctuation runs, each with optional leading
# space. Both engines segment identically (pinned by the oracle).
BPE_PATTERN = r" ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9 \t\n]+"


def docs_bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting with a BPE-ish pretokenizer regex alongside the
    whitespace count — the cost estimator of an LLM data pipeline
    (whitespace tokens under-count subword splits; the ratio is the
    fertility proxy).

    Scale: pure per-row regexp in whole-stage codegen; no shuffle."""
    d = table(spark, sf_dir, "documents")
    bpe = F.regexp_extract_all(F.col("text"), F.lit(BPE_PATTERN), 0)
    ws = tokens(F.col("text"))
    return d.select(
        "doc_id",
        F.size(bpe).cast("long").alias("n_bpe_tokens"),
        F.size(ws).cast("long").alias("n_ws_tokens"),
        (F.size(bpe).cast("double") / F.size(ws)).alias("fertility"),
    )


DOCS_BPE_TOKEN_SQL = f"""
SELECT doc_id,
       len(regexp_extract_all(text, '{BPE_PATTERN}')) AS n_bpe_tokens,
       len({TOKENS_SQL.format(col='text')}) AS n_ws_tokens,
       CAST(len(regexp_extract_all(text, '{BPE_PATTERN}')) AS DOUBLE)
         / len({TOKENS_SQL.format(col='text')}) AS fertility
FROM documents
"""


def docs_top_terms(spark: SparkSession, sf_dir: str, k: int = 3) -> DataFrame:
    """Per-document keyword extraction: top-k terms by in-document
    frequency (tie-break term asc), each with its corpus document
    frequency — the integer-exact core of TF-IDF keywording (the log is
    left to consumers; see docs_term_frequency on why).

    Scale shape: one explode -> (doc_id, term) partial-agg shuffle for
    tf; the per-term df aggregate joins back broadcast-style (vocabulary
    is tiny next to the corpus); WindowGroupLimit caps per-doc output
    below the final shuffle."""
    d = table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(tokens(F.col("text"))).alias("term"))
    tf = tok.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df_ = tok.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    w = Window.partitionBy("doc_id").orderBy(F.desc("tf"), F.asc("term"))
    return (tf.withColumn("term_rank", F.row_number().over(w).cast("long"))
              .filter(F.col("term_rank") <= k)
              .join(df_, "term")
              .select("doc_id", "term", "tf", "df", "term_rank"))


DOCS_TOP_TERMS_SQL = f"""
WITH tok AS (
  SELECT doc_id, unnest({TOKENS_SQL.format(col='text')}) AS term
  FROM documents
), tf AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY doc_id, term
), df AS (
  SELECT term, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY term
), ranked AS (
  SELECT doc_id, term, tf,
         ROW_NUMBER() OVER (PARTITION BY doc_id
                            ORDER BY tf DESC, term ASC) AS term_rank
  FROM tf
)
SELECT r.doc_id, r.term, r.tf, d.df, r.term_rank
FROM ranked r JOIN df d USING (term)
WHERE r.term_rank <= 3
"""


def docs_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix + per-class recall for the bigram language-ID
    classifier — the eval step that belongs next to any classifier in a
    data pipeline (is 'mis-tagged lang' noise worth a better model?).
    Composes docs_lang_id (the per-doc argmax predictions); docs whose
    bigrams overlap no profile are absent there and excluded here, in
    both engines.

    Scale: the matrix aggregate is map-side-combinable over the
    prediction frame; the recall window runs on the |langs|^2 result.
    """
    pred = docs_lang_id(spark, sf_dir)
    agg = (pred.groupBy("lang", "pred_lang")
               .agg(F.count(F.lit(1)).alias("n")))
    wl = Window.partitionBy("lang")
    return agg.select(
        "lang", "pred_lang", "n",
        (F.col("n").cast("double")
         / F.sum("n").over(wl).cast("double")).alias("row_share"))


DOCS_LANGID_CONFUSION_SQL = f"""
WITH pred AS ({DOCS_LANG_ID_SQL}),
agg AS (
  SELECT lang, pred_lang, COUNT(*) AS n FROM pred GROUP BY lang, pred_lang
)
SELECT lang, pred_lang, n,
       CAST(n AS DOUBLE)
         / CAST(SUM(n) OVER (PARTITION BY lang) AS DOUBLE) AS row_share
FROM agg
"""


def docs_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log2-bucketed token-length histogram — the first chart of every
    corpus datasheet (sequence-length budget planning, truncation-rate
    estimation). The bucket is the integer bit-length of the token
    count (length(bin(n)) — the same libm-free log2 trick detlog uses),
    so bucket b holds docs with 2^(b-1) <= n_tokens < 2^b; no floats
    anywhere. One partial-aggregable pass; output is O(log max_len)."""
    d = table(spark, sf_dir, "documents").select("doc_id", "text")
    n = F.size(tokens(F.col("text")))
    return (d.select(n.alias("n"))
             .select(F.expr("length(bin(n))").alias("bucket"), "n")
             .groupBy("bucket")
             .agg(F.count(F.lit(1)).alias("n_docs"),
                  F.min("n").alias("min_tokens"),
                  F.max("n").alias("max_tokens"),
                  F.sum("n").alias("sum_tokens")))


DOCS_LENGTH_HIST_SQL = f"""
SELECT CAST(length(bin(n)) AS INT) AS bucket,
       COUNT(*) AS n_docs,
       CAST(MIN(n) AS INT) AS min_tokens,
       CAST(MAX(n) AS INT) AS max_tokens,
       CAST(SUM(n) AS BIGINT) AS sum_tokens
FROM (SELECT len({TOKENS_SQL.format(col='text')}) AS n FROM documents)
GROUP BY CAST(length(bin(n)) AS INT)
"""


CHAR_TRIGRAM_TOP = 5


def docs_char_trigram_profile(spark: SparkSession, sf_dir: str,
                              top: int = CHAR_TRIGRAM_TOP) -> DataFrame:
    """Per-language top character trigrams — the training table of the
    classic char-n-gram language identifier (Cavnar-Trenkle): the
    profile docs_lang_id scores against, exposed as its own query so
    the profile itself is driver-verified.

    Scale shape: trigram expansion is a per-row generate (O(chars)
    short rows), counting is one partial-aggregable groupBy on
    (lang, trigram), and the top-k window runs on the counted profile
    (alphabet³-bounded, corpus-size independent). Ties break on the
    trigram string for cross-engine determinism."""
    d = table(spark, sf_dir, "documents").select("lang", "text")
    idx = F.sequence(F.lit(1), F.greatest(F.length("text") - 2, F.lit(0)))
    ex = (d.select("lang", F.explode(idx).alias("i"), "text")
           .select("lang", F.expr("substring(text, i, 3)").alias("tri")))
    counts = ex.groupBy("lang", "tri").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("lang").orderBy(F.desc("n"), F.asc("tri"))
    return (counts.withColumn("rank", F.row_number().over(w))
                  .filter(F.col("rank") <= top)
                  .select("lang", "rank", "tri", "n"))


DOCS_CHAR_TRIGRAM_SQL = f"""
WITH ex AS (
  SELECT lang, substring(text, i, 3) AS tri
  FROM (SELECT lang, text,
               unnest(generate_series(1, greatest(length(text) - 2, 0))) AS i
        FROM documents)
),
counts AS (SELECT lang, tri, COUNT(*) AS n FROM ex GROUP BY 1, 2)
SELECT lang, rank, tri, n
FROM (SELECT lang, tri, n,
             ROW_NUMBER() OVER (PARTITION BY lang
                                ORDER BY n DESC, tri ASC) AS rank
      FROM counts)
WHERE rank <= {CHAR_TRIGRAM_TOP}
"""


VOCAB_BUCKETS = 10


def docs_vocab_growth_curve(spark: SparkSession, sf_dir: str,
                            buckets: int = VOCAB_BUCKETS) -> DataFrame:
    """Heaps-law vocabulary growth: cumulative distinct-term count after
    ingesting each successive tenth of the corpus (doc_id order =
    ingestion order) — the curve that says whether a crawl is still
    finding new language or re-reading itself (flat tail = saturated;
    compare docs_ngram_novelty, which is the per-doc view).

    Exact and order-free: each term contributes at its FIRST doc
    (min doc_id); docs are bucketed ARITHMETICALLY by id position
    against a broadcast (min_id, max_id) aggregate — no global sort/
    ntile (a single-partition sort of every doc id would be the one
    non-scalable step; id-range bucketing is what a metadata catalog
    gives for free at 100 TB). Bucketing divides the [lo, hi] id SPAN,
    not the row count, so gapped/sparse ids still land in 1..buckets
    (buckets then mean "tenth of the id range", uneven doc counts are
    reported via n_docs). The cumulative sum runs over the 10-row
    bucket frame. Scale: one explode + min-aggregate keyed by term,
    broadcast bucket arithmetic, windows only on O(buckets) rows."""
    d = table(spark, sf_dir, "documents").select("doc_id", "text")
    first = (d.select("doc_id", F.explode(tokens(F.col("text")))
                      .alias("term"))
              .groupBy("term").agg(F.min("doc_id").alias("first_doc")))
    bounds = d.agg(F.min("doc_id").alias("lo"),
                   (F.max("doc_id") - F.min("doc_id") + 1).alias("span"))

    def bucket_of(col):
        return (F.floor((col - F.col("lo")) * buckets / F.col("span"))
                + 1).cast("int")

    doc_buckets = (d.select("doc_id").crossJoin(F.broadcast(bounds))
                    .select("doc_id", bucket_of(F.col("doc_id"))
                            .alias("bucket")))
    new_terms = (first.crossJoin(F.broadcast(bounds))
                      .select(bucket_of(F.col("first_doc")).alias("bucket"))
                      .groupBy("bucket")
                      .agg(F.count(F.lit(1)).alias("n_new_terms")))
    docs_per = doc_buckets.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_docs"))
    wc = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.currentRow)
    return (docs_per.join(new_terms, "bucket", "left")
            .select("bucket", "n_docs",
                    F.coalesce("n_new_terms", F.lit(0))
                     .alias("n_new_terms"))
            .withColumn("vocab_size",
                        F.sum("n_new_terms").over(wc).cast("long")))


DOCS_VOCAB_GROWTH_SQL = f"""
WITH first AS (
  SELECT term, MIN(doc_id) AS first_doc
  FROM (SELECT doc_id, unnest({TOKENS_SQL.format(col='text')}) AS term
        FROM documents)
  GROUP BY term
),
bounds AS (SELECT MIN(doc_id) AS lo,
                  MAX(doc_id) - MIN(doc_id) + 1 AS span
           FROM documents),
doc_buckets AS (
  SELECT doc_id,
         CAST(floor((doc_id - lo) * {VOCAB_BUCKETS} / span) + 1 AS INT)
           AS bucket
  FROM documents CROSS JOIN bounds
),
new_terms AS (
  SELECT CAST(floor((first_doc - lo) * {VOCAB_BUCKETS} / span) + 1 AS INT)
           AS bucket,
         COUNT(*) AS n_new_terms
  FROM first CROSS JOIN bounds
  GROUP BY 1
),
docs_per AS (
  SELECT bucket, COUNT(*) AS n_docs FROM doc_buckets GROUP BY bucket
)
SELECT d.bucket, d.n_docs,
       COALESCE(n.n_new_terms, 0) AS n_new_terms,
       CAST(SUM(COALESCE(n.n_new_terms, 0)) OVER (
           ORDER BY d.bucket ASC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS vocab_size
FROM docs_per d LEFT JOIN new_terms n ON n.bucket = d.bucket
"""


def docs_repetition_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style intra-document repetition filters (Rae et al.'s
    "repetitious documents" rules, the ones MassiveText applies before
    any cross-doc dedup): per document, the share of the single most
    frequent word 2-gram (top_bigram_share) and the fraction of 2-gram
    occurrences belonging to 2-grams repeated within the doc
    (dup_bigram_fraction). High values flag degenerate/templated text
    that per-corpus dedup cannot see.

    Scale shape: one explode to (doc, bigram) rows, one partial-
    aggregable groupBy on (doc_id, bg), one on doc_id — the word-count
    MapReduce, linear in corpus tokens; ratios are exact long/long
    double divisions, identical in the DuckDB twin."""
    d = table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = tokens(F.col("text"))
    n = F.size(toks)
    t2 = F.slice(toks, 2, F.greatest(n - 1, F.lit(0)))
    bg_full = F.zip_with(toks, t2,
                         lambda x, y: F.concat(x, F.lit(" "), y))
    bg_col = F.slice(bg_full, 1, F.greatest(n - 1, F.lit(0)))
    bg = d.select("doc_id", F.explode(bg_col).alias("bg"))
    per_bg = bg.groupBy("doc_id", "bg").agg(F.count(F.lit(1)).alias("c"))
    return (per_bg.groupBy("doc_id")
            .agg(F.sum("c").alias("n_bigrams"),
                 F.max("c").alias("top_c"),
                 F.sum(F.when(F.col("c") >= 2, F.col("c"))
                        .otherwise(F.lit(0))).alias("dup_c"))
            .select("doc_id", "n_bigrams",
                    (F.col("top_c").cast("double") / F.col("n_bigrams"))
                    .alias("top_bigram_share"),
                    (F.col("dup_c").cast("double") / F.col("n_bigrams"))
                    .alias("dup_bigram_fraction")))


DOCS_REPETITION_SQL = f"""
WITH toks AS (
  SELECT doc_id, {TOKENS_SQL.format(col='text')} AS t FROM documents
),
bg AS (
  SELECT doc_id, t[i] || ' ' || t[i + 1] AS bg
  FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - 1)) AS i
        FROM toks)
),
per_bg AS (SELECT doc_id, bg, COUNT(*) AS c FROM bg GROUP BY 1, 2)
SELECT doc_id,
       CAST(SUM(c) AS BIGINT) AS n_bigrams,
       CAST(MAX(c) AS DOUBLE) / CAST(SUM(c) AS DOUBLE)
         AS top_bigram_share,
       CAST(SUM(CASE WHEN c >= 2 THEN c ELSE 0 END) AS DOUBLE)
         / CAST(SUM(c) AS DOUBLE) AS dup_bigram_fraction
FROM per_bg GROUP BY doc_id
"""


BPE_PAIR_TOP = 30


def docs_bpe_pair_stats(spark: SparkSession, sf_dir: str,
                        top: int = BPE_PAIR_TOP) -> DataFrame:
    """BPE merge-pair statistics — the inner loop of byte-pair-encoding
    TOKENIZER TRAINING (the step docs_bpe_token_count's regex only
    approximates): count adjacent character pairs across the corpus,
    weighted by word frequency; the argmax pair is the next BPE merge.
    One training iteration exposed as a table: the top ``top`` candidate
    merges with exact corpus-weighted counts.

    Scale shape: pair generation runs over the word VOCABULARY (one
    map-side-combinable word count compacts the corpus first), so the
    explode is vocab-sized, not corpus-sized — exactly how production
    BPE trainers batch it. Final ranking is a bounded TakeOrdered,
    never a vocabulary-wide window. Ties: (c1, c2) asc.

    Guard (DEVNOTES rule 4): Spark sequence(1, 0) counts DOWN, so
    1-char words are filtered before pair generation (they contribute
    no pairs); DuckDB's generate_series(1, 0) is empty, same result."""
    d = table(spark, sf_dir, "documents")
    vocab = (d.select(F.explode(tokens(F.col("text"))).alias("word"))
              .groupBy("word").agg(F.count(F.lit(1)).alias("wn")))
    pv = vocab.filter(F.length("word") >= 2)
    pair_arr = F.expr(
        "transform(sequence(1, length(word) - 1),"
        " i -> named_struct('c1', substring(word, i, 1),"
        "                   'c2', substring(word, i + 1, 1)))")
    pairs = pv.select("wn", F.explode(pair_arr).alias("p"))
    counts = (pairs.groupBy(F.col("p.c1").alias("c1"),
                            F.col("p.c2").alias("c2"))
                   .agg(F.sum("wn").alias("n")))
    topk = counts.orderBy(F.desc("n"), F.asc("c1"), F.asc("c2")).limit(top)
    w = Window.orderBy(F.desc("n"), F.asc("c1"), F.asc("c2"))
    return (topk.withColumn("rank", F.row_number().over(w))
                .select("rank", "c1", "c2", "n"))


DOCS_BPE_PAIR_SQL = f"""
WITH vocab AS (
  SELECT w AS word, COUNT(*) AS wn
  FROM (SELECT unnest({TOKENS_SQL.format(col='text')}) AS w FROM documents)
  GROUP BY 1
),
pos AS (
  SELECT word, wn, unnest(generate_series(1, length(word) - 1)) AS i
  FROM vocab WHERE length(word) >= 2
),
pc AS (
  SELECT substring(word, i, 1) AS c1, substring(word, i + 1, 1) AS c2,
         CAST(SUM(wn) AS BIGINT) AS n
  FROM pos GROUP BY 1, 2
)
SELECT ROW_NUMBER() OVER (ORDER BY n DESC, c1 ASC, c2 ASC) AS rank,
       c1, c2, n
FROM pc
ORDER BY n DESC, c1 ASC, c2 ASC
LIMIT {BPE_PAIR_TOP}
"""


BPE_MERGES = 20
BPE_DELIM = "\x01"  # symbol-boundary marker; never occurs in real text


def _bpe_train(vocab: list, merges: int):
    """Driver-side BPE merge training over the (word, count) VOCABULARY
    — the step docs_bpe_pair_stats exposes one iteration of, looped to
    completion. Words are kept as delimiter-PREFIXED symbol strings
    ("\\x01c\\x01a\\x01t"): with a prefix (not separator) delimiter,
    plain left-to-right non-overlapping str.replace IS the greedy BPE
    merge application ("·a·b·a·b" -> "·ab·ab"; "·a·a·a" -> "·aa·a"),
    and DuckDB's replace() has identical semantics, so the oracle can
    unroll the same loop as per-merge MATERIALIZED CTEs and stay
    bit-exact. Pair counts are corpus-weighted (wn) with the overlap-
    counting zip rule; argmax ties break (n DESC, c1 ASC, c2 ASC) —
    the docs_bpe_pair_stats ordering.

    This is the PCA driver-math split (DEVNOTES): the vocabulary is
    tiny relative to the corpus (a production trainer collects it the
    same way), each merge step is O(vocab·word_len) Python, and the
    corpus never participates — m chained Spark jobs would pay ~2s
    scheduling each for the same arithmetic.

    Returns (merge_rows [(step, c1, c2, merged, n)], {word: sym})."""
    syms = {w: BPE_DELIM + BPE_DELIM.join(w) for w, _ in vocab}
    rows = []
    for step in range(1, merges + 1):
        counts = {}
        for w, wn in vocab:
            s = syms[w].split(BPE_DELIM)[1:]
            for a, b in zip(s, s[1:]):
                counts[(a, b)] = counts.get((a, b), 0) + wn
        if not counts:
            break
        (c1, c2), n = min(counts.items(),
                          key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))
        rows.append((step, c1, c2, c1 + c2, n))
        pat, rep = BPE_DELIM + c1 + BPE_DELIM + c2, BPE_DELIM + c1 + c2
        for w in syms:
            syms[w] = syms[w].replace(pat, rep)
    return rows, syms


def _bpe_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    return (d.select(F.explode(tokens(F.col("text"))).alias("word"))
             .filter(F.length("word") >= 1)
             .filter(~F.col("word").contains(BPE_DELIM))
             .groupBy("word").agg(F.count(F.lit(1)).alias("wn")))


def docs_bpe_merges(spark: SparkSession, sf_dir: str,
                    merges: int = BPE_MERGES) -> DataFrame:
    """The trained BPE merge list: ``merges`` iterations of
    count-pairs -> argmax -> apply, over the corpus word vocabulary —
    closing the tokenizer-training loop docs_bpe_pair_stats opened
    (that query IS step 1 of this one, restricted to char pairs).
    Returns (step, c1, c2, merged, n) in training order; fewer rows
    than ``merges`` iff the vocabulary merges to single symbols first.

    Scale shape: one word-count MapReduce compacts the corpus to its
    vocabulary; training is driver math on that vocabulary (see
    _bpe_train); the corpus is never re-read."""
    vocab = [(r["word"], r["wn"])
             for r in _bpe_vocab(spark, sf_dir).collect()]
    rows, _ = _bpe_train(vocab, merges)
    return spark.createDataFrame(
        rows, "step int, c1 string, c2 string, merged string, n long")


def docs_bpe_encode(spark: SparkSession, sf_dir: str,
                    merges: int = BPE_MERGES) -> DataFrame:
    """Re-encode the corpus with the trained BPE merges and report
    per-document token counts — the end product of tokenizer training
    (token budgets drive packing, pricing, and mixture weights).

    Scale shape: the encoded length of a word depends only on the word,
    so the corpus-side work is ONE broadcast join of the exploded word
    stream against the vocabulary-sized (word -> n_tokens) table built
    driver-side from the trained symbol strings — no per-document
    Python, no re-tokenization pass. n_tokens = count of boundary
    markers in the final symbol string."""
    vocab_df = _bpe_vocab(spark, sf_dir)
    vocab = [(r["word"], r["wn"]) for r in vocab_df.collect()]
    _, syms = _bpe_train(vocab, merges)
    mdf = driver_frame(spark,
                       [(w, s.count(BPE_DELIM)) for w, s in syms.items()],
                       "word string, n_tok long")
    d = table(spark, sf_dir, "documents")
    words = (d.select("doc_id", "source",
                      F.explode(tokens(F.col("text"))).alias("word"))
              .filter(F.length("word") >= 1))
    return (words.join(F.broadcast(mdf), "word")
                 .groupBy("doc_id", "source")
                 .agg(F.count(F.lit(1)).alias("n_words"),
                      F.sum("n_tok").alias("n_bpe_tokens"))
                 .select("doc_id", "source", "n_words", "n_bpe_tokens",
                         (F.col("n_bpe_tokens").cast("double")
                          / F.col("n_words").cast("double"))
                         .alias("fertility")))


def _bpe_train_ctes(merges: int) -> str:
    """DuckDB twin of _bpe_train: the merge loop unrolled as per-step
    MATERIALIZED CTE chains (the kmeans/power-iteration pattern).
    m{i} is the argmax pair of step i (empty once the vocabulary is
    fully merged — v{i} then passes through via the LEFT JOIN guard);
    v{i} is the vocabulary after applying merge i with the same
    prefix-delimiter replace as the engine."""
    d = "chr(1)"
    parts = [f"""WITH vocab AS (
  SELECT word, COUNT(*) AS wn
  FROM (SELECT unnest({TOKENS_SQL.format(col='text')}) AS word
        FROM documents)
  WHERE length(word) >= 1 AND NOT contains(word, {d})
  GROUP BY 1
), v0 AS (
  SELECT word, wn,
         {d} || array_to_string(string_split(word, ''), {d}) AS sym
  FROM vocab
)"""]
    for i in range(1, merges + 1):
        parts.append(f""", e{i} AS (
  SELECT wn, (string_split(sym, {d}))[2:] AS s FROM v{i - 1}
), x{i} AS (
  SELECT wn, s, unnest(generate_series(1, len(s) - 1)) AS j FROM e{i}
), pc{i} AS (
  SELECT s[j] AS c1, s[j + 1] AS c2, CAST(SUM(wn) AS BIGINT) AS n
  FROM x{i} GROUP BY 1, 2
), m{i} AS MATERIALIZED (
  SELECT c1, c2, n FROM pc{i} ORDER BY n DESC, c1 ASC, c2 ASC LIMIT 1
), v{i} AS MATERIALIZED (
  SELECT v.word, v.wn,
         CASE WHEN m.c1 IS NULL THEN v.sym
              ELSE replace(v.sym, {d} || m.c1 || {d} || m.c2,
                           {d} || m.c1 || m.c2)
         END AS sym
  FROM v{i - 1} v LEFT JOIN m{i} m ON TRUE
)""")
    return "".join(parts)


DOCS_BPE_MERGES_SQL = _bpe_train_ctes(BPE_MERGES) + """
SELECT * FROM (
""" + "\n  UNION ALL ".join(
    f"SELECT {i} AS step, c1, c2, c1 || c2 AS merged, n FROM m{i}"
    for i in range(1, BPE_MERGES + 1)
) + """
)
ORDER BY step
"""


DOCS_BPE_ENCODE_SQL = _bpe_train_ctes(BPE_MERGES) + f"""
, enc AS (
  SELECT word,
         CAST(length(sym) - length(replace(sym, chr(1), '')) AS BIGINT)
           AS n_tok
  FROM v{BPE_MERGES}
), docw AS (
  SELECT doc_id, source,
         unnest({TOKENS_SQL.format(col='text')}) AS word
  FROM documents
)
SELECT doc_id, source, COUNT(*) AS n_words,
       CAST(SUM(n_tok) AS BIGINT) AS n_bpe_tokens,
       CAST(SUM(n_tok) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS fertility
FROM docw JOIN enc USING (word)
GROUP BY doc_id, source
"""
