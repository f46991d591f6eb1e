"""Regenerate PLANS.md: `.explain("formatted")` trees for headline
queries with scale-property annotations.

Usage: python tools/gen_plans.py [sf_dir]
"""

from __future__ import annotations

import contextlib
import io
import sys

from pyspark.sql import SparkSession

PICKS = {
    "q3_shipping_priority":
        "Fact-side scans keep only needed columns; both dimension joins "
        "broadcast — no shuffle of lineitem for the joins, one shuffle "
        "for the aggregate.",
    "q1_pricing_summary":
        "Single scan, filter pushed to parquet, two-phase HashAggregate "
        "(partial map-side, final after one shuffle on the 2-value "
        "grouping key).",
    "join_full_outer":
        "Both sides pre-aggregated to ~25 rows BEFORE the full outer "
        "join: the join shuffles aggregate output, never base tables.",
    "events_exists_buyers":
        "Left-semi with the filtered event side broadcast: customer "
        "table is never shuffled.",
    "topk_per_group":
        "WindowGroupLimit pushes rank<=3 below the shuffle — partial "
        "top-k per map task.",
    "docs_hash_sample":
        "Sample membership is a scan-side predicate: no shuffle, no UDF; "
        "the filter sits directly on the parquet scan.",
    "emb_ivf_topk":
        "IVF probe: centroid assignment broadcast, candidate search "
        "confined to probed cells.",
    "cdc_apply_changes_typed":
        "CDC fold as ONE partial-aggregable pass: shuffle carries "
        "per-key partial maxima (struct payloads, zero JSON serde), not "
        "raw events.",
    "cdc_scd2_history":
        "Full version-history fold: all four Window operators chain "
        "over a SINGLE Exchange on the key — history costs the same "
        "one shuffle as latest-state.",
    "docs_match_query":
        "Match-query ranking: the per-term df aggregate broadcasts "
        "back; only query-term rows shuffle; top-k is TakeOrdered, "
        "no global sort.",
    "cdc_pgoutput_roundtrip":
        "Wire codec round-trip: encode and decode are two Arrow-batched "
        "mapInPandas stages pipelined into the scan (no extra shuffle); "
        "the fold below them is the same one partial-agg Exchange.",
    "docs_decontaminate":
        "Benchmark gram set aggregates to a broadcast build side; the "
        "corpus side streams through the scan with only the 8-byte gram "
        "hash join key exchanged — no text ever shuffles.",
    "emb_ivf_trained_topk":
        "Trained IVF: every per-iteration assign step broadcasts the "
        "centroid rationals; the probe-limited search joins only cell "
        "members, so exact distances touch corpus*nprobe/k vectors.",
    "events_gap_fill":
        "Spine and hourly rollup both broadcast into the fill join; the "
        "raw event scan feeds ONE map-side-combinable aggregate and is "
        "never joined row-wise against the spine.",
    "events_interval_join":
        "Interval join as a conditional aggregate over a RANGE frame: "
        "ONE Exchange on user_id and one sort — no range-join candidate "
        "pairs, no second scan of the probe side.",
    "emb_pq_adc_topk":
        "ADC search: candidates join the broadcast per-query LUT on "
        "their small-int codes; the corpus-wide stage reads 4 codes per "
        "vector, never raw embeddings — memory-bandwidth shape of "
        "IVF-PQ.",
    "docs_rrf_fusion":
        "Both rankers end in WindowGroupLimit-bounded top-20; the "
        "full-outer fusion join and final rank touch <=40 rows.",
    "stats_linreg_price_qty":
        "Regression aggregates in one partial-aggregable pass: the "
        "shuffle carries six DECIMAL counters per returnflag, never "
        "rows.",
    "graph_bfs_distances":
        "Frontier-only BFS: iterations join the materialized "
        "(localCheckpointed) edge blocks against only the last layer's "
        "nodes; anti-join vs the settled union keeps expansion "
        "monotone.",
    "emb_ivfpq_topk":
        "IVF-PQ composition: coarse probe limits candidates to nprobe "
        "cells, then the ADC stage joins broadcast per-query LUTs on "
        "4 small-int codes — raw vectors appear only in the (memoized) "
        "train stage, never in the per-query scan.",
    "docs_chunk_dedup":
        "Chunk-level dedup: chunk hashing is array ops inside the scan "
        "stage; the two Exchanges carry only (hash, doc_id, len) "
        "triples — full text never shuffles, and the duplicate flag is "
        "a min!=max window over the hash partition (spillable; no "
        "per-hash array, no self-join re-evaluation).",
    "events_funnel":
        "Funnel: three chained conditional-min Window ops share ONE "
        "user-keyed Exchange; per-user state is a window buffer "
        "(spills), never a collected array.",
    "docs_vocab_growth_curve":
        "Heaps curve: doc buckets come from broadcast (min, count) "
        "arithmetic — no global ntile sort; the only single-partition "
        "windows run on the 10-row bucket frame.",
    "emb_prefix_rerank_topk":
        "Two-stage adaptive retrieval: stage 1 projects to the 16-dim "
        "prefix BEFORE the broadcast cross join (scan reads a quarter "
        "of the vector payload); stage 2's exact rerank joins full "
        "vectors only for shortlist ids.",
    "docs_weighted_sample":
        "Weighted sampling: the A-ES key is pure scan-side codegen "
        "(hash + detlog ln); selection is TakeOrderedAndProject — no "
        "global sort, no shuffle of the corpus.",
    "dedup_bucket_overflow_report":
        "Cap observability: three partial-aggregable count passes over "
        "the MEMOIZED banding stages (Scan ExistingRDD, no recompute of "
        "the signature pipelines); each path rolls up to one row.",
    "orders_segment_skew_join":
        "Skew shape: the 5-row dim materializes before the join so the "
        "segment join is Sort-over-shuffle on both sides — exactly the "
        "pattern AQE's OptimizeSkewedJoin can split when a partition "
        "outgrows the threshold (asserted with forced SMJ in "
        "test_plans.py); at this size Catalyst rightly broadcasts.",
    "emb_semdedup_prune":
        "SemDeDup: cluster size bounded by k=max(isqrt(N), ceil(N/C)) "
        "=> pair work O(N*C); assign is the Arrow-batched numpy routing "
        "kernel (int64 GEMM, eager-checkpointed once for its two "
        "consumers); in-cluster pair verify is a per-cluster GEMM "
        "(applyInPandas, row-blocked).",
    "ivm_orders_priority_rollup":
        "IVM fold: three per-batch partial HashAggregates merged by one "
        "final aggregate — the shuffle carries one counter row per "
        "(batch, group), never base orders twice.",
    "orders_pareto_revenue_share":
        "Pareto: the only single-partition window runs on the "
        "per-customer rollup (|customers| rows); orders are compacted "
        "by a partial-aggregable groupBy first.",
    "docs_pmi_collocations":
        "PMI: word-count MapReduce (explode + two partial-agg "
        "groupBys); the detlog ln chain is pure codegen on the "
        "vocabulary²-bounded collocation table; top-k plans as "
        "TakeOrderedAndProject (round-5 fix: the rank window now sees "
        "only `top` rows, never the full collocation table).",
    "docs_zipf_slope":
        "Zipf: the round-5 scale-safe rank — repartitionByRange on the "
        "rank order, per-partition row_number, broadcast cumulative "
        "offsets from a P-row window; NO single-partition window over "
        "the vocabulary; the regression folds to one row of exact "
        "decimal counters.",
    "docs_incremental_lsh_pairs":
        "Incremental dedup at REPRESENTATIVE grain (round-10): store "
        "and batch collapse identical-signature docs before banding; "
        "the bucket pass, cap, and pair distinct run on DISTINCT "
        "content; member pairs expand arithmetically from rep pairs "
        "(each emitted exactly once — no member-grain distinct); "
        "oldxold never materializes.",
    "emb_hier_assign":
        "Routing-ladder assign (Arrow numpy kernel): the centroid "
        "table rides the task closure; per vector the ladder scans "
        "k2 tops + the top cell's supers + the super cell's children — "
        "N*3*k^(1/3) dots above HIER3_MIN_K, N*2*sqrt(k) below, never "
        "the flat N*k; int64 GEMM blocks, exact op-order distances.",
    "docs_dsir_weights":
        "DSIR: two hashed-bucket word-count MapReduces fold to a "
        "<=1024-row feature table that BROADCASTS into the per-token "
        "scoring join; detlog ln runs once per feature, not per token.",
    "orders_basket_affinity":
        "Basket pairs: the self-join key is the order; BASKET_CAP "
        "row_numbers each basket before the self-join so one hub order "
        "cannot emit deg^2 pairs; support filtering happens inside the "
        "partial-aggregable pair count; final ranking is TakeOrdered.",
    "graph_kcore_fixpoint":
        "Incremental-degree peel: the full |E| degree aggregation runs "
        "ONCE; each round subtracts the removed endpoints' counts — a "
        "map-side broadcast probe of the memoized base whose shuffle "
        "is sized by the removed set — and updates the |V|-sized "
        "checkpointed degree table, which IS the final core degree.",
    "ivm_watermark_rollup":
        "Watermark gate is a scan-side filter against one broadcast "
        "scalar; retained rows partial-aggregate into tumbling windows "
        "and merge with the |windows x groups|-row state — per-batch "
        "cost independent of history.",
    "part_name_fuzzy_pairs":
        "Fuzzy join runs on the name VOCABULARY (one groupBy compacts "
        "the scan), word-blocked and PAIR_BUCKET_CAP-capped before "
        "pairing; Levenshtein verifies only candidates.",
    "graph_common_neighbors_topk":
        "MinHash-LSH banding over each customer's (capped) supplier "
        "set generates candidate pairs on the SPARSE side; exact "
        "array_intersect verifies; adjacency localCheckpointed once "
        "for its three branches; bounded TakeOrdered top-k. (The "
        "supplier-keyed pair join was rejected at 518s/sf1: every "
        "supplier has deg ~590, so sum deg^2 has no rare keys to cap.)",
    "cdc_schema_evolution_fold":
        "The control collect returns only the 2 'R' rows; the decode "
        "is the same one Arrow-batched mapInArrow pass as the streaming "
        "path; the fold is one partial-aggregable per-key reduction "
        "over the evolved schema.",
    "docs_bpe_pair_stats":
        "Word-count MapReduce compacts the corpus to its vocabulary "
        "first; the char-pair explode is vocab-sized; final ranking is "
        "a bounded TakeOrdered.",
    "emb_binary_quantize_topk":
        "Sign-bit codes are packed scan-side (JVM bit ops pipelined "
        "with the parquet scan — 16 bytes of code per row, not 512 of "
        "vector); the bounded query block broadcasts; the Hamming cut "
        "is a WindowGroupLimit; only n_queries x n_cand survivors "
        "touch full vectors for the exact rerank.",
    "graph_clustering_coefficient":
        "Forward triangle engine in adjacency-array form: the O(m^1.5) "
        "intersection work runs INSIDE codegen on two array columns of "
        "one row — the wedge set never materializes through an "
        "exchange (the wedge self-join draft shuffled ~750M rows at "
        "sf1: 49.8s vs 12.6s). Every multi-consumer frame is eagerly "
        "checkpointed before fan-out.",
    "docs_winnowing_overlap":
        "Positional gram hashes and windowed minima are per-row array "
        "transforms with checkpoint barriers between stages, fanned to "
        "session parallelism before the tokenize; exact-duplicate "
        "fingerprint sets collapse to representatives (multiplicity "
        "column) BEFORE the df-capped posting pair join, and only the "
        "top-k-reachable n_shared tiers expand back to doc grain — "
        "pair work bounded by distinct content, not clique^2.",
    "docs_training_shards":
        "The 100 TB export pass: one hash-partition shuffle on the "
        "shard key + one window per shard; membership and order are "
        "decorrelated pure hashes, so the plan is "
        "repartition+sortWithinPartitions at write time; the checksum "
        "pins the full permutation.",
    "graph_triangle_estimate":
        "DOULION: the hash-coin edge sample is a map-side filter over "
        "the checkpointed edge table (no shuffle); the forward engine "
        "then runs on the p-fraction subgraph (~p^2 of the exact "
        "intersection work); three 1-row aggregates cross-join into "
        "the single output row.",
    "events_quantile_gap_sketch":
        "One user-keyed shuffle for the lag window; the register fold "
        "is a map-side-combined count per (type, log2-bucket); the "
        "rank walk and bounds run on the ~types x 1000-row register "
        "table; the exact companion is register-GUIDED (round 9): a "
        "broadcast of the 15 hit buckets filters the gaps, so only "
        "bucket-local candidates sort — no full per-type window (the "
        "63.5s-at-sf10 shape the plan guard now forbids).",
    "graph_local_clustering_estimate":
        "Per-node DOULION: hash-coin map-side edge filter, forward "
        "engine on the p=1/2 subgraph (~p^1.5 of the exact "
        "intersection work), one full-graph degree agg (map-side "
        "combined), node-keyed left join to close.",
    "ivm_join_view_compacted_rollup":
        "Same delta-join per batch as ivm_join_view_rollup; the "
        "compaction fold between batches is a bag-union rewrite of "
        "the three store logs (scan + write, no shuffle beyond the "
        "write partitioning), manifest repoint is one os.replace.",
    "multimodal_video_scene_cuts":
        "Arrow-batched mapInPandas pipelined into the scan; frame "
        "matrices (numpy diff) never leave the executor — the shuffle "
        "carries 4 ints per asset.",
    "emb_incremental_near_dup_pairs":
        "Rep-grain probe: band keys computed JVM-side from the store's "
        "rep vectors, one shuffle on (band_idx, band_key), rep-pair "
        "distinct at DISTINCT-content grain, pinned broadcast of the "
        "verified rep pairs into both membership expansion joins — "
        "member rows never enter a pairwise join.",
    "emb_streaming_near_dup_fold":
        "Three chained probe iterations (one per micro-batch), each "
        "the emb_incremental_near_dup_pairs plan over the "
        "union-grown store; per-batch cost independent of index size.",
    "docs_sequence_packing":
        "2-column pruned scan, token counts inside codegen, ONE "
        "Exchange on shard, FlatMapGroupsInPandas carrying only int64 "
        "columns — text never crosses the Python boundary.",
    "docs_packing_efficiency":
        "The packing plan + two partial-aggregable groupBys on "
        "(shard, bin_id) then shard — Catalyst reuses the shard "
        "partitioning, no extra wide shuffle.",
}

HEADER = """# PLANS — physical-plan evidence for headline queries

Generated from `.explain("formatted")` at sf0.01 with AQE on
(`tools/gen_plans.py` regenerates). What to look for per plan is noted
above each; the properties hold at any scale factor because they are
plan-shape, not data-size, facts.
"""


def main() -> None:
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = (SparkSession.builder.master("local[8]")
             .config("spark.sql.shuffle.partitions", "8")
             .config("spark.sql.adaptive.enabled", "true").getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")

    from postgres_es_cdc_spark.queries import REGISTRY

    out = [HEADER]
    for name, note in PICKS.items():
        df = REGISTRY[name].fn(spark, sf)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        tree = buf.getvalue().split("\n\n")[0]  # tree only, drop node detail
        out += [f"## {name}", "", note, "", "```", tree.rstrip(), "```", ""]
    with open("PLANS.md", "w") as f:
        f.write("\n".join(out))
    print(f"wrote PLANS.md ({len(PICKS)} plans)")


if __name__ == "__main__":
    main()
