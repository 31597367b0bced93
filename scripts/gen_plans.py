#!/usr/bin/env python
"""Regenerate PLANS.md: captured physical plans for the flagship operators,
the evidence behind the scale claims (pushdown, broadcast choice, zero-
shuffle bucketing, partition pruning)."""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from node_cdc_nats_spark import registry  # noqa: E402
from node_cdc_nats_spark.session import get_spark  # noqa: E402

SHOWCASE = [
    (
        "q1_pricing_summary",
        "Partial+final aggregation around one exchange; scan reads only the 7 needed columns.",
    ),
    (
        "q3_shipping_priority",
        "Dimension filters pushed to scans; filtered customer broadcast into orders, result broadcast into lineitem.",
    ),
    (
        "q5_local_supplier_volume",
        "6-table snowflake: region→nation→supplier pruning chain broadcast; lineitem⋈orders is the only shuffle.",
    ),
    (
        "q6_forecast_revenue",
        "Pure pushdown: all four predicates at the scan, 4-column read, partial+final one-row agg, no join.",
    ),
    (
        "q18_large_volume",
        "groupBy-HAVING qualifier semi-joined (LeftSemi) back into the 3-way join; top-100 via TakeOrderedAndProject, never a global sort.",
    ),
    (
        "scan_parquet",
        "PushedFilters + 3-column ReadSchema: predicate and projection reach the parquet reader.",
    ),
    (
        "scan_partition_pruned",
        "PartitionFilters restrict the file listing to the queried date window.",
    ),
    (
        "join_bucketed",
        "Sort-merge join over bucketBy(8) tables + same-key aggregation: zero exchanges end-to-end.",
    ),
    (
        "fanout_dispatch",
        "Literal-regex multicast via explode: no join, no exchange — the event side (the 100 TB side) is never shuffled.",
    ),
    (
        "ann_ivf_topk",
        "Fixed-centroid IVF: map-side cell assignment (array_min over literal-centroid fold structs), broadcast probe list, top-k window only over probed candidates.",
    ),
    (
        "ann_ivf_learned",
        "Learned-centroid IVF (r10; trainer fused r13): same map-side serve plan as ann_ivf_topk — each quantized Lloyd refit is ONE mapInPandas pass (assignment + int64 partial sums per Arrow batch, K*D rows out per batch; the posexplode + element-level DECIMAL partial agg are gone) + a K*D-group final aggregate at build time, leaving no trace in the serve plan.",
    ),
    (
        "dedup_minhash",
        "Arrow signature projection (no shuffle) → bucket groupBy → in-bucket pair generation → hashed-set verify.",
    ),
    (
        "q10_returned_items",
        "Returnflag filter pushed into the lineitem scan; nation broadcast; no forced broadcast on SF-scaling sides; TakeOrderedAndProject top-20.",
    ),
    (
        "topk_ngrams",
        "Materialized token array → explode → partial+final hash agg on the gram key → TakeOrderedAndProject (no global sort).",
    ),
    (
        "decontaminate_ngram",
        "Benchmark gram set broadcast into the exploded train side; the corpus shuffles only on doc_id for the per-doc count.",
    ),
    (
        "sample_stratified",
        "Content-addressed md5-nibble bucket filter: scan+project+filter only, zero exchanges.",
    ),
    (
        "q8_market_share",
        "7-table join: region restriction pre-collapsed to a broadcast 25-key list; p_type/o_orderdate pushed to their scans; only bounded dims pinned broadcast.",
    ),
    (
        "q19_disjunctive_revenue",
        "Cross-table OR-of-conjunctions: per-table envelope conjuncts (quantity band, size band, brand IN) stated explicitly so they reach both scans; exact disjunction evaluates post-join.",
    ),
    (
        "q21_waiting_supplier",
        "EXISTS + NOT-EXISTS folded into ONE per-order aggregate: a single lineitem scan and one fact shuffle replace the textbook three self-joins.",
    ),
    (
        "q2_min_cost_supplier",
        "Correlated MIN decorrelated to one window over p_partkey (no second join tree; single fact scan); the p_size restriction both pushes to the part scan and semi-joins below the pair aggregate, shrinking the (partkey, suppkey) shuffle ~50x; bounded nation/region broadcast-pinned.",
    ),
    (
        "sessionize_events",
        "Batch sessionization in ONE exchange end-to-end: the lag window, the running-sum session numbering, and the per-session aggregate all reuse the user_id hash partitioning.",
    ),
    (
        "q20_excess_stock",
        "availqty and the 1996 share fuse into ONE per-(partkey,suppkey) aggregate over a single lineitem scan; p_name prefix pushed as StartsWith; supplier restriction via semi-join, nation broadcast.",
    ),
    (
        "pipeline_end_to_end",
        "Composed pipeline fused by Catalyst: map-side quality gate + token counts, one content-hash window for dedup, broadcast 13-gram decontamination, pushed-down split filter.",
    ),
    (
        "perplexity_bucket",
        "Surprisal terciles without a per-lang sort: unique-pair partial aggs, 1-row total broadcast, hash-sampled cutoffs broadcast back for a map-side CASE.",
    ),
    (
        "decontaminate_containment",
        "Pairwise benchmark containment: benchmark gram set broadcast twice (join + sizes); the only corpus shuffle is the (train,bench) pair count.",
    ),
    (
        "bpe_pair_stats",
        "BPE first-merge ranking: corpus-sized work ends at the vocabulary agg; pair explosion+count run over the vocab, top-50 via TakeOrderedAndProject.",
    ),
    (
        "downsample_ohlc",
        "Hourly OHLC rollup in ONE exchange: the final aggregate reuses the window's (event_type, bucket) hashpartitioning.",
    ),
    (
        "dedup_span",
        "Span-level dedup rewrite: first-occurrence window keyed on the span, ordered per-doc reassembly via sorted structs — two shuffles, no global sort.",
    ),
    (
        "dedup_bloom_prefilter",
        "Ingest-dedup scale path: the Bloom bitmap rides a 1-row scalar broadcast, negatives are decided map-side with zero shuffle, and only Bloom-positive docs reach the exact content-hash join.",
    ),
    (
        "rolling_active_users",
        "Trailing-7-day actives: user-day dedup shuffles once, then a BroadcastNestedLoopJoin over the calendar-bounded day grid (broadcast side grows with TIME, not data) and a two-level distinct-count with no Expand.",
    ),
    (
        "orders_market_basket",
        "Basket mining: ONE per-order collect_set exchange reduces each basket to its sorted part array; pairs explode MAP-SIDE (≤21 per order), the pair census partial-aggregates and is count-floored before the per-part joins; top-50 via TakeOrderedAndProject.",
    ),
    (
        "events_hourly_cusum",
        "Dense-grid CUSUM: the corpus collapses in ONE (type, hour) census shuffle with map-side partials; the types×hours grid join, totals, and decimal running sum all act on grid-sized input.",
    ),
    (
        "embed_label_centroids",
        "Centroids without float drift: map-side posexplode + integer micro-unit quantization, then a single (label, pos) exchange with map-side partials — |labels|·dim rows per task regardless of corpus size.",
    ),
    (
        "dedup_minhash_calibration",
        "Estimator audit on the live candidate set: the same capped banded-bucket candidate generation as dedup_minhash, then signature-agreement estimate vs exact hashed-shingle Jaccard in one pass over the pair joins.",
    ),
    (
        "orders_cohort_ltv",
        "LTV triangle with zero joins: cohort assignment is a partition-MIN inside the one o_custkey exchange, the (cohort, age) census reduces from it, and distinct active customers use the two-level pattern — no Expand anywhere.",
    ),
    (
        "events_user_concentration",
        "Lorenz power curve without a global user sort: the per-user census collapses to an activity-VALUE census (bounded by max activity, not user count), and ONE fused single-partition Window computes running + full-frame totals over census-sized input.",
    ),
    (
        "embed_recall_at_k",
        "ANN recall audit: the exact-truth side is a bounded-probe BroadcastNestedLoopJoin (5 probes × candidates), the ANN side the LSH bucket equi-join; everything downstream of the two top-k windows is k·|probes|-sized.",
    ),
    (
        "events_inactivity_churn",
        "Weekly churn census: ONE user_id exchange computes per-user MAX(ts) with map-side partials; the 14-day horizon is a 1-row aggregate broadcast back (BroadcastNestedLoopJoin over one row), and the last-seen-week census groups user-sized input into calendar-bounded buckets.",
    ),
    (
        "collocation_lift_topk",
        "Collocation mining in ONE corpus pass (r7): unigram and bigram occurrences explode tagged from the same tokenized row into a single (tag, term) exchange with map-side partials; the vocab-sized census persists and feeds the token total, both unigram joins, and the frequent-bigram side; top-50 via TakeOrderedAndProject.",
    ),
    (
        "dsir_importance_weights",
        "DSIR importance model: one corpus explode collapses to the persisted (doc, bucket) count table; the 4096-row bucket census folds raw AND target counts in one pass and broadcasts into the scoring join; the 1-row token totals ride a scalar broadcast. Integer digit-count log2 end to end.",
    ),
    (
        "parts_pareto_abc",
        "ABC split without a part sort: per-part decimal revenue collapses to a log2-bucket census (~40 rows at any SF); ONE single-partition window computes running + full-frame revenue totals; the only corpus-sized exchange is the l_partkey aggregate.",
    ),
    (
        "join_asof_nearest",
        "Nearest as-of in ONE shuffle: the tagged union sorts once per user and carries BOTH candidates (backward = last-ignorenulls over the preceding frame, forward = first-ignorenulls over the following frame); the pick is a map-side CASE on integer epoch-us gaps.",
    ),
    (
        "cdc_column_diff",
        "Column-level CDC diff: one user_id window exchange carries all four LAGs; the changed-column set, count, and numeric delta are map-side projections — no joins, no second pass.",
    ),
    (
        "dedup_edit_distance",
        "Edit-distance verify: identical capped banded-bucket candidate generation as dedup_minhash, then two doc-id joins against the truncated normalized-text table and ONE JVM-side levenshtein per pair — candidate-sized, O(PREFIX^2) DP regardless of document length.",
    ),
    (
        "events_session_paths_topk",
        "Path census: ONE user_id exchange carries session assignment, the in-session ROW_NUMBER truncation, and the ordered per-session path collect (state bounded by PATH_LEN); the path census partial-aggregates and the top-20 is TakeOrderedAndProject.",
    ),
    (
        "events_weekly_stickiness",
        "DAU/WAU stickiness: the (user_id, day) dedup is the ONLY corpus-sized exchange; the week-level dedup re-keys user-day rows, and the day-census x week-census join is calendar-sized and AQE-broadcast.",
    ),
    (
        "bm25_topk",
        "Okapi BM25 retrieval with ZERO corpus shuffles: per-doc tf/dl are higher-order-function projections (no explode), the corpus constants (N, df, avgdl) reduce to ONE row and broadcast back, scoring is a map-side IEEE expression, and the top-50 is TakeOrderedAndProject.",
    ),
    (
        "graph_pagerank",
        "Pregel in DataFrame ops: each superstep is a node-sized adjacency x ranks join (rank side AQE-broadcast), a map-side explode of neighbor arrays (per-node share projected BELOW the generate), and one partial+final integer SUM keyed on dst — the only |E|-sized exchange per step.",
    ),
    (
        "graph_triangles",
        "Degree-ordered edge iterator: oriented adjacency arrays (out-degree <= sqrt(2|E|)) hash-join onto the edge list and intersect MAP-side; the 41M-row wedge set is never materialized or shuffled — shuffled bytes are |E| ids + |V| bounded arrays + per-edge credits.",
    ),
    (
        "ann_pq_topk",
        "PQ/ADC scan: encode and per-query lookup tables are ONE Arrow pass each; the ADC scan reads only the 8 code columns (vectors pruned at the parquet scan), the 5-query LUT side broadcasts, and the top-k is a bounded window — no shuffle ever touches raw vectors.",
    ),
    (
        "join_interval_overlap",
        "Interval overlap WITHOUT a theta join: intervals explode to <= 2 fixed 28-day bins, the self-join is an EQUI-join on (suppkey, bin) with integer residuals (epoch seconds projected once, before the join), and each pair is counted exactly once at the later start's bin.",
    ),
    (
        "graph_jaccard_neighbors",
        "Item-item similarity without an all-pairs join OR a hub array (r11): common neighbors = per-edge triangle credits off the degree-ORIENTED closure skeleton (every array <= sqrt(2|E|)), |N(u)| is a scalar count join, and the Jaccard arithmetic is one exact integer triple + one double division per edge.",
    ),
    (
        "events_ab_lift",
        "A/B lift in one corpus exchange: the per-user conversion flag is a partial+final MAX on user_id, the variant census reduces to ONE row, and rates/lift/pooled z-score are map-side IEEE expressions over that row.",
    ),
    (
        "embed_pca_power",
        "Matrix-free power iteration: x.v folds map-side against the v literal (projected BELOW the posexplode — once per vector), contributions quantize to integer nano-units, and the only exchange per iteration is a DIM-group integer SUM; no DxD matrix, no vector shuffle.",
    ),
    (
        "graph_label_propagation",
        "Integer LPA supersteps: step 1 is a closed-form MIN(neighbor) aggregate (all-distinct init labels cannot partial-reduce through a naive mode); later steps join the persisted edge list with the AQE-broadcast per-step label vector and reduce through ONE deterministic-mode exchange with map-side partial buffers.",
    ),
    (
        "multimodal_dedup_perceptual",
        "Perceptual near-dup: Arrow dHash-60 fingerprints (one corpus pass, no shuffle), pair-of-bands bucket groupBy (r12: C(6,2)=15 tables of 20-bit keys — 15.7M-bucket keyspace vs the r11 quadratic 5x4096), in-bucket pair generation with the Hamming filter INSIDE the generator — shuffled bytes are digests + ids, payloads never leave their partitions.",
    ),
    (
        "dedup_simhash",
        "SimHash near-dup on the shared banded skeleton: Arrow fingerprint projection, explode to 15 band-pair keys, bucket groupBy, in-bucket pairgen — pigeonhole-exact vs the quadratic join, candidate checks measured 843k -> 185k at sf0.1 (and the keyspace term 85x down on uniform corpora).",
    ),
    (
        "graph_connected_components",
        "Pointer-jumping min-label CC (r12): per superstep one |V|-sized label self-join (lab[lab]) + one |E|-sized neighbor-min join + LEAST fold, localCheckpoint per round — O(log diameter) rounds; EVERY label-derived build side — the per-round self-join/neighbor-min sides AND the final Θ(|V|)-worst-case component-sizes table (r13, closing the r12 weak) — broadcasts only under the size-gated CC_BROADCAST_MAX_NODES dial (the checkpoint erases the stats AQE needs, so the driver substitutes its exact |V|); sizes come from groupBy, never a giant-component window partition.",
    ),
    (
        "multimodal_dedup_video",
        "Frame-sampled video near-dup (r12): ONE Arrow pass fingerprints all nf<=5 frames per payload map-side; (video,frame) composite ids ride the banded skeleton; count-per-video-pair + >=2-frame HAVING — payloads never shuffle, only nf x 8-byte hashes + ids.",
    ),
    (
        "graph_k_core",
        "Iterative 80-core peeling (r13): per round one map-side-partial symmetric-degree aggregate (ONE explode(array(u,v)) scan of the checkpointed edges — the union shape scanned them twice) + two semi-joins restricting edges to kept endpoints, keep vector broadcast under the CC dial (its count IS the convergence counter — exact stats), surviving edges localCheckpoint-ed per round; fixpoint on whichever monotone census stabilizes first (equal keep counts, or equal nested edge counts one degree-round earlier), loud guard past 12 rounds.",
    ),
    (
        "stream_anomaly_zscore",
        "Streaming anomaly twin (r13): additive per-type DECIMAL moment sums as ONE native update-mode streaming aggregate (state = 3 scalars per event type), max_by(n) fold over the sink emissions, then the batch op's shared zscore_flags tail — stats join back unhinted (a handful of type rows, AQE broadcasts), z filter map-side.",
    ),
    (
        "embed_dedup_semantic",
        "SemDeDup election (r13): learned-IVF cell assignment below one Arrow projection; anchor election via row_number <= 128 compiled to Partial+Final WindowGroupLimit (map-side per-cell top-N BEFORE the exchange — never a full n/K-cell sort); anchors <= K*128 = 2048 rows, constant-bounded, pinned broadcast; per-vector checks bounded by the anchor cap at any corpus size.",
    ),
    (
        "graph_modularity",
        "Newman modularity of the LPA partition (r13): the LPA superstep loop verbatim (deliberately duplicated — the LPA op's plan and green stay untouched), then ONE map-side-partial degree aggregate + ONE |E|-sized double label join for intra counts (label vector AQE-broadcast exactly as in the LPA steps) + per-community aggregates; q = e_c/m − (d_c/2m)² as an explicit IEEE self-product, driver-hash-checked bit-for-bit; the only driver scalar is the 1-row edge count m.",
    ),
]


def main() -> None:
    registry.load_all()
    spark = get_spark(app_name="gen_plans", shuffle_partitions=8)
    sf = "/root/testdata/sf0.01"
    out = [
        "# Captured physical plans",
        "",
        "Auto-generated (`python scripts/gen_plans.py`), sf0.01, AQE initial plans.",
        "The plan-shape assertions in `tests/test_plan_shape.py` keep these claims",
        "true; this file is the human-readable evidence.",
        "",
    ]
    for name, claim in SHOWCASE:
        df = registry.QUERIES[name](spark, sf)
        plan = df._jdf.queryExecution().executedPlan().toString()
        out += [f"## `{name}`", "", claim, "", "```", plan.rstrip(), "```", ""]
    with open("PLANS.md", "w") as fh:
        fh.write("\n".join(out))
    spark.stop()
    print(f"{len(SHOWCASE)} plans written")


if __name__ == "__main__":
    main()
