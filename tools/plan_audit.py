"""Generate PLANS.md: physical-plan evidence for headline operators.

For each audited key the tool captures ``df.explain("formatted")`` at
sf0.01 and extracts the load-bearing lines — pushed filters, broadcast
exchanges, absence of shuffles, top-k physical operators, partial
aggregation, codegen spans — so plan quality is reviewable as text
without rerunning Spark. tests/test_plans.py asserts the same
properties mechanically; this document is the human-readable twin.
Each key is planned after ``clear_caches()``, so no relation memoized
by an earlier key turns up as an ``InMemoryTableScan``, and exchange
plan ids and scratch-dir names are masked: two runs on one tree write
the same bytes.

``--dump`` writes the whole captured plan of named keys instead:
``OUTDIR/<key>_<SUFFIX>.txt`` per key, the before/after plan artifacts
optimization rounds commit under ``plans/`` so plan-shape claims are
checkable without running Spark.

Usage:  python tools/plan_audit.py [sf_dir]   (writes PLANS.md)
        python tools/plan_audit.py --dump OUTDIR SUFFIX [sf_dir] key...
"""

from __future__ import annotations

import io
import os
import re
import sys
import tempfile
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from uchr_scetl_spark import clear_caches, get_session, load_registry  # noqa: E402

# key -> (what to show, regexes whose matching lines are the evidence)
AUDITS: dict[str, tuple[str, list[str]]] = {
    "scan_parquet": (
        "Filter and projection reach the parquet reader: the scan lists "
        "PushedFilters and a pruned ReadSchema (4 of 11 columns).",
        [r"PushedFilters", r"ReadSchema"],
    ),
    "scan_pruned_partition": (
        "Static partition pruning: the scan carries PartitionFilters, so "
        "non-matching directories are never listed, let alone read.",
        [r"PartitionFilters", r"ReadSchema"],
    ),
    "join_broadcast": (
        "Dimension join broadcasts the small side - no shuffle of the "
        "fact table.",
        [r"BroadcastExchange", r"BroadcastHashJoin"],
    ),
    "join_bloom_pruned": (
        "Runtime Bloom-filter pruning (round 14: the returned plan is "
        "now the live one - conf-isolated child session instead of a "
        "checkpoint inside a restore window): the selective build side "
        "aggregates into bloom_filter_agg and the probe scan is wrapped "
        "in might_contain, so non-matching fact rows die at the scan "
        "before the exchange.",
        [r"bloom_filter_agg", r"might_contain"],
    ),
    "join_bucketed": (
        "Co-located bucketed join: sort-merge join directly over the "
        "bucketed scans - NO Exchange on either side (bucketing replaces "
        "the shuffle; SelectedBucketsCount proves bucket-aware scans).",
        [r"SortMergeJoin", r"SelectedBucketsCount", r"Exchange"],
    ),
    "topk_global": (
        "Global top-k compiles to TakeOrderedAndProject - a bounded "
        "per-partition heap + single merge, never a full sort.",
        [r"TakeOrderedAndProject"],
    ),
    "agg_groupby": (
        "Hash aggregation is two-phase: partial (map-side combine) before "
        "the exchange, final after - the shuffle carries one row per "
        "group per task, not the fact table.",
        [r"HashAggregate", r"Exchange hashpartitioning"],
    ),
    "tpch_q5": (
        "Multiway star join: every dimension side is broadcast; the only "
        "exchanges left are for the final aggregation.",
        [r"BroadcastHashJoin", r"Exchange hashpartitioning"],
    ),
    "sim_topk": (
        "Brute-force ANN baseline: the bounded probe set is broadcast; "
        "the corpus is scanned once with no shuffle of the big side.",
        [r"BroadcastExchange", r"BroadcastNestedLoopJoin|BroadcastHashJoin"],
    ),
    "win_topk_per_group": (
        "Per-group top-k: rank window with a pushed rank<=k limit "
        "(WindowGroupLimit) so each partition keeps a bounded buffer "
        "instead of materialising every group fully.",
        [r"WindowGroupLimit", r"RunningWindowFunction|Window"],
    ),
    "agg_skew_salted": (
        "Two-stage salted aggregation: the first exchange partitions on "
        "(key, salt) - hot keys spread over N reducers - the second "
        "merges the N partials per key.",
        [r"Exchange hashpartitioning"],
    ),
    "tpch_q19": (
        "Disjunctive (OR-of-ANDs) join predicate: the part-only "
        "disjunction pushes into the part scan as Or(And(...)), the "
        "quantity envelope pushes into the lineitem scan, and the full "
        "compound predicate runs as the residual join filter - all in "
        "codegen, no UDF.",
        [r"PushedFilters", r"BroadcastHashJoin"],
    ),
    "tpch_q21": (
        "Double correlated EXISTS decorrelated: LeftSemi (another "
        "supplier in the order) and LeftAnti (no other late supplier) "
        "self-joins, all keyed on l_orderkey so the exchanges "
        "co-partition and the chain reuses one partitioning.",
        [r"LeftSemi", r"LeftAnti", r"Exchange hashpartitioning"],
    ),
    "tpch_q22": (
        "Scalar-subquery threshold: the one-row average broadcasts via "
        "BroadcastNestedLoopJoin - customer is never shuffled for the "
        "comparison; the NOT EXISTS is a broadcast anti join of pushed-"
        "filtered recent orders.",
        [r"BroadcastNestedLoopJoin", r"LeftAnti", r"PushedFilters"],
    ),
    "events_sessionize": (
        "Sessionization: lag window, boundary running sum, and the per-"
        "session aggregate all run on hashpartitioning(user_id) - ONE "
        "exchange serves all three.",
        [r"Exchange hashpartitioning", r"Window", r"HashAggregate"],
    ),
    "udf_cogrouped_pandas": (
        "Cogrouped applyInPandas: both relations exchange once on the "
        "key and meet in FlatMapCoGroupsInPandas - Arrow-batched, no "
        "join materialisation, no driver path.",
        [r"FlatMapCoGroupsInPandas", r"Exchange hashpartitioning"],
    ),
    "scan_python_datasource": (
        "Custom Python DataSource: the scan node is a planned "
        "BatchScan over driver-declared InputPartitions; rows are "
        "generated executor-side through the Arrow python worker.",
        [r"BatchScan|PythonDataSource|ArrowEvalPython|Scan"],
    ),
    "join_range_banded": (
        "Interval join as a banded EQUI-join: the right side explodes "
        "to band ±1 (bounded 3x replication, a Generate node) and the "
        "join keys on the band id with the exact range as residual - "
        "no nested loop anywhere. At this SF the planner broadcasts "
        "the small side; at scale the same plan hash-partitions on "
        "the band id (equi key present either way).",
        [r"Generate", r"Exchange hashpartitioning", r"Join"],
    ),
    "etl_cdc_apply": (
        "CDC apply: the change log ranks to latest-per-key with one "
        "window, then ONE full-outer join applies inserts/updates/"
        "deletes to the base snapshot.",
        [r"Window", r"FullOuter", r"Exchange hashpartitioning"],
    ),
    "text_vocab_topk": (
        "Vocabulary top-k: one partial+final count aggregation on the "
        "token, the one-row total comes back as a broadcast, and the "
        "global top-100 is TakeOrderedAndProject - a bounded heap per "
        "partition, never a full sort of the vocabulary.",
        [r"TakeOrderedAndProject", r"BroadcastExchange", r"HashAggregate"],
    ),
    "text_bigram_lm_score": (
        "Bigram-LM scoring: counts and prefix totals aggregate on the "
        "bigram key (map-side partials), the model joins back on the "
        "same key, and each per-bigram log-prob quantizes to an integer "
        "BEFORE the per-doc sum so the result is partitioning-invariant.",
        [r"HashAggregate", r"Exchange hashpartitioning", r"Join"],
    ),
    "dedup_simhash": (
        "SimHash banding: signatures compute in one codegen projection "
        "(no explode of tokens), candidates join on (chunk_pos, "
        "chunk_val), Hamming evaluates inside the join row, and the "
        "pair-dedup exchange carries only (a_id, b_id, hamming) longs - "
        "never the signature arrays.",
        [r"Exchange hashpartitioning", r"HashAggregate"],
    ),
    "etl_zorder_cluster": (
        "Z-order rectangle query: both filter dimensions (custkey AND "
        "orderdate) reach the clustered parquet scan as PushedFilters, "
        "so min/max stats over the Morton-sorted files can skip "
        "whole files/row-groups; the aggregate is a partial+final pair.",
        [r"PushedFilters", r"HashAggregate"],
    ),
    "sample_reservoir_hash": (
        "Deterministic reservoir: the exact-k uniform sample plans as "
        "TakeOrderedAndProject over the md5 sort key - a size-k heap "
        "per partition merged on the driver, never a global sort or "
        "shuffle of the corpus.",
        [r"TakeOrderedAndProject"],
    ),
    "join_asof": (
        "As-of join as union-tag window algebra: the as-of core costs "
        "ONE exchange on the join key - both sides union, the matched "
        "row rides a single struct column through one last(ignoreNulls) "
        "frame (atomic even when payload fields are NULL), left rows "
        "filter back out. The second exchange is the right side's "
        "(user, ts) dedup window, not the join. No per-key Python.",
        [r"Exchange hashpartitioning", r"Window", r"Union"],
    ),
    "text_span_dedup": (
        "Span dedup: spans xxhash64 to int64 in the same projection "
        "that forms them, so the document-frequency aggregation and "
        "the join back both exchange 8-byte keys - no span strings "
        "ever shuffle.",
        [r"xxhash64", r"Exchange hashpartitioning", r"HashAggregate"],
    ),
    "dedup_incremental": (
        "Incremental near-dup: batch and index band buckets come off "
        "the SAME cached signature relation (one InMemoryRelation, "
        "two filters), candidates join on the bucket hash, and the "
        "exact-Jaccard verify joins on (doc, shingle-hash) longs.",
        [r"InMemoryTableScan", r"Exchange hashpartitioning"],
    ),
    "text_bpe_pair_counts": (
        "BPE pair counts: the only corpus-sized operation is the "
        "word-count aggregation (partial+final, the exchange carries "
        "vocabulary rows); symbol pairs explode in-row off the "
        "vocabulary and reduce through a second partial+final pair; "
        "top-k is TakeOrderedAndProject, never a global sort.",
        [r"HashAggregate", r"TakeOrderedAndProject", r"Generate explode"],
    ),
    "graph_copurchase_topk": (
        "Market-basket top-k: edges come from collect_set per order + "
        "in-row pair explode - the plan contains NO self-join of "
        "lineitem (no Join operator before the aggregation); the probe "
        "filter lands before the rank window so only probe rows enter "
        "it. BENCH ACCOUNTING: the weighted-edge relation is a session "
        "memo shared by all three graph_* keys, so whichever graph key "
        "the bench happens to run FIRST is charged the whole edge "
        "build (~2s at sf0.1); later keys ride the cache. Read the "
        "graph family's bench numbers as a family total, not per-key "
        "costs.",
        [r"ObjectHashAggregate", r"Generate explode", r"Window"],
    ),
    "agg_kll_merge_quantiles": (
        "Mergeable KLL quantiles: two aggregation levels - per-"
        "partition sketches then kll_merge_agg - each partial+final, "
        "so history is never re-scanned to answer a quantile query; "
        "the exact side is one Arrow-grouped python stage (CHECK "
        "SCAFFOLDING - whole-group-per-task, not a 100 TB path; the "
        "scale-safe exact method is agg_percentile_exact_distributed).",
        [r"ObjectHashAggregate", r"FlatMapGroupsInPandas"],
    ),
    "sim_cosine_histogram": (
        "Cosine histogram: the FIXED-SIZE panel (k smallest by salted "
        "md5 - TakeOrderedAndProject, k corpus-independent, so pair "
        "volume is O(k*n), linear at any scale) rides a "
        "BroadcastExchange against ONE corpus scan (no shuffle of the "
        "embedding side); the histogram reduces on a few-hundred-key "
        "bucket column, partial+final.",
        [r"TakeOrderedAndProject", r"BroadcastExchange", r"HashAggregate"],
    ),
    "agg_percentile_exact_distributed": (
        "Distributed exact quantiles: RANGE repartitioning on (group, "
        "value) bounds every task to a chunk (never a whole group); "
        "the rank-pick window partitions by (chunk, group); the "
        "needed-rank join is a BroadcastExchange of <=2*|quantiles| "
        "rows per group.",
        [r"Exchange rangepartitioning", r"Window", r"BroadcastExchange"],
    ),
    "agg_weighted_median_distributed": (
        "Weighted quantiles (not in Spark's aggregate surface): same "
        "two-pass selection skeleton as the exact-percentile key but "
        "over WEIGHT sums — RANGE repartitioning on (group, value), "
        "running-weight window bounded by (chunk, group), integer "
        "weights keep the cumulative sums exact and order-free.",
        [r"Exchange rangepartitioning", r"Window", r"BroadcastExchange"],
    ),
    "dedup_containment": (
        "Asymmetric containment: inverted-index self-join on "
        "int64-hashed shingles off the shared cached shingle relation "
        "(xxhash64 in the projection, no Cartesian product); the "
        "hot-posting df cap is a bounded window per shingle.",
        [r"xxhash64", r"InMemoryTableScan", r"Window"],
    ),
    "stream_watermark_lag_audit": (
        "Watermark-delay audit: the running event-time max windows per "
        "USER key (the stateful-streaming keying), never a global "
        "sequence; the per-type rollup is partial+final.",
        [r"Window", r"windowspecdefinition\(user_id", r"HashAggregate"],
    ),
    "text_bpe_merge_rounds": (
        "Iterated BPE merges: the corpus appears only inside the "
        "cached vocabulary's InMemoryRelation (one physical scan); "
        "each round's argmax is a 1-row TakeOrderedAndProject and the "
        "re-segmentation a broadcast nested-loop of that single row - "
        "no shuffle join anywhere in the merge loop.",
        [r"InMemoryTableScan", r"TakeOrderedAndProject", r"Broadcast"],
    ),
    "graph_triangle_count": (
        "Triangle census: wedges come from an in-row ordered-pair "
        "explode of per-node adjacency arrays (Generate, no edge "
        "self-join on raw lineitem); the closing check is an equi-join "
        "against the derived oriented-edge relation.",
        [r"Generate explode", r"SortMergeJoin|BroadcastHashJoin"],
    ),
    "etl_scd2_pointintime": (
        "Fact-to-versioned-dim as-of: BROADCAST equi-join on the "
        "business key with the validity window as a residual filter - "
        "never a nested-loop range join over the fact table.",
        [r"BroadcastHashJoin"],
    ),
    "text_hashing_features": (
        "Hashing-trick featurizer: raw tokens never cross a shuffle - "
        "every exchange partitions on int64 (doc_id, bucket) keys "
        "hashed before aggregation.",
        [r"Exchange hashpartitioning", r"xxhash64|hash"],
    ),
    "sim_kmeans_assign": (
        "Exact-integer Lloyd assignment: a joinless map against K "
        "literal centroids (in-row zip_with fold); the single exchange "
        "is the K-row per-cluster stats aggregation.",
        [r"Exchange hashpartitioning\(cluster", r"HashAggregate"],
    ),
    "embeddings_gram_matrix": (
        "Distributed Gram: one vectorized MapInPandas computes each "
        "Arrow batch's dxd integer partial; the only shuffle carries "
        "(i, j, partial) cells - the vectors never cross an exchange.",
        [r"MapInPandas", r"Exchange hashpartitioning", r"HashAggregate"],
    ),
    "orders_association_rules": (
        "Market-basket rules: min-support filter prunes the memoized "
        "pair relation BEFORE the item-count equi-joins; no join keys "
        "on l_orderkey (the pair build is the shuffle-free in-row "
        "explode, shared across the graph family).",
        [r"InMemoryTableScan", r"SortMergeJoin|BroadcastHashJoin"],
    ),
    "etl_feature_pointintime": (
        "Point-in-time features: both window specs (strictly-prior "
        "range frame + recency lag) ride ONE o_custkey exchange; the "
        "range frame is a single running sweep per partition.",
        [r"Exchange hashpartitioning\(o_custkey", r"Window"],
    ),
    "win_ewma": (
        "Bounded-frame EWMA: ONE user_id exchange feeds a pure-lag "
        "window - no collect_list frame arrays, no Generate, no join; "
        "per-row cost is O(EWMA_LAGS) codegen registers.",
        [r"Exchange hashpartitioning\(user_id", r"Window"],
    ),
    "embeddings_random_projection": (
        "JL signed projection: the +-1 matrix is a plan LITERAL - no "
        "join, no broadcast, zero Exchange; one codegen map pass plus "
        "the posexplode to long format.",
        [r"Generate posexplode"],
    ),
    "events_ohlc_resample": (
        "OHLC candles: the rank windows and the final aggregation "
        "group on the SAME (event_type, bucket) keys, so the whole "
        "build rides ONE exchange; output is |types|x|hours| rows.",
        [r"Exchange hashpartitioning", r"Window"],
    ),
    "etl_partition_skew_audit": (
        "Skew audit: per-day partial+final counts then single-row "
        "arithmetic - one linear pass, broadcast heaviest-day pick, "
        "no global sort.",
        [r"HashAggregate", r"Broadcast"],
    ),
    "orders_cohort_ltv": (
        "Cohort LTV: o_custkey cohort window, (cohort, offset) "
        "aggregation, then the cumulative window over the tiny "
        "aggregate - the running column accumulates DECIMAL inside "
        "the window.",
        [r"Window", r"HashAggregate"],
    ),
    "agg_gini_segment": (
        "Exact-integer Gini: per-customer revenue reduces BEFORE the "
        "segment rank window; one Window, |segments|-row output, "
        "DECIMAL(38,0) intermediates.",
        [r"Window", r"HashAggregate"],
    ),
    "events_funnel_windowed": (
        "Conversion-window funnel: three user_id-keyed conditional-min "
        "passes - the joins co-partition with the aggregation key, no "
        "windows, no per-user sort.",
        [r"HashAggregate", r"SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin"],
    ),
    "orders_reorder_interval_stats": (
        "Purchase cadence: lag gaps on the o_custkey exchange, "
        "rank-picked median/p90 over the segment window, "
        "|segments|-row output.",
        [r"Window", r"HashAggregate"],
    ),
    "events_bot_burst_audit": (
        "Bot audit: burst RANGE frame and per-user aggregation share "
        "ONE user_id exchange; output one row per user.",
        [r"Exchange hashpartitioning\(user_id", r"Window"],
    ),
    "events_next_event_accuracy": (
        "Next-event eval: pair counts (partial+final) then "
        "broadcast-sized predictor join - the tiny transition "
        "relation never shuffles.",
        [r"BroadcastHashJoin", r"HashAggregate"],
    ),
    "text_ngram_novelty": (
        "First-occurrence novelty: int64 gram keys, h-partitioned "
        "gram relation feeding both the MIN-attribution groupBy and "
        "the join-back shuffle-free.",
        [r"xxhash64", r"HashAggregate"],
    ),
    "text_affix_overlap": (
        "Stitching seams: ONE prefix + ONE suffix hash per doc "
        "(in-row slice, no token explode) meeting in a single hash "
        "equi-join.",
        [r"xxhash64", r"SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin"],
    ),
    "etl_incremental_join_maintenance": (
        "IVM delta algebra: the delta-orders terms BROADCAST against "
        "the base lineitem; the 4-term union reduces in one final "
        "aggregation bit-equal to the monolithic join.",
        [r"BroadcastHashJoin", r"Union", r"HashAggregate"],
    ),
    "events_hazard_curve": (
        "Survival risk table: two hash aggregations collapse the "
        "corpus to the duration histogram BEFORE the single "
        "reverse-cumsum window (bounded by the observation span).",
        [r"HashAggregate", r"Window"],
    ),
    "etl_gdpr_delete_audit": (
        "Deletion sweep: the subjects list reaches every table as a "
        "BROADCAST semi/anti join - corpus tables never shuffle for "
        "the check.",
        [r"LeftSemi", r"LeftAnti", r"BroadcastHashJoin"],
    ),
    "sim_label_recall_topk": (
        "Label agreement at k: sim_topk's broadcast-probe plan plus "
        "a probe-bounded scoring aggregation.",
        [r"BroadcastExchange", r"HashAggregate"],
    ),
    "text_langid_confusion": (
        "Confusion matrix: langid's scoring scan plus one "
        "|langs|^2-row partial+final count.",
        [r"HashAggregate"],
    ),
    "orders_seasonal_index": (
        "Seasonal index: 12-row aggregation, one-row total broadcast "
        "back - the scan is the whole cost.",
        [r"HashAggregate", r"Broadcast"],
    ),
    "sql_recursive_cte": (
        "Spark 4 recursive CTE: the UnionLoop physical operator "
        "executes the bounded-frontier recursion natively.",
        [r"UnionLoop"],
    ),
    "multimodal_dedup_binary": (
        "Binary-modality dedup: one codegen projection over the "
        "payload, one partial+final count on the digest key.",
        [r"HashAggregate"],
    ),
    "events_active_users_rolling": (
        "DAU/WAU/MAU: in-row contribution-day explode (no range "
        "join - no BroadcastNestedLoopJoin in the plan), broadcast "
        "semi filter on observed days, one distinct aggregation.",
        [r"Generate", r"LeftSemi"],
    ),
    "win_drawdown": (
        "Drawdown: running-peak rows-frame MAX and the per-user "
        "aggregation share one user_id exchange.",
        [r"Exchange hashpartitioning\(user_id", r"Window"],
    ),
    "agg_benford_deviation": (
        "Benford audit: 9-bucket partial+final count; the share "
        "window runs over 9 rows.",
        [r"HashAggregate", r"Window"],
    ),
    "graph_jaccard_neighbors": (
        "Neighbourhood-Jaccard top-k: probe adjacency and the "
        "probe-bounded common/degree relations BROADCAST into the "
        "corpus-sized sides - the big relations never shuffle against "
        "each other, and the edge build is the shared memoized no-"
        "self-join relation (InMemoryTableScan).",
        [r"BroadcastHashJoin", r"InMemoryTableScan"],
    ),
    "graph_bfs_hops": (
        "Frontier BFS: the final plan is checkpoint-truncated (a "
        "union of ExistingRDD scans - the per-level join trees never "
        "stack), exactly like the PageRank loop.",
        [r"Scan ExistingRDD", r"Union"],
    ),
    "events_did_lift": (
        "Difference-in-differences: the whole 2x2 readout folds into "
        "partial+final aggregates over ONE events scan - the pivot is "
        "a conditional aggregate, not a join per cell.",
        [r"HashAggregate", r"Scan parquet"],
    ),
    "embeddings_dimension_stats": (
        "Per-dimension stats: posexplode emits dim-tagged scalars "
        "in-row; the only shuffle is the 64-row final aggregate with "
        "a partial side.",
        [r"Generate posexplode", r"HashAggregate"],
    ),
    "etl_publish_checksums": (
        "Table checksums: three independent pruned scans, each "
        "reduced by partial+final sums - no join, no wide shuffle.",
        [r"HashAggregate", r"ReadSchema"],
    ),
    "sample_source_cap": (
        "Salted two-pass exact top-cap: the first Window partitions "
        "by (source, lang, salt) so hot domains split across tasks; "
        "survivors re-rank in a group-only Window; the 1-row "
        "corpus-derived cap arrives via BroadcastNestedLoopJoin.",
        [r"Window", r"BroadcastNestedLoopJoin"],
    ),
    "pipeline_orders_daily": (
        "Declarative pipeline: the composed pre-sink plan has ONE "
        "parquet scan with the later-step date filter pushed into it "
        "(asserted in tests); this audit shows the re-read side.",
        [r"Scan parquet", r"HashAggregate"],
    ),
    "dedup_pair_jaccard_spectrum": (
        "LSH calibration spectrum: TakeOrderedAndProject panel draw, "
        "panel postings broadcast into the memoized shingle inverted "
        "index - O(k*postings) pairs at any corpus size.",
        [r"TakeOrderedAndProject", r"BroadcastHashJoin", r"InMemoryTableScan"],
    ),
    "orders_segment_migration": (
        "Segment migration: NO window anywhere (segments via "
        "cross-multiplied integer thresholds against broadcast period "
        "totals, not a global ntile); full-outer self-pair on custkey.",
        [r"BroadcastHashJoin", r"FullOuter"],
    ),
    "stream_state_store_read": (
        "State-store source: direct StateScan of the checkpoint with "
        "a projection - no Exchange, no re-aggregation (state files "
        "are already partitioned by the writing shuffle).",
        [r"StateScan"],
    ),
    "join_interval_overlap": (
        "Interval overlap: both interval sides explode covered "
        "buckets in-row and hash equi-join on the bucket id; the "
        "first-overlap-bucket residual dedups pairs with no Distinct.",
        [r"Generate explode", r"HashJoin|SortMergeJoin"],
    ),
    "sample_contrastive_negatives": (
        "Contrastive negatives: per-anchor bounded window for hard "
        "picks, md5-mod in-row easy draws, near-dup exclusion as a "
        "BROADCAST anti-join of the tiny verified-pair relation.",
        [r"LeftAnti, BuildRight", r"Window"],
    ),
    "events_welch_ttest": (
        "Welch t: three decimal sufficient statistics ride one "
        "partial+final aggregate off one scan; the double tail is a "
        "scalar projection.",
        [r"HashAggregate"],
    ),
    "etl_expectations_suite": (
        "Expectations suite: N checks = N count_if columns in ONE "
        "aggregate over ONE scan; results explode in-row.",
        [r"HashAggregate", r"Generate explode"],
    ),
    "embeddings_pq_assign": (
        "PQ encode: 16-row codebook broadcasts into the in-row "
        "m-explode; distances are JVM integer folds; one groupBy "
        "argmin pass.",
        [r"TakeOrderedAndProject", r"HashAggregate"],
    ),
    "sim_topk_pq": (
        "ADC search: the probe distance table broadcasts into the "
        "codes relation (raw vectors never join the scoring side); "
        "scoring is a partial+final sum.",
        [r"BroadcastHashJoin", r"HashAggregate"],
    ),
    "events_cusum_alarm": (
        "CUSUM: the sequential recursion as prefix-sum minus running "
        "min - every window and the final aggregate share one "
        "hashpartitioning(user_id) exchange.",
        [r"Exchange hashpartitioning\(user_id", r"RunningWindowFunction|Window"],
    ),
    "events_ab_power_mde": (
        "Power/MDE: the activation window + rollup + pivot ride the "
        "user_id exchange chain off one scan; the MDE math is a "
        "scalar projection.",
        [r"Window", r"HashAggregate"],
    ),
    "win_rolling_ols_slope": (
        "Rolling OLS: rank + four rolling sufficient statistics in "
        "shared WindowExec frames over one exchange; slope is one "
        "integer division in the projection.",
        [r"Exchange hashpartitioning\(user_id", r"Window"],
    ),
    "agg_topk_per_group_salted": (
        "Salted exact top-k: two Window passes - per-(group, hash-salt) "
        "bounded rank, then re-rank of the |groups|*k*salts survivors; "
        "no join, deterministic xxhash64 salt in the plan.",
        [r"Window", r"xxhash64"],
    ),
    "dedup_shingle_df_profile": (
        "df profile: one partial+final count per shingle off the shared "
        "memoized shingle relation, then a <=20-row band re-aggregate - "
        "no join, no window, corpus scanned zero extra times.",
        [r"InMemoryTableScan", r"HashAggregate"],
    ),
    "embeddings_label_separation": (
        "Label separation: the corpus reduces ONCE to the checkpointed "
        "|labels|*d sums (eager localCheckpoint - four consumers, one "
        "scan); pair stage is an equi-join on dim with broadcast stat "
        "attachments.",
        [r"Scan ExistingRDD", r"BroadcastHashJoin"],
    ),
    "etl_schema_evolution_audit": (
        "mergeSchema audit: ONE merged scan with snap as a hive "
        "partition column feeding one partial+final aggregate - "
        "NULL-fill of the evolved column happens in the reader, not a "
        "join.",
        [r"Scan parquet", r"HashAggregate"],
    ),
    "sql_pipe_syntax": (
        "SQL pipe syntax: the |> chain lowers to the classic form's "
        "plan - one partial+final aggregate over the pushed-down "
        "filtered scan with a bounded TakeOrdered tail; pipes add "
        "zero physical operators.",
        [r"HashAggregate", r"TakeOrderedAndProject", r"PushedFilters"],
    ),
    "etl_observe_metrics": (
        "Pipeline telemetry rides the write job itself: a CollectMetrics "
        "node on the ONE scan that feeds the sink - no second scan, no "
        "exchange, no aggregate operator for the metrics (the audited "
        "plan is the observed load relation; the registered key returns "
        "the harvested metrics rows).",
        [r"CollectMetrics", r"Scan parquet", r"PushedFilters"],
    ),
    "dedup_doc_ids": (
        "ID-contract remediation is an ordinary partial+final aggregate: "
        "map-side partial_min(struct(...)) per doc_id, ONE exchange, no "
        "window sort - the cheapest shape that exists for keyed "
        "survivor-pick dedup (struct min lowers to SortAggregate; its "
        "Sort nodes are per-partition combine sorts, not a global sort).",
        [r"partial_min", r"SortAggregate", r"Exchange"],
    ),
    "dedup_vec_ids": (
        "Same partial-aggregate shape as dedup_doc_ids with the embedding "
        "array riding the aggregation buffer (never exploded); the "
        "checked output renders the survivor vector as a quantized "
        "scalar string - a projection, adding no operator.",
        [r"partial_min", r"SortAggregate", r"Exchange"],
    ),
    "embeddings_dim_conform": (
        "Model-space admission is a pushed-down scan-side filter plus an "
        "in-row norm fold: one parquet scan with IsNotNull pushed, zero "
        "exchanges, zero windows - quarantining off-width vectors costs "
        "nothing beyond the scan every consumer already pays.",
        [r"PushedFilters", r"Scan parquet"],
    ),
    "join_lateral_topk": (
        "Lateral top-k, window spelled EXPLICITLY (round 12: Spark's "
        "own lateral ORDER BY+LIMIT decorrelation emits an orderless "
        "row_number relying on arrival order through an exchange - "
        "order-unsound under spill/fetch nondeterminism): ordered rank "
        "window + one equi-join, ONE hash exchange (the native lowering "
        "paid two plus a global range-sort), WindowGroupLimit rank "
        "pushdown applies, never a nested-loop re-scan per outer row.",
        [r"Window", r"SortMergeJoin|BroadcastHashJoin", r"WindowGroupLimit"],
    ),
    "win_gap_fill_locf": (
        "LOCF gap fill: one hash exchange on user_id serves the single "
        "running ROWS frame (last IGNORE NULLS) - O(1) state per row, "
        "no global sort.",
        [r"Window", r"Exchange hashpartitioning"],
    ),
    "sql_parameterized": (
        "Named parameters resolve before optimization: the bound "
        "price/status predicates reach the parquet scan exactly like "
        "literals.",
        [r"PushedFilters"],
    ),
    "sql_group_by_all": (
        "GROUP BY ALL resolves at analysis time to the explicit grouping "
        "list - the identical partial+final hash aggregate over the "
        "pushed-down filtered scan.",
        [r"HashAggregate", r"PushedFilters"],
    ),
    "stream_locf_state": (
        "The LOCF converged state is an ordinary partial+final aggregate "
        "on user_id: counters plus a struct-ARGMAX carried value (the "
        "dedup_doc_ids shape mirrored) - one exchange, no window sort; "
        "the streaming twin holds the identical tuple in GroupState.",
        [r"partial_", r"Exchange"],
    ),
    "dedup_chunk_exact": (
        "Repeated-passage detector: zero-shuffle chunk manifest + the "
        "bounded-memory count-distinct shape - partial aggregation on "
        "the (chunk_md5, doc_id) pair then the final group on "
        "chunk_md5, exactly two exchanges, nothing pairwise.",
        [r"partial_count", r"Exchange hashpartitioning"],
    ),
    "text_chunk_overlap": (
        "Overlapping-window chunking is pure in-row algebra: one "
        "pushed-down scan (IsNotNull(text), 2 of 5 columns), one "
        "Generate for the window indices, ZERO exchanges - the "
        "chunker is exactly as parallel as the scan.",
        [r"Generate", r"PushedFilters", r"ReadSchema"],
    ),
    "sink_csv_roundtrip_text": (
        "Lossless RFC 4180 CSV round-trip: the re-read binds the "
        "explicit 5-column schema (no inference pass) on a native csv "
        "scan; multiLine splits per-FILE and the writer emits one "
        "file per task, so file count is the read parallelism.",
        [r"(?i)csv", r"ReadSchema"],
    ),
    "scan_xml": (
        "Native XML re-read binds the EXPLICIT 4-column schema (no "
        "inference pass = no second read of the data) and scans "
        "per-file in parallel; the writer emits one file per task so "
        "the round-trip stays splittable at the file level - XML rows "
        "cannot split mid-file, so file count IS the parallelism.",
        [r"(?i)xml", r"ReadSchema"],
    ),
}


# tokens that differ between runs of the same plan: Spark's global
# exchange counter and the random names of scratch dirs
_VOLATILE = [
    (re.compile(r"plan_id=\d+"), "plan_id=_"),
    (re.compile(re.escape(tempfile.gettempdir()) + r"/[^/\]\s,]+"), "<tmpdir>"),
]


def _stable(line: str) -> str:
    for rx, sub in _VOLATILE:
        line = rx.sub(sub, line)
    return line


def formatted_plan(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def dump(outdir: str, suffix: str, rest: list[str]) -> int:
    sf_dir = "/root/testdata/sf0.1"
    if rest and os.path.isdir(rest[0]):
        sf_dir, rest = rest[0], rest[1:]
    os.makedirs(outdir, exist_ok=True)
    registry = load_registry()
    spark = get_session("uchr-plan-audit")
    for key in rest:
        clear_caches()  # a relation memoized by an earlier key would show as InMemoryTableScan
        path = os.path.join(outdir, f"{key}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(formatted_plan(registry[key].fn(spark, sf_dir)))
        print(f"wrote {path}", file=sys.stderr)
    return 0


def main() -> int:
    if sys.argv[1:2] == ["--dump"]:
        return dump(sys.argv[2], sys.argv[3], sys.argv[4:])
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    registry = load_registry()
    spark = get_session("uchr-plan-audit")

    out: list[str] = [
        "# PLANS — physical-plan audit of headline operators\n",
        f"Auto-generated by `python tools/plan_audit.py {sf_dir}` "
        "(re-run after plan-affecting changes). Each section states the "
        "property the plan must have for 100 TB viability, then the "
        "actual `explain(\"formatted\")` lines that prove it. "
        "`tests/test_plans.py` asserts the same properties in CI. "
        "Note: plans under AQE print `AdaptiveSparkPlan isFinalPlan=false` "
        "before execution, so WholeStageCodegen span ids are only visible "
        "on non-adaptive (scan-only) plans here; shuffle counts shown are "
        "the static plan's upper bound - AQE can only remove them at "
        "runtime, never add.\n",
    ]

    # keys whose load-bearing plan is an INTERMEDIATE relation, not
    # the registered key's returned frame (the CollectMetrics node
    # rides the observed load; the harvest result is metrics rows)
    def _observed_load(spark, sf_dir):
        from uchr_scetl_spark.operators.etl import observed_orders_load

        return observed_orders_load(spark, sf_dir)[0]

    SPECIAL = {"etl_observe_metrics": _observed_load}

    for key, (claim, patterns) in AUDITS.items():
        clear_caches()  # each section shows the key's plan alone
        plan = formatted_plan(SPECIAL.get(key, registry[key].fn)(spark, sf_dir))
        lines = plan.splitlines()
        evidence: list[str] = []
        for pat in patterns:
            rx = re.compile(pat)
            hits = [ln.strip() for ln in lines if rx.search(ln)]
            seen = set()
            for h in hits:
                short = _stable(re.sub(r"\s+", " ", h))[:160]
                if short not in seen:
                    seen.add(short)
                    evidence.append(short)
        n_shuffles = len(
            re.findall(
                r"\(\d+\) Exchange(?!.*Broadcast)", plan
            )
        )
        n_broadcasts = len(re.findall(r"\(\d+\) BroadcastExchange", plan))
        n_codegen = len(set(re.findall(r"\[codegen id : (\d+)\]", plan)))
        out.append(f"## `{key}`\n")
        out.append(claim + "\n")
        out.append(
            f"Plan stats: {n_shuffles} shuffle Exchange(s), "
            f"{n_broadcasts} BroadcastExchange(s), "
            f"{n_codegen} WholeStageCodegen span(s).\n"
        )
        out.append("```")
        out.extend(evidence if evidence else ["(no matching lines)"])
        out.append("```\n")

    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md")
    with open(path, "w") as fh:
        fh.write("\n".join(out))
    print(f"wrote {path}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
