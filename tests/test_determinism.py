"""Parallelism-invariance: the engine's reproducibility claim, tested.

Every docstring in the repo that says "order-insensitive" or
"bit-reproducible at any parallelism" makes the same promise: the
result must not depend on how the data is partitioned. This test runs
a cross-section of shuffle-heavy keys under DIFFERENT
spark.sql.shuffle.partitions values — 7 (coprime with the default,
odd, and small enough to force multi-key partitions) and 1 (the
degenerate everything-in-one-task layout, a distinct failure mode:
code that accidentally relies on intra-partition arrival order can
pass at 7 and diverge at 1, where EVERY row arrives in one scan
order) — and requires results bit-identical to the default-config
run (equal canonical digests). Float sums that ride IEEE-addition
would fail this; the decimal/integer formulations the engine uses
must not."""

from __future__ import annotations

import pytest

from uchr_scetl_spark import clear_caches, load_registry

from .conftest import SF_SMOKE
from .spill_harness import baseline_digest, canonical_digest, conf_patch

REGISTRY = load_registry()

# shuffle-heavy keys whose docstrings claim parallelism-invariance:
# decimal-sum aggregates, window chains, iterative graph, md5 sampling,
# fixed-point similarity, sessionization
KEYS = [
    "tpch_q1",
    "tpch_q9",
    "agg_groupby",
    "events_sessionize",
    "events_anomaly_zscore",
    "graph_pagerank",
    "sample_weighted",
    "dedup_exact_keep_best",
    "win_median_sliding",
    "udf_cogrouped_pandas",
    "sample_reservoir_hash",
    "etl_zorder_cluster",
    # sketch keys whose CHECKED columns are exact + an error-bound
    # flag: KLL compaction and theta retained sets vary with merge
    # order, so the flags (not raw estimates) must hold at any
    # parallelism — exactly what this sweep exercises
    "agg_kll_merge_quantiles",
    "agg_theta_set_distinct",
    "agg_count_min_heavy_hitters",
    # round 6: the two-pass distributed quantile (rank arithmetic must
    # not depend on how the window shuffles land) and the iterated BPE
    # loop (argmax ties and merge application must be order-free)
    "agg_percentile_exact_distributed",
    "agg_weighted_median_distributed",
    "text_bpe_merge_rounds",
    # round 6 (cont.): degree-oriented triangle census (collect_set
    # arrival order must not leak into the count) and the two-level
    # hash-bucket featurizer
    "graph_triangle_count",
    "text_hashing_features",
    # round 6 (cont. 2): OHLC candles — the open/close rank picks
    # must be partition-layout-free (ties broken on (ts, event_id))
    "events_ohlc_resample",
    # ... and the Markov removal-effect solve (collected ppm matrix
    # iteration must be layout- and dict-order-free: integer sums)
    "events_attribution_markov",
    # round 6 (cont. 2): decimal-window cumulative LTV and the
    # rank-formula Gini (both must not see partition layout)
    "orders_cohort_ltv",
    "agg_gini_segment",
    # round 6 (cont. 2): rank-picked cadence percentiles
    "orders_reorder_interval_stats",
    # round 6 (cont. 2): MIN-attributed first-occurrence novelty
    "text_ngram_novelty",
    # round 6 (cont. 2): the 4-term IVM union must aggregate to the
    # same decimals whatever the partition layout
    "etl_incremental_join_maintenance",
    # round 6 (cont. 2): exact ratio-of-averages seasonal decomposition
    "orders_seasonal_index",
    # round 6 (cont. 2): running-peak drawdown off the user window
    "win_drawdown",
    # round 6 (cont. 2): rank statistics whose tie handling claims
    # layout-invariance (doubled midranks; cross-multiplied CDFs)
    "events_mannwhitney_u",
    "events_ks_statistic",
    # round 6 (cont. 2): contingency margins and grouped-fold
    # checksums off shuffled counts
    "agg_chi_square_independence",
    "sample_group_kfold",
    # round 6 (cont.): the mapInPandas partial-Gram must sum to the
    # same integers whatever the Arrow batch/partition layout
    "embeddings_gram_matrix",
    # round 6 (cont.): ppm ratios off shuffled counts, md5-ranked
    # balanced draw, and the decimal windowed prior-spend sum
    "orders_association_rules",
    "sample_class_balance",
    "etl_feature_pointintime",
    # round 6 (cont.): skip-gram pair counts + deterministic k-prefix,
    # and OLS over exact sufficient statistics
    "text_cooccurrence_topk",
    "agg_group_ols_trend",
    # round 6 (cont.): exact rank-pick medians and md5-thresholded
    # Poisson resample weights — both must ignore partition layout
    "events_anomaly_mad",
    "agg_bootstrap_means",
    # round 6 (cont.): duration-weighted decimal sums off a per-stream
    # lead window
    "events_time_weighted_avg",
    # round 6 (cont.): epoch-salted shard counts off an in-row explode
    "sample_shard_epochs",
    # round 7: the frontier BFS (anti-join accumulation must label
    # each node once whatever the layout), the salted two-pass exact
    # top-cap (per-salt survivor sets must re-rank identically), the
    # md5-digest table checksums (commutative DECIMAL(38,0) sums), the
    # micro-quantized per-dimension stats, the integer-ppm DiD cells,
    # and the composed Pipeline's partitioned sink round-trip
    "graph_bfs_hops",
    "sample_source_cap",
    "etl_publish_checksums",
    "embeddings_dimension_stats",
    "events_did_lift",
    "pipeline_orders_daily",
    # round 7 (cont.): cross-multiplied segment thresholds off shuffled
    # cents sums must place every customer identically at any layout
    "orders_segment_migration",
    # round 7 (cont.): Welch t off exact decimal sufficient statistics
    "events_welch_ttest",
    # round 7 (cont.): PQ argmin ties break on (distance, code) structs
    "embeddings_pq_assign",
    "sim_topk_pq",
    # round 7 (cont.): the CUSUM prefix-sum/running-min identity must
    # produce the same alarm set at any layout (scaled-integer algebra)
    "events_cusum_alarm",
    # round 7 (cont.): rolling integer OLS — no doubles anywhere
    "win_rolling_ols_slope",
    # round 7 (cont.): power/MDE off exact counts + shared-text doubles
    "events_ab_power_mde",
    # round 8: the salted two-pass exact top-k per group (per-salt
    # survivor sets must re-rank identically at any layout — the
    # win_topk_per_group twin), and the df profile's integer band
    # counts off the shared shingle index
    "agg_topk_per_group_salted",
    "dedup_shingle_df_profile",
    # round 8 (cont.): centroid cosines off exact integer moments —
    # one shared-text double expression at the end
    "embeddings_label_separation",
    # round 8 (cont.): merged-schema snapshot audit — cents sums and
    # NULL-fill must not depend on file/partition layout
    "etl_schema_evolution_audit",
    # round 9: observe-metrics accumulators must sum to the same
    # values whatever the task layout; the piped aggregate likewise
    "etl_observe_metrics",
    "sql_pipe_syntax",
    # round 9 (cont.): the struct-MIN survivor picks must be layout-free
    "dedup_doc_ids",
    "dedup_vec_ids",
    # round 10: the model-space admission slice — pure filter + in-row
    # integer-quantized norm fold, layout-free by construction
    "embeddings_dim_conform",
    # round 10 (cont.): the LOCF running fill (order-sensitive frame
    # under the full payload tiebreak) and the decorrelated LATERAL
    # top-k (per-key rank ties broken on linenumber)
    "win_gap_fill_locf",
    "join_lateral_topk",
    # round 10 (cont. 2): the LOCF converged state — struct-argmax
    # over (ts, event_id, value), total by construction
    "stream_locf_state",
]


@pytest.mark.parametrize("nparts", ["7", "1"])
@pytest.mark.parametrize("key", KEYS)
def test_result_invariant_under_partition_count(spark, key, nparts):
    baseline = baseline_digest(spark, key)
    with conf_patch(spark, {"spark.sql.shuffle.partitions": nparts}):
        got = canonical_digest(REGISTRY[key].fn(spark, SF_SMOKE))
    assert got == baseline, (
        f"{key} changed results under shuffle.partitions={nparts}"
    )


def test_kmeans_assign_invariant_with_fresh_centroids(spark):
    """sim_kmeans_assign memoizes its centroids per (app, sf_dir), so
    the plain sweep above would re-test only the final assignment
    pass. Clear the memo before each run so the WHOLE pipeline —
    seed fetch, both Lloyd updates, final stats — recomputes under
    shuffle.partitions=7 and must still be bit-identical (exact
    integer arithmetic is the claim)."""
    fn = REGISTRY["sim_kmeans_assign"].fn
    clear_caches(SF_SMOKE)
    baseline = canonical_digest(fn(spark, SF_SMOKE))
    try:
        with conf_patch(spark, {"spark.sql.shuffle.partitions": "7"}):
            clear_caches(SF_SMOKE)
            got = canonical_digest(fn(spark, SF_SMOKE))
    finally:
        clear_caches(SF_SMOKE)
    assert got == baseline, (
        "sim_kmeans_assign changed results under shuffle.partitions=7"
    )
