"""NULL-events robustness gate: the events/streaming/asof operators
must VALUE-MATCH the DuckDB oracle on an events table with NULLs in
the payload columns (value 1-in-7, props 1-in-11, event_type 1-in-13).

Third member of the round-6 null-gate family (embeddings, text,
events): the standard events table is fully populated, so null
handling in aggregates-with-filters, JSON extraction, sessionization
and windowed math diverges silently until real data arrives with
failed or partial events.

`ts` and `user_id` stay NON-NULL deliberately: they are the stream
time and the partitioning key — any real ingest drops events without
them (they cannot be windowed or keyed), so nulling them would test a
row shape the pipeline's contract already excludes.
"""

from __future__ import annotations

import pytest

from .oracle import assert_matches_oracle, mutated_corpus

KEYS = [
    "events_sessionize",
    "events_funnel",
    "events_retention",
    "events_top_paths",
    "events_ab_lift",
    "events_anomaly_zscore",
    "events_attribution_linear",
    "events_markov_transitions",
    "events_peak_concurrency",
    "events_anomaly_mad",
    "events_time_weighted_avg",
    "stream_tumbling_counts",
    "stream_sliding_avg",
    "stream_session_windows",
    "stream_dedup",
    "stream_enrich_static",
    "stream_watermark_lag_audit",
    "win_time_range",
    "win_ewma",
    "events_ohlc_resample",
    "etl_partition_skew_audit",
    "events_attribution_markov",
    "events_funnel_windowed",
    "events_bot_burst_audit",
    "events_next_event_accuracy",
    "events_hazard_curve",
    "events_active_users_rolling",
    "win_drawdown",
    "events_mannwhitney_u",
    "events_ks_statistic",
    "join_theta_range",
    "events_did_lift",
    "stream_state_store_read",
    "join_interval_overlap",
    "events_welch_ttest",
    "events_cusum_alarm",
    "win_rolling_ols_slope",
    "agg_topk_per_group_salted",
    "events_ab_power_mde",
]

null_events_dir = mutated_corpus(
    "uchr_null_events_corpus_",
    {
        "events": """
            SELECT * REPLACE (
              CASE WHEN event_id % 7 = 0 THEN NULL ELSE value END
                AS value,
              CASE WHEN event_id % 11 = 0 THEN NULL ELSE props END
                AS props,
              CASE WHEN event_id % 13 = 0 THEN NULL ELSE event_type END
                AS event_type)
            FROM events
        """,
    },
)


@pytest.mark.parametrize("key", KEYS)
def test_events_key_matches_oracle_with_null_payloads(key, spark, null_events_dir):
    assert_matches_oracle(spark, key, null_events_dir)
