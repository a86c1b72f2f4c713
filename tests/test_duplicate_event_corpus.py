"""Duplicate-event robustness gate: the ordered-window operators must
VALUE-MATCH the DuckDB oracle on an events table where duplicated
event_ids share an IDENTICAL ts but differ in payload — the
at-least-once-ingestion reality stream_dedup exists for.

Round-9 findings, pinned: nearly every ordered window in the registry
tiebreaks on (ts, event_id) under the implicit assumption that pair is
unique. Plant ~1-in-13 duplicated (event_id, ts) rows with a DIFFERENT
value/props and the order is no longer total — Spark and DuckDB are
each free to order the pair either way, and the full-registry sweep
found four live divergences plus one nondeterministic-by-design pick:

- events_cusum_alarm: the whole prefix-sum sequence (so the alarm set)
  depended on which payload ordered first — x joined the tiebreak;
- events_ohlc_resample: the open/close rank picks diverged — qv joined
  the WINDOW order;
- events_time_weighted_avg: WHICH payload carried the interval was
  engine-dependent — value joined the lead-window order;
- stream_dedup: dropDuplicates(event_id) keeps an arrival-order-
  nondeterministic winner once payloads diverge — replaced by a
  lexicographic struct-MIN pick (NULL fields smallest on both engines,
  probed) mirrored by a NULLS FIRST row_number oracle;
- win_lag_lead / win_ewma / win_median_sliding / win_drawdown /
  win_rolling_ols_slope passed the sweep only by stable-scan
  coincidence (both engines happened to sort the tied pair in file
  order) — their lag frames / running peaks / stream positions are
  order-SENSITIVE, so the payload column each window reads joined its
  tiebreak (NULLS FIRST spelled on both engines where nullable),
  making the order genuinely total: rows still tied are identical in
  every column the computation reads and therefore interchangeable.

Keys whose aggregates are order-free under tied rows (sessionization:
tied gaps are 0 either way; tumbling/range aggregates: frames include
all ties symmetrically; funnel/markov: the planted duplicates share
event_type so the type sequence is invariant) are pinned below to
keep them that way. Duplicates that disagree on event_type at the
same (ts, event_id) remain OUT of the funnel/markov contract — the
stream is expected to pass through stream_dedup first (its pick is
now deterministic precisely so that contract is meaningful).

The corpus is a deterministic key-based rewrite of the smoke events
table (the null/skew/degenerate gate pattern): every 13th event is
re-emitted with the same event_id/ts/user_id/event_type, value*3+1,
and a marker props payload.
"""

from __future__ import annotations

import pytest

from .oracle import assert_matches_oracle, mutated_corpus, oracle_connection

KEYS = [
    # the four sweep divergences, fixed
    "events_cusum_alarm",
    "events_ohlc_resample",
    "events_time_weighted_avg",
    "stream_dedup",
    # the five order-sensitive windows whose tiebreaks were extended
    "win_lag_lead",
    "win_ewma",
    "win_median_sliding",
    "win_drawdown",
    "win_rolling_ols_slope",
    # round 10: LOCF fill — order-sensitive running frame, born with
    # the full (ts, event_id, value) tiebreak
    "win_gap_fill_locf",
    # order-free-under-ties keys, pinned to stay that way
    "events_sessionize",
    "stream_session_windows",
    "stream_tumbling_counts",
    "stream_sliding_avg",
    "win_time_range",
    "win_gaps_islands",
    "events_funnel",
    "events_attribution_markov",
    "events_peak_concurrency",
    "events_anomaly_zscore",
    "events_mannwhitney_u",
    "stream_user_running_state",
    "events_bot_burst_audit",
    "join_interval_overlap",
    "agg_topk_per_group_salted",
    # round 10: the LOCF converged-state pick is a struct-argmax with
    # value in the comparison — total under payload-divergent dups
    "stream_locf_state",
]

dup_event_dir = mutated_corpus(
    "uchr_dup_event_corpus_",
    {
        "events": """
            SELECT * FROM events
            UNION ALL
            SELECT event_id, ts, user_id, event_type,
                   value * 3 + 1 AS value,
                   '{"dup": true}' AS props
            FROM events
            WHERE event_id % 13 = 0
        """,
    },
)


def test_corpus_has_payload_divergent_duplicates(dup_event_dir):
    """Anti-vacuity: the planted pairs must actually be non-total
    under (ts, event_id) — same key, different value."""
    with oracle_connection(dup_event_dir) as con:
        n = con.sql(
            """
            SELECT COUNT(*) FROM (
              SELECT event_id, ts FROM events
              GROUP BY event_id, ts
              HAVING COUNT(*) > 1 AND COUNT(DISTINCT value) > 1
            )
            """
        ).fetchone()[0]
    assert n > 50, n  # ~1/13 of the smoke events table


@pytest.mark.parametrize("key", KEYS)
def test_key_matches_oracle_with_duplicate_events(key, spark, dup_event_dir):
    assert_matches_oracle(spark, key, dup_event_dir)
