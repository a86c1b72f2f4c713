"""NULL-lineitem robustness gate for the window/sort/selection family.

Fourth member of the round-6 null-gate family. Nullable ORDER BY
columns are the systematic hazard here: ascending sort puts NULLs
FIRST in Spark but LAST in DuckDB, so any windowed/top-k key ordering
on a null-bearing column silently diverges. This gate nulls
l_extendedprice (1-in-5), l_discount (1-in-7) and l_shipdate
(1-in-11) and requires the whole window/sort/topk/selection family to
value-match the oracle — all green at introduction (the family either
filters nulls explicitly, aggregates them away identically, or orders
on non-nullable keys), and this pins that property against future
keys that order on nullable columns without an explicit NULLS
FIRST/LAST on both sides.
"""

from __future__ import annotations

import pytest

from .oracle import assert_matches_oracle, mutated_corpus

KEYS = [
    "agg_percentile",
    "agg_percentile_exact_distributed",
    "agg_weighted_median_distributed",
    "limit_offset",
    "sort_multi",
    "topk_global",
    "win_distinct_count",
    "win_first_last_nth",
    "win_gaps_islands",
    "win_lag_lead",
    "win_median_sliding",
    "win_ntile_percent",
    "win_range_frame",
    "win_rank",
    "win_running",
    "win_time_range",
    "win_topk_per_group",
    # round 6 (cont.): OLS trend filters null ship dates/prices on
    # both sides — the exact corpus this gate nulls
    "agg_group_ols_trend",
]

null_lineitem_dir = mutated_corpus(
    "uchr_null_lineitem_corpus_",
    {
        "lineitem": """
            SELECT * REPLACE (
              CASE WHEN l_linenumber % 5 = 0 THEN NULL
                   ELSE l_extendedprice END AS l_extendedprice,
              CASE WHEN l_linenumber % 7 = 0 THEN NULL
                   ELSE l_discount END AS l_discount,
              CASE WHEN l_linenumber % 11 = 0 THEN NULL
                   ELSE l_shipdate END AS l_shipdate)
            FROM lineitem
        """,
    },
)


@pytest.mark.parametrize("key", KEYS)
def test_window_key_matches_oracle_with_null_lineitem(key, spark, null_lineitem_dir):
    assert_matches_oracle(spark, key, null_lineitem_dir)
