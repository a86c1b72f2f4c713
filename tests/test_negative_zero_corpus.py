"""Negative-zero gate (round-12 axis, verdict task #5): IEEE -0.0
planted in ``events.value``, ``orders.o_totalprice``,
``lineitem.l_discount`` and ``customer.c_acctbal`` — the one IEEE
edge the degenerate-values gate (±extremes, NaN/Inf) never exercised.
-0.0 compares equal to +0.0 in every numeric predicate on both
engines, but its SIGN survives into renderings, and the engines
disagree about where:

- **Spark normalizes -0.0 to +0.0 in every grouping/join key**
  (SPARK-32110, NormalizeFloatingNumbers), so a grouped double key
  always renders +0.0; **DuckDB's group representative is
  first-seen** — order-dependent, and renders -0.0 when a -0.0 row
  arrives first.
- **Selection among IEEE-equal zeros is engine-split**: Spark's
  array_sort totally orders -0.0 before 0.0 (java.lang.Double
  .compare) while DuckDB's median/min/max treat them equal and keep
  the first-seen element — so the sign of a zero median/extremum is
  order-dependent on DuckDB and deterministic-but-different on Spark.
- **Spark's SQL literal -0.0 folds to +0.0** (decimal-literal
  parse), so the sign only ever enters through DATA — which is why
  this corpus plants it via parquet, and why casual literal-based
  probing reports false agreement.
- **round() sign differs**: Spark round(-0.4) → +0.0, DuckDB →
  -0.0 (sign-preserving). A rounded negative can mint a -0.0 bucket
  on the oracle side only.

The full-registry sweep on this corpus came back **306 pass / 0 fail
/ 3 rows-only** under the driver-parity compare (which is sign-BLIND:
numpy's == treats ±0.0 equal — pinned below, because it is the reason
sign divergences cannot be caught by the hash gate and need this
file's stricter audit). The sign-AWARE audit — per-column -0.0 cell
counts on both engines — found 31 keys carrying signed zeros in their
outputs: 29 pass-through renderings (scan/filter/join/window
pass-through preserves the input byte on BOTH engines — pinned) and
exactly TWO divergences, both fixed with the IEEE identity
``x + 0.0`` (exact for every double except -0.0 → +0.0):

- tpch_q10: grouped c_acctbal rendered +0.0 on Spark (normalized)
  vs first-seen -0.0 on DuckDB → both engines now render the key
  ``+ 0.0``;
- win_median_sliding: the median-of-5 middle element among
  mixed-sign zeros is engine-dependent (total order vs first-seen)
  → both engines now render ``med5 + 0.0``.

Contract, pinned here: the sign of zero is NOT a carried value
distinction in grouped keys or order-statistic selections (normalized
+0.0); it IS preserved in pass-through renderings (both engines
preserve the input byte identically, so pass-through stays
bit-faithful for free).
"""

from __future__ import annotations

import struct

import duckdb
import numpy as np
import pandas as pd
import pytest

from .oracle import (
    REGISTRY,
    assert_matches_oracle,
    compare,
    mutated_corpus,
    oracle_connection,
)

# every key the sign-aware audit found carrying ±0.0 cells in its
# output on this corpus (29 pass-throughs + the 2 fixed renderings)
SIGNED_ZERO_KEYS = [
    "etl_cdc_apply",
    "etl_incremental_extract",
    "etl_snapshot_diff",
    "etl_upsert_snapshot",
    "filter_pred",
    "fn_try_arith",
    "fn_xml",
    "join_anti",
    "join_asof",
    "join_asof_forward",
    "join_asof_nearest",
    "join_asof_tolerance",
    "join_semi",
    "limit_offset",
    "scan_csv",
    "scan_merge_schema",
    "scan_pruned_partition",
    "set_union_all",
    "sink_sorted_clustered",
    "sql_cte_pipeline",
    "stream_dedup",
    "stream_locf_state",
    "tpch_q10",
    "win_first_last_nth",
    "win_gap_fill_locf",
    "win_lag_lead",
    "win_median_sliding",
    "win_ntile_percent",
    "win_range_frame",
    "win_rank",
    "win_running",
]


def _bits(x: float) -> str:
    return struct.pack("<d", x).hex()


NEG_ZERO_BITS = _bits(-0.0)


def negzero_counts(df: pd.DataFrame) -> dict[str, int]:
    """Per-column count of exact -0.0 cells (sign-aware, NaN-safe)."""
    out: dict[str, int] = {}
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_float_dtype(s):
            v = s.to_numpy(float)
            n = int(((v == 0.0) & np.signbit(v) & ~np.isnan(v)).sum())
            if n:
                out[c] = n
    return out


# NOTE: the ::DOUBLE casts are load-bearing — a bare -0.0 literal
# is DECIMAL on DuckDB too and decimals have no signed zero
negzero_dir = mutated_corpus(
    "uchr_negzero_corpus_",
    {
        "events": """
            SELECT * REPLACE (
              CASE WHEN event_id % 13 = 0 THEN -0.0::DOUBLE
                   WHEN event_id % 13 = 1 THEN 0.0::DOUBLE
                   ELSE value END AS value)
            FROM events""",
        "orders": """
            SELECT * REPLACE (
              CASE WHEN o_orderkey % 17 = 0 THEN -0.0::DOUBLE
                   WHEN o_orderkey % 17 = 1 THEN 0.0::DOUBLE
                   ELSE o_totalprice END AS o_totalprice)
            FROM orders""",
        "lineitem": """
            SELECT * REPLACE (
              CASE WHEN (l_orderkey * 7 + l_linenumber) % 11 = 0
                   THEN -0.0::DOUBLE
                   ELSE l_discount END AS l_discount)
            FROM lineitem""",
        "customer": """
            SELECT * REPLACE (
              CASE WHEN c_custkey % 19 = 0 THEN -0.0::DOUBLE
                   WHEN c_custkey % 19 = 1 THEN 0.0::DOUBLE
                   ELSE c_acctbal END AS c_acctbal)
            FROM customer""",
    },
)


def test_corpus_carries_both_signed_zeros(negzero_dir):
    """Anti-vacuity: every planted column holds -0.0 rows (and the
    three two-sign columns hold +0.0 rows) that survived the parquet
    round-trip with their sign bit."""
    with oracle_connection(negzero_dir) as con:
        for tbl, col, both in [
            ("events", "value", True),
            ("orders", "o_totalprice", True),
            ("customer", "c_acctbal", True),
            ("lineitem", "l_discount", False),
        ]:
            neg, pos = con.sql(
                f"""SELECT count_if({col} = 0 AND signbit({col})),
                           count_if({col} = 0 AND NOT signbit({col}))
                    FROM {tbl}"""
            ).fetchone()
            assert neg > 0, (tbl, col)
            if both:
                assert pos > 0, (tbl, col)


def test_spark_sql_negative_zero_literal_folds(spark):
    """The probe trap: Spark's -0.0 SQL literal parses as DECIMAL and
    folds to +0.0, so signed zeros only enter through data. If this
    ever changes, literal-based reasoning in this file needs a
    re-check."""
    (r,) = spark.sql("SELECT CAST(-0.0 AS DOUBLE) v").collect()
    assert _bits(r.v) != NEG_ZERO_BITS
    # ...while computed -0.0 is preserved end-to-end through collect
    (r,) = spark.sql(
        "SELECT CAST(-1.0 AS DOUBLE) * CAST(0.0 AS DOUBLE) v"
    ).collect()
    assert _bits(r.v) == NEG_ZERO_BITS


def test_grouping_representative_semantics_diverge(spark):
    """The fact behind the tpch_q10 fix: Spark normalizes the grouped
    double key to +0.0 (SPARK-32110); DuckDB's representative is
    first-seen and renders -0.0 when -0.0 arrives first."""
    df = spark.createDataFrame([(-0.0,), (0.0,), (-0.0,)], "v double")
    rows = df.groupBy("v").count().collect()
    assert len(rows) == 1 and _bits(rows[0].v) != NEG_ZERO_BITS

    with duckdb.connect() as con:
        rep = con.sql(
            """SELECT v FROM (VALUES (-0.0::DOUBLE), (0.0::DOUBLE)) t(v)
               GROUP BY v"""
        ).fetchone()[0]
    assert _bits(rep) == NEG_ZERO_BITS  # first-seen wins on DuckDB


def test_round_zero_sign_diverges(spark):
    """round() of a small negative renders +0.0 on Spark and -0.0 on
    DuckDB — a -0.0 bucket can be minted oracle-side only, which is
    why derived-bucket keys must not carry the zero sign."""
    (r,) = (
        spark.createDataFrame([(-0.4,)], "v double")
        .selectExpr("round(v) r")
        .collect()
    )
    assert _bits(r.r) != NEG_ZERO_BITS
    with duckdb.connect() as con:
        (d,) = con.sql("SELECT round(-0.4::DOUBLE)").fetchone()
    assert _bits(d) == NEG_ZERO_BITS


def test_plus_zero_identity_normalizes_on_both_engines(spark):
    """The fix primitive: x + 0.0 maps -0.0 → +0.0 and is exact for
    every other double — on both engines."""
    rows = (
        spark.createDataFrame(
            [(-0.0,), (0.0,), (-1.5,), (2.5,)], "v double"
        )
        .selectExpr("v + CAST(0.0 AS DOUBLE) r")
        .collect()
    )
    assert [_bits(r.r) for r in rows] == [
        _bits(0.0), _bits(0.0), _bits(-1.5), _bits(2.5)
    ]
    with duckdb.connect() as con:
        got = con.sql(
            """SELECT v + 0.0 FROM (VALUES (-0.0::DOUBLE), (0.0::DOUBLE),
               (-1.5::DOUBLE), (2.5::DOUBLE)) t(v)"""
        ).fetchall()
    assert [_bits(v) for (v,) in got] == [
        _bits(0.0), _bits(0.0), _bits(-1.5), _bits(2.5)
    ]


def test_driver_compare_is_sign_blind():
    """Why the hash gate cannot catch sign divergences: the
    driver-parity float comparison uses numpy ==, and -0.0 == 0.0 is
    true. This is the documented blind spot the sign-aware audit in
    this file exists to cover."""
    a = pd.DataFrame({"v": [-0.0, 1.0]})
    b = pd.DataFrame({"v": [0.0, 1.0]})
    assert compare(a, b) == []


@pytest.mark.parametrize("key", SIGNED_ZERO_KEYS)
def test_key_is_sign_exact_on_negative_zero_corpus(key, spark, negzero_dir):
    """The stricter-than-driver invariant: value-match (driver-parity
    compare) PLUS identical per-column -0.0 cell counts on both
    engines. Pass-throughs preserve the sign identically; the two
    normalized renderings (tpch_q10, win_median_sliding) emit none."""
    with oracle_connection(negzero_dir) as con:
        sdf = assert_matches_oracle(spark, key, negzero_dir, con)
        odf = con.sql(REGISTRY[key].oracle).df()
    assert negzero_counts(sdf) == negzero_counts(odf), key
