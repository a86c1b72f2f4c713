"""Corrupted-corpus gate: make every violation counter in the DQ audit
actually FIRE, and still demand Spark == oracle.

The vacuity audit (tools/vacuity_audit.py) flags ``etl_dq_audit``'s
``o_totalprice <= 0`` arm as zero-fire on the clean corpus — correctly:
a data-quality audit on clean data reports zeros, which means the
counting arms themselves are never exercised by the standard oracle
sweep. This gate builds a deterministically corrupted orders table
(NULL prices, non-positive prices, bad status codes, orphan custkeys,
duplicated orderkeys) and asserts

  1. Spark and DuckDB still value-match bit-exactly, and
  2. every single violation counter is strictly positive —

so the green is evidence, not vacuum. This is the same pattern as the
null-events / null-text / null-embedding gates: corrupt one table the
way real ingest does, keep the rest of the corpus intact.
"""

from __future__ import annotations

import pytest

from .oracle import REGISTRY, assert_matches_oracle, mutated_corpus

# Deterministic, key-based corruption of ~1-in-N rows per violation
# class (disjoint moduli so classes don't shadow each other), plus a
# duplicated-orderkey block appended.
corrupted_dir = mutated_corpus(
    "uchr_corrupted_corpus_",
    {
        "orders": """
            SELECT * REPLACE (
              CASE WHEN o_orderkey % 97 = 0 THEN NULL
                   ELSE o_totalprice END AS o_totalprice)
            FROM (
              SELECT * REPLACE (
                CASE WHEN o_orderkey % 89 = 1 THEN -o_totalprice
                     WHEN o_orderkey % 89 = 2 THEN 0
                     ELSE o_totalprice END AS o_totalprice,
                CASE WHEN o_orderkey % 83 = 3 THEN 'X'
                     ELSE o_orderstatus END AS o_orderstatus,
                CASE WHEN o_orderkey % 79 = 4 THEN -o_custkey
                     ELSE o_custkey END AS o_custkey)
              FROM orders
            )
            UNION ALL
            SELECT * FROM orders
            WHERE o_orderkey % 101 = 5
        """,
    },
)


def test_dq_audit_counters_all_fire_and_match(spark, corrupted_dir):
    row = assert_matches_oracle(spark, "etl_dq_audit", corrupted_dir).iloc[0]
    for counter in (
        "null_price", "nonpositive_price", "bad_status",
        "orphan_custkey", "dup_orderkey",
    ):
        assert int(row[counter]) > 0, (
            f"etl_dq_audit counter {counter} did not fire on the corrupted "
            f"corpus — the arm is still vacuous"
        )


@pytest.mark.parametrize(
    "key",
    [
        # orders-reading keys that must stay oracle-exact when the fact
        # table carries real violations (NULLs, negatives, duplicates)
        "etl_upsert_snapshot",
        "etl_schema_evolution_audit",
        # round 9: observe-metrics must count the corrupted rows the
        # same way the oracle recomputes them (NULL custkeys hit the
        # null counter, negative prices the nonpositive counter)
        "etl_observe_metrics",
        "sql_pipe_syntax",
        "etl_snapshot_diff",
        "agg_groupby",
        "join_left_outer",
        "join_theta_range",
        "pipeline_orders_daily",
        "etl_publish_checksums",
    ],
)
def test_orders_keys_survive_corruption(key, spark, corrupted_dir):
    assert_matches_oracle(spark, key, corrupted_dir)


def test_expectations_suite_fails_on_corruption_and_matches(spark, corrupted_dir):
    """On the corrupted corpus the zero-tolerance expectations must
    flip to failed (their counters fire) while Spark and DuckDB still
    value-match — both verdict arms live, oracle-checked."""
    sdf = assert_matches_oracle(spark, "etl_expectations_suite", corrupted_dir)
    by_id = {r.expectation_id: r for r in sdf.itertuples()}
    for eid in ("price_positive", "price_not_null", "status_in_domain",
                "custkey_positive"):
        assert not by_id[eid].passed and by_id[eid].n_violations > 0, by_id[eid]
    assert by_id["date_in_range"].passed  # corruption leaves dates intact


# --- poisoned-negatives arm -------------------------------------------------
# sample_contrastive_negatives' exclusion claim ("a near-dup labelled as
# a negative is a poisoned example, and this exclusion arm provably
# fires") was previously tested by corpus luck. This corpus makes the
# poison CERTAIN by construction: doc 442 is anchor 0's slot-1 easy
# draw (md5('neg:0:1') % 500 == 442 — pure arithmetic, asserted below),
# and we overwrite doc 442's text with doc 0's text so the pair IS a
# verified near-duplicate. Without the anti-join the pair would be
# emitted as both an easy negative (slot 1) and a hard negative (each
# is the other's top co-shingle partner); with it, no (0,442) pair of
# any slot may survive — and the whole key must still value-match the
# oracle on the hostile corpus.

POISON_ANCHOR = 0
POISON_TWIN = 442  # == conv(md5('neg:0:1')[:8], 16, 10) % 500


poisoned_dir = mutated_corpus(
    "uchr_poisoned_corpus_",
    {
        "documents": f"""
            SELECT * REPLACE (
              CASE WHEN doc_id = {POISON_TWIN}
                   THEN (SELECT text FROM documents
                         WHERE doc_id = {POISON_ANCHOR})
                   ELSE text END AS text)
            FROM documents
        """,
    },
)


def test_poisoned_negative_is_excluded_by_construction(spark, poisoned_dir):
    import hashlib

    # (1) the draw arithmetic really targets the twin — this is what
    # makes the exclusion provable rather than lucky: slot-1 easy
    # candidate of the anchor IS the twin, engine-independently
    n = 500
    drawn = (
        int(
            hashlib.md5(
                f"neg:{POISON_ANCHOR}:1".encode()
            ).hexdigest()[:8],
            16,
        )
        % n
    )
    assert drawn == POISON_TWIN, drawn

    # (2) the pair is a verified near-duplicate on this corpus
    near = {
        (r.a_id, r.b_id)
        for r in REGISTRY["dedup_near"].fn(spark, poisoned_dir).collect()
    }
    lo, hi = sorted((POISON_ANCHOR, POISON_TWIN))
    assert (lo, hi) in near or (hi, lo) in near, sorted(near)[:5]

    # (3) no output pair between anchor and twin survives, in either
    # direction, easy or hard
    out_pairs = {
        (r.doc_id, r.neg_id)
        for r in REGISTRY["sample_contrastive_negatives"]
        .fn(spark, poisoned_dir)
        .collect()
    }
    assert (POISON_ANCHOR, POISON_TWIN) not in out_pairs
    assert (POISON_TWIN, POISON_ANCHOR) not in out_pairs


def test_poisoned_corpus_still_matches_oracle(spark, poisoned_dir):
    assert_matches_oracle(spark, "sample_contrastive_negatives", poisoned_dir)


def test_observe_metrics_counters_fire_on_corruption(spark, corrupted_dir):
    """Anti-vacuity for etl_observe_metrics (round-9 VACUITY flag):
    on clean corpora both violation counters are 0 by construction,
    so this gate proves each arm actually FIRES where the corruption
    exists — NULL prices (%97 class) hit n_null_price, negative/zero
    prices (%89 classes) hit n_nonpositive — while the key still
    oracle-matches (checked in the parametrized sweep above)."""
    row = (
        REGISTRY["etl_observe_metrics"].fn(spark, corrupted_dir).collect()[0]
    )
    assert row.n_null_price > 0, row
    assert row.n_nonpositive > 0, row
