"""Boilerplate-heavy corpus gate: prove dedup_containment's
hot-posting df-cap VALVE actually fires (round 13, closing the r12
verdict's 'argument, not a measurement' item).

The r12 scaling probe showed k² candidate growth with the cap never
triggering at probe scale (max shingle df 100 « CONTAINMENT_DF_CAP).
This corpus makes the cap live: a fixed boilerplate sentence is
planted in MORE documents than the cap allows, so its shingles'
document frequency crosses CONTAINMENT_DF_CAP and the valve must drop
them from candidate matching. Two corpora, identical construction,
different boilerplate replication:

- **below-cap** (df = 600 ≤ 1000): boilerplate shingles are KEPT —
  every boilerplate-doc pair is a candidate (~600²·6 inverted-index
  join rows), and a pure-boilerplate document is genuinely contained
  (containment 1.0) in every boilerplate carrier: 600 true pairs out.
- **above-cap** (df = 1200 > 1000): the SAME shingles are DROPPED —
  candidate mass collapses from the uncapped ~1200²·6 ≈ 8.6 M to just
  the planted rare-token pair, and the pure-boilerplate containments
  vanish (capped-out shingles can only LOWER measured containment —
  the documented conservative failure mode, now observed).

So DOUBLING the boilerplate population (k→2k) DECREASES candidate
mass — the sub-k² growth the 100 TB defense claims, measured. A
planted rare-token containment pair (short doc quoted whole inside a
longer one, no boilerplate overlap) must survive in BOTH corpora,
proving the valve clips only the hot postings, and the registry key
must VALUE-MATCH its DuckDB oracle on both (the cap is mirrored in
the oracle SQL via sql_df_cap_qualify).
"""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from uchr_scetl_spark.llm.dedup import (
    CONTAINMENT_DF_CAP,
    cap_hot_postings,
    shingled_docs,
)

from .oracle import REGISTRY, assert_matches_oracle, copied_corpus

BOILER = "terms of service apply all rights reserved contact"  # 8 tokens
N_BELOW = 600   # boilerplate df stays under CONTAINMENT_DF_CAP=1000
N_ABOVE = 1200  # boilerplate df crosses the cap

PURE_ID = 9_000_001    # document that IS the boilerplate, nothing else
INNER_ID = 9_000_002   # rare-token doc quoted whole inside OUTER_ID
OUTER_ID = 9_000_003


def _docs(n_boiler: int) -> list[tuple]:
    rows = []
    for i in range(1, n_boiler + 1):
        text = f"{BOILER} u{i}a u{i}b u{i}c u{i}d"
        rows.append((i, text, "en", "synthetic", len(text)))
    inner = " ".join(f"q{j}" for j in range(1, 13))
    outer = inner + " " + " ".join(f"r{j}" for j in range(1, 7))
    rows.append((PURE_ID, BOILER, "en", "synthetic", len(BOILER)))
    rows.append((INNER_ID, inner, "en", "synthetic", len(inner)))
    rows.append((OUTER_ID, outer, "en", "synthetic", len(outer)))
    return rows


def _boiler_corpus(n_boiler: int):
    """A fixture: SF_SMOKE with documents replaced by ``_docs(n_boiler)``."""

    @pytest.fixture(scope="module")
    def corpus():
        with copied_corpus(f"uchr_boiler_{n_boiler}_") as out:
            con = duckdb.connect()
            con.execute(
                "CREATE TABLE d (doc_id BIGINT, text VARCHAR, lang VARCHAR,"
                " source VARCHAR, n_chars BIGINT)"
            )
            con.executemany("INSERT INTO d VALUES (?,?,?,?,?)", _docs(n_boiler))
            con.execute(f"COPY d TO '{out}/documents.parquet' (FORMAT PARQUET)")
            con.close()
            yield out

    return corpus


below_cap_dir = _boiler_corpus(N_BELOW)
above_cap_dir = _boiler_corpus(N_ABOVE)


def _candidate_pairs(spark, sf_dir: str, cap: int | None) -> int:
    """Ordered candidate-pair mass of the inverted-index self-join —
    the quantity the valve exists to bound — via the SAME helpers the
    registry key composes (shingled_docs → cap_hot_postings → tok
    equi-join)."""
    sh = shingled_docs(spark, sf_dir).select(
        "doc_id", F.explode("toks").alias("tok")
    )
    rows = cap_hot_postings(sh, "tok", cap) if cap is not None else sh
    a, b = rows.alias("a"), rows.alias("b")
    return a.join(
        b,
        (F.col("a.tok") == F.col("b.tok"))
        & (F.col("a.doc_id") != F.col("b.doc_id")),
    ).count()


def test_valve_fires_and_candidate_mass_collapses(
    spark, below_cap_dir, above_cap_dir
):
    below = _candidate_pairs(spark, below_cap_dir, CONTAINMENT_DF_CAP)
    above = _candidate_pairs(spark, above_cap_dir, CONTAINMENT_DF_CAP)
    above_uncapped = _candidate_pairs(spark, above_cap_dir, None)
    # below cap the boilerplate dominates: 6 shingles × 601×600 pairs
    assert below > 2_000_000, below
    # uncapped at 2× population it would k²-quadruple...
    assert above_uncapped > 4 * 1_000_000 and above_uncapped > below, (
        above_uncapped,
        below,
    )
    # ...but the valve drops the hot postings: only the planted
    # rare-token pair's shingles remain (10 shared shingles × 2
    # directions = 20 join rows)
    assert above == 20, above
    assert above < below / 10_000, (above, below)


def test_planted_containment_survives_the_valve(
    spark, below_cap_dir, above_cap_dir
):
    for d in (below_cap_dir, above_cap_dir):
        got = {
            (r.inner_id, r.outer_id)
            for r in REGISTRY["dedup_containment"].fn(spark, d).collect()
        }
        assert (INNER_ID, OUTER_ID) in got, (d, got)
        assert (OUTER_ID, INNER_ID) not in got, (d, got)


def test_pure_boilerplate_containments_exist_below_cap_only(
    spark, below_cap_dir, above_cap_dir
):
    """Below the cap the pure-boilerplate doc is detected inside every
    carrier (true containment 1.0, 600 pairs); above it those pairs
    vanish — the documented conservative direction (a capped shingle
    can only LOWER containment), observed on both sides of the cap."""
    below = REGISTRY["dedup_containment"].fn(spark, below_cap_dir)
    n_pure = below.where(F.col("inner_id") == PURE_ID).count()
    assert n_pure == N_BELOW, n_pure
    above = REGISTRY["dedup_containment"].fn(spark, above_cap_dir)
    assert above.where(F.col("inner_id") == PURE_ID).count() == 0


@pytest.mark.parametrize("which", ["below", "above"])
def test_containment_value_matches_oracle_across_the_cap(
    which, spark, below_cap_dir, above_cap_dir
):
    d = below_cap_dir if which == "below" else above_cap_dir
    assert_matches_oracle(spark, "dedup_containment", d)
