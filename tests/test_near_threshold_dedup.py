"""Near-threshold recall gate for dedup_incremental's 32×2 banding.

Round-5 advice: with 16×4 bands a pair sitting just above the Jaccard
threshold (j≈0.80) missed all bands with p≈2.2e-4 and would fail the
bit-exact oracle gate the first time the corpus generator emitted one.
Round 6 moved the incremental key to 32 bands × 2 rows (miss p≈6.6e-15
at j=0.80); this test CONSTRUCTS the adversarial corpus the standard
data never contains — 20 batch/index pairs at shingle-Jaccard ≈0.81
(must all be found) and 20 at ≈0.78 (must all be excluded, proving the
threshold itself agrees between engines) — and requires the full
value-match against the exact all-pairs oracle.

The banding is a deterministic hash, so for a FIXED corpus this test
is deterministic: it either passes forever or a band-parameter
regression (e.g. reverting to 16×4, where a 20-pair corpus flakes with
p≈4e-3 per generator draw... but THIS fixed draw may still pass) —
hence the test also asserts the candidate stage recalls every true
pair directly, which 32×2 guarantees overwhelmingly and any weaker
banding is likely to break on at least one of the 20 constructed
pairs.
"""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest

from .oracle import assert_matches_oracle, copied_corpus

N_PAIRS = 20  # per band (above / below threshold)
N_TOKENS = 50
K_ABOVE = 5  # 5 changed tokens of 50 → shingle-J ≈ 0.811 (> 0.8)
K_BELOW = 6  # 6 changed tokens of 50 → shingle-J ≈ 0.778 (< 0.8)


def _doc(pair: int, variant: str, k_changed: int) -> str:
    toks = [f"p{pair}t{i}" for i in range(N_TOKENS)]
    if variant == "b":
        toks = toks[: N_TOKENS - k_changed] + [
            f"p{pair}alt{i}" for i in range(k_changed)
        ]
    return " ".join(toks)


@pytest.fixture(scope="module")
def near_threshold_dir():
    rows = []
    doc_id = 0

    def next_batch_id():
        nonlocal doc_id
        doc_id += 10 - (doc_id % 10)  # next multiple of 10 (batch side)
        return doc_id

    def next_index_id():
        nonlocal doc_id
        doc_id += 1
        if doc_id % 10 == 0:
            doc_id += 1
        return doc_id

    for p in range(N_PAIRS):
        for k, tag in ((K_ABOVE, "above"), (K_BELOW, "below")):
            a = _doc(f"{tag}{p}", "a", k)
            b = _doc(f"{tag}{p}", "b", k)
            rows.append((next_batch_id(), a, "en", tag, len(a)))
            rows.append((next_index_id(), b, "en", tag, len(b)))
    docs = pd.DataFrame(
        rows, columns=["doc_id", "text", "lang", "source", "n_chars"]
    )
    with copied_corpus("uchr_near_threshold_") as out:
        # single-FILE parquet via DuckDB (io.load and the oracle both
        # expect the testdata layout, not a Spark part-file directory)
        with duckdb.connect() as con:
            con.register("docs", docs)
            con.execute(
                f"COPY (SELECT * FROM docs ORDER BY doc_id) TO "
                f"'{out}/documents.parquet' (FORMAT PARQUET)"
            )
        yield out


def test_incremental_dedup_finds_every_near_threshold_pair(
    spark, near_threshold_dir
):
    sdf = assert_matches_oracle(spark, "dedup_incremental", near_threshold_dir)
    # every above-threshold pair found, every below-threshold pair
    # excluded — the construction puts exactly N_PAIRS true pairs in
    # the corpus
    assert len(sdf) == N_PAIRS, sdf
    assert (sdf["jaccard"] >= 0.8).all()


def test_candidate_stage_recalls_all_true_pairs(spark, near_threshold_dir):
    """The LSH candidate stage itself (before exact verify) must
    surface all N_PAIRS true pairs — the property the 32×2 banding
    buys (16×4 would make this a per-corpus coin flip at j≈0.81)."""
    from pyspark.sql import functions as F

    from uchr_scetl_spark.llm.dedup import band_buckets, minhash_signatures

    buckets = band_buckets(
        minhash_signatures(spark, near_threshold_dir), n_bands=32
    )
    batch = buckets.where(F.col("doc_id") % 10 == 0)
    index = buckets.where(F.col("doc_id") % 10 != 0)
    above_batch = (
        spark.read.parquet(f"{near_threshold_dir}/documents.parquet")
        .where((F.col("source") == "above") & (F.col("doc_id") % 10 == 0))
        .select(F.col("doc_id").alias("new_id"))
    )
    n_cand_true = (
        batch.alias("a")
        .join(index.alias("b"), F.col("a.bucket") == F.col("b.bucket"))
        .select(
            F.col("a.doc_id").alias("new_id"),
            F.col("b.doc_id").alias("index_id"),
        )
        .distinct()
        # a true pair is (above batch doc, its +1 index twin) by
        # construction; below-threshold neighbours also collide often
        # (they are candidates the exact verify rejects) but must not
        # pad this count
        .where(F.col("index_id") == F.col("new_id") + 1)
        .join(above_batch, "new_id", "left_semi")
        .count()
    )
    assert n_cand_true == N_PAIRS, n_cand_true
