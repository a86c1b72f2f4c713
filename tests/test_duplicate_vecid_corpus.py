"""Duplicate-vec_id gate: the embeddings twin of the duplicate-doc_id
contract (tests/test_duplicate_docid_corpus.py).

Round-9 finding: on a corpus where every 19th vec_id appears twice
with a DIFFERENT vector (a re-run encoder job re-emitting ids — the
same at-least-once class as duplicated events/doc_ids), the
full-registry sweep split 4 keys: dedup_embedding, sim_kmeans_assign,
sim_knn_classify, sim_pairwise_threshold. Root cause is semantic —
pairwise keys order candidates by vec_id (two variants of one id are
unorderable), and per-id grouping merges two different vectors.

Committed contract: vec_id is a KEY column; violating input goes
through ``dedup_vec_ids`` first (deterministic struct-MIN survivor
per id — array<float> compares element-wise identically on both
engines). This gate proves the two-step pipeline end-to-end: the
dedup key is hash-exact ON the violating corpus, the 4 divergent keys
are hash-exact again on its output (rebuilt by the ORACLE SQL via
DuckDB COPY so the deduped parquet keeps the exact FLOAT[] physical
type), and one representative raw-input divergence stays pinned as a
tripwire.
"""

from __future__ import annotations

import pytest

from uchr_scetl_spark.llm.dedup import DEDUP_VEC_SURVIVOR_SQL

from .oracle import (
    REGISTRY,
    assert_matches_oracle,
    compare,
    copied_corpus,
    mutated_corpus,
    oracle_connection,
)

DIVERGED_KEYS = [
    "dedup_embedding",
    "sim_kmeans_assign",
    "sim_knn_classify",
    "sim_pairwise_threshold",
]


dup_vec_dir = mutated_corpus(
    "uchr_dup_vecid_corpus_",
    {
        "embeddings": """
            SELECT * FROM embeddings
            UNION ALL
            SELECT vec_id,
                   list_transform(embedding,
                     x -> CAST(x * 0.5 + 0.01 AS FLOAT)) AS embedding,
                   label
            FROM embeddings WHERE vec_id % 19 = 0
        """,
    },
)


@pytest.fixture(scope="module")
def deduped_dir(dup_vec_dir):
    """The documented remediation, materialised via the key's raw
    survivor SQL (the checked oracle wraps the same relation — the
    checked output renders the embedding as a scalar, but the
    remediation needs the exact FLOAT[] physical type, hence the
    split constant)."""
    with copied_corpus("uchr_deduped_vecid_corpus_") as out:
        with oracle_connection(dup_vec_dir) as con:
            con.execute(
                f"COPY ({DEDUP_VEC_SURVIVOR_SQL}) "
                f"TO '{out}/embeddings.parquet' (FORMAT PARQUET)"
            )
        yield out


def test_corpus_violates_the_id_contract(dup_vec_dir):
    con = oracle_connection(dup_vec_dir)
    try:
        n, d = con.sql(
            "SELECT COUNT(*), COUNT(DISTINCT vec_id) FROM embeddings"
        ).fetchone()
        assert n > d, (n, d)
    finally:
        con.close()


def test_dedup_vec_ids_is_exact_on_the_violating_corpus(spark, dup_vec_dir):
    sdf = assert_matches_oracle(spark, "dedup_vec_ids", dup_vec_dir)
    assert sdf["vec_id"].is_unique


def test_raw_dup_ids_stay_outside_the_per_key_contract(spark, dup_vec_dir):
    """Tripwire (the dup-doc_id gate pattern): sim_pairwise_threshold
    on RAW dup-id input diverges today. If this stops failing, the
    contract boundary moved — revisit the gate."""
    con = oracle_connection(dup_vec_dir)
    try:
        spec = REGISTRY["sim_pairwise_threshold"]
        sdf = spec.fn(spark, dup_vec_dir).toPandas()
        odf = con.sql(spec.oracle).df()
        assert compare(sdf, odf), "raw dup-id input unexpectedly agrees"
    finally:
        con.close()


@pytest.mark.parametrize("key", DIVERGED_KEYS)
def test_key_is_exact_again_after_id_dedup(key, spark, deduped_dir):
    assert_matches_oracle(spark, key, deduped_dir)
