"""Duplicate-doc_id gate: what the engine guarantees when the
documents table violates its doc_id key contract (re-crawls and shard
overlaps re-emit an id with DIFFERENT text).

Round-9 finding: on a corpus where every 17th doc_id appears twice
with different texts, the full-registry sweep split 9 keys between
the engines — the whole shingle-index family (dedup_containment,
dedup_near, dedup_near_survivors, dedup_pair_jaccard_spectrum,
dedup_simhash) plus per-doc_id consumers (scan_binary_files' one-file-
per-id fixture, text_contamination_check, text_bigram_lm_score,
text_pack_sequences). The root cause is semantic, not a bug in either
engine: once two texts share one id, "a document" is ill-defined —
Spark's groupBy(doc_id) shingle sets merge the variants while the
oracle's per-row arrays keep them apart, and no spelling makes both
answers simultaneously right.

The committed contract (the stream_dedup precedent): doc_id is a KEY
column; raw violating input goes through ``dedup_doc_ids`` first — a
deterministic struct-MIN survivor per id (NULL fields smallest on
both engines), itself hash-exact on the violating corpus. This gate
proves the documented two-step pipeline end-to-end:

1. dedup_doc_ids value-matches the oracle ON the violating corpus;
2. rerunning the 9 divergent keys on its OUTPUT (one row per id
   again) restores hash-exactness for every one of them;
3. one representative raw-input divergence (dedup_near's pair count)
   is pinned as a tripwire so the contract's boundary stays visible —
   if an engine change ever makes raw dup-id input agree, this gate
   says so loudly and the contract should be revisited.
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from .oracle import (
    REGISTRY,
    assert_matches_oracle,
    compare,
    copied_corpus,
    mutated_corpus,
    oracle_connection,
)

# the nine keys the raw dup-id corpus split, re-checked on the
# deduped output
DIVERGED_KEYS = [
    "dedup_containment",
    "dedup_near",
    "dedup_near_survivors",
    "dedup_pair_jaccard_spectrum",
    "dedup_simhash",
    "scan_binary_files",
    "text_contamination_check",
    "text_bigram_lm_score",
    "text_pack_sequences",
]


dup_doc_dir = mutated_corpus(
    "uchr_dup_docid_corpus_",
    {
        "documents": """
            SELECT * FROM documents
            UNION ALL
            SELECT doc_id,
                   'redelivered variant text of doc ' || doc_id ||
                   ' with different words entirely' AS text,
                   lang, source,
                   CAST(len('redelivered variant text of doc '
                            || doc_id ||
                            ' with different words entirely')
                        AS BIGINT) AS n_chars
            FROM documents WHERE doc_id % 17 = 0
        """,
    },
)


@pytest.fixture(scope="module")
def deduped_dir(spark, dup_doc_dir):
    """The documented remediation: dedup_doc_ids' OUTPUT as the
    documents table, everything else copied through."""
    with copied_corpus("uchr_deduped_docid_corpus_") as out:
        # single parquet FILE (the corpus layout both engines read), not a
        # Spark part-file directory
        deduped = (
            REGISTRY["dedup_doc_ids"]
            .fn(spark, dup_doc_dir)
            .orderBy("doc_id")
            .toPandas()
        )
        pq.write_table(
            pa.Table.from_pandas(deduped, preserve_index=False),
            f"{out}/documents.parquet",
        )
        yield out


def test_corpus_violates_the_id_contract(dup_doc_dir):
    con = oracle_connection(dup_doc_dir)
    try:
        n, d = con.sql(
            "SELECT COUNT(*), COUNT(DISTINCT doc_id) FROM documents"
        ).fetchone()
        assert n > d, (n, d)
    finally:
        con.close()


def test_dedup_doc_ids_is_exact_on_the_violating_corpus(spark, dup_doc_dir):
    sdf = assert_matches_oracle(spark, "dedup_doc_ids", dup_doc_dir)
    assert sdf["doc_id"].is_unique


def test_raw_dup_ids_stay_outside_the_per_key_contract(spark, dup_doc_dir):
    """Tripwire: dedup_near on RAW dup-id input diverges from the
    oracle today (merged vs per-row shingle sets — both defensible,
    neither 'the' answer). If this stops failing, the contract
    boundary moved; revisit the gate rather than letting it drift."""
    con = oracle_connection(dup_doc_dir)
    try:
        spec = REGISTRY["dedup_near"]
        sdf = spec.fn(spark, dup_doc_dir).toPandas()
        odf = con.sql(spec.oracle).df()
        assert compare(sdf, odf), "raw dup-id input unexpectedly agrees"
    finally:
        con.close()


@pytest.mark.parametrize("key", DIVERGED_KEYS)
def test_key_is_exact_again_after_id_dedup(key, spark, deduped_dir):
    assert_matches_oracle(spark, key, deduped_dir)
