"""NULL-text robustness gate: the text-family operators must
VALUE-MATCH the DuckDB oracle on a corpus where some document texts
are NULL.

Sibling of test_null_embedding_corpus (round 6): the standard corpora
have zero null texts, so Spark/oracle disagreements on null handling —
split(NULL) vs string_split(NULL), concat-with-NULL salts in md5
draws, NULLS FIRST (Spark) vs NULLS LAST (DuckDB) default sort order —
are latent until the first real corpus with missing text. Every 7th
doc's text is nulled and the CHECKED comparison re-runs for the text
analysis, exact-dedup, BPE and sampling keys.
"""

from __future__ import annotations

import pytest

from .oracle import assert_matches_oracle, mutated_corpus

KEYS = [
    "text_tokenize_stats",
    "text_tf",
    "text_tfidf_topterms",
    "text_langid",
    "text_quality_score",
    "text_token_count",
    "text_fingerprint",
    "text_vocab_topk",
    "text_length_histogram",
    "text_pii_scrub",
    "text_bigram_lm_score",
    "text_repetition_score",
    "text_bpe_pair_counts",
    "text_bpe_merge_rounds",
    "text_bpe_apply_merges",
    "text_hashing_features",
    "text_cooccurrence_topk",
    "text_filter_funnel",
    "text_ngram_novelty",
    "text_affix_overlap",
    "text_langid_confusion",
    "multimodal_dedup_binary",
    "dedup_exact",
    "dedup_containment",
    "dedup_exact_keep_best",
    "sample_stratified",
    "sample_split_assign",
    "sample_reservoir_hash",
    "sample_source_cap",
    "dedup_pair_jaccard_spectrum",
    "sample_contrastive_negatives",
    # round 8: the df profile shares the shingle index — NULL texts
    # must drop out of the bands, not null the whole profile
    "dedup_shingle_df_profile",
    # round 9: long_upper must canonicalize to '' symmetrically — a
    # NULL text NULL-propagates through split/filter/transform on both
    # engines, so both sides coalesce the joined string (ADVICE r9)
    "fn_array_lambda",
    # round 11 (CSV-fidelity sweep finding): NULL text used to yield
    # NULL BOOLEAN predicate cells — the one dtype whose null
    # rendering splits the comparator frames (Spark None vs DuckDB
    # NaN object cells); has_data/has_join/mentions_join are now INT
    # (1/0/NULL, engine-neutral float-NaN nulls) and these keys pin
    # the rendering on a NULL-text corpus
    "fn_regex",
    "fn_array",
    # round 11: the lossless CSV dialect must round-trip NULL text
    # (unquoted empty) distinct from '' (quoted "")
    "sink_csv_roundtrip_text",
]

null_text_dir = mutated_corpus(
    "uchr_null_text_corpus_",
    {
        "documents": """
            SELECT * REPLACE (
              CASE WHEN doc_id % 7 = 0 THEN NULL ELSE text END AS text)
            FROM documents
        """,
    },
)


@pytest.mark.parametrize("key", KEYS)
def test_text_key_matches_oracle_with_null_texts(key, spark, null_text_dir):
    assert_matches_oracle(spark, key, null_text_dir)
