"""Unicode robustness gate: text operators must value-match the DuckDB
oracle on a corpus containing multibyte text (Greek, CJK, emoji,
combining umlauts).

The standard corpora are pure ASCII, so a chars-vs-bytes divergence
(length(), substring(), md5-of-utf8, regexp classes) between the two
engines would pass every other sweep and corrupt results on the first
real-world corpus. This gate rewrites the documents table with
multibyte tokens appended to every 5th doc and re-runs the CHECKED
comparison — not just "doesn't crash" — for the text-analysis keys,
exact dedup (sha2 over unicode), and md5-keyed sampling.

The LSH dedup family is intentionally excluded: its oracle-equality
precondition (no pairs in the banding-risky Jaccard range) is a
property of the standard corpora and is guarded separately in
test_properties.py.
"""

from __future__ import annotations

import pytest

from .oracle import assert_matches_oracle, mutated_corpus

# every 5th doc gets multibyte tokens appended — Greek, CJK, emoji,
# a combining-diacritic umlaut, and a 4-byte astral-plane char
_UNICODE_SUFFIX = " καφέ 日本語 🚀 ümlaut 𝔘𝔫𝔦"

KEYS = [
    "text_tokenize_stats",
    "text_tf",
    "text_tfidf_topterms",
    "text_tfidf_scores",
    "text_langid",
    "text_quality_score",
    "text_token_count",
    "text_fingerprint",
    "text_vocab_topk",
    "text_length_histogram",
    "text_pack_sequences",
    "text_pii_scrub",
    "text_bigram_lm_score",
    "text_contamination_check",
    "text_repetition_score",
    "text_ngram_novelty",
    "text_affix_overlap",
    "text_langid_confusion",
    # per-CHARACTER substring pairing over multibyte words: Spark and
    # DuckDB substring() must both count codepoints (not bytes or
    # UTF-16 units — astral-plane chars in the suffix would split)
    "text_bpe_pair_counts",
    # the iterated merge loop adds regexp char-wrapping ('(.)' must
    # match CODEPOINTS in both engines — Java regex and RE2 both do),
    # list/replace segmentation algebra over multibyte symbols, and
    # length() codepoint counting in the compression stats
    "text_bpe_merge_rounds",
    "text_bpe_apply_merges",
    "dedup_exact",
    "dedup_exact_keep_best",
    # hash-machinery keys: md5-derived SimHash signatures and
    # shingle-count Jaccard must agree over UTF-8 bytes of multibyte
    # text, not just ASCII
    "dedup_simhash",
    "dedup_ngram_jaccard",
    "dedup_containment",
    "text_span_dedup",
    # sample_stratified's md5 salt includes the text column, so the
    # multibyte gate is meaningful; sample_weighted hashes only the
    # ASCII doc_id|source key and is deliberately NOT listed (it
    # would document coverage that doesn't exist)
    "sample_stratified",
    "sample_split_assign",
    "sample_temperature",
    # round 7: shingle-derived pair machinery must agree over
    # multibyte text — panel spectrum bands and co-shingle hard
    # negatives both count UTF-8 shingle intersections
    "dedup_pair_jaccard_spectrum",
    "sample_contrastive_negatives",
    # round 8: df bands over UTF-8 shingles
    "dedup_shingle_df_profile",
]

unicode_dir = mutated_corpus(
    "uchr_unicode_corpus_",
    {
        "documents": f"""
            SELECT * REPLACE (
              CASE WHEN doc_id % 5 = 0
                   THEN text || '{_UNICODE_SUFFIX}'
                   ELSE text END AS text)
            FROM documents
        """,
    },
)


@pytest.mark.parametrize("key", KEYS)
def test_text_key_matches_oracle_on_unicode_corpus(key, spark, unicode_dir):
    assert_matches_oracle(spark, key, unicode_dir)
