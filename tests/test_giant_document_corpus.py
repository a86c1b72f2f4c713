"""Giant-document gate: the text family must VALUE-MATCH the oracle —
and stay LINEAR per row — when one document is a 100k-token / ~578 KB
wall of text (a real-crawl certainty: concatenated boilerplate, logs,
minified dumps).

Round-9 findings, pinned. Unlike the other hostile corpora (which
stress shuffle keys), the giant doc stresses PER-ROW cost — in-row
higher-order functions, gram explodes, ppm arithmetic — where the
unit of failure is one row's memory/CPU, not a partition's:

- text_repetition_score overflowed on the SPARK side only: size() is
  32-bit and dup_grams * 1_000_000 crosses 2^31 on one giant doc, so
  ANSI Spark threw where DuckDB's BIGINT len() answered. The dup
  count now widens to BIGINT before the ppm multiply (the same
  widen-the-GUARD class as round 8's win_drawdown finding).
- Four DuckDB oracle spellings were quadratic per document (216-467 s
  for ONE giant doc; the Spark sides were already linear at 4-8 s):
  correlated list slices / element access per unnested row copy the
  whole list per gram (contamination, bigram LM, span dedup — now
  parallel-UNNEST + window forms), in-lambda list slices (novelty,
  repetition — now O(1) single-index concat), and a window-filtered
  doc_id hash self-join (cooccurrence — one 100k-token doc makes
  10^10 candidate pairs; now a materialised (doc_id, i+d) probe-key
  equi-join, 0.5 s). Engine lesson mirrored Spark-side already:
  element_at/concat_ws in transform() is O(1) per gram, slice() is
  not the hazard there because Catalyst's GenericArrayData slice
  copies only the 3 requested elements.

The corpus rewrite is deterministic: doc_id 42's text becomes 100k
tokens cycling a 4093-word vocabulary with sentence punctuation —
large, but not one repeated token, so gram/vocab paths do real work.
No length cap was added anywhere: the measured degradations were all
accidental quadratics, not inherent ones, and a silent cap would
misreport the very documents a quality filter most needs to see.
"""

from __future__ import annotations

import pytest

from .oracle import assert_matches_oracle, mutated_corpus, oracle_connection

KEYS = [
    # the overflow fix
    "text_repetition_score",
    # the de-quadratified oracles
    "text_contamination_check",
    "text_bigram_lm_score",
    "text_span_dedup",
    "text_ngram_novelty",
    "text_cooccurrence_topk",
    # heavy in-row HOF / explode consumers that must absorb the giant
    # row without degrading
    "text_tokenize_stats",
    "text_quality_score",
    "text_tfidf_topterms",
    "text_bpe_pair_counts",
    "text_length_histogram",
    "dedup_near",
    "dedup_shingle_df_profile",
    "sample_contrastive_negatives",
    # round 11: the chunker's stress shape IS the giant document
    # (~100k tokens → ~4.2k overlapping windows from one row) and the
    # repeated-passage detector runs over that manifest; both must
    # stay value-exact, as must the CSV round-trip of a 560 KB cell
    "text_chunk_overlap",
    "dedup_chunk_exact",
    "sink_csv_roundtrip_text",
]

# ~100k tokens, a sentence break every 17th: w{(i*i+i) % 4093}
_GIANT_TEXT_SQL = """
(SELECT string_agg('w' || ((i * i + i) % 4093)
                   || CASE WHEN i % 17 = 16 THEN '.' ELSE '' END,
                   ' ' ORDER BY i)
 FROM range(100000) t(i))"""

giant_doc_dir = mutated_corpus(
    "uchr_giant_doc_corpus_",
    {
        "documents": f"""
            SELECT * REPLACE (
              CASE WHEN doc_id = 42 THEN {_GIANT_TEXT_SQL}
                   ELSE text END AS text)
            FROM documents
        """,
    },
)


def test_corpus_has_the_giant_document(giant_doc_dir):
    with oracle_connection(giant_doc_dir) as con:
        n = con.sql(
            "SELECT len(text) FROM documents WHERE doc_id = 42"
        ).fetchone()[0]
    assert n > 500_000, n


@pytest.mark.parametrize("key", KEYS)
def test_key_matches_oracle_with_giant_document(key, spark, giant_doc_dir):
    assert_matches_oracle(spark, key, giant_doc_dir)
