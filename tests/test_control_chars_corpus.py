"""Control-character gate (round-10 axis): document texts carrying
the control bytes real scraped corpora carry — NUL and SOH inside
tokens, tabs and NBSP as separators, CRLF, vertical tab / form feed
at the edges, and the U+2028 LINE SEPARATOR — swept through the full
registry.

Round-10 findings, both fixed and pinned here:

- **Java regex `.` vs RE2 `.`**: Java's dot excludes EVERY Unicode
  line terminator (\\r, \\u0085, \\u2028, \\u2029) while RE2's
  excludes only \\n — so the BPE per-character wrap
  ``regexp_replace(w, '(.)', …)`` silently DROPPED a \\r or \\u2028
  inside a token from the Spark-side symbol sequence but not the
  oracle's, shifting every downstream merge count
  (text_bpe_apply_merges diverged by 17 tokens). Both sides now
  spell ``(?s)(.)`` — DOTALL, every character wrapped. A tokenizer
  must never silently drop bytes.
- **Python `\\s` vs RE2 `\\s`**: Python's (str.strip / re) whitespace
  is the Unicode set — ASCII controls, \\x1c-\\x1f, NEL \\x85, and
  categories Zs/Zl/Zp (NBSP, U+2028, ideographic space) — while
  DuckDB's RE2 ``\\s`` is ASCII-only, so the pandas-UDF normalizer
  collapsed an NBSP or U+2028 where the oracle kept it
  (udf_pandas_scalar, 48 rows). The contract is PYTHON's set (the
  production normalizer is the product; the oracle mirrors), spelled
  explicitly in RE2: ``[\\t\\n\\x0b\\x0c\\r\\x1c-\\x1f\\x{0085}\\p{Z}]``.

Clean by construction, pinned by the sweep: space-splitting
tokenizers keep control bytes INSIDE tokens identically on both
engines (md5 bucketing, tf-idf, shingles all hash the same bytes);
the BPE chr(31) symbol encoding stays engine-identical even for
pathological input because encode and decode share one spelling.
Full registry on this corpus: 303 pass / 0 fail / 3 rows-only.
"""

from __future__ import annotations

import pytest

from uchr_scetl_spark import clear_caches

from .oracle import assert_matches_oracle, mutated_corpus, oracle_connection

# the two sweep divergences (fixed) + the heaviest text consumers of
# raw bytes, pinned exact on the hostile corpus
GATE_KEYS = [
    "udf_pandas_scalar",
    "text_bpe_apply_merges",
    "text_bpe_merge_rounds",
    "text_bpe_pair_counts",
    "text_tokenize_stats",
    "text_hashing_features",
    "text_quality_score",
    "text_fingerprint",
    "dedup_ngram_jaccard",
]

_TEXT_CASE = """
CASE doc_id % 31
  WHEN 0 THEN 'nul' || chr(0) || 'inside ' || text
  WHEN 1 THEN replace(text, ' ', chr(9))
  WHEN 2 THEN 'crlf' || chr(13) || chr(10) || text
  WHEN 3 THEN 'soh' || chr(1) || ' ' || text
  WHEN 4 THEN 'ls' || chr(8232) || ' ' || text
  WHEN 5 THEN replace(text, ' ', chr(160))
  WHEN 6 THEN chr(11) || text || chr(12)
  ELSE text
END"""


ctrl_chars_dir = mutated_corpus(
    "uchr_ctrl_chars_corpus_",
    {
        "documents": f"""
            SELECT doc_id, {_TEXT_CASE} AS text, lang, source,
                   CAST(length({_TEXT_CASE}) AS BIGINT) AS n_chars
            FROM documents
        """,
    },
)


def test_corpus_carries_control_bytes(ctrl_chars_dir):
    con = oracle_connection(ctrl_chars_dir)
    try:
        nul, ls, nbsp = con.sql(
            """
            SELECT count_if(contains(text, chr(0))),
                   count_if(contains(text, chr(8232))),
                   count_if(contains(text, chr(160)))
            FROM documents
            """
        ).fetchone()
        assert nul > 0 and ls > 0 and nbsp > 0
    finally:
        con.close()


@pytest.mark.parametrize("key", GATE_KEYS)
def test_text_key_is_exact_on_control_chars(key, spark, ctrl_chars_dir):
    clear_caches(ctrl_chars_dir)
    assert len(assert_matches_oracle(spark, key, ctrl_chars_dir)) > 0


def test_dot_regex_wraps_line_terminators(spark):
    """Tripwire for the Java-dot class: without (?s), Spark's
    regexp_replace('(.)') skips \\r and \\u2028 where RE2 skips only
    \\n. The BPE wrap must carry DOTALL so every byte of a token
    becomes a symbol on BOTH engines."""
    from pyspark.sql import functions as F

    row = (
        spark.createDataFrame([("a\rb c",)], "w string")
        .select(
            F.regexp_replace("w", r"(?s)(.)", "<$1>").alias("dotall"),
            F.regexp_replace("w", r"(.)", "<$1>").alias("bare"),
        )
        .first()
    )
    assert row.dotall == "<a><\r><b>< ><c>"
    # the bare dot leaves the line terminators unwrapped — the bug shape
    assert row.bare == "<a>\r<b> <c>"
