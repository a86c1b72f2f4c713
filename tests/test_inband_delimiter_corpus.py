"""In-band-delimiter gate (round-11 axis): the BPE merge loop encodes
segmentations as chr(31)-delimited strings, so a document that itself
CONTAINS the C0 separator controls is the classic in-band-delimiter
collision. Two corpora, swept through the FULL registry offline:

- **Separator corpus** — chr(28)/chr(29)/chr(30) planted inside
  tokens, as whole-document separators, at edges, and doubled.
  Full-registry sweep: **303 pass / 0 fail / 3 rows-only** — the
  neighboring separator controls are NOT reserved; they flow through
  every key (including the BPE trio) as ordinary one-char symbols,
  engine-exact.
- **Reserved corpus** — chr(31) planted inside tokens. Full-registry
  sweep: **301 pass / 2 fail / 3 rows-only**, the 2 being exactly the
  two encoded-segmentation BPE keys (text_bpe_merge_rounds,
  text_bpe_apply_merges), which now fail LOUDLY by design: a token
  containing U+001F would wrap to '␟␟␟', read back as empty symbols,
  and silently VANISH from pair counts and token totals ON BOTH
  ENGINES — hash-green but value-wrong, the worst failure class. Both
  the Spark vocab build (F.raise_error) and the oracle CTE (DuckDB
  error()) reject it at admission, the dedup_vec_ids NULL-component
  pattern. The documented remediation: pre-normalize C0 separator
  controls to whitespace (udf_pandas_scalar's normalizer already
  treats \\x1c-\\x1f as whitespace — Python's Unicode \\s model).
  text_bpe_pair_counts does NOT use the encoding (direct char pairs
  via substring) and stays exact on chr(31).
"""

from __future__ import annotations

import duckdb
import pytest

from uchr_scetl_spark import clear_caches

from .oracle import REGISTRY, assert_matches_oracle, mutated_corpus, oracle_connection

# heavy raw-byte text consumers, pinned exact on both corpora
TEXT_KEYS = [
    "udf_pandas_scalar",
    "text_tokenize_stats",
    "text_token_count",
    "text_fingerprint",
    "text_quality_score",
    "text_hashing_features",
    "text_span_dedup",
    "text_bpe_pair_counts",
    "dedup_ngram_jaccard",
]
# the encoded-segmentation keys: exact on chr(28)-(30), LOUD on chr(31)
BPE_ENCODED_KEYS = ["text_bpe_merge_rounds", "text_bpe_apply_merges"]

_SEP_CASE = """
CASE doc_id % 23
  WHEN 0 THEN 'rs' || chr(30) || 'inside ' || text
  WHEN 1 THEN 'gs' || chr(29) || 'inside ' || text
  WHEN 2 THEN 'fs' || chr(28) || 'inside ' || text
  WHEN 3 THEN replace(text, ' ', chr(30))
  WHEN 4 THEN chr(29) || text
  WHEN 5 THEN 'dbl' || chr(30) || chr(30) || 'x ' || text
  WHEN 6 THEN text || chr(28)
  ELSE text
END"""

_US_CASE = """
CASE doc_id % 17
  WHEN 0 THEN 'us' || chr(31) || 'inside ' || text
  WHEN 1 THEN replace(text, 'e', chr(31))
  ELSE text
END"""


def _text_corpus(prefix: str, case_sql: str):
    return mutated_corpus(
        prefix,
        {
            "documents": f"""
                SELECT doc_id, {case_sql} AS text, lang, source,
                       CAST(length({case_sql}) AS BIGINT) AS n_chars
                FROM documents
            """,
        },
    )


sep_dir = _text_corpus("uchr_inband_sep_", _SEP_CASE)
us_dir = _text_corpus("uchr_inband_us_", _US_CASE)


def test_corpora_carry_the_separators(sep_dir, us_dir):
    with oracle_connection(sep_dir) as con:
        fs, gs, rs = con.sql(
            """
            SELECT count_if(contains(text, chr(28))),
                   count_if(contains(text, chr(29))),
                   count_if(contains(text, chr(30)))
            FROM documents
            """
        ).fetchone()
    assert fs > 0 and gs > 0 and rs > 0
    with oracle_connection(us_dir) as con:
        (us,) = con.sql(
            "SELECT count_if(contains(text, chr(31))) FROM documents"
        ).fetchone()
    assert us > 0


@pytest.mark.parametrize("key", TEXT_KEYS + BPE_ENCODED_KEYS)
def test_key_is_exact_on_nonreserved_separators(key, spark, sep_dir):
    """chr(28)-chr(30) inside tokens are ordinary bytes: every text
    consumer — including the encoded-segmentation BPE keys, where they
    become ordinary one-char symbols — must be engine-exact."""

    clear_caches(sep_dir)
    assert len(assert_matches_oracle(spark, key, sep_dir)) > 0


@pytest.mark.parametrize("key", TEXT_KEYS)
def test_nonencoded_key_is_exact_on_reserved_separator(key, spark, us_dir):
    """chr(31) inside tokens is an ordinary byte for every key that
    does NOT ride the chr(31) segmentation encoding — including
    text_bpe_pair_counts (direct substring char pairs) and the
    normalizer (which collapses it to a space on both engines)."""

    clear_caches(us_dir)
    assert len(assert_matches_oracle(spark, key, us_dir)) > 0


@pytest.mark.parametrize("key", BPE_ENCODED_KEYS)
def test_bpe_encoded_keys_fail_loudly_on_inband_chr31(key, spark, us_dir):
    """The value-domain contract, both engines: a token containing the
    reserved U+001F separator must KILL the BPE training job with the
    remediation message — never silently drop the byte from the
    learned merge table."""
    clear_caches(us_dir)
    spec = REGISTRY[key]
    with pytest.raises(Exception, match="text_bpe"):
        spec.fn(spark, us_dir).toPandas()
    clear_caches(us_dir)
    with oracle_connection(us_dir) as con:
        with pytest.raises(duckdb.Error, match="text_bpe"):
            con.sql(spec.oracle).df()


def test_chr31_would_silently_vanish_without_the_guard(spark):
    """Tripwire pinning WHY U+001F is reserved: the per-char wrap of
    'a\\x1fb' reads back as symbols ['a','b'] on BOTH engines — the
    delimiter byte vanishes without any error, which is exactly the
    hash-green-but-value-wrong class the admission guard exists to
    prevent."""
    from pyspark.sql import functions as F

    w = "a\x1fb"
    row = (
        spark.createDataFrame([(w,)], "w string")
        .select(
            F.filter(
                F.split(
                    F.regexp_replace(
                        "w", "(?s)(.)", "\x1f$1\x1f"
                    ),
                    "\x1f",
                ),
                lambda x: x != F.lit(""),
            ).alias("sy")
        )
        .first()
    )
    assert row.sy == ["a", "b"]  # the \x1f symbol is GONE
    con = duckdb.connect()
    try:
        (sy,) = con.sql(
            "SELECT list_filter(string_split("
            "regexp_replace('a' || chr(31) || 'b', '(?s)(.)',"
            " chr(31) || '\\1' || chr(31), 'g'), chr(31)),"
            " x -> x <> '')"
        ).fetchone()
    finally:
        con.close()
    assert sy == ["a", "b"]
