"""Unicode special-casing gate (round-11 axis, self-initiated): the
case-mapping follow-up to the round-9 unicode-fold gate, now planted
in DOCUMENT TEXT (the fold gate plants in customer.c_mktsegment, so
text-family case users were never exercised). The corpus plants the
canonical special-casing shapes inside documents.text: German ß words
(straße/größe/weiß), the ﬁ/ﬀ ligatures, Turkish dotted İ words, and
titlecase digraphs (ǅ/ǈ).

Full-registry sweep findings (three engines in play — JVM
String.toLowerCase/UpperCase, Python str.lower, DuckDB's simple
1:1 mapping):

- **dedup_exact / dedup_exact_keep_best (FIXED)**: the content hash
  was ``lower(trim(text))``, so the exact-dedup SURVIVOR SET was
  engine-dependent on special-casing text (JVM lower('İ') = i +
  combining dot; DuckDB = plain i — different sha, and a latent
  different grouping for case-variant pairs). Canonicalization is now
  trim + ASCII-ONLY fold (``translate``, CANON_SQL) — deterministic
  on every engine and every corpus; locale-sensitive folding is
  deliberately NOT part of a cross-engine content hash.
- **fn_array_lambda.long_upper (DECLARED SCOPE)**: Java upper applies
  Unicode FULL mappings (straße → STRASSE, ﬁ → FI), DuckDB SIMPLE
  (→ STRAẞE, ﬁ unchanged). The full mapping is the product semantics;
  checked equality holds on simple-case text (every driver corpus) —
  the agg_fold_ci_groups contract, pinned by tripwire below.
- **udf_pandas_scalar (DECLARED SCOPE)**: Python str.lower is also a
  FULL mapping (İ → i + combining dot) vs DuckDB's simple İ → i;
  same contract, pinned below.

Everything else — 304 of 309 keys including the BPE family, shingles,
fingerprints, langid — is hash-exact on this corpus (special-casing
bytes flow untouched through split/hash/count paths); the two
declared-scope keys and the three rows-only ANN keys are the only
exceptions.
"""

from __future__ import annotations

import pytest

from uchr_scetl_spark import clear_caches

from .oracle import assert_matches_oracle, mutated_corpus, oracle_connection

# heavy text keys pinned EXACT on special-casing text (plus the fixed
# dedup pair); the two declared-scope keys are asserted separately
EXACT_KEYS = [
    "dedup_exact",
    "dedup_exact_keep_best",
    "text_tokenize_stats",
    "text_fingerprint",
    "text_langid",
    "text_bpe_pair_counts",
    "text_bpe_apply_merges",
    "dedup_ngram_jaccard",
    "text_hashing_features",
    "sink_csv_roundtrip_text",
]

_TEXT_CASE = """
CASE doc_id % 13
  WHEN 0 THEN 'straße größe weiß ' || text
  WHEN 1 THEN 'ﬁnancial ofﬁce ' || text
  WHEN 2 THEN 'İstanbul DİYARBAKIR ' || text
  WHEN 3 THEN 'ǅungla ǈubljana ' || text
  ELSE text
END"""


special_casing_dir = mutated_corpus(
    "uchr_special_casing_corpus_",
    {
        "documents": f"""
            SELECT doc_id, {_TEXT_CASE} AS text, lang, source,
                   CAST(length({_TEXT_CASE}) AS BIGINT) AS n_chars
            FROM documents
        """,
    },
)


def test_corpus_carries_special_casing(special_casing_dir):
    with oracle_connection(special_casing_dir) as con:
        sz, lig, dotted = con.sql(
            """
            SELECT count_if(contains(text, 'ß')),
                   count_if(contains(text, 'ﬁ')),
                   count_if(contains(text, 'İ'))
            FROM documents
            """
        ).fetchone()
    assert sz > 0 and lig > 0 and dotted > 0


@pytest.mark.parametrize("key", EXACT_KEYS)
def test_key_is_exact_on_special_casing_text(key, spark, special_casing_dir):
    """Case-mapping-free paths (split/hash/count) and the ASCII-fold
    dedup canonicalization must be engine-exact on ß/ﬁ/İ text."""

    clear_caches(special_casing_dir)
    assert len(assert_matches_oracle(spark, key, special_casing_dir)) > 0


def test_ascii_fold_canonicalization_ignores_special_casing(spark):
    """The dedup fix pinned from both sides: CANON_SQL / canon_text
    fold ONLY A-Z, leaving ß/İ/ﬁ untouched — so the content hash is
    identical no matter which engine's case tables exist."""
    import duckdb

    from uchr_scetl_spark.llm.dedup import CANON_SQL, canon_text

    s = "  StraßE İX ﬁN  "
    got = (
        spark.createDataFrame([(s,)], "text string")
        .select(canon_text().alias("c"))
        .first()
        .c
    )
    con = duckdb.connect()
    try:
        (duck,) = con.sql(
            f"SELECT {CANON_SQL} FROM (SELECT ? AS text)", params=[s]
        ).fetchone()
    finally:
        con.close()
    assert got == duck == "straße İx ﬁn"


def test_full_vs_simple_case_mapping_tripwire(spark):
    """The declared-scope divergence, pinned from all three engines:
    JVM and Python apply Unicode FULL case mappings, DuckDB SIMPLE
    1:1 mappings. If any engine moves, the declared scope of
    fn_array_lambda / udf_pandas_scalar must be revisited."""
    import duckdb

    from pyspark.sql import functions as F

    row = (
        spark.createDataFrame([("straße", "ﬁn", "İ")], "a string, b string, c string")
        .select(
            F.upper("a").alias("ua"),
            F.upper("b").alias("ub"),
            F.lower("c").alias("lc"),
        )
        .first()
    )
    assert row.ua == "STRASSE"  # full: ß → SS
    assert row.ub == "FIN"  # full: ﬁ → FI
    assert row.lc == "i̇"  # full: İ → i + combining dot

    assert "straße".upper() == "STRASSE"  # Python agrees with JVM
    assert "İ".lower() == "i̇"

    con = duckdb.connect()
    try:
        ua, ub, lc = con.sql(
            "SELECT upper('straße'), upper('ﬁn'), lower('İ')"
        ).fetchone()
    finally:
        con.close()
    assert ua == "STRAẞE"  # simple: ß → ẞ
    assert ub == "ﬁN"  # simple: ligature unchanged
    assert lc == "i"  # simple: İ → i
