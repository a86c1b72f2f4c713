"""Unicode case-folding / normalization gate: what happens when the
SAME visible text arrives in different byte encodings (NFC vs NFD) or
when case-insensitive grouping meets full-Unicode case mapping.

Round-9 findings, pinned. The hostile corpus plants
- fold-hazard segments in customer.c_mktsegment: straße/STRASSE
  (German sharp s: equal under full case FOLDING, unequal under
  lowercasing), İstanbul/istanbul (Turkish dotted capital I — THE
  cross-engine lower() divergence), ΣΙΣΥΦΟΣ/σίσυφος (Greek final
  sigma: Spark's lower() applies the contextual final-ς mapping,
  DuckDB's does not);
- NFC and NFD spellings of the same visible word appended to
  document texts (café: U+00E9 vs e+U+0301).

Full-registry sweep results (the committed contract):

1. NFC vs NFD: CLEAN — 293/294 SQL-checked keys value-match. Both
   engines compare BYTES; the two spellings are distinct rows, tokens
   and hash keys everywhere, consistently. The engine does NOT
   normalize: a corpus mixing NFC/NFD spellings of the same word must
   be normalized upstream (normalize-first contract) or exact-dedup /
   grouping will treat the spellings as different documents — on both
   engines, identically. Pinned below on dedup_exact.

2. Case-insensitive grouping: fn_collation is the ONE divergence.
   Spark's UTF8_LCASE lowercases with the Java/ICU mapping
   (İ → i + combining dot, so İstanbul ≠ istanbul), while DuckDB's
   lower() maps İ → plain i (so they MERGE: 10 oracle groups vs 11
   Spark groups); Spark's lower() also applies the contextual
   final-sigma rule DuckDB lacks. No DuckDB built-in reproduces
   either mapping, so the key's oracle equality is scoped to
   SIMPLE-FOLD text (ASCII and accented Latin where both engines'
   lower() agree — every corpus the driver runs) and the hazard
   classes are pinned HERE as Spark-side semantic assertions plus an
   explicit divergence expectation, so an engine upgrade that moves
   either side trips this gate loudly.
"""

from __future__ import annotations

import pytest

from .oracle import REGISTRY, assert_matches_oracle, mutated_corpus, oracle_connection

NFC_CAFE = "café"          # é precomposed
NFD_CAFE = "café"         # e + combining acute

# lower-stable cross-section: keys that group/join/hash through the
# mutated columns and must stay oracle-exact on the hazard corpus
KEYS = [
    "dedup_exact",
    "text_tokenize_stats",
    "text_vocab_topk",
    "fn_string",
    "agg_having",
    "sort_multi",
    "stream_enrich_static",
    "sql_cte_pipeline",
    "tpch_q3",
    "etl_publish_checksums",
]

unicode_fold_dir = mutated_corpus(
    "uchr_unicode_fold_corpus_",
    {
        "customer": """
            SELECT * REPLACE (
              CASE WHEN c_custkey % 23 = 1 THEN 'straße'
                   WHEN c_custkey % 23 = 2 THEN 'STRASSE'
                   WHEN c_custkey % 23 = 3 THEN 'İstanbul'
                   WHEN c_custkey % 23 = 4 THEN 'istanbul'
                   WHEN c_custkey % 23 = 5 THEN 'ΣΙΣΥΦΟΣ'
                   WHEN c_custkey % 23 = 6 THEN 'σίσυφος'
                   ELSE c_mktsegment END AS c_mktsegment)
            FROM customer
        """,
        "documents": f"""
            SELECT * REPLACE (
              CASE WHEN doc_id % 13 = 1 THEN text || ' {NFC_CAFE}'
                   WHEN doc_id % 13 = 2 THEN text || ' {NFD_CAFE}'
                   ELSE text END AS text)
            FROM documents
        """,
    },
)


@pytest.mark.parametrize("key", KEYS)
def test_key_matches_oracle_with_fold_hazards(key, spark, unicode_fold_dir):
    assert_matches_oracle(spark, key, unicode_fold_dir)


def test_nfc_nfd_are_distinct_bytes_on_both_engines(spark, unicode_fold_dir):
    """The normalize-first contract: NFC and NFD spellings of the same
    visible word are DIFFERENT tokens to the engine (and to the
    oracle) — dedup/grouping never silently merges them, and never
    merges them on one engine only."""
    from pyspark.sql import functions as F

    d = spark.read.parquet(f"{unicode_fold_dir}/documents.parquet")
    n_spark = (
        d.select(F.explode(F.split("text", " ")).alias("tok"))
        .where(F.col("tok").isin(NFC_CAFE, NFD_CAFE))
        .select("tok")
        .distinct()
        .count()
    )
    with oracle_connection(unicode_fold_dir) as con:
        n_oracle = con.sql(
            f"""
            SELECT COUNT(DISTINCT tok) FROM (
              SELECT unnest(string_split(text, ' ')) AS tok FROM documents
            ) WHERE tok IN ('{NFC_CAFE}', '{NFD_CAFE}')
            """
        ).fetchone()[0]
    assert n_spark == 2, n_spark
    assert n_oracle == 2, n_oracle


def test_collation_semantics_pinned_spark_side(spark, unicode_fold_dir):
    """UTF8_LCASE semantics asserted directly (the oracle cannot spell
    them): ASCII case folds (the five TPC-H segments survive), but ß
    stays apart from SS (lowercase, not full fold), İstanbul stays
    apart from istanbul (Java lower maps İ → i̇, not i), and the two
    sigma spellings stay apart — 11 groups on this corpus."""
    out = REGISTRY["fn_collation"].fn(spark, unicode_fold_dir).toPandas()
    segs = set(out["seg_ci"])
    assert len(out) == 11, sorted(segs)
    assert {"straße", "strasse"} <= segs
    assert {"istanbul", "i̇stanbul"} <= segs


def test_collation_oracle_divergence_is_the_dotted_i_class(spark, unicode_fold_dir):
    """The documented cross-engine scope: DuckDB's lower() merges the
    İ pair (10 groups) where UTF8_LCASE keeps 11. This assertion is
    the tripwire — if either engine's case mapping changes, or if a
    later fix makes the key fold-stable, this expectation must be
    revisited rather than silently drifting."""
    spec = REGISTRY["fn_collation"]
    n_spark = len(spec.fn(spark, unicode_fold_dir).toPandas())
    with oracle_connection(unicode_fold_dir) as con:
        n_oracle = len(con.sql(spec.oracle).df())
    assert n_spark == 11, n_spark
    assert n_oracle == 10, n_oracle
