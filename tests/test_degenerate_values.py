"""Degenerate-value gate: EMPTY (non-NULL) embedding arrays, NULL
document sources, NULL langs, and EMPTY-STRING texts, value-matched
against the oracle.

Round-8 findings, pinned: each shape is one failed upstream step away
on real data (an encoder that emits [] on failure instead of NULL; a
crawler that loses the source header or lang tag; a scraper that
yields ''), and three of the four found live divergences when first
exercised —

- empty arrays: Spark's posexplode emits nothing for [] while the
  oracle's generate_series cross join emitted 64 NULL components, so
  sim_label_centroids' COUNT and embeddings_label_separation's
  dim==0 count trick both diverged (and embeddings_gram_matrix
  CRASHED on the ragged numpy batch) until the zero-length filter was
  mirrored on both engines;
- NULL sources: Spark's concat NULL-propagates while DuckDB's concat
  SKIPS null arguments, so sample_weighted's md5 draw silently dropped
  every NULL-source doc on the Spark side only, until the draw hash
  coalesced the source on both sides;
- empty texts (full-registry sweep): DuckDB's array_to_string([]) is
  NULL where Spark's array_join([]) is '' (fn_array_lambda), and
  Spark's binaryFile source silently SKIPS zero-byte files
  (scan_binary_files) — both contracts now explicit on both sides;
- NULL langs: full-registry sweep came back clean (292 pass); the
  lang-keyed cross-section is pinned here to keep it that way (as did
  unicode-source and whitespace-only-text sweeps — absorbed by the
  existing fixes, not separately pinned);
- extreme event values (negative ×1000 / positive ×100000): the sweep
  found win_drawdown's ppm product crossing 2^63 — widened to
  DECIMAL(38,0)/HUGEINT; the scaled-integer window family is pinned;
- extreme timestamps (−80 y / +150 y): the sweep found Spark's
  floor(µs/1e6) and DuckDB's truncating // splitting by ±1 s on
  NEGATIVE epochs (and one OHLC bucket by a whole hour) — all epoch
  floor-divisions now share exprs.sql_floor_div, exact integer FLOOR
  semantics on both engines; the epoch-arithmetic family is pinned;
- NaN/Inf values: OUT of the value-domain contract, and the sweep
  confirmed every affected key fails LOUDLY on both engines (19 keys
  raise, zero silent hash mismatches) — the loud-failure property is
  pinned below; negative user_ids swept clean (292 pass).

Round-9 finding, pinned below:

- NEGATIVE KEYS (odd o_orderkey/l_orderkey negated consistently
  across the FK, odd event_ids negated): the sweep found ONE
  divergence in 294 checked keys — scan_text_lines' unsigned \\d+
  regex rejected "-123|..." lines and ANSI cast('') then THREW (a
  Spark-only loud failure; the oracle answered) — fixed sign-aware
  with NULL-quarantine for malformed lines, and the parity-split
  keys the round-9 ADVICE flagged (`% 2 == 1` silently dropping
  remainder −1 rows) ride the same cross-section. The round-9
  duplicate-event / unicode-fold / giant-document / duplicate-id
  axes have their own gate files (test_duplicate_event_corpus,
  test_unicode_fold_corpus, test_giant_document_corpus,
  test_duplicate_docid_corpus, test_duplicate_vecid_corpus).
- EXTREME EMBEDDING MAGNITUDES (×10⁷ — a broken encoder): the sweep
  found the ONE hole in the loud-failure property — numpy's int64
  matmul in embeddings_gram_matrix WRAPPED SILENTLY (negative gram
  cells, Spark side only) while ANSI Spark / DuckDB HUGEINT raised
  everywhere else; the mapInPandas batch now enforces its domain
  bound itself and all four micro-quantized embedding keys RAISE —
  pinned below.
- CONSTANT EVENT VALUES (zero variance: MAD = 0, σ = 0, all-tied
  medians and ranks): full-registry sweep came back CLEAN (296
  pass) — both engines resolve every degenerate denominator and tie
  identically; recorded here, not separately pinned.

Beyond-the-gate clean sweeps (run at round close, not separately
pinned — all 292/292): 100%-one-user events (every window key on one
giant stream), 100%-one-source documents (every per-source group is
THE group — the source-cap and mix-plan degenerate to a single
capped/planned group), and ALL-IDENTICAL-TEXT documents (every doc
pair is an exact near-dup: the LSH banding, connected components,
containment/contrastive df caps, and the poisoned-negative exclusion
all hold oracle-exact at the degenerate extreme).

Round-10 clean sweeps (297/297 each): FK ORPHANS (every 53rd order
and 59th customer deleted — partial-ingest referential breakage;
inner/semi/anti joins drop orphans and outer joins NULL-extend them
identically on both engines, and no key assumes parent existence),
DUPLICATED LINEITEM PRIMARY KEYS (every 61st (l_orderkey,
l_linenumber) re-emitted with changed quantity/price — the
redelivered-shard shape on the FACT table; lineitems are facts, not
keys, so duplicates flow through sums/joins/windows identically —
unlike the doc_id/vec_id/event_id KEY columns, which have their own
gates and remediation keys), DUPLICATED ORDERS PRIMARY KEYS
(every 67th o_orderkey re-emitted with changed price/status — the
PARENT-key violation; 301/301 because every orders consumer either
aggregates over rows, joins one-to-many symmetrically, or picks
survivors deterministically — etl_upsert_snapshot/etl_scd2's change
detection is content-keyed, not arrival-keyed), and STUCK CLOCK
(every event at the SAME timestamp — a frozen ingest clock; 302/302
because the round-9 tiebreak discipline made every window order
total through its payload columns, so lag/lead/running frames,
sessionization (all gaps zero → one session per user), OHLC buckets
and watermark logic all survive with ts carrying zero information).

The corpora are deterministic key-based rewrites of the smoke tables
(the null/skew/corruption gate pattern).
"""

from __future__ import annotations

import pytest

from uchr_scetl_spark import clear_caches

from .conftest import SF_SMOKE
from .oracle import REGISTRY, assert_matches_oracle, mutated_corpus, oracle_connection

EMPTY_EMB_KEYS = [
    "sim_label_centroids",
    "embeddings_label_separation",
    "embeddings_dimension_stats",
    "embeddings_gram_matrix",
    "embeddings_random_projection",
]

NULL_SOURCE_KEYS = [
    "sample_weighted",
    "sample_mix_plan",
    "sample_source_cap",
    "sample_temperature",
    "sample_group_kfold",
    "sample_reservoir_hash",
    "sample_stratified",
    "dedup_exact",
]


empty_emb_dir = mutated_corpus(
    "uchr_empty_emb_corpus_",
    {
        "embeddings": """
            SELECT * REPLACE (
              CASE WHEN vec_id % 11 = 0 THEN [] ELSE embedding END
                AS embedding)
            FROM embeddings
        """,
    },
)


null_source_dir = mutated_corpus(
    "uchr_null_source_corpus_",
    {
        "documents": """
            SELECT * REPLACE (
              CASE WHEN doc_id % 13 = 0 THEN NULL ELSE source END
                AS source)
            FROM documents
        """,
    },
)


@pytest.mark.parametrize("key", EMPTY_EMB_KEYS)
def test_key_matches_oracle_with_empty_embeddings(key, spark, empty_emb_dir):
    assert_matches_oracle(spark, key, empty_emb_dir)


@pytest.mark.parametrize("key", NULL_SOURCE_KEYS)
def test_key_matches_oracle_with_null_sources(key, spark, null_source_dir):
    assert_matches_oracle(spark, key, null_source_dir)


def test_empty_embeddings_actually_present(spark, empty_emb_dir):
    """Anti-vacuity: the corpus really contains empty (non-NULL)
    arrays, and they are excluded from the label stats."""
    import pyspark.sql.functions as F

    from uchr_scetl_spark.io import load

    e = load(spark, empty_emb_dir, "embeddings")
    n_empty = e.where(
        F.col("embedding").isNotNull() & (F.size("embedding") == 0)
    ).count()
    assert n_empty > 0
    out = REGISTRY["embeddings_label_separation"].fn(spark, empty_emb_dir)
    total_counted = (
        out.select("label_a", "n_a").distinct().groupBy().sum("n_a")
    )
    assert total_counted.collect()[0][0] < e.count()


NULL_LANG_KEYS = [
    # lang is a banding / stratification / grouping key throughout —
    # a NULL lang must form its own group identically on both engines
    "sample_stratified",
    "sample_source_cap",
    "dedup_ngram_jaccard",
    "dedup_exact_keep_best",
    "text_langid_confusion",
    "agg_collect_sorted",
]

EMPTY_TEXT_KEYS = [
    # the two divergences the empty-text sweep found, plus the
    # shingle/token cross-section ('' splits to [''] — zero shingles,
    # one empty token — and both engines must agree on every
    # downstream arm)
    "fn_array_lambda",
    "scan_binary_files",
    "text_tokenize_stats",
    "text_quality_score",
    "dedup_exact",
    "dedup_near",
    "text_span_dedup",
    "sample_contrastive_negatives",
    "text_bpe_pair_counts",
]


null_lang_dir = mutated_corpus(
    "uchr_null_lang_corpus_",
    {
        "documents": """
            SELECT * REPLACE (
              CASE WHEN doc_id % 7 = 0 THEN NULL ELSE lang END AS lang)
            FROM documents
        """,
    },
)


empty_text_dir = mutated_corpus(
    "uchr_empty_text_corpus_",
    {
        "documents": """
            SELECT * REPLACE (
              CASE WHEN doc_id % 9 = 0 THEN '' ELSE text END AS text)
            FROM documents
        """,
    },
)


@pytest.mark.parametrize("key", NULL_LANG_KEYS)
def test_key_matches_oracle_with_null_lang(key, spark, null_lang_dir):
    assert_matches_oracle(spark, key, null_lang_dir)


@pytest.mark.parametrize("key", EMPTY_TEXT_KEYS)
def test_key_matches_oracle_with_empty_text(key, spark, empty_text_dir):
    assert_matches_oracle(spark, key, empty_text_dir)


EXTREME_VALUE_KEYS = [
    # micro-quantized integer-algebra keys under negative and 5-orders
    # -larger event values: the full-registry sweep at these
    # magnitudes found win_drawdown's ppm product crossing 2^63
    # (ANSI Spark threw where the widened form answers) — this
    # cross-section keeps the whole scaled-integer family honest
    "win_drawdown",
    "events_cusum_alarm",
    "win_rolling_ols_slope",
    "events_anomaly_zscore",
    "events_anomaly_mad",
    "win_ewma",
    "events_time_weighted_avg",
    "agg_skew_salted",
    "events_ohlc_resample",
]


extreme_value_dir = mutated_corpus(
    "uchr_extreme_value_corpus_",
    {
        "events": """
            SELECT * REPLACE (
              CASE WHEN event_id % 17 = 0 THEN -value * 1000
                   WHEN event_id % 19 = 0 THEN value * 100000
                   ELSE value END AS value)
            FROM events
        """,
    },
)


@pytest.mark.parametrize("key", EXTREME_VALUE_KEYS)
def test_key_matches_oracle_with_extreme_values(key, spark, extreme_value_dir):
    assert_matches_oracle(spark, key, extreme_value_dir)


HOSTILE_NAME_KEYS = [
    # c_name carrying '|', backslashes, and the literal backslash-N
    # token — the exact shapes the publish-checksum canonicalization
    # escapes; plus downstream keys that group/join/sort through the
    # hostile strings
    "etl_publish_checksums",
    "join_inner_equi",
    "agg_having",
    "sort_multi",
    "fn_string",
]


hostile_name_dir = mutated_corpus(
    "uchr_hostile_name_corpus_",
    {
        "customer": """
            SELECT * REPLACE (
              CASE WHEN c_custkey % 11 = 0
                   THEN c_name || '|' || chr(92) || 'N'
                   WHEN c_custkey % 13 = 0
                   THEN chr(92) || c_name || '|x'
                   ELSE c_name END AS c_name)
            FROM customer
        """,
    },
)


@pytest.mark.parametrize("key", HOSTILE_NAME_KEYS)
def test_key_matches_oracle_with_hostile_names(key, spark, hostile_name_dir):
    assert_matches_oracle(spark, key, hostile_name_dir)


def test_checksum_differs_from_clean_corpus(spark, hostile_name_dir):
    """The customer checksum must actually CHANGE when names mutate —
    a checksum that still matches the clean corpus' value would mean
    the hostile characters escaped the canonicalization entirely."""
    clean = {
        r.table_name: r.checksum
        for r in REGISTRY["etl_publish_checksums"].fn(spark, SF_SMOKE).collect()
    }
    hostile = {
        r.table_name: r.checksum
        for r in REGISTRY["etl_publish_checksums"]
        .fn(spark, hostile_name_dir)
        .collect()
    }
    assert hostile["customer"] != clean["customer"]
    assert hostile["orders"] == clean["orders"]  # untouched tables stable
    assert hostile["lineitem"] == clean["lineitem"]


EXTREME_TS_KEYS = [
    # epoch-arithmetic keys under pre-1970 and year-2170 timestamps:
    # the sweep found Spark's floor(us/1e6) and DuckDB's truncating //
    # splitting by one second (and one OHLC bucket by a whole hour) on
    # NEGATIVE epochs — all three now share exprs.sql_floor_div
    "events_time_weighted_avg",
    "events_ohlc_resample",
    "events_bot_burst_audit",
    "events_sessionize",
    "win_time_range",
    "stream_tumbling_counts",
    "events_peak_concurrency",
]


extreme_ts_dir = mutated_corpus(
    "uchr_extreme_ts_corpus_",
    {
        "events": """
            SELECT * REPLACE (
              CASE WHEN event_id % 11 = 0 THEN ts - INTERVAL 80 YEAR
                   WHEN event_id % 13 = 0 THEN ts + INTERVAL 150 YEAR
                   ELSE ts END AS ts)
            FROM events
        """,
    },
)


@pytest.mark.parametrize("key", EXTREME_TS_KEYS)
def test_key_matches_oracle_with_extreme_timestamps(key, spark, extreme_ts_dir):
    assert_matches_oracle(spark, key, extreme_ts_dir)


nan_value_dir = mutated_corpus(
    "uchr_nan_value_corpus_",
    {
        "events": """
            SELECT * REPLACE (
              CASE WHEN event_id % 31 = 0 THEN CAST('nan' AS DOUBLE)
                   WHEN event_id % 37 = 0 THEN CAST('inf' AS DOUBLE)
                   ELSE value END AS value)
            FROM events
        """,
    },
)


@pytest.mark.parametrize(
    "key", ["events_cusum_alarm", "win_ewma", "events_ohlc_resample"]
)
def test_nonfinite_values_fail_loudly_not_silently(key, spark, nan_value_dir):
    """NaN/Inf event values are OUT OF the value-domain contract — and
    the full-registry sweep confirmed the failure mode is the right
    one: every affected key RAISES (Spark's ANSI cast/multiply on the
    quantized NaN, DuckDB's equivalent on the oracle side) instead of
    emitting plausible wrong numbers. This test pins the loud-failure
    property for the scaled-integer family: if a future change makes a
    NaN flow through floor(x*1e6) into a silent result, this fails.
    A production pipeline screens non-finite payloads at ingest (the
    DQ-gate layer); the engine's guarantee is no silent corruption."""
    with pytest.raises(Exception):
        REGISTRY[key].fn(spark, nan_value_dir).toPandas()


NEGATIVE_KEY_KEYS = [
    # round-9 negative-key sweep (odd o_orderkey/l_orderkey negated
    # consistently across the FK, odd event_ids negated): the sweep
    # found scan_text_lines' unsigned \d+ regex rejecting "-123|..."
    # lines with ANSI cast('') then THROWING — pinned here with the
    # parity-split keys the round-9 ADVICE flagged (remainder -1 vs 1)
    # and a join/window/agg cross-section over the negated keys
    "scan_text_lines",
    "etl_schema_evolution_audit",
    "stream_exactly_once_sink",
    "tpch_q3",
    "join_inner_equi",
    "agg_groupby",
    "win_lag_lead",
    "events_sessionize",
    "etl_upsert_snapshot",
]


negative_key_dir = mutated_corpus(
    "uchr_negative_key_corpus_",
    {
        "orders": """
            SELECT * REPLACE (
              CASE WHEN o_orderkey % 2 = 1 THEN -o_orderkey
                   ELSE o_orderkey END AS o_orderkey)
            FROM orders
        """,
        "lineitem": """
            SELECT * REPLACE (
              CASE WHEN l_orderkey % 2 = 1 THEN -l_orderkey
                   ELSE l_orderkey END AS l_orderkey)
            FROM lineitem
        """,
        "events": """
            SELECT * REPLACE (
              CASE WHEN event_id % 2 = 1 THEN -event_id
                   ELSE event_id END AS event_id)
            FROM events
        """,
    },
)


@pytest.mark.parametrize("key", NEGATIVE_KEY_KEYS)
def test_key_matches_oracle_with_negative_keys(key, spark, negative_key_dir):
    assert_matches_oracle(spark, key, negative_key_dir)


extreme_emb_value_dir = mutated_corpus(
    "uchr_extreme_emb_value_corpus_",
    {
        "embeddings": """
            SELECT * REPLACE (
              CASE WHEN vec_id % 13 = 0
                   THEN list_transform(embedding,
                          x -> CAST(x * 10000000.0 AS FLOAT))
                   ELSE embedding END AS embedding)
            FROM embeddings
        """,
    },
)


@pytest.mark.parametrize(
    "key",
    [
        "embeddings_gram_matrix",
        "embeddings_pq_assign",
        "sim_kmeans_assign",
        "sim_topk_pq",
    ],
)
def test_extreme_embedding_magnitudes_fail_loudly(
    key, spark, extreme_emb_value_dir
):
    """Extreme embedding magnitudes (×10⁷ — a broken encoder) are OUT
    of the value-domain contract, and the round-9 sweep found the one
    place the loud-failure property did NOT hold: numpy's int64 matmul
    in embeddings_gram_matrix WRAPPED SILENTLY (negative gram cells on
    the Spark side only) while ANSI Spark and DuckDB HUGEINT raised
    everywhere else. The mapInPandas batch now enforces the domain
    bound itself, so all four micro-quantized embedding keys RAISE —
    zero silent corruptions, matching the NaN/Inf contract."""

    clear_caches(extreme_emb_value_dir)
    with pytest.raises(Exception):
        REGISTRY[key].fn(spark, extreme_emb_value_dir).toPandas()


null_element_emb_dir = mutated_corpus(
    "uchr_null_elem_emb_corpus_",
    {
        "embeddings": """
            SELECT * REPLACE (
              CASE WHEN vec_id % 37 = 0
                   THEN list_append(embedding[:len(embedding)-1],
                                    CAST(NULL AS FLOAT))
                   ELSE embedding END AS embedding)
            FROM embeddings
        """,
    },
)


def test_null_embedding_components_fail_loudly_in_vec_dedup(
    spark, null_element_emb_dir
):
    """NULL components INSIDE an embedding (a partially-failed encoder
    write) are OUT of the value-domain contract for dedup_vec_ids:
    Spark orders NULL array elements SMALLEST in the struct-MIN
    survivor pick while DuckDB's nested comparison orders them
    LARGEST (round-10 ADVICE), so the two engines would silently pick
    DIFFERENT survivors. Both sides therefore guard before the pick
    and RAISE — the NaN/Inf loud-failure contract, not a silent
    divergence."""
    with pytest.raises(Exception, match="NULL embedding component"):
        REGISTRY["dedup_vec_ids"].fn(spark, null_element_emb_dir).toPandas()
    with oracle_connection(null_element_emb_dir) as con:
        with pytest.raises(Exception, match="NULL embedding component"):
            con.sql(REGISTRY["dedup_vec_ids"].oracle).df()


def test_malformed_price_tokens_quarantine_not_throw(spark):
    """Round-10 ADVICE: the old price group -?[0-9.]+ matched
    non-numeric tokens like '.' and '1.2.3', so the ANSI double cast
    THREW mid-scan instead of NULL-quarantining the line — defeating
    the parser's documented contract. The tightened -?\\d+(\\.\\d+)?
    pattern makes every malformed numeric fail the WHOLE regex, so
    all four groups come back '' -> NULL (the quarantine row), while
    well-formed signed/decimal lines still parse."""
    from uchr_scetl_spark.operators.scans import parse_order_lines

    lines = spark.createDataFrame(
        [
            ("1|2|F|123.45",),   # well-formed
            ("-3|-4|O|-99",),    # signed ids + signed integer price
            ("5|6|F|.",),        # bare dot — old pattern matched this
            ("7|8|F|1.2.3",),    # double dot — old pattern matched
            ("9|10|F|",),        # empty price
            ("garbage",),        # unstructured line
        ],
        "value string",
    )
    rows = {
        r.o_orderkey: r
        for r in parse_order_lines(lines).collect()
    }
    assert rows[1].o_totalprice == 123.45
    assert rows[-3].o_totalprice == -99.0 and rows[-3].o_custkey == -4
    # every malformed line is one all-NULL quarantine row, no throw
    assert None in rows
    null_rows = [r for r in parse_order_lines(lines).collect()
                 if r.o_orderkey is None]
    assert len(null_rows) == 4
    assert all(
        r.o_custkey is None
        and r.o_orderstatus is None
        and r.o_totalprice is None
        for r in null_rows
    )


def test_nanos_to_micros_truncates_toward_zero_on_both_engines(spark):
    """Tripwire for the ns→µs layer of the epoch-arithmetic family
    (round-11 probe): io.load's ``ts DIV 1000`` truncates toward ZERO,
    and DuckDB's TIMESTAMP_NS→TIMESTAMP parquet read does the SAME
    (-1500 ns → -1 µs, -999 ns → 0 — floor would give -2/-1), so
    negative-epoch timestamps with sub-microsecond residue agree
    bit-exactly with no floor-div shim. If either engine switches to
    floor semantics this pins the divergence before a corpus does."""
    import tempfile

    import duckdb
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pyspark.sql import functions as F

    out = tempfile.mkdtemp(prefix="uchr_ns_trunc_")
    vals = np.array([-1500, -999, -1, 0, 999, 1500], dtype="int64")
    t = pa.table(
        {
            "event_id": pa.array(range(len(vals)), type=pa.int64()),
            "ts": pa.array(vals).cast(pa.timestamp("ns")),
        }
    )
    pq.write_table(t, f"{out}/events.parquet")

    df = (
        spark.read.parquet(f"{out}/events.parquet")
        .withColumn(
            "ts2",
            F.expr("CAST(timestamp_micros(ts DIV 1000) AS TIMESTAMP_NTZ)"),
        )
        .orderBy("event_id")
    )
    spark_us = [r.ts2 for r in df.collect()]
    con = duckdb.connect()
    try:
        duck_us = [
            r[0]
            for r in con.sql(
                f"SELECT CAST(ts AS TIMESTAMP) "
                f"FROM read_parquet('{out}/events.parquet') "
                f"ORDER BY event_id"
            ).fetchall()
        ]
    finally:
        con.close()
    assert spark_us == duck_us
    # the truncation-toward-zero signature: -999 ns lands ON epoch
    assert spark_us[1].microsecond == 0 and spark_us[1].second == 0
    # and -1500 ns is -1 us, not floor's -2
    assert spark_us[0].microsecond == 999999
