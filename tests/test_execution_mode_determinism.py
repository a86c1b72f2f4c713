"""Execution-mode invariance gate (round 12, self-initiated — the
third member of the hostile-EXECUTION family after forced-spill and
AQE-toggle).

Three more runtime levers change HOW results are computed without
changing WHAT they should be, and all three vary freely on a real
cluster — so results must be bit-identical across them:

- **Arrow batch size** (``spark.sql.execution.arrow.maxRecordsPerBatch
  = 7``): every pandas UDF / mapInPandas / applyInPandas stage sees
  tiny ragged batches instead of one comfortable batch per partition.
  Any Python stage whose math leaks batch boundaries — a partial
  computed per batch and combined non-associatively, state carried
  across ``yield``s, a numpy reduction whose dtype depends on batch
  length — diverges here. (The engine's partial-Gram and PQ stages
  are exactly the shapes this lever stresses.)
- **Scan split size** (``spark.sql.files.maxPartitionBytes=64KB`` +
  ``openCostInBytes=0``): every parquet/text/binary file splits into
  many scan partitions, so per-file code observes fragments. Parsers
  that assume file == partition, or per-partition logic that counts
  on seeing whole files (the binary-file and text-line sources),
  diverge here.
- **Interpreted expression path** (``spark.sql.codegen.wholeStage=
  false`` + ``spark.sql.codegen.factoryMode=NO_CODEGEN``): every
  expression evaluates through the interpreted projections instead
  of janino-compiled classes. Codegen/interpreted divergences are a
  recurring upstream bug class (overflow checks, null handling in
  complex types); the engine's contract is that its results never
  depend on which path ran.
- **Row-based parquet reader** (``spark.sql.parquet.
  enableVectorizedReader=false``): the row-at-a-time
  ParquetRecordReader instead of columnar batches — the fallback
  Spark silently takes for schemas the vectorized reader can't
  handle, so the two read paths must surface identical data
  (timestamps, decimals and nested types each have their own
  conversion code per path).

All three are runtime SQL confs (the test_determinism.py in-process
pattern). Cross-sections are curated per lever: the Arrow lever runs
every Python-execution key, the split lever every source/scan-shaped
key, the codegen lever an expression-heavy spread across families.
Registry-wide sweeps of all three modes (out-of-band, sf0.01, via
tests/spill_harness.py ``--conf``) are recorded in BASELINE.md.
"""

from __future__ import annotations

import pytest

from uchr_scetl_spark import load_registry

from .conftest import SF_SMOKE
from .spill_harness import baseline_digest, canonical_digest, conf_patch

REGISTRY = load_registry()

ARROW_CONFS = {"spark.sql.execution.arrow.maxRecordsPerBatch": "7"}
SPLIT_CONFS = {
    "spark.sql.files.maxPartitionBytes": "64KB",
    "spark.sql.files.openCostInBytes": "0",
}
NO_CODEGEN_CONFS = {
    "spark.sql.codegen.wholeStage": "false",
    "spark.sql.codegen.factoryMode": "NO_CODEGEN",
}
ROW_READER_CONFS = {"spark.sql.parquet.enableVectorizedReader": "false"}

# every key whose plan crosses a Python/Arrow boundary
ARROW_KEYS = [
    "udf_pandas_scalar",
    "udaf_grouped",
    "udtf_explode_custom",
    "udf_cogrouped_pandas",
    "embeddings_gram_matrix",
    "embeddings_pq_assign",
    "sim_topk_pq",
    "sim_kmeans_assign",
    "sim_pairwise_threshold",
    "dedup_simhash",
    "dedup_clusters",
    "multimodal_binary",
    "multimodal_resize",
    "multimodal_frame_sample",
    "agg_percentile_exact_distributed",
    "sim_topk_lsh",
    "sim_topk_ivf",
]

# every source/scan-shaped key (file-fragment observers)
SPLIT_KEYS = [
    "scan_parquet",
    "scan_csv",
    "scan_json",
    "scan_text_lines",
    "scan_binary_files",
    "scan_xml",
    "scan_merge_schema",
    "scan_pruned_partition",
    "sink_csv_roundtrip_text",
    "dedup_exact",
    "text_fingerprint",
]

# expression-heavy spread across families (interpreted-path parity)
CODEGEN_KEYS = [
    "tpch_q1",
    "tpch_q9",
    "fn_string",
    "fn_date",
    "fn_math",
    "fn_json",
    "fn_cast",
    "fn_hash",
    "fn_array",
    "fn_map",
    "agg_percentile",
    "win_drawdown",
    "text_bpe_apply_merges",
    "events_ohlc_resample",
    "agg_chi_square_independence",
    "fn_try_arith",
]

# ANSI-axis (round 14, r13 verdict #5) — with a twist discovered
# measuring it: Spark 4.1's DEFAULT is already ansi.enabled=true, so
# every sweep and oracle compare this engine has ever run was ANSI
# semantics (raising casts/overflow/x-per-0), and the r13 concern
# ("Spark's stated future default") is the present. The meaningful
# cross-section is therefore the REVERSE direction: legacy
# ansi.enabled=false — what migrated jobs and older clusters run —
# which loosens errors into NULLs; a key whose values depended on
# either regime's quirks would diverge. Spread: every cast /
# arithmetic / division / date-parse / array-index-heavy family
# member. (join_bloom_pruned / etl_backfill_dynamic_overwrite run on
# memoized child sessions that inherit the conf only at creation, so
# the BUILDER-level full-registry sweep in BASELINE.md covers them;
# this in-process list sticks to parent-session keys.)
ANSI_OFF_CONFS = {"spark.sql.ansi.enabled": "false"}
ANSI_KEYS = CODEGEN_KEYS + [
    "fn_conditional",
    "agg_benford_deviation",
    "agg_gini_segment",
    "sim_cosine_histogram",
    "text_tokenize_stats",
    "text_quality_score",
    "dedup_near",
    "win_running",
    "agg_approx_percentile",
]

def _check(spark, key, confs, label):
    baseline = baseline_digest(spark, key)
    with conf_patch(spark, confs):
        got = canonical_digest(REGISTRY[key].fn(spark, SF_SMOKE))
    assert got == baseline, f"{key} changed results under {label}"


@pytest.mark.parametrize("key", ARROW_KEYS)
def test_invariant_under_tiny_arrow_batches(spark, key):
    _check(spark, key, ARROW_CONFS, "maxRecordsPerBatch=7")


@pytest.mark.parametrize("key", SPLIT_KEYS)
def test_invariant_under_tiny_scan_splits(spark, key):
    _check(spark, key, SPLIT_CONFS, "maxPartitionBytes=64KB")


@pytest.mark.parametrize("key", CODEGEN_KEYS)
def test_invariant_under_interpreted_expressions(spark, key):
    _check(spark, key, NO_CODEGEN_CONFS, "NO_CODEGEN")


@pytest.mark.parametrize("key", ANSI_KEYS)
def test_invariant_under_legacy_non_ansi_semantics(spark, key):
    """spark.sql.ansi.enabled=false (the legacy regime) must not
    change a single bit: no key's value path exploits either regime's
    quirks — ANSI's raising casts or legacy's silent NULLs. (Verified
    registry-wide at the round-14 close: 309/309 digest-identical
    under a builder-level ansi=false session — BASELINE.md.)"""
    _check(spark, key, ANSI_OFF_CONFS, "ansi.enabled=false")


def test_ansi_is_the_default_and_the_off_axis_actually_loosens(spark):
    """Anti-vacuity, both directions: the session default must BE
    ANSI (Spark 4.1 ships ansi.enabled=true — if an upstream change
    flips it, this axis must flip direction too), so 1/0 and a
    malformed cast raise by default; under the patched ansi=false
    they must return NULL instead."""
    assert spark.conf.get("spark.sql.ansi.enabled") == "true"
    with pytest.raises(Exception, match="DIVIDE_BY_ZERO"):
        spark.sql("SELECT 1/0 AS x").collect()
    with pytest.raises(Exception, match="CAST_INVALID_INPUT"):
        spark.sql("SELECT CAST('abc' AS INT) AS x").collect()
    with conf_patch(spark, ANSI_OFF_CONFS):
        assert spark.sql("SELECT 1/0 AS x").first().x is None
        assert spark.sql("SELECT CAST('abc' AS INT) AS x").first().x is None


@pytest.mark.parametrize("key", SPLIT_KEYS)
def test_invariant_under_row_based_parquet_reader(spark, key):
    """The non-vectorized parquet read path (row-at-a-time
    ParquetRecordReader instead of columnar batches — the path Spark
    falls back to for schemas the vectorized reader can't handle)
    must produce identical data."""
    _check(spark, key, ROW_READER_CONFS, "enableVectorizedReader=false")


def test_arrow_batch_conf_actually_fragments(spark):
    """Anti-vacuity: with maxRecordsPerBatch=7 a mapInPandas stage
    over 100 rows must observe many small batches, not one."""
    from pyspark.sql import functions as F  # noqa: F401

    def count_batches(it):
        import pandas as pd

        n = 0
        rows = 0
        for pdf in it:
            n += 1
            rows += len(pdf)
        yield pd.DataFrame({"batches": [n], "rows": [rows]})

    df = spark.range(0, 100).coalesce(1)
    with conf_patch(spark, ARROW_CONFS):
        got = df.mapInPandas(count_batches, "batches long, rows long").collect()
    assert got[0].rows == 100
    assert got[0].batches >= 100 // 7, got


def test_split_conf_actually_fragments(spark):
    """Anti-vacuity: 64KB splits must give the events scan more
    input partitions than files."""
    df = spark.read.parquet(f"{SF_SMOKE}/events.parquet")
    with conf_patch(spark, SPLIT_CONFS):
        parts = (
            spark.read.parquet(f"{SF_SMOKE}/events.parquet")
            .rdd.getNumPartitions()
        )
    assert parts > df.rdd.getNumPartitions() or parts > 1, parts


def test_row_reader_conf_actually_disables_batching(spark):
    """Anti-vacuity: with the vectorized reader off the scan must not
    be batched (the plan advertises Batched: false)."""
    with conf_patch(spark, ROW_READER_CONFS):
        df = spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
        plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Batched: false" in plan, plan[:1200]


def test_no_codegen_conf_actually_interprets(spark):
    """Anti-vacuity: under wholeStage=false the executed plan must
    contain no WholeStageCodegen span."""
    with conf_patch(spark, NO_CODEGEN_CONFS):
        df = REGISTRY["fn_math"].fn(spark, SF_SMOKE)
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
    assert "WholeStageCodegen" not in plan, plan[:1500]
