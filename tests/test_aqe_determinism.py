"""AQE-toggle determinism gate (round-12 axis, verdict task #3).

Every result in the suite so far came from ONE adaptive-execution
configuration (AQE on, default thresholds). At 100 TB, AQE actively
rewrites plans at runtime — coalescing shuffle partitions, converting
sort-merge joins to broadcast joins mid-query, splitting skewed
partitions across tasks — so the property scale-up actually needs is
PLAN-CHOICE INVARIANCE: the same bit-exact result whichever physical
strategy the runtime picks. This gate sweeps the shuffle-heavy
cross-section (the same KEYS list the parallelism-invariance sweep
uses) under three runtime configurations and requires bit-identical
canonical digests:

- **baseline**: the engine's default session (AQE on, standard
  thresholds) — what every other gate runs under;
- **aqe-off**: ``spark.sql.adaptive.enabled=false`` — the purely
  static Catalyst plan, no runtime re-planning at all;
- **aqe-aggressive**: AQE on with 1 KB advisory partition sizes
  (maximal runtime coalescing — reduce counts collapse), runtime
  broadcast conversion disabled, and skew-join splitting armed at
  1 KB thresholds — the opposite extreme, where AQE rewrites as much
  of the plan as it can.

All AQE knobs are runtime SQL confs, so the sweep toggles them on the
shared session (the test_determinism.py pattern — no subprocess
needed, unlike the forced-spill gate whose knobs are static).

**Skew-split axis**: AQE's skewed-partition splitting has a
map-chunk granularity constraint a small corpus silently defeats —
a shuffle fed by ONE map task (a single small parquet file) can NEVER
be split, because the split unit is a range of map outputs. The gate
therefore builds its skew canary explicitly: a hot-key self-join over
multi-map-output shuffles with 1 KB skew thresholds and
forceOptimizeSkewedJoin, asserts the final adaptive plan actually
shows ``skew=true`` / ``AQEShuffleRead skewed`` (anti-vacuity — at
default thresholds a smoke-scale "skew test" proves nothing), and
requires the skew-split result bit-identical to the AQE-off run of
the same join.
"""

from __future__ import annotations

import pytest

from uchr_scetl_spark import clear_caches, load_registry

from .conftest import SF_SMOKE
from .spill_harness import baseline_digest, canonical_digest, conf_patch
from .test_determinism import KEYS

REGISTRY = load_registry()

AQE_AGGRESSIVE = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "1KB",
    "spark.sql.adaptive.coalescePartitions.minPartitionSize": "1KB",
    "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "1KB",
    "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1.0",
}
AQE_OFF = {"spark.sql.adaptive.enabled": "false"}

SKEW_CONFS = {
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "1KB",
    "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1.0",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "1KB",
    "spark.sql.adaptive.forceOptimizeSkewedJoin": "true",
    "spark.sql.autoBroadcastJoinThreshold": "-1",
    "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
}


@pytest.mark.parametrize("variant", ["aqe_off", "aqe_aggressive"])
@pytest.mark.parametrize("key", KEYS)
def test_result_invariant_under_aqe_config(spark, key, variant):
    confs = AQE_OFF if variant == "aqe_off" else AQE_AGGRESSIVE
    baseline = baseline_digest(spark, key)
    with conf_patch(spark, confs):
        got = canonical_digest(REGISTRY[key].fn(spark, SF_SMOKE))
    assert got == baseline, f"{key} changed results under {variant}"


def _hot_join(spark, sf_dir):
    """A join AQE can actually skew-split: ~30% of events keyed to one
    user (the skewed-corpus plant, applied in-flight), repartitioned
    on unrelated keys so BOTH shuffle sides have multiple map outputs
    (the split granularity is a map-output range — a single-map-task
    shuffle is unsplittable by construction)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from uchr_scetl_spark.io import load

    e = load(spark, sf_dir, "events")
    hot = F.min("user_id").over(Window.partitionBy())
    e = e.withColumn(
        "user_id",
        F.when(F.col("event_id") % 10 < 3, hot).otherwise(F.col("user_id")),
    )
    left = e.select("event_id", "user_id", "value").repartition(16, "event_id")
    right = e.select(
        "user_id", F.col("value").alias("v2"), F.col("event_id").alias("e2")
    ).repartition(16, "e2")
    return left.join(right, "user_id").select(
        "event_id", "user_id", "value", "v2", "e2"
    )


def test_skew_split_triggers_and_preserves_results(spark):
    """The skew axis with its anti-vacuity: under 1 KB thresholds the
    final adaptive plan must SHOW the skew split happened, and the
    split result must be bit-identical to the static AQE-off plan."""
    with conf_patch(spark, AQE_OFF):
        want = canonical_digest(_hot_join(spark, SF_SMOKE))

    with conf_patch(spark, SKEW_CONFS):
        df = _hot_join(spark, SF_SMOKE)
        rows = df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, (
            "skew split did not trigger — canary is vacuous:\n"
            + plan[:2000]
        )
        got = canonical_digest(_hot_join(spark, SF_SMOKE))
    assert len(rows) > 0
    assert got == want, "skew-split join changed results"


def test_kmeans_assign_invariant_under_aqe_off(spark):
    """sim_kmeans_assign memoizes centroids per (app, sf_dir); clear
    the memo so the WHOLE iterative pipeline — seed fetch, Lloyd
    rounds, final stats — reruns under the static plan and must stay
    bit-identical (the test_determinism.py companion, AQE axis)."""
    clear_caches(SF_SMOKE)
    baseline = canonical_digest(
        REGISTRY["sim_kmeans_assign"].fn(spark, SF_SMOKE)
    )
    clear_caches(SF_SMOKE)
    with conf_patch(spark, AQE_OFF):
        got = canonical_digest(
            REGISTRY["sim_kmeans_assign"].fn(spark, SF_SMOKE)
        )
    clear_caches(SF_SMOKE)
    assert got == baseline
