"""Empty-input robustness: every registered operator must survive a
ZERO-ROW corpus — empty partitions, fresh tables, and filtered-to-
nothing date ranges are daily reality for a production engine, and
"crashes on empty input" is the classic operator bug class (schema
inference on empty writes, indexing into collected model state,
dividing by zero counts). Each key must return an empty-or-small
result with its normal schema, never raise."""

from __future__ import annotations

import pytest

from uchr_scetl_spark.schemas import TABLES

from .conftest import SF_SMOKE
from .oracle import REGISTRY, copied_corpus


@pytest.fixture(scope="module")
def empty_dir(spark):
    with copied_corpus("uchr_empty_corpus_") as out:
        for t in TABLES:
            (
                spark.read.parquet(f"{SF_SMOKE}/{t}.parquet")
                .limit(0)
                .write.mode("overwrite")
                .parquet(f"{out}/{t}.parquet")
            )
        yield out


def test_every_key_survives_empty_corpus(spark, empty_dir):
    fails = []
    for key in sorted(REGISTRY):
        try:
            REGISTRY[key].fn(spark, empty_dir).limit(5).collect()
        except Exception as exc:  # noqa: BLE001 — collecting a report
            fails.append(f"{key}: {exc!r:.120}")
    assert not fails, "\n".join(fails)


@pytest.fixture(scope="module")
def null_dir(spark):
    """~10% NULLs injected into every non-key column (primary keys stay
    non-null — that's the PK contract); operators must quarantine or
    null-propagate, never crash."""
    from pyspark.sql import functions as F

    keylike = {
        "r_regionkey", "n_nationkey", "n_regionkey", "s_suppkey",
        "s_nationkey", "c_custkey", "c_nationkey", "p_partkey",
        "o_orderkey", "o_custkey", "l_orderkey", "l_partkey", "l_suppkey",
        "l_linenumber", "event_id", "user_id", "doc_id", "vec_id", "ts",
    }
    with copied_corpus("uchr_null_corpus_") as out:
        for t in TABLES:
            df = spark.read.parquet(f"{SF_SMOKE}/{t}.parquet")
            pk = [c for c in df.columns if c in keylike][:1]
            for c in df.columns:
                if c not in keylike:
                    df = df.withColumn(
                        c,
                        F.when(
                            F.abs(F.hash(F.lit(t + c), *[df[k] for k in pk]))
                            % 10
                            == 0,
                            None,
                        ).otherwise(df[c]),
                    )
            df.write.mode("overwrite").parquet(f"{out}/{t}.parquet")
        yield out


@pytest.fixture(scope="module")
def short_doc_dir(spark):
    """Documents corpus with degenerate short texts mixed in — empty
    string, one token, two tokens. Token-window expansions
    (sequence(0, size(t)-k) descends below zero for short docs and
    element_at(t, 0)/slice(t, 0, n) THROW) are a valid-input crash
    class the standard corpora never exercise (ADVICE round 3)."""
    from pyspark.sql import functions as F

    with copied_corpus("uchr_short_doc_corpus_") as out:
        for t in TABLES:
            df = spark.read.parquet(f"{SF_SMOKE}/{t}.parquet")
            if t == "documents":
                df = df.withColumn(
                    "text",
                    F.when(F.col("doc_id") % 7 == 0, F.lit(""))
                    .when(F.col("doc_id") % 7 == 1, F.lit("one"))
                    .when(F.col("doc_id") % 7 == 2, F.lit("two words"))
                    .otherwise(F.col("text")),
                )
            df.write.mode("overwrite").parquet(f"{out}/{t}.parquet")
        yield out


def test_text_keys_survive_short_docs(spark, short_doc_dir):
    """Every token-expansion key (text_*, dedup_*) must survive docs
    with fewer tokens than its n-gram window."""
    fails = []
    for key in sorted(REGISTRY):
        if not key.startswith(("text_", "dedup_")):
            continue
        try:
            # noop write, not limit(N).collect() (CollectLimit can stop
            # after the first partition's rows, skipping the degenerate
            # docs entirely) and not count() (Catalyst would prune the
            # token-window expressions under test away): the noop sink
            # evaluates EVERY column of EVERY row.
            REGISTRY[key].fn(spark, short_doc_dir).write.format(
                "noop"
            ).mode("overwrite").save()
        except Exception as exc:  # noqa: BLE001 — collecting a report
            fails.append(f"{key}: {exc!r:.120}")
    assert not fails, "\n".join(fails)


def test_every_key_survives_null_heavy_corpus(spark, null_dir):
    fails = []
    for key in sorted(REGISTRY):
        try:
            REGISTRY[key].fn(spark, null_dir).limit(5).collect()
        except Exception as exc:  # noqa: BLE001 — collecting a report
            fails.append(f"{key}: {exc!r:.120}")
    assert not fails, "\n".join(fails)
