"""NULL-component cosine gate (round-12 axis, per round-11 ADVICE):
a PARTIALLY-failed encoder write — a vector of the right dimension
with NULL elements inside — passed ``emb_conform`` (size counts NULL
elements) and then hit the round-11 ``COS_CONFORM_SQL`` asymmetry:

- **DuckDB's list_dot_product RAISES** ``can not contain NULL
  values`` — the oracle died for every cos_conform key;
- **Spark's aggregate fold NULL-propagates** — ``NULL > 0`` is not
  true, so the row was SILENTLY quarantined and the job succeeded.

The oracle dying where Spark succeeds is a divergent failure mode the
admission predicate exists to prevent. Fix (similarity.py
COS_CONFORM_SQL): the DuckDB spelling is now a CASE-guarded
``list_reduce`` over x*x — the same sequential left-to-right double
fold Spark evaluates (bit-equal sum, engine-exact admission) and the
same NULL-propagation, so NULL-component vectors quarantine
IDENTICALLY on both engines. DuckDB's AND does not short-circuit
(a len-guard conjunct does NOT protect list_dot_product — verified),
which is why the guard is a CASE, the one lazily-evaluated construct.

This file is the tripwire ADVICE asked for: every hash-checked
cos_conform key value-matched end-to-end on a NULL-component corpus,
plus the quarantine-set identity itself.
"""

from __future__ import annotations

import duckdb
import pytest

from .oracle import assert_matches_oracle, mutated_corpus, oracle_connection

# Every hash-checked key admitted through cos_conform/COS_CONFORM_SQL
# (the ANN keys share the Spark-side predicate but are rows-only by
# declared design, so they carry no oracle to compare against).
COS_CONFORM_KEYS = [
    "sim_topk",
    "sim_pairwise_threshold",
    "dedup_embedding",
    "sim_knn_classify",
    "sim_cosine_histogram",
    "sim_label_recall_topk",
    "multimodal_crossmodal_topk",
]


# right dimension, one NULL element — the shape that passes
# emb_conform and must quarantine at cos_conform
null_component_dir = mutated_corpus(
    "uchr_null_component_corpus_",
    {
        "embeddings": """
            SELECT vec_id,
                   CASE WHEN vec_id % 37 = 0
                        THEN list_append(
                               embedding[:len(embedding)-1],
                               CAST(NULL AS FLOAT))
                        ELSE embedding END AS embedding,
                   label
            FROM embeddings
        """,
    },
)


def test_corpus_carries_null_component_vectors(null_component_dir):
    with oracle_connection(null_component_dir) as con:
        (n,) = con.sql(
            """
            SELECT count_if(len(list_filter(embedding,
                     x -> x IS NULL)) > 0)
            FROM embeddings WHERE embedding IS NOT NULL
            """
        ).fetchone()
    assert n > 0


def test_duckdb_and_does_not_short_circuit_list_dot_product():
    """The fact that forces the CASE spelling: even with a NULL-guard
    conjunct FIRST, DuckDB still evaluates list_dot_product on the
    guarded rows and raises. If a DuckDB upgrade ever makes AND lazy
    here, this tripwire flags that the CASE guard can be revisited."""
    with duckdb.connect() as con:
        with pytest.raises(Exception, match="can not contain NULL"):
            con.sql(
                """
                SELECT count(*) FROM (VALUES
                  (CAST([1.0, NULL] AS DOUBLE[])),
                  (CAST([1.0, 2.0] AS DOUBLE[]))) t(e)
                WHERE len(list_filter(e, x -> x IS NULL)) = 0
                  AND list_dot_product(e, e) > 0
                """
            ).fetchall()


def test_quarantine_set_is_engine_identical(spark, null_component_dir):
    """The admission predicate itself, both spellings, on the planted
    corpus: survivors exclude EXACTLY the planted vec_ids on both
    engines (no raise, no silent drift)."""
    from pyspark.sql import functions as F

    from uchr_scetl_spark.io import load
    from uchr_scetl_spark.llm.similarity import COS_CONFORM_SQL, cos_conform

    spark_ids = {
        r.vec_id
        for r in load(spark, null_component_dir, "embeddings")
        .where(cos_conform())
        .select("vec_id")
        .collect()
    }
    with oracle_connection(null_component_dir) as con:
        oracle_ids = {
            v
            for (v,) in con.sql(
                f"SELECT vec_id FROM embeddings WHERE {COS_CONFORM_SQL}"
            ).fetchall()
        }
        all_ids = {
            v for (v,) in con.sql("SELECT vec_id FROM embeddings").fetchall()
        }
    assert spark_ids == oracle_ids
    planted = {v for v in all_ids if v % 37 == 0}
    assert planted and spark_ids == all_ids - planted


@pytest.mark.parametrize("key", COS_CONFORM_KEYS)
def test_key_is_exact_on_null_component_vectors(
    key, spark, null_component_dir
):
    """Every hash-checked cos_conform key value-matches end-to-end on
    the NULL-component corpus — the oracle no longer dies where Spark
    quarantines."""
    assert len(assert_matches_oracle(spark, key, null_component_dir)) > 0
