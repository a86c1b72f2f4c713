"""Mixed-dimension embeddings gate (round-10 axis): what the engine
guarantees when a re-run encoder lands vectors of a DIFFERENT width
in the embeddings table — every 41st vector at half width (32), every
43rd at 1.5× width (96). The same at-least-once ingest reality as the
duplicate-id axes: nothing upstream promises one model wrote every
row.

Round-10 findings: the raw mixed-dim sweep split 16 keys three ways —
ragged numpy batches CRASHED (gram, pq, kmeans quantize), DuckDB's
list_dot_product RAISED on length mismatch where Spark's zip_with
silently truncates to the shorter array (the sim scoring family), and
two keys SILENTLY MIS-ANSWERED (sim_kmeans_assign returned 2 of 8
clusters; sim_label_centroids emitted 896 rows for 640 label×dim
cells) — the exact "silently mis-index" failure the engine promises
never to emit.

The committed contract: the embeddings table declares a MODEL
DIMENSION (``EMB_DIM`` = 64), and every operator that works IN the
fixed-dimension model space admits only conforming vectors — the
shared ``emb_conform`` predicate Spark-side, the identical
``len(embedding) = 64`` mirror oracle-side. Quarantined rows stay
observable (embeddings_vector_qa.n_dim_mismatch) and recoverable
(``embeddings_dim_conform``, the admission step as a first-class
key). Dim-AGNOSTIC keys (per-dimension stats, per-vector
quantize/truncate/QA) deliberately do NOT conform: mixed input is
well-defined for them, and the sweep proved them engine-exact raw.

Full-registry sweep on this corpus after the fix: 297 checked keys,
0 fail (3 rows-only by design).
"""

from __future__ import annotations

import pytest

from uchr_scetl_spark import clear_caches

from .oracle import REGISTRY, assert_matches_oracle, mutated_corpus, oracle_connection

# the 13 SQL-checked keys the raw sweep split, now dim-conformed
CONFORMED_KEYS = [
    "embeddings_dim_conform",
    "dedup_embedding",
    "embeddings_gram_matrix",
    "embeddings_pq_assign",
    "embeddings_random_projection",
    "multimodal_crossmodal_topk",
    "sim_cosine_histogram",
    "sim_kmeans_assign",
    "sim_knn_classify",
    "sim_label_centroids",
    "sim_label_recall_topk",
    "sim_pairwise_threshold",
    "sim_topk",
    "sim_topk_pq",
]

# rows-only ANN keys: no oracle, but they must RUN on mixed input
ANN_KEYS = ["sim_knn_classify_ann", "sim_topk_ivf", "sim_topk_lsh"]

# dim-agnostic keys pinned to stay exact on RAW mixed input
AGNOSTIC_KEYS = [
    "embeddings_dimension_stats",
    "embeddings_label_separation",
    "embeddings_matryoshka_truncate",
    "embeddings_quantize_int8",
    "embeddings_vector_qa",
]


mixed_dim_dir = mutated_corpus(
    "uchr_mixed_dim_corpus_",
    {
        "embeddings": """
            SELECT * REPLACE (
              CASE WHEN vec_id % 41 = 0 THEN embedding[:32]
                   WHEN vec_id % 43 = 0
                     THEN list_concat(embedding, embedding[:32])
                   ELSE embedding END AS embedding)
            FROM embeddings
        """,
    },
)


def test_corpus_violates_the_dimension_contract(mixed_dim_dir):
    con = oracle_connection(mixed_dim_dir)
    try:
        short, long_, ok = con.sql(
            """
            SELECT COUNT(*) FILTER (WHERE len(embedding) = 32),
                   COUNT(*) FILTER (WHERE len(embedding) = 96),
                   COUNT(*) FILTER (WHERE len(embedding) = 64)
            FROM embeddings
            """
        ).fetchone()
        assert short > 0 and long_ > 0 and ok > short + long_
    finally:
        con.close()


@pytest.mark.parametrize("key", CONFORMED_KEYS)
def test_model_space_key_is_exact_on_mixed_dims(key, spark, mixed_dim_dir):
    """The conform contract end-to-end: off-width vectors quarantine
    identically on both engines, every model-space key value-matches
    its oracle on the violating corpus — no crash, no silent
    mis-index."""

    clear_caches(mixed_dim_dir)
    assert len(assert_matches_oracle(spark, key, mixed_dim_dir)) > 0


@pytest.mark.parametrize("key", ANN_KEYS)
def test_ann_key_runs_on_mixed_dims(key, spark, mixed_dim_dir):
    """The approximate keys share the conformed loaders: mixed input
    must not crash the signature matmuls (ragged batch) and must
    still produce neighbour rows."""
    sdf = REGISTRY[key].fn(spark, mixed_dim_dir).toPandas()
    assert len(sdf) > 0


@pytest.mark.parametrize("key", AGNOSTIC_KEYS)
def test_dim_agnostic_key_stays_exact_raw(key, spark, mixed_dim_dir):
    """The contract boundary, pinned from the other side: keys whose
    semantics extend naturally to ragged widths (per-dimension stats,
    per-vector transforms, the QA counter itself) stay exact on RAW
    mixed input — they must NOT silently grow a conform filter that
    would hide off-width rows from the very keys meant to observe
    them."""
    assert_matches_oracle(spark, key, mixed_dim_dir)


def test_quarantine_is_observable_and_recoverable(spark, mixed_dim_dir):
    """vector_qa's n_dim_mismatch sees every off-width vector, and
    dim_conform's survivor set is exactly the complement — the
    observe/remediate pair the conform contract rests on."""
    qa = (
        REGISTRY["embeddings_vector_qa"]
        .fn(spark, mixed_dim_dir)
        .toPandas()
    )
    n_mismatch = int(qa["n_dim_mismatch"].sum())
    n_total = int(qa["n_vectors"].sum())
    assert n_mismatch > 0
    conformed = (
        REGISTRY["embeddings_dim_conform"]
        .fn(spark, mixed_dim_dir)
        .toPandas()
    )
    assert len(conformed) == n_total - n_mismatch
    assert (conformed["dim"] == 64).all()
