"""NULL-embedding robustness gate: the embedding-family operators must
VALUE-MATCH the DuckDB oracle on a corpus where some embedding rows are
NULL — including a NULL probe vector.

The standard corpora have zero null embeddings, so a Spark-side
``isNotNull`` filter missing from an oracle (or vice versa) passes
every other sweep and silently diverges on the first real corpus with
failed/absent vectors. Round 5 advice flagged exactly that latency in
sim_cosine_histogram / sim_knn_classify; round 6 added the missing
``WHERE embedding IS NOT NULL`` to the brute-force oracles and this
gate keeps the two sides pinned together — a CHECKED comparison, not
survive-only (test_empty_corpus covers survive-only for the whole
registry).

The ANN keys (sim_topk_lsh / sim_topk_ivf / sim_knn_classify_ann) are
rows-only by design and excluded; their null handling is covered by the
survive sweep plus the agreement/recall tests.
"""

from __future__ import annotations

import pytest

from .oracle import assert_matches_oracle, mutated_corpus

# every 7th vector (vec_id % 7 == 0) nulled — vec_id 0 is a PROBE, so
# the probe-panel paths are stressed too, not just the corpus side
KEYS = [
    "sim_topk",
    "sim_pairwise_threshold",
    "sim_knn_classify",
    "sim_cosine_histogram",
    "dedup_embedding",
    "sim_label_centroids",
    "embeddings_quantize_int8",
    "embeddings_vector_qa",
    "embeddings_matryoshka_truncate",
    "embeddings_gram_matrix",
    "sim_kmeans_assign",
    "embeddings_random_projection",
    "sim_label_recall_topk",
    "multimodal_enrich",
    "multimodal_crossmodal_topk",
    "embeddings_dimension_stats",
    "embeddings_pq_assign",
    "sim_topk_pq",
    # round 8: null embeddings/labels must drop out of the centroid
    # sums, not null a whole label's row
    "embeddings_label_separation",
]

null_embedding_dir = mutated_corpus(
    "uchr_null_embedding_corpus_",
    {
        "embeddings": """
            SELECT * REPLACE (
              CASE WHEN vec_id % 7 = 0 THEN NULL
                   ELSE embedding END AS embedding)
            FROM embeddings
        """,
    },
)


@pytest.mark.parametrize("key", KEYS)
def test_embedding_key_matches_oracle_with_null_vectors(
    key, spark, null_embedding_dir
):
    assert_matches_oracle(spark, key, null_embedding_dir)
