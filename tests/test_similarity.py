"""ANN scale-path operators: structural invariants + recall floors
against the exact brute-force baseline at sf0.001."""

from __future__ import annotations

import pytest

from uchr_scetl_spark import clear_caches, load_registry

from .conftest import SF_ORACLE

REGISTRY = load_registry()


@pytest.fixture(scope="module")
def exact_topk(spark):
    rows = REGISTRY["sim_topk"].fn(spark, SF_ORACLE).collect()
    return {(r.probe_id, r.neighbor_id) for r in rows}


@pytest.mark.parametrize("key", ["sim_topk_ivf", "sim_topk_lsh"])
def test_ann_structure(key, spark, exact_topk):
    from uchr_scetl_spark.llm.similarity import N_PROBES, TOP_K

    rows = REGISTRY[key].fn(spark, SF_ORACLE).collect()
    per_probe: dict[int, int] = {}
    for r in rows:
        assert r.neighbor_id != r.probe_id
        assert -1.0 - 1e-9 <= r.cosine <= 1.0 + 1e-9
        per_probe[r.probe_id] = per_probe.get(r.probe_id, 0) + 1
    assert set(per_probe) <= set(range(N_PROBES))
    assert all(n <= TOP_K for n in per_probe.values())
    # ANN may miss true neighbours, but on this corpus both variants
    # recover at least half of the exact top-k (IVF measures 0.87,
    # deterministic pipeline → stable value).
    found = {(r.probe_id, r.neighbor_id) for r in rows}
    assert len(exact_topk & found) / len(exact_topk) >= 0.5


def test_ivf_deterministic(spark):
    """Determinism of the REAL computation, not the memo: the centroid
    cache (added round 5) would make back-to-back runs trivially equal,
    so it is cleared between them — this must still pass because init
    is lowest-vec_id seeded and every step is order-independent."""
    a = sorted(map(tuple, REGISTRY["sim_topk_ivf"].fn(spark, SF_ORACLE).collect()))
    clear_caches(SF_ORACLE)
    b = sorted(map(tuple, REGISTRY["sim_topk_ivf"].fn(spark, SF_ORACLE).collect()))
    assert a == b


@pytest.mark.parametrize("key", ["sim_topk_lsh", "sim_topk_ivf"])
def test_ann_recall_floor_at_sf01(key, spark):
    """MEASURED recall@3 against the exact brute-force top-k at sf0.1
    — the scale the bench runs at, where the corpus (2000×64,
    near-uniform: true-neighbour cosines sit inside the background
    tail) is ANN's worst case. Both paths are deterministic
    (fixed-seed planes / lowest-id k-means init), so these are stable
    values, not flaky statistics: LSH 64×16 tables with Hamming-2
    probe-side multiprobe measures 15/15, IVF nprobe=2 measures 15/15.
    The floor is 13/15 to leave tuning slack without ever re-admitting
    the round-3 regression (10/15)."""
    sf = "/root/testdata/sf0.1"
    exact = {
        (r.probe_id, r.neighbor_id)
        for r in REGISTRY["sim_topk"].fn(spark, sf).collect()
    }
    found = {
        (r.probe_id, r.neighbor_id) for r in REGISTRY[key].fn(spark, sf).collect()
    }
    assert len(exact & found) >= 13, (
        f"{key} recall@3 = {len(exact & found)}/{len(exact)} at sf0.1"
    )


def test_lsh_candidate_volume_well_below_brute_force(spark):
    """The recall floor must not be bought with brute force in
    disguise: the deduped LSH candidate set per probe stays ≤ 25% of
    the corpus (measured 17% at sf0.1; brute force would score 100%)."""
    from pyspark.sql import functions as F

    from uchr_scetl_spark.io import load
    from uchr_scetl_spark.llm.similarity import N_PROBES, _lsh_candidates

    sf = "/root/testdata/sf0.1"
    n_corpus = (
        load(spark, sf, "embeddings")
        .where(F.col("embedding").isNotNull())
        .count()
    )
    per_probe = (
        _lsh_candidates(spark, sf)
        .groupBy("probe_id")
        .agg(F.count("*").alias("n"))
        .collect()
    )
    assert 0 < len(per_probe) <= N_PROBES
    worst = max(r.n for r in per_probe)
    assert worst <= 0.25 * n_corpus, (
        f"worst probe candidate volume {worst}/{n_corpus} exceeds 25%"
    )


@pytest.mark.parametrize("sf", [SF_ORACLE, "/root/testdata/sf0.1"])
def test_knn_ann_agreement(spark, sf):
    """The ANN classifier must agree with the exact classifier on at
    least 4/5 probe predictions (measured 5/5 at both scales; both
    pipelines deterministic → stable value). This is the 'swap the
    top-k stage, vote unchanged' claim made executable."""
    exact = {
        r.probe_id: r.predicted_label
        for r in REGISTRY["sim_knn_classify"].fn(spark, sf).collect()
    }
    ann = {
        r.probe_id: r.predicted_label
        for r in REGISTRY["sim_knn_classify_ann"].fn(spark, sf).collect()
    }
    assert set(ann) == set(exact)
    agree = sum(1 for p in exact if ann[p] == exact[p])
    assert agree >= 4, f"ANN/exact prediction agreement {agree}/5 at {sf}"


def test_pq_adc_beats_random_baseline(spark):
    """sim_topk_pq's ADC ranking must carry real signal: total
    overlap with the exact quantized-L2 top-10 across the 5 probes is
    deterministic (everything is exact integers) and measured at 10/50
    on the smoke corpus — an order of magnitude above the ~1 expected
    from random ranking (10*10/499 per probe). Floor set at 5 for
    corpus-regeneration slack. (Recall is deliberately NOT asserted
    high: the codebooks are untrained seed draws, not k-means-fitted —
    the key checks the ADC machinery, the exactness discipline, and
    the plan shape; codebook quality is sim_kmeans_assign's job.)"""
    from collections import defaultdict

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from uchr_scetl_spark.llm.similarity import _pq_quantized

    from .conftest import SF_SMOKE

    adc = REGISTRY["sim_topk_pq"].fn(spark, SF_SMOKE).collect()
    probes = sorted(set(r.p_id for r in adc))
    e = _pq_quantized(spark, SF_SMOKE)
    pe = e.where(F.col("vec_id").isin(probes)).select(
        F.col("vec_id").alias("p_id"), F.col("qv").alias("qp")
    )
    ex = (
        e.crossJoin(F.broadcast(pe))
        .where(F.col("vec_id") != F.col("p_id"))
        .withColumn(
            "d",
            F.expr(
                "aggregate(zip_with(qv, qp, (a, b) -> (a - b) * (a - b)),"
                " 0L, (acc, x) -> acc + x)"
            ),
        )
    )
    w = Window.partitionBy("p_id").orderBy("d", "vec_id")
    exact = (
        ex.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 10)
        .select("p_id", "vec_id")
        .collect()
    )
    got, want = defaultdict(set), defaultdict(set)
    for r in adc:
        got[r.p_id].add(r.vec_id)
    for r in exact:
        want[r.p_id].add(r.vec_id)
    overlap = sum(len(got[p] & want[p]) for p in probes)
    assert overlap >= 5, f"ADC overlap {overlap}/50 — below signal floor"
