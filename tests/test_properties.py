"""Property-based tests (SURVEY.md §5.3): algebraic invariants that
must hold for any input, checked with Hypothesis over small generated
relations. Spark jobs are expensive, so examples are capped low and
inputs kept tiny — the point is shrinking counterexamples, not volume."""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

from .conftest import SF_SMOKE

SETTINGS = dict(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

texts = st.lists(
    st.text(alphabet="abc ", min_size=0, max_size=12), min_size=0, max_size=8
)
ints = st.lists(st.integers(min_value=-1000, max_value=1000), min_size=0, max_size=12)


@given(rows=texts)
@settings(**SETTINGS)
def test_dedup_exact_idempotent(spark, rows):
    """dedup(dedup(x)) == dedup(x), and output hashes are unique."""
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(rows)], "doc_id long, text string"
    )
    hashed = df.select(
        "doc_id", F.sha2(F.lower(F.trim("text")), 256).alias("h")
    )
    once = hashed.dropDuplicates(["h"])
    twice = once.dropDuplicates(["h"])
    assert once.count() == twice.count()
    assert once.select("h").distinct().count() == once.count()


@given(rows=ints)
@settings(**SETTINGS)
def test_topk_is_prefix_of_sort(spark, rows):
    df = spark.createDataFrame([(x,) for x in rows], "v int")
    k = 3
    topk = [r.v for r in df.orderBy(F.col("v").desc(), "v").limit(k).collect()]
    full = [r.v for r in df.orderBy(F.col("v").desc(), "v").collect()]
    assert topk == full[:k]


@given(a=ints, b=ints)
@settings(**SETTINGS)
def test_union_distinct_commutative(spark, a, b):
    da = spark.createDataFrame([(x,) for x in a], "v int")
    db = spark.createDataFrame([(x,) for x in b], "v int")
    ab = set(r.v for r in da.unionByName(db).distinct().collect())
    ba = set(r.v for r in db.unionByName(da).distinct().collect())
    assert ab == ba == set(a) | set(b)


@given(rows=ints)
@settings(**SETTINGS)
def test_rollup_total_matches_grand_sum(spark, rows):
    df = spark.createDataFrame(
        [(x % 3, x) for x in rows], "k int, v int"
    )
    roll = {
        (r.k): r.s
        for r in df.rollup("k").agg(F.sum("v").alias("s")).collect()
    }
    grand = df.agg(F.sum("v")).collect()[0][0]
    assert roll.get(None, None) == grand  # the rollup total row


def test_asof_never_matches_future(spark):
    """As-of join must never pick a right row strictly after the left ts
    (deterministic single case; the generic algebra is in test_asof)."""
    import datetime as dt

    from uchr_scetl_spark.operators.asof import asof_join

    t = lambda m: dt.datetime(2024, 1, 1, 0, m)
    left = spark.createDataFrame(
        [(1, t(5), "x")], "k long, ts timestamp_ntz, tag string"
    )
    right = spark.createDataFrame(
        [(1, t(6), 99.0)], "k long, ts timestamp_ntz, v double"
    )
    out = asof_join(left, right, on="k", ts="ts", payload=["v"]).collect()
    assert out[0].v is None


def test_funnel_counts_monotone(spark):
    """Each funnel stage can only lose users: n_signup >=
    signup-then-view >= full funnel, all non-negative."""
    from uchr_scetl_spark import load_registry

    r = load_registry()["events_funnel"].fn(spark, SF_SMOKE).collect()[0]
    assert r.n_signup >= r.n_signup_then_view >= r.n_full_funnel >= 0


def test_scd2_exactly_one_current_row_per_key(spark):
    """SCD2 invariants: every business key has exactly one current row;
    closed rows end exactly where a successor begins."""
    from uchr_scetl_spark import load_registry

    rows = load_registry()["etl_scd2"].fn(spark, SF_SMOKE).collect()
    by_key: dict[int, list] = {}
    for r in rows:
        by_key.setdefault(r.c_custkey, []).append(r)
    for key, versions in by_key.items():
        current = [r for r in versions if r.is_current]
        assert len(current) == 1, f"custkey {key}: {len(current)} current rows"
        for r in versions:
            if not r.is_current:
                successors = [
                    s for s in versions if s.valid_from == r.valid_to
                ]
                assert successors, f"custkey {key}: closed row with no successor"


def test_pack_sequences_bins_respect_budget(spark):
    """Within each lang, every bin's token total stays under budget +
    one document's overshoot (the cumsum formulation packs a doc into
    the bin its *preceding* total falls in), and bin ids are dense."""
    from uchr_scetl_spark import load_registry

    rows = load_registry()["text_pack_sequences"].fn(spark, SF_SMOKE).collect()
    by_bin: dict[tuple, int] = {}
    max_doc: dict[tuple, int] = {}
    for r in rows:
        k = (r.lang, r.bin_id)
        by_bin[k] = by_bin.get(k, 0) + r.n_tokens
        max_doc[k] = max(max_doc.get(k, 0), r.n_tokens)
    for k, total in by_bin.items():
        assert total < 512 + max_doc[k], f"bin {k} total {total}"
    langs = {lang for lang, _ in by_bin}
    for lang in langs:
        bins = sorted(b for l, b in by_bin if l == lang)
        assert bins == list(range(len(bins))), f"{lang}: sparse bins {bins}"


def test_dedup_clusters_consistent_with_pairs(spark):
    """CC invariants: both endpoints of every near-dup pair share a
    cluster; every cluster id is the min doc_id of its members."""
    from uchr_scetl_spark import load_registry

    reg = load_registry()
    labels = {
        r.doc_id: r.cluster_id
        for r in reg["dedup_clusters"].fn(spark, SF_SMOKE).collect()
    }
    pairs = reg["dedup_ngram_jaccard"].fn(spark, SF_SMOKE).collect()
    for p in pairs:
        assert labels[p.a_id] == labels[p.b_id], (p.a_id, p.b_id)
    members: dict[int, list[int]] = {}
    for doc, cl in labels.items():
        members.setdefault(cl, []).append(doc)
    for cl, docs in members.items():
        assert cl == min(docs), (cl, min(docs))


def test_pagerank_conserves_mass_and_positivity(spark):
    """Fixed-point PageRank invariants: every rank is positive, and
    total mass stays within floor-truncation error of the scale
    constant (each of the 2 iterations loses < 1 unit per node+edge
    to floor division, never gains)."""
    from uchr_scetl_spark import load_registry
    from uchr_scetl_spark.operators.graph import _ITERS, _SCALE

    ranks = load_registry()["graph_pagerank"].fn(spark, SF_SMOKE)
    rows = ranks.collect()
    n = len(rows)
    assert n > 0
    assert all(r["rank"] > 0 for r in rows)
    total = sum(r["rank"] for r in rows)
    # floor() only ever discards mass; bound the discard generously:
    # per iteration each node's base term and each edge contribution
    # can lose <1 unit.
    assert total <= _SCALE
    assert total >= _SCALE - _ITERS * (n + 200 * n)  # avg degree « 200


def test_sessionize_sessions_respect_gap(spark):
    """Sessionization invariants: events of one session are within the
    gap chain (no intra-session jump > 30 min is possible by
    construction, so check the observable: consecutive sessions of a
    user are separated by MORE than the gap, and session bounds are
    ordered)."""
    from uchr_scetl_spark import load_registry

    sess = (
        load_registry()["events_sessionize"]
        .fn(spark, SF_SMOKE)
        .orderBy("user_id", "session_id")
        .collect()
    )
    assert sess
    by_user: dict = {}
    for r in sess:
        by_user.setdefault(r["user_id"], []).append(r)
    for user_rows in by_user.values():
        for r in user_rows:
            assert r["session_start"] <= r["session_end"]
            assert r["n_events"] >= 1
        for a, b in zip(user_rows, user_rows[1:]):
            gap_s = (b["session_start"] - a["session_end"]).total_seconds()
            assert gap_s > 1800, (a, b)


def test_near_survivors_partition_the_pair_graph(spark):
    """Survivor-set invariants: survivors ⊆ documents; every document
    is either a survivor or near-duplicate-connected to a lower-id
    survivor; no two survivors form a near-dup pair."""
    from uchr_scetl_spark import load_registry

    reg = load_registry()
    docs = {r["doc_id"] for r in reg["dedup_exact"].fn(spark, SF_SMOKE)
            .sparkSession.read.parquet(f"{SF_SMOKE}/documents.parquet")
            .select("doc_id").collect()}
    pairs = [(r["a_id"], r["b_id"])
             for r in reg["dedup_near"].fn(spark, SF_SMOKE).collect()]
    survivors = {r["doc_id"]
                 for r in reg["dedup_near_survivors"].fn(spark, SF_SMOKE).collect()}
    assert survivors <= docs
    paired = {d for p in pairs for d in p}
    assert docs - paired <= survivors  # isolated docs always survive
    for a, b in pairs:
        assert not (a in survivors and b in survivors), (a, b)


def test_peak_concurrency_bounds(spark):
    """Peak is at least 1 wherever a type has any event that day and
    never exceeds that day's open-interval upper bound (events opening
    that day plus events from the previous day whose ≤1h duration can
    cross midnight)."""
    from uchr_scetl_spark import load_registry
    import pyspark.sql.functions as F
    from uchr_scetl_spark.io import load as load_table

    reg = load_registry()
    peaks = reg["events_peak_concurrency"].fn(spark, SF_SMOKE).collect()
    assert peaks
    e = load_table(spark, SF_SMOKE, "events")
    per_day = {
        (r["event_type"], r["day"]): r["n"]
        for r in e.groupBy(
            "event_type",
            F.date_trunc("day", "ts").cast("timestamp_ntz").alias("day"),
        ).agg(F.count("*").alias("n")).collect()
    }
    for r in peaks:
        assert r["peak_concurrency"] >= 1
        import datetime as dt
        same_day = per_day.get((r["event_type"], r["day"]), 0)
        prev_day = per_day.get(
            (r["event_type"], r["day"] - dt.timedelta(days=1)), 0
        )
        assert r["peak_concurrency"] <= same_day + prev_day, r


def test_rfm_quintiles_are_balanced_permutations(spark):
    """Each quintile column partitions customers 1..5 with sizes
    differing by at most 1 (ntile guarantee), and every customer
    appears exactly once."""
    from collections import Counter

    from uchr_scetl_spark import load_registry

    rows = load_registry()["orders_rfm"].fn(spark, SF_SMOKE).collect()
    assert len(rows) == len({r["o_custkey"] for r in rows})
    for col in ("r_quintile", "f_quintile", "m_quintile"):
        c = Counter(r[col] for r in rows)
        assert set(c) == {1, 2, 3, 4, 5}
        assert max(c.values()) - min(c.values()) <= 1, (col, c)


@pytest.mark.parametrize(
    "sf_dir", ["/root/testdata/sf0.001", "/root/testdata/sf0.01"]
)
def test_dedup_near_risky_band_pairs_are_lsh_candidates(spark, sf_dir):
    """dedup_near's value-checked oracle equality rests on a
    precondition: MinHash LSH at 16 bands x 4 rows misses a true pair
    with P = (1 - j^4)^16 over the seed draw — 2.2e-4 at j=0.80,
    1.5e-7 at 0.89, ~0 at the constructed >=0.9 near-dups. The seeds
    are FIXED (xxhash64(tok, i)), so for a given corpus the outcome is
    deterministic: a borderline pair is either found forever or missed
    forever. Guard the precondition directly — enumerate every exact
    pair in the risky band [0.8, 0.92) with DuckDB and assert each one
    collides in at least one band under the actual seeded signatures.
    A future corpus/SF variant that grows a genuinely-missed
    borderline pair fails HERE with a precise message, instead of the
    oracle sweep flaking (or a real recall bug hiding behind a 'known
    miss')."""
    from uchr_scetl_spark.llm.dedup import (
        N_BANDS,
        ROWS_PER_BAND,
        _ORACLE_SHINGLED_CTE,
        JACCARD_T,
        minhash_signatures,
    )

    from .oracle import oracle_connection

    con = oracle_connection(sf_dir)
    try:
        pairs = con.sql(
            f"""
            WITH {_ORACLE_SHINGLED_CTE},
            shingle_rows AS (
              SELECT doc_id, n, unnest(toks) AS tok FROM sized
            ),
            pair_inter AS (
              SELECT a.doc_id AS a_id, b.doc_id AS b_id,
                     CAST(COUNT(*) AS BIGINT) AS inter,
                     any_value(a.n) AS a_n, any_value(b.n) AS b_n
              FROM shingle_rows a JOIN shingle_rows b
                ON a.tok = b.tok AND a.doc_id < b.doc_id
              GROUP BY a.doc_id, b.doc_id
            )
            SELECT a_id, b_id,
                   CAST(inter AS DOUBLE) / (a_n + b_n - inter) AS j
            FROM pair_inter
            WHERE CAST(inter AS DOUBLE) / (a_n + b_n - inter) >= {JACCARD_T}
              AND CAST(inter AS DOUBLE) / (a_n + b_n - inter) < 0.92
            """
        ).fetchall()
    finally:
        con.close()
    if not pairs:
        return
    ids = sorted({i for a, b, _ in pairs for i in (a, b)})
    sigs = {
        r["doc_id"]: [r[f"mh{i}"] for i in range(N_BANDS * ROWS_PER_BAND)]
        for r in minhash_signatures(spark, sf_dir)
        .where(F.col("doc_id").isin(ids))
        .collect()
    }
    missed = []
    for a_id, b_id, j in pairs:
        sa, sb = sigs[a_id], sigs[b_id]
        collides = any(
            sa[b * ROWS_PER_BAND : (b + 1) * ROWS_PER_BAND]
            == sb[b * ROWS_PER_BAND : (b + 1) * ROWS_PER_BAND]
            for b in range(N_BANDS)
        )
        if not collides:
            missed.append((a_id, b_id, j))
    assert not missed, (
        f"{len(missed)} exact pair(s) in the LSH-risky band at {sf_dir} "
        f"collide in NO band under the fixed seeds: {missed[:5]} — "
        "dedup_near's oracle-equality precondition no longer holds; "
        "widen bands or mark the key rows-only"
    )


def test_iterative_cc_pointer_jumping_on_chain_graph(spark):
    """The distributed CC path (used above _SINGLE_TASK_EDGE_LIMIT)
    must agree with the union-find fast path on the worst-case
    topology for label propagation: one long chain (transitive
    near-dup chains are how real scrape dups look). Pointer jumping
    converges this in O(log n) rounds; the 50-round cap would fail a
    plain O(n) propagation on a 200-node chain."""
    from pyspark.sql import functions as F

    from uchr_scetl_spark.llm.dedup import (
        _iterative_components,
        _single_task_components,
    )

    n = 200
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "a_id long, b_id long"
    )
    edges = pairs.union(
        pairs.select(F.col("b_id").alias("a_id"), F.col("a_id").alias("b_id"))
    ).withColumnsRenamed({"a_id": "src", "b_id": "dst"}).localCheckpoint()
    it = {
        (r.doc_id, r.cluster_id)
        for r in _iterative_components(edges, 2 * (n - 1)).collect()
    }
    uf = {
        (r.doc_id, r.cluster_id)
        for r in _single_task_components(edges).collect()
    }
    assert it == uf == {(i, 0) for i in range(n)}


def test_temperature_mix_flattens_toward_uniform(spark):
    """α=0.5 temperature resampling must (a) conserve the ppm budget up
    to floor loss, (b) compress the share range — every source's share
    moves toward uniform, so max share shrinks and min share grows —
    and (c) preserve the size ordering (x^0.5 is monotone)."""
    from uchr_scetl_spark.registry import load_registry

    rows = (
        load_registry()["sample_temperature"].fn(spark, SF_SMOKE).collect()
    )
    n = len(rows)
    assert n >= 2
    for col in ("raw_ppm", "temp_ppm"):
        total = sum(r[col] for r in rows)
        assert 1_000_000 - n <= total <= 1_000_000
    assert max(r.temp_ppm for r in rows) <= max(r.raw_ppm for r in rows)
    assert min(r.temp_ppm for r in rows) >= min(r.raw_ppm for r in rows)
    by_tokens = sorted(rows, key=lambda r: (r.n_tokens, r.source))
    temp_seq = [r.temp_ppm for r in by_tokens]
    assert temp_seq == sorted(temp_seq)


def test_incremental_dedup_is_the_batch_slice_of_near_pairs(spark):
    """Every (new, index) pair found incrementally must agree with the
    full self-dedup restricted to batch×index pairs: incremental
    ingestion may not invent or lose duplicates relative to the
    monolithic pass (both verify with exact Jaccard, so equality is
    exact, not approximate)."""
    from uchr_scetl_spark.registry import load_registry

    reg = load_registry()
    inc = {
        (r.new_id, r.index_id)
        for r in reg["dedup_incremental"].fn(spark, SF_SMOKE).collect()
    }
    full = reg["dedup_near"].fn(spark, SF_SMOKE).collect()
    expected = set()
    for r in full:
        for a, b in ((r.a_id, r.b_id), (r.b_id, r.a_id)):
            if a % 10 == 0 and b % 10 != 0:
                expected.add((a, b))
    assert inc == expected


def test_bpe_pair_counts_scale_linearly_with_corpus(spark, tmp_path):
    """Pair counts are corpus-weighted sums, so doubling the corpus
    must exactly double every count while preserving the top-k SET and
    order — the linearity that lets merge rounds run on the vocabulary
    while staying faithful to corpus statistics."""
    from uchr_scetl_spark.registry import load_registry

    reg = load_registry()
    base = reg["text_bpe_pair_counts"].fn(spark, SF_SMOKE).collect()

    # only documents is read by this key, so the doubled corpus dir
    # needs only that table
    doubled = str(tmp_path / "doubled")
    d = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    n = d.count()
    d.unionByName(
        d.withColumn("doc_id", F.col("doc_id") + n)
    ).write.parquet(f"{doubled}/documents.parquet")

    twice = reg["text_bpe_pair_counts"].fn(spark, doubled).collect()
    assert [(r.left_sym, r.right_sym) for r in base] == [
        (r.left_sym, r.right_sym) for r in twice
    ]
    assert [2 * r.pair_count for r in base] == [r.pair_count for r in twice]


def test_knn_classify_votes_are_the_topk_mode(spark):
    """One prediction per probe; n_votes in [1, k]; and the predicted
    label must be the deterministic mode (max votes, ties → lower
    label) of the exact top-k neighbour labels the sim_topk key
    reports — the vote may not disagree with its own evidence."""
    from collections import Counter

    from uchr_scetl_spark.llm.similarity import KNN_K
    from uchr_scetl_spark.registry import load_registry

    reg = load_registry()
    preds = {
        r.probe_id: r for r in reg["sim_knn_classify"].fn(spark, SF_SMOKE).collect()
    }
    topk: dict[int, list] = {}
    for r in reg["sim_topk"].fn(spark, SF_SMOKE).collect():
        topk.setdefault(r.probe_id, []).append(r.label)
    assert set(preds) == set(topk)
    for probe_id, labels in topk.items():
        votes = Counter(labels)
        want = min(
            votes, key=lambda lab: (-votes[lab], lab)
        )  # max votes, lower label on ties
        got = preds[probe_id]
        assert got.predicted_label == want
        assert got.n_votes == votes[want]
        assert 1 <= got.n_votes <= KNN_K


def test_cosine_histogram_mass_and_range(spark):
    """The histogram must account for every (panel, other) ordered
    pair exactly once — total mass |panel|·(|corpus|−1) — with every
    bucket inside the cosine domain [−1, 1]."""
    from uchr_scetl_spark.llm.similarity import (
        HIST_BUCKETS_PER_UNIT,
        HIST_PANEL_K,
    )
    from uchr_scetl_spark.registry import load_registry

    rows = (
        load_registry()["sim_cosine_histogram"].fn(spark, SF_SMOKE).collect()
    )
    e = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet").where(
        "embedding IS NOT NULL"
    )
    n = e.count()
    n_panel = min(HIST_PANEL_K, n)
    assert sum(r.n_pairs for r in rows) == n_panel * (n - 1)
    for r in rows:
        assert -HIST_BUCKETS_PER_UNIT <= r.bucket <= HIST_BUCKETS_PER_UNIT
        assert r.bucket_lo == r.bucket / HIST_BUCKETS_PER_UNIT


def test_distributed_quantiles_are_ordered_and_bounded(spark):
    """Exact quantiles must be monotone (p25 ≤ p50 ≤ p75) and inside
    the group's [min, max]; the weighted variants must additionally
    respect the defining inequality (at least half / 90% of the total
    weight sits at or below the reported value)."""
    from uchr_scetl_spark.registry import load_registry

    reg = load_registry()
    li = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet")
    bounds = {
        r.l_returnflag: (r.lo, r.hi)
        for r in li.groupBy("l_returnflag")
        .agg(
            F.min("l_extendedprice").alias("lo"),
            F.max("l_extendedprice").alias("hi"),
        )
        .collect()
    }
    for r in reg["agg_percentile_exact_distributed"].fn(spark, SF_SMOKE).collect():
        lo, hi = bounds[r.l_returnflag]
        assert lo <= r.p25 <= r.p50 <= r.p75 <= hi

    rows = {r.l_returnflag: r for r in reg["agg_weighted_median_distributed"].fn(spark, SF_SMOKE).collect()}
    for flag, r in rows.items():
        lo, hi = bounds[flag]
        assert lo <= r.weighted_p50 <= r.weighted_p90 <= hi
        # defining inequality, recomputed independently
        w_at_or_below_p50, w_at_or_below_p90, total = (
            li.where(F.col("l_returnflag") == flag)
            .agg(
                F.sum(
                    F.when(
                        F.col("l_extendedprice") <= r.weighted_p50,
                        F.col("l_quantity").cast("bigint"),
                    )
                ),
                F.sum(
                    F.when(
                        F.col("l_extendedprice") <= r.weighted_p90,
                        F.col("l_quantity").cast("bigint"),
                    )
                ),
                F.sum(F.col("l_quantity").cast("bigint")),
            )
            .first()
        )
        assert total == r.total_weight
        assert w_at_or_below_p50 >= 0.5 * total
        assert w_at_or_below_p90 >= 0.9 * total


def test_bpe_merge_counts_never_increase(spark):
    """Classic BPE invariant: the winning pair count is non-increasing
    across merge rounds — a merge can only redistribute adjacency mass
    downward (every new pair involving the merged symbol inherits a
    count bounded by its constituents')."""
    from uchr_scetl_spark.registry import load_registry

    rows = sorted(
        load_registry()["text_bpe_merge_rounds"].fn(spark, SF_SMOKE).collect(),
        key=lambda r: r.round,
    )
    assert [r.round for r in rows] == list(range(1, len(rows) + 1))
    counts = [r.pair_count for r in rows]
    assert counts == sorted(counts, reverse=True), counts


def test_matryoshka_energy_is_a_proper_fraction(spark):
    """Prefix energy is a fraction of total energy: retained ppm in
    [0, 1e6] and the truncated norm never exceeds the full norm."""
    from uchr_scetl_spark.registry import load_registry

    e = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    full = {
        r.vec_id: r.nrm
        for r in e.where("embedding IS NOT NULL")
        .selectExpr(
            "vec_id",
            "floor(sqrt(aggregate(zip_with(CAST(embedding AS array<double>),"
            " CAST(embedding AS array<double>), (x, y) -> x * y), 0D,"
            " (acc, x) -> acc + x)) * 1000000) AS nrm",
        )
        .collect()
    }
    rows = (
        load_registry()["embeddings_matryoshka_truncate"]
        .fn(spark, SF_SMOKE)
        .collect()
    )
    assert rows
    for r in rows:
        assert 0 <= r.retained_energy_ppm <= 1_000_000
        assert r.trunc_norm_micro <= full[r.vec_id]


def test_kmeans_partitions_the_corpus_and_improves_on_seeds(spark):
    """The final assignment must partition every non-null vector
    exactly once (Σn = corpus size), SSE must be non-negative, and
    two Lloyd updates must not do WORSE than assigning to the raw
    seed centroids (monotone non-increasing objective is Lloyd's
    defining property; equality allowed for degenerate corpora)."""
    from uchr_scetl_spark import clear_caches
    from uchr_scetl_spark.llm.similarity import _kmeans_assign_df, _kmeans_quantized
    from uchr_scetl_spark.registry import load_registry

    clear_caches(SF_SMOKE)
    R = load_registry()
    rows = R["sim_kmeans_assign"].fn(spark, SF_SMOKE).collect()
    assert rows
    n_corpus = (
        spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
        .where("embedding IS NOT NULL")
        .count()
    )
    assert sum(r.n for r in rows) == n_corpus
    assert all(r.sse >= 0 for r in rows)
    final_sse = sum(r.sse for r in rows)

    q = _kmeans_quantized(spark, SF_SMOKE)
    seeds = (
        q.orderBy(
            F.md5(F.concat(F.lit("kmeans:"), F.col("vec_id").cast("string"))),
            "vec_id",
        )
        .limit(8)
        .select("qv")
        .collect()
    )
    seed_sse = (
        _kmeans_assign_df(q, [list(r.qv) for r in seeds])
        .agg(F.sum("d2"))
        .collect()[0][0]
    )
    assert final_sse <= seed_sse
    clear_caches(SF_SMOKE)


def test_gram_matrix_is_symmetric_psd_with_consistent_diagonal(spark):
    """The upper-triangle Gram must reconstruct to a symmetric
    POSITIVE-SEMIDEFINITE integer matrix (it is XᵀX by construction —
    a negative eigenvalue means a partial-sum bug), with strictly
    positive diagonal for any non-degenerate corpus and every
    off-diagonal obeying Cauchy-Schwarz against its diagonal pair."""
    import numpy as np

    from uchr_scetl_spark.registry import load_registry

    rows = load_registry()["embeddings_gram_matrix"].fn(spark, SF_SMOKE).collect()
    assert rows
    d = max(r.j for r in rows)
    G = np.zeros((d, d), dtype=np.float64)
    for r in rows:
        G[r.i - 1, r.j - 1] = r.gram
        G[r.j - 1, r.i - 1] = r.gram
    eig = np.linalg.eigvalsh(G)
    assert eig.min() >= -1e-6 * max(1.0, eig.max())
    for r in rows:
        if r.i != r.j:
            assert r.gram * r.gram <= G[r.i - 1, r.i - 1] * G[r.j - 1, r.j - 1]


def test_bootstrap_resamples_are_plausible_poisson_draws(spark):
    """Every resample keeps roughly n·(1−e⁻¹) ≈ 63.2% distinct rows
    weighted to ~n total (Poisson(1) mass conservation): n_eff within
    ±10% of the corpus size for every resample, and every mean within
    the corpus's own min/max."""
    from uchr_scetl_spark.registry import load_registry

    R = load_registry()
    rows = R["agg_bootstrap_means"].fn(spark, SF_SMOKE).collect()
    o = spark.read.parquet(f"{SF_SMOKE}/orders.parquet").where(
        "o_totalprice IS NOT NULL"
    )
    n = o.count()
    lo, hi = o.agg(F.min("o_totalprice"), F.max("o_totalprice")).collect()[0]
    assert len(rows) == 20
    for r in rows:
        assert 0.9 * n <= r.n_eff <= 1.1 * n, (r.resample, r.n_eff, n)
        assert lo <= r.mean_boot <= hi


def test_association_rules_metrics_are_consistent(spark):
    """Rule algebra invariants: confidence ≤ 1e6 ppm both ways,
    support ≤ both confidences (the pair can't be more frequent than
    either item), and lift·c_a·c_b reconstructs N·w within floor
    error (cross-check of the three ratios against each other)."""
    from uchr_scetl_spark.registry import load_registry

    rows = load_registry()["orders_association_rules"].fn(spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        assert 0 < r.conf_ab_ppm <= 1_000_000
        assert 0 < r.conf_ba_ppm <= 1_000_000
        assert r.support_ppm <= r.conf_ab_ppm
        assert r.support_ppm <= r.conf_ba_ppm
        assert r.n_orders_both >= 2


def test_cooccurrence_topk_is_a_count_sorted_prefix(spark):
    """The k rows must come back rank-consecutive, ordered by
    (n_cooc DESC, a, b), with canonical a ≤ b pairs."""
    from uchr_scetl_spark.registry import load_registry

    rows = load_registry()["text_cooccurrence_topk"].fn(spark, SF_SMOKE).collect()
    assert rows
    assert sorted(r.rnk for r in rows) == list(range(1, len(rows) + 1))
    by_rank = sorted(rows, key=lambda r: r.rnk)
    for x, y in zip(by_rank, by_rank[1:]):
        assert (-x.n_cooc, x.a, x.b) <= (-y.n_cooc, y.a, y.b)
    for r in rows:
        assert r.a <= r.b


def test_shard_epochs_balance_and_permutation_independence(spark):
    """Each epoch's shards must partition the corpus exactly (counts
    sum to n per epoch, checksums sum to Σdoc_id), stay within ±15%
    of n/S in expectation (5σ binomial envelope — at the smoke
    corpus's n=500 a 16-cell layout routinely shows 3-4σ cells), and
    the two epochs must produce
    DIFFERENT assignments (identical per-shard checksums across
    epochs would mean the epoch salt is dead)."""
    from uchr_scetl_spark.registry import load_registry

    rows = load_registry()["sample_shard_epochs"].fn(spark, SF_SMOKE).collect()
    d = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    n = d.count()
    total_ids = d.agg(F.sum("doc_id")).collect()[0][0]
    epochs = {}
    for r in rows:
        epochs.setdefault(r.epoch, {})[r.shard] = (r.n_docs, r.id_checksum)
    assert len(epochs) == 2
    for e, shards in epochs.items():
        assert sum(v[0] for v in shards.values()) == n
        assert sum(v[1] for v in shards.values()) == total_ids
        exp = n / 8
        sigma = (exp * (1 - 1 / 8)) ** 0.5
        for s, (cnt, _) in shards.items():
            assert abs(cnt - exp) <= 5 * sigma, (e, s, cnt, exp, sigma)
    assert epochs[1] != epochs[2]


def test_ewma_is_bounded_by_its_frame(spark):
    """win_ewma is a convex combination (up to floor) of the quantized
    frame values: every non-null ewma must lie within [frame min - 1,
    frame max] of the trailing 4 observed values, and rows whose
    entire frame is null must yield NULL."""
    from uchr_scetl_spark.registry import load_registry

    rows = (
        load_registry()["win_ewma"].fn(spark, SF_SMOKE).collect()
    )
    by_user: dict = {}
    for r in rows:
        by_user.setdefault(r.user_id, []).append(r)
    checked = 0
    for user_rows in by_user.values():
        vals = [r.value_micro for r in user_rows]
        for i, r in enumerate(user_rows):
            frame = [v for v in vals[max(0, i - 3) : i + 1] if v is not None]
            if not frame:
                assert r.ewma_micro is None
            else:
                assert min(frame) - 1 <= r.ewma_micro <= max(frame), (
                    r.user_id,
                    i,
                    frame,
                    r.ewma_micro,
                )
                checked += 1
    assert checked > 0


def test_markov_removal_effects_are_proper_fractions(spark):
    """events_attribution_markov: every removal effect must lie in
    [0, 1e6] (removing a channel can only reduce or keep the chain's
    conversion probability — never increase it, since removed
    transitions become non-converting), and p_conv_without <= p_conv_all
    row by row."""
    from uchr_scetl_spark.registry import load_registry

    rows = (
        load_registry()["events_attribution_markov"]
        .fn(spark, SF_SMOKE)
        .collect()
    )
    assert rows
    for r in rows:
        assert 0 < r.p_conv_all_ppm <= 1_000_000
        assert 0 <= r.p_conv_without_ppm <= r.p_conv_all_ppm, r
        assert 0 <= r.removal_effect_ppm <= 1_000_000, r


def test_ohlc_candles_are_internally_consistent(spark):
    """events_ohlc_resample: low <= open, close <= high; volume equals
    at least n_ticks * low and at most n_ticks * high."""
    from uchr_scetl_spark.registry import load_registry

    rows = (
        load_registry()["events_ohlc_resample"].fn(spark, SF_SMOKE).collect()
    )
    assert rows
    for r in rows:
        assert r.low_micro <= r.open_micro <= r.high_micro, r
        assert r.low_micro <= r.close_micro <= r.high_micro, r
        assert r.n_ticks >= 1
        assert (
            r.n_ticks * r.low_micro
            <= r.volume_micro
            <= r.n_ticks * r.high_micro
        ), r


def test_funnel_windowed_is_monotone_and_dominated(spark):
    """events_funnel_windowed: stage counts must be monotone
    (n_signup >= n_view_in_window >= n_purchase_in_window) and each
    stage must be dominated by the unbounded funnel's corresponding
    stage (a time window can only remove conversions)."""
    from uchr_scetl_spark.registry import load_registry

    reg = load_registry()
    w = reg["events_funnel_windowed"].fn(spark, SF_SMOKE).collect()[0]
    u = reg["events_funnel"].fn(spark, SF_SMOKE).collect()[0]
    assert w.n_signup >= w.n_view_in_window >= w.n_purchase_in_window
    assert w.n_signup == u.n_signup  # stage 1 has no window
    assert w.n_view_in_window <= w.n_signup
    # the unbounded funnel's later stages use a different (ever-after)
    # rule, so only the first-stage equality is exact; windowed stages
    # must still be bounded by the user count
    assert w.n_purchase_in_window <= w.n_signup


def test_gini_bounds_and_degenerate_equality(spark):
    """agg_gini_segment: every Gini lies in [0, 1e6); a synthetic
    all-equal-revenue relation must yield exactly 0 through the same
    rank formula (the formula's degenerate case)."""
    from uchr_scetl_spark.registry import load_registry

    rows = load_registry()["agg_gini_segment"].fn(spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        assert 0 <= r.gini_ppm < 1_000_000, r
    # degenerate case computed directly with the same formula shape
    n, x = 7, 500
    num = 2 * sum(i * x for i in range(1, n + 1)) - (n + 1) * n * x
    assert num == 0


def test_novelty_attribution_is_complete_and_first_doc_fully_novel(spark):
    """text_ngram_novelty: ppm in [0, 1e6]; the lowest doc_id in the
    output is 100% novel by construction (nothing precedes it); and
    summing n_novel over docs counts every distinct gram in the corpus
    exactly once (the attribution is a partition of the vocabulary)."""
    from uchr_scetl_spark.registry import load_registry

    rows = (
        load_registry()["text_ngram_novelty"].fn(spark, SF_SMOKE).collect()
    )
    assert rows
    first = min(rows, key=lambda r: r.doc_id)
    assert first.novelty_ppm == 1_000_000, first
    for r in rows:
        assert 0 <= r.novelty_ppm <= 1_000_000, r
        assert 0 <= r.n_novel <= r.n_grams, r
    # Σ n_novel = |distinct grams corpus-wide|: recompute independently
    d = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    vocab = (
        d.where(F.size(F.split("text", " ")) >= 3)
        .select(
            F.explode(
                F.expr(
                    "transform(array(split(text, ' ')),"
                    " t -> array_distinct(transform(sequence(1, size(t)-2),"
                    "   i -> xxhash64(array_join(slice(t, i, 3), ' ')))))[0]"
                )
            ).alias("h")
        )
        .distinct()
        .count()
    )
    assert sum(r.n_novel for r in rows) == vocab


def test_bot_audit_flag_equals_its_definition(spark):
    """events_bot_burst_audit: the is_bot flag must equal the
    documented predicate recomputed from the row's own columns —
    pinning flag logic against threshold/boolean drift."""
    from uchr_scetl_spark.operators.analytics import (
        BOT_BURST_MIN,
        BOT_RATE_PPM,
    )
    from uchr_scetl_spark.registry import load_registry

    rows = (
        load_registry()["events_bot_burst_audit"].fn(spark, SF_SMOKE).collect()
    )
    assert rows
    n_flagged = 0
    for r in rows:
        expect = r.max_burst >= BOT_BURST_MIN or r.rate_ppm >= BOT_RATE_PPM
        assert r.is_bot == expect, r
        n_flagged += int(r.is_bot)
    assert 0 < n_flagged < len(rows)  # both arms meaningful on corpus


def test_next_event_accuracy_bounded_by_best_cell(spark):
    """events_next_event_accuracy: per-state accuracy equals the
    predicted cell's share of the state's outgoing mass — i.e. it is
    the MAXIMUM achievable single-guess accuracy, so no state may
    exceed 1e6 and n_correct must be the modal cell count."""
    from uchr_scetl_spark.registry import load_registry

    rows = (
        load_registry()["events_next_event_accuracy"]
        .fn(spark, SF_SMOKE)
        .collect()
    )
    assert rows
    for r in rows:
        assert 0 < r.n_correct <= r.n_pairs, r
        assert 0 < r.accuracy_ppm <= 1_000_000, r
        assert r.accuracy_ppm == r.n_correct * 1_000_000 // r.n_pairs, r


def test_knn_ann_shares_vote_stage_with_exact(spark):
    """sim_knn_classify_ann must agree with the exact classifier on
    most probes (deterministic pipelines; measured 5/5 on the smoke
    corpus — floor at 3/5 to absorb corpus regeneration)."""
    from uchr_scetl_spark.registry import load_registry

    reg = load_registry()
    exact = {
        r.probe_id: r.predicted_label
        for r in reg["sim_knn_classify"].fn(spark, SF_SMOKE).collect()
    }
    ann = {
        r.probe_id: r.predicted_label
        for r in reg["sim_knn_classify_ann"].fn(spark, SF_SMOKE).collect()
    }
    assert set(ann) == set(exact)
    agree = sum(1 for p in exact if ann[p] == exact[p])
    assert agree >= 3, (agree, len(exact))


def test_hazard_curve_conserves_users_and_is_monotone(spark):
    """events_hazard_curve: the risk set is the reverse cumsum of
    exits, so (a) the earliest row's risk set equals the total user
    count, (b) n_at_risk strictly decreases row to row (histogram
    rows exist only at durations with ≥1 exit), (c) every hazard is
    in [0, 1e6] and equals its own d/n recomputed, and (d)
    Σ(events+censored) = n_users (every user exits exactly once)."""
    from uchr_scetl_spark.registry import load_registry

    rows = sorted(
        load_registry()["events_hazard_curve"].fn(spark, SF_SMOKE).collect(),
        key=lambda r: r.duration_day,
    )
    assert rows
    d = spark.read.parquet(f"{SF_SMOKE}/events.parquet")
    n_users = d.select("user_id").distinct().count()
    assert sum(r.n_events + r.n_censored for r in rows) == n_users
    assert rows[0].n_at_risk == n_users
    prev = None
    for r in rows:
        if prev is not None:
            assert r.n_at_risk < prev, (r, prev)
        prev = r.n_at_risk
        assert 0 <= r.hazard_ppm <= 1_000_000
        assert r.hazard_ppm == r.n_events * 1_000_000 // r.n_at_risk, r


def test_mannwhitney_identities(spark):
    """events_mannwhitney_u: with midranks, R₁+R₂ = N(N+1)/2 exactly
    (doubled: rank_sum_2x over BOTH groups sums to N(N+1)), so
    0 ≤ U ≤ n₁·n₂ and U₁+U₂ = n₁·n₂ — the algebra that makes the
    doubled-midrank trick exact, asserted from the output row."""
    from uchr_scetl_spark.registry import load_registry

    r = (
        load_registry()["events_mannwhitney_u"].fn(spark, SF_SMOKE).collect()
    )[0]
    n = r.n1 + r.n2
    # R2·2 by complement, then U2 and the partition identity
    r2_2x = n * (n + 1) - r.rank_sum_2x
    u2_2x = r2_2x - r.n2 * (r.n2 + 1)
    assert 0 <= r.u_stat_2x <= 2 * r.n1 * r.n2, r
    assert r.u_stat_2x + u2_2x == 2 * r.n1 * r.n2, (r, u2_2x)


def test_ks_statistic_bounds(spark):
    """events_ks_statistic: 0 ≤ D ≤ 1 (ppm ≤ 1e6), the numerator is
    bounded by n₁·n₂, and ppm equals its own numerator recomputed."""
    from uchr_scetl_spark.registry import load_registry

    r = (
        load_registry()["events_ks_statistic"].fn(spark, SF_SMOKE).collect()
    )[0]
    assert 0 < r.ks_numerator <= r.n1 * r.n2, r
    assert 0 < r.ks_d_ppm <= 1_000_000, r
    assert r.ks_d_ppm == r.ks_numerator * 1_000_000 // (r.n1 * r.n2), r


def test_drawdown_dominated_by_peak(spark):
    """win_drawdown: a drop can never exceed its peak (values are
    non-negative), so 0 ≤ max_drawdown ≤ peak and ppm ≤ 1e6; ppm
    equals its own recomputation."""
    from uchr_scetl_spark.registry import load_registry

    rows = load_registry()["win_drawdown"].fn(spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        assert 0 <= r.max_drawdown_micro <= r.peak_micro, r
        assert 0 <= r.max_drawdown_ppm <= 1_000_000, r
        assert r.max_drawdown_ppm == r.max_drawdown_micro * 1_000_000 // max(
            r.peak_micro, 1
        ), r


def test_seasonal_index_mass_balance(spark):
    """orders_seasonal_index: the order-weighted mean of the indexes
    is 1e6 by construction (Σ cntₘ·idxₘ ≈ cnt_all·1e6, within one
    floor-truncation per month)."""
    from uchr_scetl_spark.registry import load_registry

    rows = (
        load_registry()["orders_seasonal_index"].fn(spark, SF_SMOKE).collect()
    )
    assert len(rows) == 12
    cnt_all = sum(r.n_orders for r in rows)
    weighted = sum(r.n_orders * r.seasonal_index_ppm for r in rows)
    assert 0 <= cnt_all * 1_000_000 - weighted < cnt_all * len(rows), (
        weighted,
        cnt_all,
    )


def test_gdpr_audit_residual_zero_and_cascade_consistent(spark):
    """etl_gdpr_delete_audit: residual must be 0 on every table
    (deleted + after = before), and the customer/orders cascade must
    agree — orders deleted only for deleted customers."""
    from uchr_scetl_spark.registry import load_registry

    rows = {
        r.table_name: r
        for r in load_registry()["etl_gdpr_delete_audit"]
        .fn(spark, SF_SMOKE)
        .collect()
    }
    assert set(rows) == {"events", "customer", "orders"}
    for r in rows.values():
        assert r.residual == 0, r
        assert r.n_deleted + r.n_after == r.n_before, r
    if rows["customer"].n_deleted == 0:
        assert rows["orders"].n_deleted == 0


def test_active_users_horizons_are_nested(spark):
    """events_active_users_rolling: DAU ⊆ WAU ⊆ MAU per day, all
    bounded by the total user count; stickiness ≤ 1e6 and equals its
    own recomputation."""
    from uchr_scetl_spark.registry import load_registry

    rows = (
        load_registry()["events_active_users_rolling"]
        .fn(spark, SF_SMOKE)
        .collect()
    )
    assert rows
    n_users = (
        spark.read.parquet(f"{SF_SMOKE}/events.parquet")
        .select("user_id")
        .distinct()
        .count()
    )
    for r in rows:
        assert 1 <= r.dau <= r.wau <= r.mau <= n_users, r
        assert r.stickiness_ppm == r.dau * 1_000_000 // r.mau, r


def test_benford_shares_sum_to_unity(spark):
    """agg_benford_deviation: observed shares sum to 1e6 within one
    floor-truncation per digit, every digit 1-9 appears, and
    abs_dev_ppm equals |obs - expected| recomputed."""
    from uchr_scetl_spark.registry import load_registry

    rows = (
        load_registry()["agg_benford_deviation"].fn(spark, SF_SMOKE).collect()
    )
    assert {r.digit for r in rows} <= set(range(1, 10))
    total_ppm = sum(r.obs_ppm for r in rows)
    assert 1_000_000 - len(rows) <= total_ppm <= 1_000_000
    for r in rows:
        assert r.abs_dev_ppm == abs(r.obs_ppm - r.benford_ppm), r


def test_cohort_ltv_is_cumulative_and_totals(spark):
    """orders_cohort_ltv: within each cohort, ltv_to_date is
    non-decreasing in month_offset and the final row equals the sum
    of the period revenues (the decimal-window accumulation is
    self-consistent)."""
    from uchr_scetl_spark.registry import load_registry

    rows = load_registry()["orders_cohort_ltv"].fn(spark, SF_SMOKE).collect()
    by_cohort: dict = {}
    for r in rows:
        by_cohort.setdefault(r.cohort_month, []).append(r)
    assert by_cohort
    for series in by_cohort.values():
        series.sort(key=lambda r: r.month_offset)
        prev = 0.0
        for r in series:
            assert r.ltv_to_date >= prev - 1e-9
            prev = r.ltv_to_date
        assert abs(series[-1].ltv_to_date - sum(r.revenue for r in series)) < 1e-6


def test_recursive_cte_depths_match_closed_form(spark):
    """sql_recursive_cte: for the synthetic chain (parent = id − 40,
    depth ≤ 8) every row must satisfy n_ancestors =
    min(8, (part_id−1)//200), max_depth = n_ancestors and root_id =
    part_id − 200·n_ancestors — the recursion's closed form."""
    from uchr_scetl_spark.registry import load_registry

    rows = load_registry()["sql_recursive_cte"].fn(spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        expect = min(8, (r.part_id - 1) // 40)
        assert r.n_ancestors == expect, r
        assert r.max_depth == expect, r
        assert r.root_id == r.part_id - 40 * expect, r


def test_group_kfold_groups_are_disjoint_and_complete(spark):
    """sample_group_kfold: every source lands in exactly ONE fold
    (the no-leakage guarantee), folds cover all docs (Σn_docs = |D|,
    Σchecksum = Σdoc_id), and the per-fold group counts sum to the
    distinct source count."""
    from uchr_scetl_spark.registry import load_registry

    rows = load_registry()["sample_group_kfold"].fn(spark, SF_SMOKE).collect()
    d = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    n_docs = d.count()
    n_sources = d.select("source").distinct().count()
    id_total = d.agg(F.sum("doc_id")).collect()[0][0]
    assert sum(r.n_docs for r in rows) == n_docs
    assert sum(r.id_checksum for r in rows) == id_total
    assert sum(r.n_groups for r in rows) == n_sources  # disjoint ⇔ sums


def test_chi_square_cells_match_margins(spark):
    """agg_chi_square_independence: expected floors recompute from
    the observed margins; every cell contribution is non-negative;
    Σn_obs equals the joined row count."""
    from uchr_scetl_spark.registry import load_registry

    rows = (
        load_registry()["agg_chi_square_independence"]
        .fn(spark, SF_SMOKE)
        .collect()
    )
    assert rows
    t_n = sum(r.n_obs for r in rows)
    r_n: dict = {}
    c_n: dict = {}
    for r in rows:
        r_n[r.c_mktsegment] = r_n.get(r.c_mktsegment, 0) + r.n_obs
        c_n[r.o_orderpriority] = c_n.get(r.o_orderpriority, 0) + r.n_obs
    for r in rows:
        assert r.chi2_cell_micro >= 0, r
        assert (
            r.n_expected_floor
            == r_n[r.c_mktsegment] * c_n[r.o_orderpriority] // t_n
        ), r


def test_cusum_closed_form_matches_sequential_recursion(spark):
    """events_cusum_alarm implements s_i = max(0, s_{i-1} + z_i) via
    the closed form P_i - min(0, running_min(P)). Recompute the NAIVE
    sequential recursion in Python for every user stream at smoke
    scale and demand identical max_cusum / n_alarms / first_alarm_rn —
    the identity, proven on the data."""
    from collections import defaultdict

    from uchr_scetl_spark.io import load
    from uchr_scetl_spark.operators.analytics import CUSUM_H_MULT
    from uchr_scetl_spark.registry import load_registry

    got = {
        r.user_id: r
        for r in load_registry()["events_cusum_alarm"].fn(spark, SF_SMOKE).collect()
    }
    rows = (
        load(spark, SF_SMOKE, "events")
        .where(F.col("value").isNotNull())
        .select("user_id", "ts", "event_id",
                F.expr("CAST(floor(value * 1000000) AS BIGINT)").alias("x"))
        .collect()
    )
    streams = defaultdict(list)
    for r in rows:
        streams[r.user_id].append((r.ts, r.event_id, r.x))
    assert set(streams) == set(got)
    for uid, ev in streams.items():
        ev.sort()
        n = len(ev)
        s_tot = sum(x for _, _, x in ev)
        h = CUSUM_H_MULT * s_tot
        s = 0
        max_c = 0
        n_alarms = 0
        first_rn = None
        for rn, (_, _, x) in enumerate(ev, start=1):
            s = max(0, s + 4 * n * x - 5 * s_tot)
            max_c = max(max_c, s)
            if s > h:
                n_alarms += 1
                if first_rn is None:
                    first_rn = rn
        g = got[uid]
        assert (g.n_events, g.max_cusum, g.n_alarms, g.first_alarm_rn) == (
            n, max_c, n_alarms, first_rn,
        ), uid


def test_rolling_ols_slope_matches_numpy_fit(spark):
    """win_rolling_ols_slope's integer slope must equal the float OLS
    fit truncated to milli units on full windows: recompute with
    numpy.polyfit for one user's stream and compare (ties at exact
    milli boundaries aside — integer division is the ground truth, so
    allow |diff| <= 1 for float round-off in the reference fit)."""
    import numpy as np

    from uchr_scetl_spark.io import load
    from uchr_scetl_spark.operators.windows import ROLL_OLS_W
    from uchr_scetl_spark.registry import load_registry

    out = load_registry()["win_rolling_ols_slope"].fn(spark, SF_SMOKE)
    uid = out.select("user_id").first().user_id
    got = {
        r.rn: r.slope_milli
        for r in out.where(F.col("user_id") == uid).collect()
    }
    ys = [
        r.y
        for r in load(spark, SF_SMOKE, "events")
        .where((F.col("value").isNotNull()) & (F.col("user_id") == uid))
        .select(F.expr("CAST(floor(value * 1000000) AS BIGINT)").alias("y"),
                "ts", "event_id")
        .orderBy("ts", "event_id")
        .collect()
    ]
    checked = 0
    for end in range(ROLL_OLS_W, len(ys) + 1):
        w = ys[end - ROLL_OLS_W : end]
        xs = np.arange(end - ROLL_OLS_W + 1, end + 1, dtype=float)
        slope = np.polyfit(xs, np.array(w, dtype=float), 1)[0]
        # integer division truncates toward zero in both engines; the
        # float reference can land either side of a boundary — accept
        # within one milli unit
        assert abs(got[end] - slope * 1000) <= 1.0, (end, got[end], slope * 1000)
        checked += 1
    assert checked > 0


def test_source_cap_bounds_and_determinism(spark):
    """sample_source_cap: (a) no (source, lang) group exceeds the
    corpus-derived cap; (b) kept rows are a subset of the corpus;
    (c) re-running yields the identical survivor set (md5 priority,
    no RNG)."""
    from uchr_scetl_spark.io import load
    from uchr_scetl_spark.llm.sampling import _CAP_FLOOR
    from uchr_scetl_spark.registry import load_registry

    fn = load_registry()["sample_source_cap"].fn
    a = fn(spark, SF_SMOKE).collect()
    n_docs = load(spark, SF_SMOKE, "documents").count()
    cap = max(_CAP_FLOOR, n_docs // 125)
    from collections import Counter

    per_group = Counter((r.source, r.lang) for r in a)
    assert all(c <= cap for c in per_group.values()), per_group.most_common(3)
    ids = {r.doc_id for r in a}
    all_ids = {
        r.doc_id for r in load(spark, SF_SMOKE, "documents").select("doc_id").collect()
    }
    assert ids <= all_ids
    b = fn(spark, SF_SMOKE).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_expectations_suite_counts_are_coherent(spark):
    """etl_expectations_suite: violation counts are bounded by the row
    count, pass verdicts follow the tolerance comparison exactly, and
    the deliberately-failing expectation is present."""
    from uchr_scetl_spark.registry import load_registry

    rows = load_registry()["etl_expectations_suite"].fn(spark, SF_SMOKE).collect()
    assert {r.expectation_id for r in rows} >= {
        "price_positive", "open_order_share",
    }
    for r in rows:
        assert 0 <= r.n_violations <= r.n_rows, r
        assert r.passed == (r.n_violations <= r.max_violations), r
    assert not [r for r in rows if r.expectation_id == "open_order_share"][0].passed


def test_neg_shingle_df_cap_both_branches_fire(spark):
    """sample_contrastive_negatives' hot-shingle valve is NOT vacuous:
    the corpus must contain shingles ABOVE the df cap (so the drop arm
    fires — the vacuity class tools/vacuity_audit.py can't see for a
    windowed atom) and shingles at-or-below it (so candidates survive).
    Guards against a corpus regeneration silently inert-ing the cap,
    the way join_theta_range went vacuous in round 6."""
    import pyspark.sql.functions as F

    from uchr_scetl_spark.llm.dedup import shingle_rows
    from uchr_scetl_spark.llm.sampling import NEG_SHINGLE_DF_CAP

    df = (
        shingle_rows(spark, SF_SMOKE)
        .groupBy("shingle")
        .agg(F.count("*").alias("df"))
        .agg(
            F.max("df").alias("max_df"),
            F.sum(F.when(F.col("df") <= NEG_SHINGLE_DF_CAP, 1).otherwise(0))
            .alias("n_kept"),
        )
        .collect()[0]
    )
    assert df.max_df > NEG_SHINGLE_DF_CAP, (
        f"no shingle exceeds the cap ({df.max_df} <= {NEG_SHINGLE_DF_CAP})"
        " — the hot-shingle valve is vacuous at this scale"
    )
    assert df.n_kept > 0


def test_neg_hard_candidates_ride_the_capped_index(spark):
    """The hard-negative stage must compute co-shingle ranks off the
    CAPPED posting lists: a doc pair whose only shared shingles are
    hot (df > cap) must contribute no hard candidate. Verified by
    recomputing the capped co-counts independently and checking every
    emitted hard slot (slot > 100) is among them."""
    import pyspark.sql.functions as F

    from uchr_scetl_spark.llm.dedup import shingle_rows
    from uchr_scetl_spark.llm.sampling import NEG_SHINGLE_DF_CAP
    from uchr_scetl_spark.registry import load_registry

    rows = shingle_rows(spark, SF_SMOKE)
    hot = {
        r.shingle
        for r in rows.groupBy("shingle")
        .agg(F.count("*").alias("df"))
        .where(F.col("df") > NEG_SHINGLE_DF_CAP)
        .collect()
    }
    posting = {}
    for r in rows.collect():
        if r.shingle not in hot:
            posting.setdefault(r.shingle, []).append(r.doc_id)
    co_ok = set()
    for docs in posting.values():
        for a in docs:
            for b in docs:
                if a != b:
                    co_ok.add((a, b))
    out = load_registry()["sample_contrastive_negatives"].fn(spark, SF_SMOKE)
    hard = [(r.doc_id, r.neg_id) for r in out.where("slot > 100").collect()]
    assert hard, "hard-negative arm emitted nothing at smoke scale"
    assert all(p in co_ok for p in hard)


def test_publish_checksum_canonicalization_is_unambiguous(spark):
    """The _canon_field rendering must distinguish the collision
    classes concat_ws alone cannot: (a) a '|' inside a free-text field
    vs a field shift, (b) NULL vs the literal backslash-N string vs
    empty string, (c) NULL in different positions."""
    from uchr_scetl_spark.operators.etl import _canon_field

    import pyspark.sql.functions as F

    df = spark.createDataFrame(
        [
            ("a|b", "c"),
            ("a", "b|c"),
            (None, "x"),
            ("x", None),
            ("\\N", "x"),
            ("", "x"),
        ],
        "f1 string, f2 string",
    )
    out = df.select(
        F.expr(
            "concat_ws('|', "
            + _canon_field("f1", escape=True)
            + ", "
            + _canon_field("f2", escape=True)
            + ")"
        ).alias("canon")
    ).collect()
    canon = [r.canon for r in out]
    assert len(set(canon)) == len(canon), canon


def test_distributed_quantile_boundary_branch_matches_small_p(spark, monkeypatch):
    """agg_percentile_exact_distributed's two collect branches (small-P
    whole-table collect vs large-P in-plan boundary reduction, gated on
    _PCTL_BOUNDARY_COLLECT_GATE) must produce bit-identical results:
    forcing the large-P branch at smoke scale and comparing against the
    default branch pins the q·(n−1) / floor / ceil / rank−offset
    arithmetic as engine-equivalent."""
    from uchr_scetl_spark.operators import aggregates as A

    key = "agg_percentile_exact_distributed"
    fn = A.agg_percentile_exact_distributed
    default_rows = sorted(
        fn(spark, SF_SMOKE).collect(), key=lambda r: r["l_returnflag"]
    )
    monkeypatch.setattr(A, "_PCTL_BOUNDARY_COLLECT_GATE", 0)
    forced_rows = sorted(
        fn(spark, SF_SMOKE).collect(), key=lambda r: r["l_returnflag"]
    )
    assert len(default_rows) == len(forced_rows) > 0, key
    for a, b in zip(default_rows, forced_rows):
        assert a == b, (a, b)
