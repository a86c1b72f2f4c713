"""Physical-plan shape assertions: the properties that make these
plans survive a 1000-executor / 100 TB scale-up, checked on the actual
executed plan string so a regression (lost broadcast hint, filter that
stops pushing down, a window sneaking into global top-k) fails CI."""

from __future__ import annotations

from uchr_scetl_spark import clear_caches, load_registry

from .conftest import SF_SMOKE
from .oracle import copied_corpus

REGISTRY = load_registry()


def plan_of(spark, key: str) -> str:
    df = REGISTRY[key].fn(spark, SF_SMOKE)
    return df._jdf.queryExecution().executedPlan().toString()


def test_tpch_q5_broadcasts_dimensions(spark):
    plan = plan_of(spark, "tpch_q5")
    # supplier/nation/region joins must all be broadcast — no shuffle
    # of the fact side on dimension keys
    assert plan.count("BroadcastHashJoin") >= 3, plan


def test_tpch_q3_pushes_date_filters_to_scan(spark):
    plan = plan_of(spark, "tpch_q3")
    assert "PushedFilters" in plan
    pushed = [
        seg[:300] for seg in plan.split("PushedFilters: ")[1:]
    ]
    assert any("l_shipdate" in s for s in pushed), plan
    assert any("o_orderdate" in s for s in pushed), plan


def test_tpch_q1_prunes_columns(spark):
    plan = plan_of(spark, "tpch_q1")
    # the lineitem scan must not read join keys it doesn't need
    scan = plan.split("ReadSchema")[-1]
    assert "l_orderkey" not in scan.split("\n")[0], plan


def test_topk_global_uses_take_ordered(spark):
    plan = plan_of(spark, "topk_global")
    assert "TakeOrderedAndProject" in plan, plan


def test_tpch_q3_top10_uses_take_ordered(spark):
    plan = plan_of(spark, "tpch_q3")
    assert "TakeOrderedAndProject" in plan, plan


def test_tpch_q18_semi_join_is_broadcast(spark):
    plan = plan_of(spark, "tpch_q18")
    assert "LeftSemi, BuildRight" in plan, plan


def test_q1_partial_aggregation_present(spark):
    # partial (map-side) + final hash aggregation: the exchange must
    # sit between two HashAggregates, i.e. combine happens before the
    # shuffle
    plan = plan_of(spark, "tpch_q1")
    assert plan.count("HashAggregate") >= 2, plan
    first_agg = plan.index("HashAggregate")
    assert "Exchange" in plan[first_agg:], plan


def test_etl_incremental_extract_broadcasts_watermark(spark):
    plan = plan_of(spark, "etl_incremental_extract")
    assert "BroadcastNestedLoopJoin" in plan, plan


def test_aqe_skew_join_splits_hot_partition(spark):
    """AQE skew-join: a join keyed so ~90% of rows share one key must be
    re-planned at runtime with the hot partition split (the SMJ node is
    marked skew=true). This is the no-code-change answer to skew; the
    engine's salted join (join_skew_salted) is the explicit-control
    alternative."""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "1KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "512b",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        # repartition(8): AQE splits a skewed reduce partition at
        # map-output granularity, so a single-file scan (1 map task)
        # can never be split — need >1 mapper feeding the shuffle
        e = spark.read.parquet(f"{SF_SMOKE}/events.parquet").repartition(8)
        # ~90% of rows collapse onto key 0: a guaranteed hot partition
        skewed = e.select(
            F.when(F.col("event_id") % 10 < 9, 0)
            .otherwise(F.col("event_id"))
            .alias("k"),
            "value",
            "props",
        )
        right = e.select(
            F.when(F.col("event_id") % 10 < 9, 0)
            .otherwise(F.col("event_id"))
            .alias("k"),
            F.col("user_id").alias("w"),
        )
        # aggregate over the payload columns so column pruning can't
        # shrink the join rows below the skew threshold
        joined = skewed.join(right.hint("merge"), "k").groupBy().agg(
            F.count("*").alias("n"),
            F.sum("value").alias("v"),
            F.max("props").alias("p"),
            F.sum("w").alias("ws"),
        )
        # collect on THIS DataFrame so its own AQE execution finalizes
        # (a sink write executes a copy whose final plan we can't read)
        assert joined.collect()[0].n > 0
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan, plan[:500]
        assert "skew=true" in plan, plan[:2000]
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_q19_pushes_disjunction_to_part_scan(spark):
    """Q19's OR-of-ANDs must reach the part scan as a pushed Or()
    filter and the lineitem scan as the quantity envelope — at 100 TB
    an unpushed disjunction means reading every row group."""
    plan = plan_of(spark, "tpch_q19")
    pushed = plan.split("PushedFilters: ")[1:]
    assert any("Or(" in s[:400] and "p_brand" in s[:400] for s in pushed), plan
    assert any(
        "GreaterThanOrEqual(l_quantity,1.0)" in s[:400] for s in pushed
    ), plan


def test_q21_semi_anti_chain(spark):
    """Q21's double correlated EXISTS decorrelates to one LeftSemi and
    one LeftAnti join; all three l_orderkey joins must co-partition
    (no more than one lineitem-side exchange per relation)."""
    plan = plan_of(spark, "tpch_q21")
    assert "LeftSemi" in plan, plan
    assert "LeftAnti" in plan, plan


def test_q22_scalar_subquery_broadcasts(spark):
    """Q22's account-balance threshold is a one-row aggregate joined
    via BroadcastNestedLoopJoin — never a shuffle of customer."""
    plan = plan_of(spark, "tpch_q22")
    assert "BroadcastNestedLoopJoin" in plan, plan


def test_pagerank_checkpoint_truncates_lineage(spark):
    """The rank loop must not grow the plan with the iteration count:
    localCheckpoint truncates lineage each pass, so the executed plan
    is a checkpointed-RDD scan plus projection — NOT the unrolled
    2-iteration join tree. (An unrolled tree at iteration N re-executes
    the whole prefix and overflows the planner long before N gets
    interesting.)"""
    plan = plan_of(spark, "graph_pagerank")
    assert "Scan ExistingRDD" in plan, plan
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan, plan


def test_q2_window_min_not_second_scan(spark):
    """Q2's correlated MIN subquery must decorrelate to ONE window over
    the joined relation — the plan has a Window node and exactly one
    partsupp feed (a naive translation scans partsupp twice).

    Round-15 shape: the derived partsupp arrives via the shared
    session-memoized cache (one InMemoryTableScan), so the
    lineitem distinct-pairs aggregation may appear ONLY inside the
    cached relation's stored build plan — never as a fresh scan chain
    in q2's own plan above it. (The old `count(ReadSchema) == 1`
    assertion broke because a materialized InMemoryRelation prints its
    AQE build plan twice — Final + Initial — for the one build.)"""
    plan = plan_of(spark, "tpch_q2")
    assert "Window" in plan, plan
    # exactly one partsupp feed, served by the shared cache
    assert plan.count("InMemoryTableScan") == 1, plan
    # no second derived-partsupp build outside the cache: q2's own plan
    # (everything above the InMemoryRelation subtree) never scans
    # lineitem's (l_partkey, l_suppkey) pair columns
    own_plan = plan.split("InMemoryRelation", 1)[0]
    assert "ReadSchema: struct<l_partkey:bigint,l_suppkey" not in own_plan, plan


def test_q9_broadcasts_dimensions(spark):
    plan = plan_of(spark, "tpch_q9")
    # part/supplier/nation broadcast; partsupp+orders joins shuffle
    assert plan.count("BroadcastHashJoin") >= 3, plan


def test_observe_metrics_collected(spark):
    """df.observe: named metrics computed during the job itself (no
    second scan) — the operational hook for row-count/invariant
    monitoring on production loads."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation("load_audit")
    df = (
        spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
        .observe(
            obs,
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("o_totalprice").cast("decimal(24,6)")).alias("total"),
        )
        .where(F.col("o_totalprice") > 0)
    )
    n_out = df.count()
    m = obs.get
    assert m["n_rows"] >= n_out
    assert m["total"] is not None and m["total"] > 0


def test_vocab_topk_take_ordered_and_broadcast_total(spark):
    plan = plan_of(spark, "text_vocab_topk")
    # global top-100 must be TakeOrderedAndProject (never a full sort),
    # and the one-row total must come in as a broadcast
    assert "TakeOrderedAndProject" in plan, plan
    assert "BroadcastExchange" in plan, plan


def test_mix_plan_broadcasts_totals_no_shuffle_join(spark):
    plan = plan_of(spark, "sample_mix_plan")
    assert "BroadcastExchange" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_bigram_lm_model_join_no_cartesian(spark):
    plan = plan_of(spark, "text_bigram_lm_score")
    assert "CartesianProduct" not in plan, plan
    assert "HashAggregate" in plan, plan


def test_contamination_grams_are_hashed_before_shuffle(spark):
    # gram keys must shuffle as int64 hashes, not strings (the 100 TB
    # shuffle-width guarantee) — xxhash64 appears in the projection
    plan = plan_of(spark, "text_contamination_check")
    assert "xxhash64" in plan, plan


def test_simhash_pair_dedup_carries_no_arrays(spark):
    # the pair-dedup aggregate must group bare (a_id, b_id) with the
    # precomputed hamming — the signature arrays stay out of the
    # final exchange (a distinct over array rows was 2x slower)
    # Order-robust: with a cold cache the pair dedup shuffles on
    # (a_id, b_id); with the signature relation already cached (stats
    # known) AQE may broadcast instead and no pair exchange exists at
    # all — either way, no exchange may carry the signature arrays.
    plan = plan_of(spark, "dedup_simhash")
    exchange_lines = [
        ln for ln in plan.splitlines() if "Exchange hashpartitioning" in ln
    ]
    pair_exchanges = [ln for ln in exchange_lines if "a_id" in ln]
    assert not any("chunks" in ln for ln in pair_exchanges), plan


def test_lsh_candidate_exchanges_carry_no_vectors(spark):
    """The multiprobe LSH candidate stage deduplicates on the bare
    (probe_id, neighbor_id) int pair; the embedding arrays re-attach
    AFTER candidate generation, so no shuffle exchange in the
    candidate subtree may carry the vector column (the 100 TB
    shuffle-width guarantee for the ANN path)."""
    import io
    from contextlib import redirect_stdout

    from uchr_scetl_spark.llm.similarity import _lsh_candidates

    from .conftest import SF_SMOKE

    df = _lsh_candidates(spark, SF_SMOKE)
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    # At tiny SF the single-partition scan may need no exchange at
    # all; the invariant is that WHEREVER an exchange exists in this
    # subtree, it carries only int keys — never the vector column.
    exchange_lines = [
        ln for ln in plan.splitlines() if "Exchange" in ln
    ]
    assert not any(
        " v#" in ln or "embedding" in ln for ln in exchange_lines
    ), plan
    # and the candidate output itself is the bare int pair
    assert [f.name for f in df.schema.fields] == ["probe_id", "neighbor_id"]


def test_span_dedup_spans_are_hashed_before_shuffle(spark):
    # span keys must shuffle as int64 xxhash64 values, not strings —
    # the same 100 TB shuffle-width guarantee as the contamination
    # check. Robust form: every attribute a hashpartitioning exchange
    # keys on must be LongType (the '#nL' exprId suffix) — a 'span not
    # in line' check was vacuous since no column carries that name,
    # and 'xxhash64 in plan' alone passes even if hashing happens
    # after the shuffle.
    import re

    plan = plan_of(spark, "text_span_dedup")
    assert "xxhash64" in plan, plan
    exchanges = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
    assert exchanges, plan
    for args in exchanges:
        for attr in re.finditer(r"\w+#\d+(L?)\b", args):
            assert attr.group(1) == "L", (args, plan)


def test_bloom_pruned_join_injects_runtime_filter(spark):
    """Under the bloom confs the optimizer must build a Bloom filter
    from the selective build side (bloom_filter_agg) and wrap the
    probe scan in might_contain — the row-level runtime pruning
    join_bloom_pruned exists to demonstrate."""
    from uchr_scetl_spark.operators.joins import bloom_pruned_join, bloom_session

    # same path the registry key takes: the memoized bloom child
    # session, so the session this test inspects is the session the
    # query runs on (the caller's session is never mutated — round 14)
    df = bloom_pruned_join(bloom_session(spark), SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "bloom_filter_agg" in plan, plan
    assert "might_contain" in plan, plan


def test_copurchase_edges_have_no_lineitem_self_join(spark):
    """The weighted co-purchase edge relation must come from the
    collect_set + in-row pair explode, never a lineitem self-join: the
    executed plan may contain NO join operator at all (the round-5
    edge-build rewrite this family standardised on — a join here means
    someone regressed to the O(parts-per-order²)-probe formulation).

    The edge memo is cleared first: a warm cache would collapse the
    build into an InMemoryTableScan and make the assertion vacuous
    (and dependent on which test ran before this one)."""
    clear_caches(SF_SMOKE)
    plan = plan_of(spark, "graph_copurchase_topk")
    for op in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin"):
        assert op not in plan, plan
    assert "Generate explode" in plan, plan


def test_bpe_topk_never_global_sorts(spark):
    """BPE's top-k must plan as TakeOrderedAndProject (size-k heap per
    partition, driver merge) — a global Sort of the pair-count
    relation would be the classic orderBy().limit() scale trap."""
    plan = plan_of(spark, "text_bpe_pair_counts")
    assert "TakeOrderedAndProject" in plan, plan
    assert "Sort " not in plan.replace("TakeOrderedAndProject", ""), plan


def test_bpe_merge_rounds_scan_corpus_once(spark):
    """The iterated BPE merge loop must read the documents parquet in
    exactly ONE scan node (the cached vocabulary build): every merge
    round re-reads the |vocab|-row InMemoryRelation, never the corpus.
    Each round's argmax must be a 1-row TakeOrderedAndProject and the
    re-segmentation a broadcast join (a shuffle join of vocab against
    the single merge row would be the scale regression).

    Runs against a PRIVATE copy of the corpus dir: with the shared
    SF_SMOKE path, another test's cached relation over the same
    documents scan can be cache-substituted into this plan's display
    and skew the node counts (order-dependent flake seen in the full
    suite)."""
    with copied_corpus("uchr_bpe_plan_") as out:
        df = REGISTRY["text_bpe_merge_rounds"].fn(spark, out)
        plan = df._jdf.queryExecution().executedPlan().toString()
        # round 15: training runs eagerly inside _bpe_train (R
        # bounded 1-row argmax collects over the cached vocabulary,
        # memoized per corpus), so the RETURNED merge table is one
        # JVM literal relation (exprs.literal_rows_df) — the corpus
        # appears nowhere in the result plan and nothing shuffles or
        # joins to produce three constant rows
        assert "documents.parquet" not in plan, plan
        # only the 3-row ORDER BY round sort may exchange — no
        # aggregation/join shuffle survives into the result plan
        assert "Exchange hashpartitioning" not in plan, plan
        assert "Join" not in plan, plan
        assert "Python" not in plan, plan  # no parallelize()-style RDD rows
        # the corpus was still scanned exactly ONCE — into the cached
        # vocabulary relation the trainer aggregates per round
        from uchr_scetl_spark.llm import text as T

        vocab = T._BPE_VOCAB.values(out)
        assert len(vocab) == 1, vocab
        vplan = vocab[0]._jdf.queryExecution().analyzed().toString()
        assert vplan.count("documents.parquet") <= 1, vplan
        assert [
            r for _, rows in T._BPE_TRAIN.values(out) for r in rows
        ], "train memo must hold the corpus's merges"


def test_distributed_quantile_windows_are_chunk_bounded(spark):
    """agg_percentile_exact_distributed's big-side window must be
    partitioned by (chunk, group) — a window partitioned by group
    alone would funnel whole groups through single tasks, the exact
    pathology the key exists to avoid. The sort feeding ranks must be
    a RANGE repartitioning on (group, value)."""
    plan = plan_of(spark, "agg_percentile_exact_distributed")
    assert "rangepartitioning(l_returnflag" in plan, plan
    import re

    rn = re.search(r"row_number\(\) windowspecdefinition\((\w+#\d+), (\w+#\d+)", plan)
    assert rn, plan


def test_distributed_quantile_targets_are_literal(spark):
    """Round-15 second cut: the rank→(chunk, local rank) map is
    computed on the driver from the bounded chunk-count collect, so
    the executed plan must carry NO BroadcastNestedLoopJoin (the old
    inequality join) and no offsets-cache window — the only Window
    left is the row_number over the targeted chunk-slices, and the
    target relation enters as a literal (a Generate over a one-row
    range, never a second pass over the persisted relation)."""
    plan = plan_of(spark, "agg_percentile_exact_distributed")
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert plan.count("Window") == 1, plan
    assert "Generate explode" in plan, plan


def test_weighted_median_windows_are_chunk_bounded(spark):
    """Same contract for the weighted generalization: the big-side
    running-weight window partitions by (chunk, group) over a RANGE
    repartitioning — two window-spec columns before the ORDER BY."""
    plan = plan_of(spark, "agg_weighted_median_distributed")
    assert "rangepartitioning(l_returnflag" in plan, plan
    import re

    rn = re.search(
        r"sum\(wt#\d+L?\) windowspecdefinition\((\w+#\d+), (\w+#\d+),", plan
    )
    assert rn, plan


def test_containment_join_carries_int_shingles_no_cartesian(spark):
    """dedup_containment's candidate stage must be the inverted-index
    hash join on int64-hashed shingles — an equi-join whose key is the
    long-typed tok column, never a Cartesian/BroadcastNestedLoop
    product of the document sides.

    Round-16 shape: the cap-filtered shingle-row relation is
    checkpoint-materialized once (the plan reads Scan ExistingRDD, not
    four replays of the explode+window subtree), so the xxhash64
    hashing itself lives in the CACHED shingled_docs build plan the
    checkpoint feeds from — asserted via the shingle memo, the same
    way the BPE test pins its vocabulary relation."""
    import re

    plan = plan_of(spark, "dedup_containment")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    # candidate equi-join keyed on the int64 shingle hash
    assert re.search(r"tok#\d+L", plan), plan
    # shingle subtree materialized once behind the checkpoint
    assert "Scan ExistingRDD" in plan, plan
    # the int64 hashing is real: the cached shingled_docs relation the
    # checkpoint was built from carries the xxhash64 projection
    from uchr_scetl_spark.llm import dedup as D

    sh_plans = [
        v._jdf.queryExecution().analyzed().toString()
        for v in D._SHINGLED.values(SF_SMOKE)
    ]
    assert sh_plans and any("xxhash64" in p for p in sh_plans), sh_plans


def test_triangle_count_wedges_from_collect_set(spark):
    """Triangle counting must finish by PER-EDGE INTERSECTION of
    broadcast out-adjacency arrays (array_intersect in-row — the
    wedge set is never materialized as rows), never an edge×edge
    self-join of raw lineitem: after clearing the shared edge memo
    the only Generate in the plan is the pair build's in-row explode,
    and no join keys on raw lineitem columns. (The deg annotation
    joins are equi-joins over the derived — cached — relations, not
    re-scans.)"""
    clear_caches(SF_SMOKE)
    plan = plan_of(spark, "graph_triangle_count")
    # every join operator in the plan works on DERIVED relations (deg
    # annotation, wedge-closing) — a raw-lineitem join key in any join
    # line means the edge or wedge build regressed to a self-join
    join_lines = [
        ln
        for ln in plan.splitlines()
        if "SortMergeJoin" in ln
        or "BroadcastHashJoin" in ln
        or "ShuffledHashJoin" in ln
    ]
    assert join_lines, plan
    for ln in join_lines:
        assert "l_orderkey" not in ln and "l_partkey" not in ln, ln
    assert "CartesianProduct" not in plan, plan
    assert "Generate explode" in plan, plan
    assert "array_intersect" in plan, plan


def test_scd2_pointintime_dim_is_broadcast_with_residual_validity(spark):
    """The point-in-time fact-to-SCD2 join must plan as a BROADCAST
    equi-join on the business key (the validity window rides along as
    a residual filter) — never a range/theta join (no nested-loop or
    cartesian operator over the fact table)."""
    plan = plan_of(spark, "etl_scd2_pointintime")
    assert "BroadcastHashJoin" in plan, plan
    for op in ("CartesianProduct", "BroadcastNestedLoopJoin"):
        assert op not in plan, plan


def test_hashing_features_exchanges_carry_long_keys_only(spark):
    """The hashing-trick featurizer's exchanges partition on
    (doc_id, bucket) then (bucket) — every hashpartitioning key must
    be LongType; raw token strings never cross a shuffle (the whole
    point of hashing before aggregating)."""
    import re

    plan = plan_of(spark, "text_hashing_features")
    exchanges = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
    assert exchanges, plan
    for args in exchanges:
        for attr in re.finditer(r"\w+#\d+(L?)\b", args):
            assert attr.group(1) == "L", (args, plan)


def test_kmeans_assign_is_joinless_single_exchange(spark):
    """The k-means assignment pass is a pure map against the K
    centroids (in-row zip_with fold), which since round 15 ride ONE
    one-row broadcast crossJoin (the scalar-attach idiom — data, not
    plan literals, so the codegen source is identical across Lloyd
    rounds and the janino cache absorbs rounds 2..N): the final
    query's plan may contain exactly ONE BroadcastNestedLoopJoin (the
    one-row centroid attach) and NO per-row join of a centroid
    RELATION, and its only shuffle is the K-row per-cluster stats
    aggregation (partial+final on `cluster`). A hash/sort-merge join
    or a second hash exchange means the scalar-attach formulation
    regressed to a real centroid-relation join."""
    clear_caches(SF_SMOKE)
    plan = plan_of(spark, "sim_kmeans_assign")
    for op in (
        "SortMergeJoin",
        "BroadcastHashJoin",
        "ShuffledHashJoin",
        "CartesianProduct",
    ):
        assert op not in plan, plan
    assert plan.count("BroadcastNestedLoopJoin") == 1, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "hashpartitioning(cluster" in plan, plan


def test_gram_matrix_shuffles_cells_not_vectors(spark):
    """The Gram pipeline's only shuffle is the (i, j) partial-cell
    aggregation AFTER the vectorized MapInPandas stage — the embedding
    arrays themselves never cross an exchange, and there is no join.
    (The exchange carrying `partial`/`i`/`j` integer cells is the whole
    point of batch-local partial aggregation.)"""
    plan = plan_of(spark, "embeddings_gram_matrix")
    assert "MapInPandas" in plan, plan
    for op in ("SortMergeJoin", "BroadcastHashJoin", "CartesianProduct"):
        assert op not in plan, plan
    exchanges = [
        seg.split("\n")[0]
        for seg in plan.split("Exchange hashpartitioning(")[1:]
    ]
    assert exchanges, plan
    for ex in exchanges:
        assert "qv" not in ex and "embedding" not in ex, ex


def test_association_rules_filter_before_item_joins_no_order_self_join(spark):
    """Rule mining rides the shuffle-free co-purchase pair build: no
    join in the plan may key on l_orderkey (an order-level self-join
    means the pair relation regressed), and the min-support filter
    must prune the pair side BEFORE the item-count joins (the filter
    appears below the joins in the executed plan, not above)."""
    clear_caches(SF_SMOKE)
    plan = plan_of(spark, "orders_association_rules")
    for ln in plan.splitlines():
        if "SortMergeJoin" in ln or "ShuffledHashJoin" in ln:
            assert "l_orderkey" not in ln, ln
    joins_at = plan.find("Join")
    sup_at = plan.find("(w")
    assert "(w" in plan and joins_at != -1, plan
    # the support predicate must sit strictly below the first join
    # operator in the tree printout (higher index = deeper)
    assert plan.find(">= 2") > joins_at, plan


def test_feature_pointintime_single_customer_exchange(spark):
    """Both window specs (the strictly-prior range frame and the
    recency lag) partition on o_custkey — the plan must contain
    exactly ONE hash exchange, on o_custkey, serving both sorts; a
    second exchange means the specs stopped sharing their
    partitioning."""
    plan = plan_of(spark, "etl_feature_pointintime")
    import re

    exchanges = re.findall(r"Exchange hashpartitioning\(([^,)]*)", plan)
    assert len(exchanges) == 1, plan
    assert exchanges[0].startswith("o_custkey"), plan


def test_cooccurrence_topk_in_row_pairs_heap_topk(spark):
    """Skip-gram pair generation must be the in-row nested-sequence
    explode (Generate), never a token-position self-join; the global
    top-k must compile to TakeOrderedAndProject (bounded heap), never
    a full sort."""
    plan = plan_of(spark, "text_cooccurrence_topk")
    assert "Generate" in plan, plan
    for op in ("SortMergeJoin", "ShuffledHashJoin", "CartesianProduct"):
        assert op not in plan, plan
    assert "TakeOrderedAndProject" in plan, plan


def test_ols_trend_broadcast_dim_single_brand_exchange(spark):
    """The part dimension join must broadcast (no fact shuffle on
    l_partkey) and the only hash exchange is the p_brand stats
    aggregation."""
    import re

    plan = plan_of(spark, "agg_group_ols_trend")
    assert "BroadcastHashJoin" in plan, plan
    exchanges = re.findall(r"Exchange hashpartitioning\(([^,)]*)", plan)
    assert len(exchanges) == 1, plan
    assert exchanges[0].startswith("p_brand"), plan


def test_bootstrap_means_in_row_amplification_single_exchange(spark):
    """The Poisson bootstrap must amplify rows IN-ROW (a Generate over
    the literal resample array — no join, no extra scan) and shuffle
    only the B partial rows per task: exactly one hash exchange, on
    the resample key."""
    import re

    plan = plan_of(spark, "agg_bootstrap_means")
    assert "Generate" in plan, plan
    for op in ("SortMergeJoin", "BroadcastHashJoin", "CartesianProduct"):
        assert op not in plan, plan
    exchanges = re.findall(r"Exchange hashpartitioning\(([^,)]*)", plan)
    assert len(exchanges) == 1, plan
    assert exchanges[0].startswith("resample"), plan


def test_anomaly_mad_runs_on_checkpointed_daily_relation(spark):
    """The med/dev/mad cascade must run on the materialized bounded
    (type, day) relation, not re-scan raw events per stage: the final
    plan contains NO events parquet scan (the single scan happened in
    the checkpoint job) and every join is a broadcast of per-type
    scalars."""
    plan = plan_of(spark, "events_anomaly_mad")
    assert "events.parquet" not in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert plan.count("BroadcastHashJoin") >= 2, plan


def test_ewma_single_exchange_no_arrays(spark):
    """win_ewma must plan as ONE exchange (the user_id window
    partitioning) and stay pure lag() arithmetic — no collect_list
    frame materialisation, no Generate, no join: at 100 TB the frame
    cost per row is O(EWMA_LAGS) registers inside codegen, nothing
    else."""
    plan = plan_of(spark, "win_ewma")
    assert plan.count("Exchange") == 1, plan
    assert "Window" in plan, plan
    assert "collect_list" not in plan, plan
    assert "Generate" not in plan, plan
    assert "Join" not in plan, plan


def test_random_projection_is_shuffle_free_map_pass(spark):
    """embeddings_random_projection embeds the ±1 matrix as plan
    literals: no join, no broadcast, no exchange — one codegen map
    pass over the corpus plus the posexplode to long format. Any
    Exchange here means the literal matrix regressed to a relation."""
    plan = plan_of(spark, "embeddings_random_projection")
    assert "Exchange" not in plan, plan
    assert "Join" not in plan, plan
    assert "Generate posexplode" in plan, plan


def test_jaccard_neighbors_broadcasts_probe_bounded_sides(spark):
    """graph_jaccard_neighbors' corpus-sized relations (undirected
    edges, degrees) must NEVER shuffle against each other: the probe
    adjacency and the probe-bounded common/degree relations broadcast,
    and no join line touches raw lineitem keys (the edge build is the
    shared memoized no-self-join relation)."""
    clear_caches(SF_SMOKE)
    plan = plan_of(spark, "graph_jaccard_neighbors")
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    for ln in plan.splitlines():
        if "SortMergeJoin" in ln or "ShuffledHashJoin" in ln:
            assert "l_orderkey" not in ln and "l_partkey" not in ln, ln


def test_ohlc_windows_and_agg_share_one_exchange(spark):
    """events_ohlc_resample's rank windows and the final aggregation
    group on the SAME (event_type, bucket) keys, so the whole candle
    build rides ONE exchange — a second exchange means the groupBy
    keys drifted from the window partition keys."""
    plan = plan_of(spark, "events_ohlc_resample")
    assert plan.count("Exchange") == 1, plan
    assert "Window" in plan, plan


def test_partition_skew_audit_is_one_pass_no_sort(spark):
    """etl_partition_skew_audit must cost one linear pass: per-day
    partial+final counts, single-row arithmetic, and a broadcast
    filter for the heaviest day — never a global Sort of the per-day
    relation."""
    plan = plan_of(spark, "etl_partition_skew_audit")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "TakeOrderedAndProject" not in plan, plan


def test_markov_journey_build_single_corpus_window_chain(spark):
    """events_attribution_markov's distributed half (_markov_ppm_df)
    must evaluate the corpus-sized journey window chain ONCE: pairs
    are emitted in-row (array+filter+explode), not via a 3-way union
    that replays the windows per branch. Exchange budget: the user_id
    window partitioning, the pair-count hash agg, and the tiny
    from_state ppm window — three, none carrying the corpus twice."""
    from uchr_scetl_spark.operators.analytics import _markov_ppm_df

    plan = (
        _markov_ppm_df(spark, SF_SMOKE)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Exchange") <= 3, plan
    assert plan.count("Generate") == 1, plan
    assert "Union" not in plan, plan


def test_cohort_ltv_exchange_budget(spark):
    """orders_cohort_ltv: cohort window (o_custkey), the
    (cohort, offset) aggregation, and the tiny cumulative window —
    three exchanges, none replaying the fact table."""
    plan = plan_of(spark, "orders_cohort_ltv")
    assert plan.count("Exchange") <= 3, plan
    assert plan.count("Window") == 2, plan
    assert "CartesianProduct" not in plan, plan


def test_gini_segment_single_rank_window(spark):
    """agg_gini_segment: per-customer revenue reduces BEFORE the
    segment rank window (the window sorts customers, never raw
    orders), and the Gini arithmetic is one hash aggregation —
    no Cartesian, one Window."""
    plan = plan_of(spark, "agg_gini_segment")
    assert plan.count("Window") == 1, plan
    assert "CartesianProduct" not in plan, plan
    assert plan.count("Exchange") <= 3, plan


def test_bot_burst_audit_single_exchange(spark):
    """events_bot_burst_audit: burst RANGE window and the per-user
    aggregation share the user_id partitioning — ONE exchange for the
    whole audit."""
    plan = plan_of(spark, "events_bot_burst_audit")
    assert plan.count("Exchange") == 1, plan
    assert "Window" in plan, plan


def test_reorder_interval_rank_pick_no_cartesian(spark):
    """orders_reorder_interval_stats: lag gaps on the o_custkey
    exchange, segment rank window over the reduced gap relation,
    |segments|-row output — no Cartesian, bounded exchange budget."""
    plan = plan_of(spark, "orders_reorder_interval_stats")
    assert plan.count("Exchange") <= 3, plan
    assert "CartesianProduct" not in plan, plan


def test_ngram_novelty_int64_gram_keys(spark):
    """text_ngram_novelty's first-occurrence groupBy and the join-back
    must shuffle xxhash64'd int64 gram keys, never gram strings; the
    gram generation is one in-row Generate."""
    plan = plan_of(spark, "text_ngram_novelty")
    assert "xxhash64" in plan, plan
    # static plan prints the explode once per consumer (groupBy +
    # join-back), the span_dedup-accepted shape; AQE stage reuse
    # dedupes at runtime
    assert plan.count("Generate") <= 2, plan
    assert "CartesianProduct" not in plan, plan


def test_affix_overlap_single_hash_join_no_explode(spark):
    """text_affix_overlap: one prefix key + one suffix key per doc
    (in-row slice+hash — NO token explode anywhere) meeting in a
    single hash equi-join."""
    plan = plan_of(spark, "text_affix_overlap")
    assert "Generate" not in plan, plan
    assert "xxhash64" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_ivm_join_terms_broadcast_deltas_no_base_self_join(spark):
    """etl_incremental_join_maintenance: the delta terms must join
    SMALL against big (broadcast of the delta-orders sides); no term
    may produce a Cartesian, and the whole 4-term union reduces in
    one final aggregation."""
    plan = plan_of(spark, "etl_incremental_join_maintenance")
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "Union" in plan, plan


def test_next_event_accuracy_prefix_matches_markov(spark):
    """events_next_event_accuracy: after the pair counts (user_id
    window exchange + one hash agg) everything is broadcast-sized —
    the predictor join must be a BroadcastHashJoin, never a shuffle
    of the tiny transition relation."""
    plan = plan_of(spark, "events_next_event_accuracy")
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_hazard_curve_global_window_sees_only_the_histogram(spark):
    """events_hazard_curve's single unpartitioned window (reverse
    cumsum) must run AFTER two hash aggregations — its input is the
    ≤|days|-row duration histogram, never per-user or raw-event
    rows."""
    plan = plan_of(spark, "events_hazard_curve")
    assert "Window" in plan, plan
    assert plan.count("HashAggregate") >= 4, plan  # 2 aggs x partial+final
    # the window must be above the last aggregate in the plan tree
    # (appears before it in the printed top-down order)
    assert plan.index("Window") < plan.index("HashAggregate"), plan


def test_gdpr_audit_broadcasts_deletion_list(spark):
    """etl_gdpr_delete_audit: the subjects list must reach every
    table as a BROADCAST semi/anti join — the corpus-sized tables
    never shuffle for the deletion check."""
    plan = plan_of(spark, "etl_gdpr_delete_audit")
    assert "LeftSemi" in plan, plan
    assert "LeftAnti" in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_recursive_cte_plans_union_loop(spark):
    """sql_recursive_cte must compile to Spark 4's UnionLoop physical
    operator (the native recursive-CTE executor) — not a hand-unrolled
    union tree."""
    plan = plan_of(spark, "sql_recursive_cte")
    assert "UnionLoop" in plan, plan


def test_active_users_rolling_explodes_not_range_joins(spark):
    """events_active_users_rolling: contribution days are emitted
    in-row (sequence+explode) — never a range join, so no
    BroadcastNestedLoopJoin anywhere; the only join is the broadcast
    semi filter against the tiny observed-days relation."""
    plan = plan_of(spark, "events_active_users_rolling")
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "Generate explode" in plan, plan
    assert "LeftSemi" in plan, plan


def test_pipeline_composes_to_single_scan_with_pushdown(spark):
    """The declarative Pipeline (Source → Transform → SqlTransform)
    must compile to ONE Catalyst plan over ONE source scan, with the
    filter declared in a LATER step pushed down into that scan —
    the 'steps are plan rewrites, not staged tables' contract."""
    from uchr_scetl_spark.plans.pipelines import orders_daily_pipeline

    p = orders_daily_pipeline(spark, SF_SMOKE, "/tmp/unused-pipeline-sink")
    df = p.plan(spark)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 1, plan
    pushed = plan.split("PushedFilters: ")[1:]
    assert pushed and any("o_orderdate" in s[:300] for s in pushed), plan
    # the SQL aggregate step runs inside the same plan: partial+final
    assert plan.count("HashAggregate") >= 2, plan


def test_bfs_hops_checkpoints_and_frontier_join_shape(spark):
    """graph_bfs_hops: (a) the final plan must be checkpoint-truncated
    (a union of checkpointed-RDD scans — NOT the unrolled per-level
    join tree, same contract as graph_pagerank); (b) one frontier
    expansion, built standalone from the same relations, must compile
    to an equi hash join + broadcast anti-join — never a nested loop
    or cartesian."""
    from pyspark.sql import functions as F

    from uchr_scetl_spark.operators.graph import _copurchase_weighted

    plan = plan_of(spark, "graph_bfs_hops")
    assert "Scan ExistingRDD" in plan, plan
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan, plan

    ew = _copurchase_weighted(spark, SF_SMOKE)
    edges = ew.select(F.col("a").alias("src"), F.col("b").alias("dst"))
    frontier = ew.agg(F.min("a").alias("part_id"))
    step = (
        edges.join(F.broadcast(frontier.select(F.col("part_id").alias("src"))), "src")
        .select(F.col("dst").alias("part_id"))
        .distinct()
        .join(F.broadcast(frontier), "part_id", "left_anti")
    )
    step_plan = step._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in step_plan, step_plan
    assert "LeftAnti" in step_plan, step_plan
    assert "BroadcastNestedLoopJoin" not in step_plan, step_plan
    assert "CartesianProduct" not in step_plan, step_plan


def test_did_lift_is_one_scan_no_joins(spark):
    """events_did_lift: the whole DiD readout must fold into
    aggregations over ONE events scan — no join anywhere (the 2x2
    pivot is a conditional aggregate, not a self-join per cell)."""
    plan = plan_of(spark, "events_did_lift")
    assert plan.count("Scan parquet") == 1, plan
    for op in ("Join", "CartesianProduct"):
        assert op not in plan, plan


def test_dimension_stats_aggregates_without_join(spark):
    """embeddings_dimension_stats: posexplode emits dim-tagged scalars
    in-row; the only shuffle is the |dims|-row final aggregate with a
    partial side — no join, one scan."""
    plan = plan_of(spark, "embeddings_dimension_stats")
    assert plan.count("Scan parquet") == 1, plan
    assert "Join" not in plan, plan
    assert "Generate posexplode" in plan, plan
    assert plan.count("HashAggregate") >= 2, plan


def test_publish_checksums_three_scans_no_join(spark):
    """etl_publish_checksums: three independent table scans, each
    reduced by a partial+final aggregate — no join anywhere, and each
    scan reads only the checksummed columns (pruning reaches the
    parquet reader)."""
    plan = plan_of(spark, "etl_publish_checksums")
    assert plan.count("Scan parquet") == 3, plan
    assert "Join" not in plan, plan
    assert plan.count("HashAggregate") >= 6, plan  # partial+final x3
    for seg in plan.split("ReadSchema: ")[1:]:
        head = seg.split("\n")[0]
        assert "o_comment" not in head and "l_comment" not in head, plan


def test_source_cap_two_pass_windows_are_salt_bounded(spark):
    """sample_source_cap: the first window must partition by the SALT
    as well as the group key (the skew split), the survivor relation
    feeds a second, group-only window, and the corpus-derived cap
    arrives via broadcast — never a shuffle join."""
    plan = plan_of(spark, "sample_source_cap")
    assert plan.count("RunningWindowFunction") >= 2 or plan.count("Window") >= 2, plan
    # salt appears in the first window's partition spec
    import re
    wins = [seg[:400] for seg in plan.split("Window ")[1:]]
    assert any("salt" in w for w in wins), plan
    assert "BroadcastNestedLoopJoin" in plan, plan  # the 1-row cap join
    assert "SortMergeJoin" not in plan, plan


def test_jaccard_spectrum_panel_is_takeordered_and_broadcast(spark):
    """dedup_pair_jaccard_spectrum: the fixed panel must be a
    TakeOrderedAndProject draw (bounded heap, no global sort), its
    postings must BROADCAST into the corpus inverted index, and the
    shingle relations must come from the shared session memo
    (InMemoryTableScan) — never a recomputed shingle subtree."""
    plan = plan_of(spark, "dedup_pair_jaccard_spectrum")
    assert "TakeOrderedAndProject" in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "InMemoryTableScan" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_segment_migration_broadcasts_totals_no_window(spark):
    """orders_segment_migration: segmenting must NOT use a global
    window (no Window node anywhere — the whole point vs textbook
    ntile); the 2-row period totals broadcast; the self-pair is an
    equi full-outer join."""
    plan = plan_of(spark, "orders_segment_migration")
    assert "Window" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "FullOuter" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_state_store_read_is_direct_scan(spark):
    """stream_state_store_read: the state read must be a direct
    StateScan + projection — no Exchange and no aggregate above it
    (state files are already partitioned by the shuffle that wrote
    them; one row per key arrives ready to serve)."""
    plan = plan_of(spark, "stream_state_store_read")
    assert "StateScan" in plan, plan
    assert "Exchange" not in plan, plan
    assert "HashAggregate" not in plan, plan


def test_interval_overlap_is_bucket_equi_join(spark):
    """join_interval_overlap: the interval x interval overlap must be
    a hash equi-join on the bucket id (both sides exploded in-row) —
    never a nested loop/cartesian — with the first-overlap-bucket
    residual doing pair-once dedup instead of a Distinct."""
    plan = plan_of(spark, "join_interval_overlap")
    assert "Generate explode" in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert ("SortMergeJoin" in plan) or ("BroadcastHashJoin" in plan) or (
        "ShuffledHashJoin" in plan
    ), plan
    assert "Distinct" not in plan, plan


def test_contrastive_negatives_excludes_via_broadcast_anti(spark):
    """sample_contrastive_negatives: the near-dup exclusion must be a
    BROADCAST anti-join (the verified-pair relation is |true dups|
    tiny), the hard-negative pick a per-anchor bounded window, and the
    shingle relations the shared memo (InMemoryTableScan) — no
    cartesian anywhere."""
    plan = plan_of(spark, "sample_contrastive_negatives")
    assert "LeftAnti, BuildRight" in plan, plan
    assert "InMemoryTableScan" in plan, plan
    assert "Window" in plan, plan
    assert "CartesianProduct" not in plan, plan
    # the hot-shingle valve must be IN the plan, not just the
    # docstring (the round-7 finding): the df filter's literal shows
    # up as a pushed comparison against NEG_SHINGLE_DF_CAP
    from uchr_scetl_spark.llm.sampling import NEG_SHINGLE_DF_CAP

    assert f"<= {NEG_SHINGLE_DF_CAP}" in plan, plan


def test_welch_ttest_single_scan_partial_agg(spark):
    """events_welch_ttest: all three sufficient statistics must ride
    ONE shuffle off one scan (partial+final aggregate), no join."""
    plan = plan_of(spark, "events_welch_ttest")
    assert plan.count("Scan parquet") == 1, plan
    assert "Join" not in plan, plan
    assert plan.count("HashAggregate") >= 2, plan


def test_expectations_suite_is_one_scan(spark):
    """etl_expectations_suite: N expectations must compile to ONE scan
    with one partial+final aggregate — adding a check adds a count_if
    column, never a pass over the data."""
    plan = plan_of(spark, "etl_expectations_suite")
    assert plan.count("Scan parquet") == 1, plan
    assert "Join" not in plan, plan
    assert plan.count("HashAggregate") >= 2, plan


def test_pq_assign_broadcasts_codebook(spark):
    """embeddings_pq_assign: the 16-row codebook must BROADCAST into
    the in-row m-explode (never a shuffle join of the corpus), the
    seed draw must be a bounded TakeOrderedAndProject, and the
    distance fold must stay JVM-side (no Python/pandas node)."""
    plan = plan_of(spark, "embeddings_pq_assign")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, plan
    assert "TakeOrderedAndProject" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "ArrowEvalPython" not in plan and "FlatMapGroupsInPandas" not in plan, plan


def test_pq_adc_search_broadcasts_distance_table(spark):
    """sim_topk_pq (round-15 shape): the codebook and the probe
    distance table ride one-row broadcast crossJoins
    (BroadcastNestedLoopJoin scalar attaches — data, not literals),
    codes and ADC scores are in-row folds, and the ONLY hash exchange
    left is the per-probe top-k window — no per-(m, k) hash join, no
    groupBy(vec_id) re-assembly shuffle, no Python node."""
    plan = plan_of(spark, "sim_topk_pq")
    assert "BroadcastNestedLoopJoin" in plan, plan
    for op in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin"):
        assert op not in plan, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "hashpartitioning(p_id" in plan, plan
    assert "Window" in plan, plan
    assert "ArrowEvalPython" not in plan and "FlatMapGroupsInPandas" not in plan, plan


def test_cusum_one_exchange_serves_all_windows(spark):
    """events_cusum_alarm: per-stream totals, prefix sum, running min,
    row number and the final aggregate must all ride ONE
    hashpartitioning(user_id) exchange — the CUSUM identity's whole
    point is that the sequential recursion became window algebra."""
    plan = plan_of(spark, "events_cusum_alarm")
    assert plan.count("Scan parquet") == 1, plan
    assert "Join" not in plan, plan
    import re
    n_user_exchanges = len(
        re.findall(r"Exchange hashpartitioning\(user_id", plan)
    )
    assert n_user_exchanges == 1, plan


def test_rolling_ols_single_window_pass(spark):
    """win_rolling_ols_slope: the rank and all four rolling sufficient
    statistics must ride ONE hashpartitioning(user_id) exchange and
    share WindowExec passes — no join, no second scan."""
    plan = plan_of(spark, "win_rolling_ols_slope")
    assert plan.count("Scan parquet") == 1, plan
    assert "Join" not in plan, plan
    import re
    assert len(re.findall(r"Exchange hashpartitioning\(user_id", plan)) == 1, plan


def test_ab_power_mde_single_user_shuffle(spark):
    """events_ab_power_mde: the activation window, per-user rollup and
    variant pivot must ride the user_id exchange chain off one scan —
    no join."""
    plan = plan_of(spark, "events_ab_power_mde")
    assert plan.count("Scan parquet") == 1, plan
    assert "Join" not in plan, plan
    assert "Window" in plan, plan


def test_topk_per_group_salted_is_two_bounded_windows(spark):
    """agg_topk_per_group_salted: the plan must be the salted TWO-PASS
    — two Window nodes (per-salt rank, then survivor re-rank), a
    deterministic hash salt (xxhash64, never rand), both rank filters
    present as pushed row_number predicates, and no join or cartesian
    anywhere (the survivor relation flows straight into pass 2)."""
    plan = plan_of(spark, "agg_topk_per_group_salted")
    assert plan.count("Window") >= 2, plan
    assert "xxhash64" in plan, plan
    assert "rand" not in plan.lower().replace("operand", ""), plan
    assert "Join" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    from uchr_scetl_spark.operators.aggregates import _TOPK_K

    assert f"<= {_TOPK_K}" in plan, plan


def test_shingle_df_profile_is_two_aggregates_no_join(spark):
    """dedup_shingle_df_profile: one partial+final count per shingle
    off the shared memoized shingle relation (InMemoryTableScan once
    the memo is materialized), one tiny band re-aggregate — no join,
    no window, no second documents scan."""
    # materialize the shared shingle memo first: plan_of compiles
    # before execution, and an unmaterialized .cache() still plans as
    # the parquet scan it wraps
    REGISTRY["dedup_shingle_df_profile"].fn(spark, SF_SMOKE).collect()
    plan = plan_of(spark, "dedup_shingle_df_profile")
    assert "InMemoryTableScan" in plan, plan
    assert plan.count("HashAggregate") >= 4, plan  # partial+final x2
    assert "Join" not in plan, plan
    assert "Window" not in plan, plan
    # the only parquet text allowed is the one INSIDE the cached
    # relation's stored build plan — no live scan above the memo
    live = plan.split("InMemoryRelation")[0]
    assert "Scan parquet" not in live, plan


def test_label_separation_reduces_before_pairing(spark):
    """embeddings_label_separation: the vector rows must reduce to the
    |labels|·d sums relation ONCE (eager localCheckpoint barrier —
    four consumers must not replicate the posexplode subtree), the
    pairwise stage must be an equi-join on dim, and every stat
    attachment a broadcast — no cartesian, no second corpus pass."""
    plan = plan_of(spark, "embeddings_label_separation")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert plan.count("BroadcastHashJoin") >= 4, plan
    # the corpus is scanned ONCE, inside the eager localCheckpoint of
    # the sums relation — the final plan reads only the checkpointed
    # 640-row ExistingRDD (without the barrier Catalyst replicated the
    # posexplode subtree per consumer: 7 parquet scans, measured)
    assert "Scan ExistingRDD" in plan, plan
    assert "Scan parquet" not in plan, plan
    assert "posexplode" not in plan, plan


def test_schema_evolution_merged_scan_is_one_pass(spark):
    """etl_schema_evolution_audit: the audit must be ONE partial+final
    aggregate over the merged scan (snap arrives as a hive partition
    column — no join, no per-snapshot pass), and the merged read must
    carry the evolved column."""
    plan = plan_of(spark, "etl_schema_evolution_audit")
    assert plan.count("Scan parquet") == 1, plan
    assert "o_orderstatus" in plan, plan
    assert plan.count("HashAggregate") >= 2, plan
    assert "Join" not in plan, plan


def test_observe_metrics_rides_the_single_scan(spark):
    """etl_observe_metrics: the telemetry must be a CollectMetrics
    node ON the load's one scan — zero extra scan, zero shuffle, no
    aggregate operator (accumulator-based), with the status filter
    still pushed into the scan beneath it."""
    from uchr_scetl_spark.operators.etl import observed_orders_load

    observed, _obs = observed_orders_load(spark, SF_SMOKE)
    plan = observed._jdf.queryExecution().executedPlan().toString()
    assert "CollectMetrics" in plan, plan
    assert plan.count("Scan parquet") == 1, plan
    assert "Exchange" not in plan, plan
    assert "HashAggregate" not in plan, plan
    assert "PushedFilters" in plan, plan


def test_sql_pipe_syntax_lowers_to_classic_plan(spark):
    """sql_pipe_syntax: pipes are pure surface syntax — the chain must
    lower to ONE partial+final aggregate over the pushed-down filtered
    scan with a bounded TakeOrdered tail, exactly the classic form's
    plan (no per-stage materialization, no extra exchange)."""
    plan = plan_of(spark, "sql_pipe_syntax")
    assert plan.count("HashAggregate") >= 2, plan
    assert "TakeOrderedAndProject" in plan, plan
    assert plan.count("Scan parquet") == 1, plan
    assert "PushedFilters" in plan, plan


def test_dedup_doc_ids_is_a_partial_aggregate(spark):
    """dedup_doc_ids: the struct-MIN survivor pick must be an ordinary
    partial+final aggregate on doc_id — a map-side partial_min, ONE
    exchange, and no Window (a row_number pick would rank-sort whole
    partitions and cannot combine map-side). Struct min lowers to
    SortAggregate (struct comparisons aren't hash-aggregatable); its
    Sort nodes are per-partition key sorts feeding the combine, not a
    global sort."""
    plan = plan_of(spark, "dedup_doc_ids")
    assert "partial_min" in plan, plan
    assert plan.count("SortAggregate") >= 2, plan
    assert plan.count("Exchange") == 1, plan
    assert "Window" not in plan, plan


def test_dedup_vec_ids_is_a_partial_aggregate(spark):
    """dedup_vec_ids: same contract as dedup_doc_ids — map-side
    partial_min, ONE exchange, no Window; the embedding array rides
    the aggregation buffer, never an explode."""
    plan = plan_of(spark, "dedup_vec_ids")
    assert "partial_min" in plan, plan
    assert plan.count("Exchange") == 1, plan
    assert "Window" not in plan, plan
    assert "Generate" not in plan, plan


def test_embeddings_dim_conform_is_one_pushed_scan(spark):
    """embeddings_dim_conform: admission filter + in-row norm fold —
    one parquet scan with the IS NOT NULL guard pushed down, zero
    exchanges, zero windows; the size()=64 predicate evaluates
    scan-side inside the same codegen stage."""
    plan = plan_of(spark, "embeddings_dim_conform")
    assert "Scan parquet" in plan, plan
    assert "Exchange" not in plan, plan
    assert "Window" not in plan, plan
    assert "PushedFilters: [IsNotNull(embedding)]" in plan, plan


def test_join_lateral_topk_decorrelates_to_window_join(spark):
    """join_lateral_topk: the lateral top-k must be a partitioned
    window (rank ≤ 2 per order key) feeding one equi-join, never a
    nested-loop re-scan per outer row. Round 12: the window's
    ordering must live INSIDE the window spec — Spark's native
    lateral ORDER BY + LIMIT decorrelation instead emits a GLOBAL
    range-sort on the price plus an orderless row_number that relies
    on arrival order surviving the exchange (order-unsound under
    spill/fetch nondeterminism; caught by the forced-spill gate), so
    the plan must show the ordered windowspec and must NOT contain
    the range-partitioned price sort."""
    plan = plan_of(spark, "join_lateral_topk")
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "Window" in plan, plan
    assert ("SortMergeJoin" in plan) or ("BroadcastHashJoin" in plan), plan
    assert "rangepartitioning(l_extendedprice" not in plan, plan
    assert "windowspecdefinition(l_orderkey" in plan and (
        "l_extendedprice" in plan.split("windowspecdefinition", 1)[1][:200]
    ), plan


def test_sql_parameterized_pushes_bound_predicates(spark):
    """sql_parameterized: named parameters resolve before
    optimization, so the bound price/status predicates must reach the
    parquet scan exactly like literals."""
    plan = plan_of(spark, "sql_parameterized")
    assert "PushedFilters" in plan, plan
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert any("o_totalprice" in ln and "o_orderstatus" in ln for ln in pushed), pushed


def test_win_gap_fill_locf_single_exchange_bounded_frame(spark):
    """win_gap_fill_locf: one hash exchange on user_id serves the
    single running ROWS frame; no extra shuffle, no global sort."""
    plan = plan_of(spark, "win_gap_fill_locf")
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "Window" in plan, plan


def test_sql_group_by_all_is_plain_two_phase_aggregate(spark):
    """sql_group_by_all: GROUP BY ALL resolves at analysis time to
    the explicit grouping list — partial+final hash aggregate over
    the pushed-down filtered scan, zero extra operators."""
    plan = plan_of(spark, "sql_group_by_all")
    assert plan.count("HashAggregate") >= 2, plan
    assert "PushedFilters" in plan, plan


def test_scan_xml_reads_with_explicit_schema(spark):
    """scan_xml: the re-read must be a native xml FileScan bound to
    the EXPLICIT 4-column schema (no inference pass), reading only
    the projected columns."""
    plan = plan_of(spark, "scan_xml")
    assert "xml" in plan.lower(), plan
    for c in ("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"):
        assert c in plan, (c, plan)


def test_stream_locf_state_is_a_partial_aggregate(spark):
    """stream_locf_state: counters + struct-argmax carried value must
    be one ordinary partial+final aggregate on user_id — ONE
    exchange, no window sort (struct max lowers to SortAggregate like
    the dedup_doc_ids struct-min)."""
    plan = plan_of(spark, "stream_locf_state")
    assert "partial_" in plan, plan
    assert plan.count("Exchange") == 1, plan
    assert "Window" not in plan, plan


def test_text_chunk_overlap_is_one_generate_zero_exchanges(spark):
    """text_chunk_overlap: the chunk manifest must be pure in-row
    algebra — one pushed-down scan (IsNotNull(text), 2 of 5 columns),
    one Generate for the window indices, ZERO exchanges/joins/windows;
    at 100 TB the chunker is exactly as parallel as the scan."""
    plan = plan_of(spark, "text_chunk_overlap")
    assert "Exchange" not in plan, plan
    assert "Generate" in plan, plan
    assert "Join" not in plan, plan
    assert "Window" not in plan, plan
    assert "PushedFilters: [IsNotNull(text)]" in plan, plan
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in plan, plan


def test_csv_roundtrip_read_is_per_file_parallel_csv_scan(spark):
    """sink_csv_roundtrip_text: the re-read must be a native csv
    FileScan bound to the explicit 5-column documents schema — no
    inference pass, no shuffle."""
    plan = plan_of(spark, "sink_csv_roundtrip_text")
    assert "csv" in plan.lower(), plan
    assert "Exchange" not in plan, plan
    for c in ("doc_id", "text", "lang", "source", "n_chars"):
        assert c in plan, (c, plan)


def test_dedup_chunk_exact_is_two_phase_distinct_aggregate(spark):
    """dedup_chunk_exact: zero-shuffle manifest + the standard
    bounded-memory count-distinct shape — partial aggregation on the
    (chunk_md5, doc_id) pair, then the final group on chunk_md5:
    exactly TWO exchanges, no Expand, no Window, no Join."""
    plan = plan_of(spark, "dedup_chunk_exact")
    assert plan.count("Exchange hashpartitioning") == 2, plan
    assert "partial_count" in plan, plan
    assert "Expand" not in plan, plan
    assert "Window" not in plan and "Join" not in plan, plan


def test_graph_broadcast_gate_degrades_and_value_matches(spark, monkeypatch):
    """The graph family's node-sized broadcast hints are SIZE-GATED
    (round 13): an explicit hint is honored regardless of size, so the
    documented "degrades to a co-partitioned equi-join at 100 TB"
    story is only true if the hint itself is conditional. Three
    claims, all checked here:

    1. at test scale the gate is open (the hinted fast path — the
       other plan tests in this file assert those exact shapes);
    2. `_bcast_if` under a closed gate returns the UNHINTED frame
       (strategy choice falls to AQE runtime stats — no forced build);
    3. with the gate forced closed, every gated graph key produces a
       bit-identical canonical digest — the degradation is a plan
       change only, never a value change.
    """
    import uchr_scetl_spark.operators.graph as G

    from .spill_harness import canonical_digest

    assert G._copurchase_is_small(spark, SF_SMOKE) is True

    df = REGISTRY["graph_degree_distribution"].fn(spark, SF_SMOKE)
    assert G._bcast_if(df, False) is df  # no hidden hint on the slow path

    keys = [
        "graph_pagerank",
        "graph_triangle_count",
        "graph_bfs_hops",
        "graph_jaccard_neighbors",
    ]
    hinted = {k: canonical_digest(REGISTRY[k].fn(spark, SF_SMOKE)) for k in keys}

    monkeypatch.setattr(G, "_BCAST_EDGE_GATE", -1)
    assert G._copurchase_is_small(spark, SF_SMOKE) is False
    for k in keys:
        assert (
            canonical_digest(REGISTRY[k].fn(spark, SF_SMOKE)) == hinted[k]
        ), k
