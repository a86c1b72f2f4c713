"""§2.9 similarity search over the `embeddings` vector table.

Cosine arithmetic is pure JVM-side higher-order-function algebra
(``zip_with`` products folded with ``aggregate``), mirrored term-for-
term by DuckDB's ``list_dot_product`` — verified bit-exact, so the
brute-force operators are fully SQL-checked. Norms are projected ONCE
per vector before any pairwise join (recomputing them per pair tripled
the pairwise operators' cost at sf0.1).

Scale design: brute force is the *correctness baseline* and is only
ever probe-bounded (small probe set × corpus = a broadcast join, one
pass over the corpus, no shuffle of the big side). The 100 TB path is
``sim_topk_lsh``: random-hyperplane signatures bucket the corpus
(linear scan, deterministic literal hyperplanes), probes search only
their bucket — candidate volume drops by the bucket fan-out and the
expensive exact re-rank runs on a tiny candidate set. Swapping the
hyperplane prefilter for IVF/e.g. a learned coarse quantizer changes
only the bucket-assignment expression.
"""

from __future__ import annotations

import math

import numpy as np

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..io import load
from ..memo import Memo
from ..registry import query
from ..session import stable_checkpoint

N_PROBES = 5  # probe set: vec_id < 5
TOP_K = 3
N_HYPERPLANES = 8  # 256 LSH buckets

# The embeddings table's model-dimension contract. Every operator
# that works IN the fixed-dimension model space (cosine/dot scoring,
# centroids, k-means, PQ subspaces, LSH hyperplanes, the d×d Gram,
# the 64→16 random projection) quarantines vectors of any other
# width at its load point — a re-run encoder at a different width is
# the same at-least-once ingest reality as the duplicate-id axes,
# and the round-10 mixed-dimension sweep showed the alternatives are
# all worse: ragged numpy batches crash, DuckDB's list_dot_product
# raises on length mismatch, and two keys silently mis-indexed.
# Quarantined rows stay observable via embeddings_vector_qa's
# n_dim_mismatch counter and recoverable via embeddings_dim_conform.
# Dim-AGNOSTIC keys (per-dimension stats, per-vector quantize/
# truncate/QA) deliberately do NOT conform — mixed input is
# well-defined for them and the sweep proved them engine-exact raw.
EMB_DIM = 64
EMB_CONFORM_SQL = f"embedding IS NOT NULL AND len(embedding) = {EMB_DIM}"


def emb_conform() -> F.Column:
    """Spark mirror of ``EMB_CONFORM_SQL`` — the model-space
    admission predicate."""
    return F.col("embedding").isNotNull() & (
        F.size("embedding") == EMB_DIM
    )


# Cosine-space admission (round-11 zero-norm axis): cosine is
# UNDEFINED on a zero-norm vector, and the engines disagree on the
# failure mode — Spark ANSI double division RAISES DIVIDE_BY_ZERO
# (one broken encoder row kills the whole similarity job) while
# DuckDB silently yields NULL. Every key that divides by a norm
# therefore admits only vectors with a computable norm (the sum of
# squares both engines evaluate identically, so admission is
# engine-exact); dot-only keys (k-means argmax, PQ distances, gram,
# centroids) stay on emb_conform — zero vectors are well-defined
# there. Quarantined rows remain observable via embeddings_vector_qa
# and recoverable via embeddings_dim_conform.
#
# Round-12 (NULL-component axis, per ADVICE): the DuckDB spelling is
# a CASE-guarded list_reduce rather than list_dot_product, because
# list_dot_product RAISES on a vector with a NULL component while
# Spark's aggregate fold NULL-propagates (NULL > 0 → row filtered) —
# on a partially-failed-encoder corpus the oracle died where Spark
# quarantined. list_reduce over x*x is the SAME sequential
# left-to-right double fold Spark evaluates (bit-equal sum, so the
# > 0 admission is engine-exact) and NULL-propagates identically, so
# NULL-component vectors now quarantine on BOTH engines. The CASE
# len >= 1 guard exists only because list_reduce raises on an empty
# list and DuckDB's AND does not short-circuit (verified: a
# len-guard conjunct does NOT protect the right operand); an empty
# or NULL vector yields CASE → NULL → filtered, matching Spark's
# 0-or-NULL fold. Pinned by tests/test_null_component_cosine.py.
COS_CONFORM_SQL = (
    EMB_CONFORM_SQL
    + " AND CASE WHEN len(embedding) >= 1 THEN"
    + " list_reduce(list_transform(CAST(embedding AS DOUBLE[]),"
    + " x -> x * x), (a, b) -> a + b) END > 0"
)


def cos_conform() -> F.Column:
    """Spark mirror of ``COS_CONFORM_SQL`` — the cosine-space
    admission predicate (model space + nonzero computable norm)."""
    return emb_conform() & (
        F.expr(
            "aggregate(zip_with(CAST(embedding AS ARRAY<DOUBLE>),"
            " CAST(embedding AS ARRAY<DOUBLE>), (x, y) -> x * y),"
            " 0D, (acc, x) -> acc + x)"
        )
        > 0
    )

_DOT = "aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0D, (acc, x) -> acc + x)"


def dot_expr(a: str, b: str) -> F.Column:
    """Sequential left-to-right double dot product (bit-equal to
    DuckDB's list_dot_product on DOUBLE[])."""
    return F.expr(_DOT.format(a=a, b=b))


def cosine_expr(a: str, b: str) -> F.Column:
    return dot_expr(a, b) / (
        F.sqrt(dot_expr(a, a)) * F.sqrt(dot_expr(b, b))
    )


_SQL_DOT = "list_dot_product({a}, {b})"


def sql_cosine(a: str, b: str) -> str:
    d = _SQL_DOT
    return (
        f"({d.format(a=a, b=b)} / "
        f"(sqrt({d.format(a=a, b=a)}) * sqrt({d.format(a=b, b=b)})))"
    )


@query(
    "sim_topk",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v,
             sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                   CAST(embedding AS DOUBLE[]))) AS nrm
      FROM embeddings WHERE {COS_CONFORM_SQL}
    ), probes AS (
      SELECT vec_id AS probe_id, v AS pv, nrm AS pnrm
      FROM e WHERE vec_id < {N_PROBES}
    ), scored AS (
      SELECT p.probe_id, e.vec_id AS neighbor_id, e.label,
             (list_dot_product(p.pv, e.v) / (p.pnrm * e.nrm)) AS cosine
      FROM probes p JOIN e ON e.vec_id <> p.probe_id
    )
    SELECT probe_id, neighbor_id, label, cosine
    FROM scored
    QUALIFY row_number() OVER (PARTITION BY probe_id
                               ORDER BY cosine DESC, neighbor_id) <= {TOP_K}
    """,
)
def sim_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force top-k cosine neighbours for a bounded probe set.

    The probe side is broadcast, so the corpus is scanned once with no
    shuffle; the per-probe top-k is a bounded window over ≤|corpus|
    rows per probe."""
    e = load(spark, sf_dir, "embeddings").where(cos_conform()).withColumn(
        "v", F.col("embedding").cast("array<double>")
    ).withColumn("nrm", F.sqrt(dot_expr("v", "v")))
    probes = e.where(F.col("vec_id") < N_PROBES).select(
        F.col("vec_id").alias("probe_id"),
        F.col("v").alias("pv"),
        F.col("nrm").alias("pnrm"),
    )
    scored = (
        F.broadcast(probes)
        .join(e, F.col("vec_id") != F.col("probe_id"))
        .select(
            "probe_id",
            F.col("vec_id").alias("neighbor_id"),
            "label",
            (dot_expr("pv", "v") / (F.col("pnrm") * F.col("nrm"))).alias("cosine"),
        )
    )
    w = Window.partitionBy("probe_id").orderBy(
        F.col("cosine").desc(), "neighbor_id"
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= TOP_K)
        .select("probe_id", "neighbor_id", "label", "cosine")
    )


def _normed(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load(spark, sf_dir, "embeddings").where(cos_conform())
        .withColumn("v", F.col("embedding").cast("array<double>"))
        .withColumn("nrm", F.sqrt(dot_expr("v", "v")))
    )


# Safety margin for the numpy prefilter: the blocked-matmul cosine and
# the sequential-fold cosine are the same 64-term double sum in
# different association orders — they differ by ≤ ~64·ε ≈ 1e-14
# relative, so τ−1e-9 can never drop a pair the exact fold accepts.
_PREFILTER_MARGIN = 1e-9


def _pair_candidates(e: DataFrame, tau: float) -> DataFrame:
    """Candidate (a_id, b_id) pairs with cosine ≥ τ−margin, one numpy
    pairwise matmul per label group (``applyInPandas``).

    This replaces a row-per-pair self-join: for a group of n vectors
    the join materialises n²/2 rows each carrying two full vectors
    through the shuffle, and evaluates the interpreted fold on every
    one (measured 2.3 s for 200 k pairs at sf0.1); the grouped matmul
    moves only n vectors per group and emits just the surviving id
    pairs (~0.7 % here). Groups are label-bounded, so per-task memory
    is O(group²) booleans — the same bound the join variant already
    implied by shuffling on label. Survivors are re-scored with the
    bit-exact sequential fold, so results are UNCHANGED — the matmul
    is only a pruner."""
    import pandas as pd

    def emit(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values("vec_id")
        ids = pdf["vec_id"].to_numpy()
        if len(ids) < 2:
            return pd.DataFrame({"a_id": [], "b_id": []}).astype("int64")
        M = np.stack(pdf["v"].to_numpy())
        nrm = pdf["nrm"].to_numpy()
        cos = (M @ M.T) / np.outer(nrm, nrm)
        ai, bi = np.triu_indices(len(ids), k=1)
        keep = cos[ai, bi] >= tau - _PREFILTER_MARGIN
        return pd.DataFrame({"a_id": ids[ai[keep]], "b_id": ids[bi[keep]]})

    return e.select("label", "vec_id", "v", "nrm").groupBy("label").applyInPandas(
        emit, "a_id long, b_id long"
    )


@query(
    "sim_pairwise_threshold",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v,
             sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                   CAST(embedding AS DOUBLE[]))) AS nrm
      FROM embeddings WHERE {COS_CONFORM_SQL}
    )
    SELECT a.vec_id AS a_id, b.vec_id AS b_id, a.label,
           (list_dot_product(a.v, b.v) / (a.nrm * b.nrm)) AS cosine
    FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE (list_dot_product(a.v, b.v) / (a.nrm * b.nrm)) >= 0.3
    """,
)
def sim_pairwise_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All pairs with cosine ≥ τ *within a label group* — the group
    bound is what keeps the problem sub-quadratic in the corpus
    (pairwise only inside each group). Candidates come from the
    grouped-matmul pruner; the reported cosine is the bit-exact
    sequential fold, evaluated only on survivors."""
    e = _normed(spark, sf_dir)
    cand = _pair_candidates(e, 0.3)
    a = e.select(
        F.col("vec_id").alias("a_id"),
        F.col("label"),
        F.col("v").alias("av"),
        F.col("nrm").alias("anrm"),
    )
    b = e.select(
        F.col("vec_id").alias("b_id"),
        F.col("v").alias("bv"),
        F.col("nrm").alias("bnrm"),
    )
    cos = dot_expr("av", "bv") / (F.col("anrm") * F.col("bnrm"))
    return (
        cand.join(a, "a_id")
        .join(b, "b_id")
        .where(cos >= 0.3)
        .select("a_id", "b_id", "label", cos.alias("cosine"))
    )


@query(
    "dedup_embedding",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v,
             sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                   CAST(embedding AS DOUBLE[]))) AS nrm
      FROM embeddings WHERE {COS_CONFORM_SQL}
    ), dup_pairs AS (
      SELECT b.vec_id AS b_id
      FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
      WHERE (list_dot_product(a.v, b.v) / (a.nrm * b.nrm)) >= 0.45
    )
    SELECT e.vec_id, e.label FROM e
    WHERE e.vec_id NOT IN (SELECT b_id FROM dup_pairs)
    """,
)
def dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup removal: within each label group, drop
    every vector that is ≥ τ-similar to a lower-id vector (anti-join
    against the duplicate side of the pair relation). Candidate pairs
    come from the grouped-matmul pruner; the threshold decision is
    re-verified with the bit-exact sequential fold so the boundary
    matches the SQL oracle exactly."""
    e = _normed(spark, sf_dir)
    cand = _pair_candidates(e, 0.45)
    a = e.select(
        F.col("vec_id").alias("a_id"),
        F.col("v").alias("av"),
        F.col("nrm").alias("anrm"),
    )
    b = e.select(
        F.col("vec_id").alias("b_id"),
        F.col("v").alias("bv"),
        F.col("nrm").alias("bnrm"),
    )
    cos = dot_expr("av", "bv") / (F.col("anrm") * F.col("bnrm"))
    dup_ids = (
        cand.join(a, "a_id")
        .join(b, "b_id")
        .where(cos >= 0.45)
        .select(F.col("b_id").alias("vec_id"))
    )
    return e.join(dup_ids, "vec_id", "left_anti").select("vec_id", "label")


N_CENTROIDS = 8  # IVF coarse-quantizer cells
N_PROBE_CELLS = 2  # nprobe: cells searched per probe
# One Lloyd iteration: offline sweep against the exact top-3 at sf0.1
# measured recall@3 = 15/15 for 0, 1, 2 and 4 iterations alike at
# nprobe=2 (the exact re-rank inside probed cells dominates; extra
# iterations only move cell BOUNDARIES). One iteration keeps a genuine
# k-means step while capping the blocking driver round-trips at two:
# the init collect + one centroid-table collect (C×dim doubles each —
# the same thing MLlib KMeans collects per iteration).
KMEANS_ITERS = 1


# One normalized-vector relation per sf_dir, cached and shared by every
# IVF phase (init scan, Lloyd iteration, corpus assign, probe assign) —
# the MLlib-KMeans pattern: persist the feature vectors once, iterate
# over the cached relation. Normalization is pure JVM array algebra
# (sqrt-of-dot + transform divide): a pandas_udf here cost a Python
# worker round-trip on every pass over the base.
_IVF_BASE = Memo()


def _ivf_base(spark: SparkSession, sf_dir: str) -> DataFrame:
    def _build() -> DataFrame:
        return (
            load(spark, sf_dir, "embeddings")
            .where(cos_conform())
            .withColumn("v", F.col("embedding").cast("array<double>"))
            .withColumn("nrm", F.sqrt(dot_expr("v", "v")))
            .select(
                "vec_id",
                "label",
                F.when(
                    F.col("nrm") > 0,
                    F.transform("v", lambda x: x / F.col("nrm")),
                )
                .otherwise(F.col("v"))
                .alias("vn"),
            )
            .cache()
        )

    return _IVF_BASE.get(spark, sf_dir, build=_build)


def _cells_udf(cents: list[list[float]], nprobe: int):
    """The nprobe nearest 1-indexed cell ids per vector, as one array
    column: a single numpy matmul per Arrow batch against the
    closure-captured centroid matrix (a pure-SQL broadcast-join argmax
    was tried in round 4 and measured 2.5× slower end-to-end — the HOF
    dot fold is interpreted and every extra join/window adds a job's
    fixed overhead; a literal-centroid HOF formulation before that
    measured ~2 ms/row). Stable argsort → ties to the lowest cell
    id (deterministic)."""
    C = np.asarray(cents)

    @F.pandas_udf("array<int>")
    def cells_of(v):
        import pandas as pd

        if len(v) == 0:
            return pd.Series([], dtype=object)
        M = np.stack(v.to_numpy())
        order = np.argsort(-(M @ C.T), axis=1, kind="stable")[:, :nprobe] + 1
        return pd.Series([row.tolist() for row in order])

    return cells_of


# Centroids memoized per (applicationId, sf_dir): k-means init is
# deterministic (lowest-vec_id seeds, no rand()), so the centroid list
# is a pure function of the corpus — caching it is semantics-free and
# removes BOTH driver round-trips from every warm call (the recall
# test, bench reps, and any pipeline running IVF more than once per
# session). The 100 TB analogue: persist the trained coarse quantizer
# alongside the index, never re-train per query.
_IVF_CENTROIDS = Memo()


def _ivf_centroids(spark: SparkSession, sf_dir: str, e: DataFrame) -> list[list[float]]:
    """Deterministic mini k-means over UNIT vectors. Exactly TWO
    blocking driver round-trips for the whole IVF path, both bounded
    by C×dim doubles — the same thing MLlib KMeans collects per
    iteration, so the pattern holds at 100 TB:

    - init: the C lowest-vec_id vectors (seeded-deterministic corpus →
      deterministic; no rand()), fetched with limit pushdown;
    - one Lloyd round: assign = one vectorized numpy pass over the
      cached corpus, update = posexplode → groupBy(cell, dim) avg —
      the shuffle carries C×dim partial sums, never the vectors —
      collected as the final centroid table."""

    def _build() -> list[list[float]]:
        init = e.orderBy("vec_id").limit(N_CENTROIDS).select("vn").collect()
        cents = [list(r.vn) for r in init]
        if not cents:  # empty corpus: nothing to cluster
            return []
        for _ in range(KMEANS_ITERS):
            cell = F.element_at(_cells_udf(cents, 1)(F.col("vn")), 1)
            sums = (
                e.select(cell.alias("cell"), F.posexplode("vn").alias("pos", "x"))
                .groupBy("cell", "pos")
                .agg(F.avg("x").alias("m"))
                .collect()
            )
            by_cell: dict[int, dict[int, float]] = {}
            for r in sums:
                by_cell.setdefault(r.cell, {})[r.pos] = r.m
            new = []
            for j in range(N_CENTROIDS):
                if (j + 1) in by_cell:
                    d = by_cell[j + 1]
                    v = np.array([d[p] for p in sorted(d)])
                    n = float(np.linalg.norm(v))
                    new.append((v / n).tolist() if n > 0 else cents[j])
                else:  # empty cell keeps its previous centroid
                    new.append(cents[j])
            cents = new
        return cents

    # the build collects under the memo lock — bounded (C×dim doubles,
    # the documented exception) and intended: concurrent callers must
    # not run duplicate k-means jobs
    return _IVF_CENTROIDS.get(spark, sf_dir, build=_build)


@query("sim_topk_ivf", tags=("rows-only",))
def sim_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale-path ANN #2: IVF — k-means coarse quantizer, nprobe-bounded
    search, exact re-rank inside the probed cells.

    Complements ``sim_topk_lsh``: LSH buckets are data-independent;
    IVF cells adapt to the corpus distribution (better recall per
    candidate at equal fan-out). Corpus and probe cell assignment is
    ONE shared vectorized pass (array of nprobe nearest cells per
    vector; corpus keeps element 1, probes explode the full array), so
    the final job runs a single Python stage. Driver round-trips:
    exactly two, both the C×dim centroid table (see _ivf_centroids).
    Candidate volume ~|corpus|·nprobe/C; measured recall@3 = 15/15 at
    sf0.1 (asserted ≥13/15 in tests/test_similarity.py). rows-only:
    approximate by construction."""
    e = _ivf_base(spark, sf_dir)
    cents = _ivf_centroids(spark, sf_dir, e)
    if not cents:  # empty corpus: no centroids, no neighbours
        return spark.createDataFrame(
            [], "probe_id bigint, neighbor_id bigint, cosine double"
        )
    hashed = e.select(
        "vec_id", "vn", _cells_udf(cents, N_PROBE_CELLS)(F.col("vn")).alias("cells")
    )
    corpus = hashed.select(
        "vec_id", "vn", F.element_at("cells", 1).alias("cell")
    )
    probes = hashed.where(F.col("vec_id") < N_PROBES).select(
        F.col("vec_id").alias("probe_id"),
        F.col("vn").alias("pv"),
        F.explode("cells").alias("pcell"),
    )
    scored = (
        F.broadcast(probes)
        .join(
            corpus,
            (F.col("pcell") == F.col("cell"))
            & (F.col("vec_id") != F.col("probe_id")),
        )
        .select(
            "probe_id",
            F.col("vec_id").alias("neighbor_id"),
            dot_expr("pv", "vn").alias("cosine"),
        )
    )
    w = Window.partitionBy("probe_id").orderBy(F.col("cosine").desc(), "neighbor_id")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= TOP_K)
        .select("probe_id", "neighbor_id", "cosine")
        .orderBy("probe_id", "neighbor_id")
    )


def _hyperplanes(dim: int = 64, n: int = N_HYPERPLANES) -> list[list[float]]:
    """Deterministic random hyperplanes (fixed seed) baked into the
    plan as literals — every executor sees identical planes with no
    broadcast variable or driver round-trip."""
    rng = np.random.default_rng(42)
    return rng.standard_normal((n, dim)).tolist()


# L×b×multiprobe tuned by exhaustive offline sweep against the exact
# top-3 at sf0.1 (2000×64). The synthetic embeddings are near-uniform
# on the sphere — true neighbours (cos 0.34-0.42) sit INSIDE the
# background tail (p999 = 0.39) — LSH's worst case. Measured recall@3
# / candidate volume (fraction of brute force) at that corpus:
#   16×6,  r=0 (round 3): 10/15 @ 24%
#   16×10, r=1:           11/15 @ 18%
#   48×16, r=2:           13/15 @ 13%
#   64×16, r=2:           15/15 @ 17%   ← chosen
# Multiprobe is PROBE-SIDE only: each probe additionally searches every
# bucket within Hamming radius r of its own signature in each table
# (1 + b + C(b,2) = 137 buckets/table at r=2) — recall that would
# otherwise need ~8× more tables, at zero extra corpus storage. On
# clustered real-world embeddings the same code runs fewer tables at
# equal recall; L is the storage/recall dial (the corpus index stores
# L entries per vector).
LSH_TABLES = 64  # L independent hash tables ...
LSH_BITS = 16  # ... of b sign-bits each (65536 buckets/table)
LSH_MULTIPROBE_RADIUS = 2  # probe-side Hamming radius


def _multiprobe_masks(bits: int, radius: int) -> list[int]:
    """XOR masks enumerating the Hamming ball of the given radius."""
    from itertools import combinations

    masks = [0]
    if radius >= 1:
        masks += [1 << j for j in range(bits)]
    if radius >= 2:
        masks += [(1 << j) | (1 << k) for j, k in combinations(range(bits), 2)]
    return masks


def _lsh_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deduped (probe_id, neighbor_id) LSH candidate pairs — the
    recall/cost-defining stage, exposed for the recall test to measure
    candidate volume directly."""
    e = load(spark, sf_dir, "embeddings").where(cos_conform()).withColumn(
        "v", F.col("embedding").cast("array<double>")
    )
    planes = _hyperplanes(n=LSH_TABLES * LSH_BITS)
    H = np.asarray(planes)  # (L*b, dim), rows grouped by table
    probe_masks = np.asarray(
        _multiprobe_masks(LSH_BITS, LSH_MULTIPROBE_RADIUS), dtype=np.int64
    )
    table_base = (np.arange(LSH_TABLES, dtype=np.int64) << LSH_BITS)  # (L,)

    def _signatures(M: "np.ndarray") -> "np.ndarray":
        bits = (M @ H.T >= 0).astype(np.int64).reshape(
            len(M), LSH_TABLES, LSH_BITS
        )
        return bits @ (1 << np.arange(LSH_BITS))  # (n, L)

    @F.pandas_udf("array<int>")
    def buckets_of(v):
        """Corpus side: L keyed buckets per vector (table index packed
        into the high bits so one int column keys the join)."""
        import pandas as pd

        if len(v) == 0:
            return pd.Series([], dtype=object)
        keyed = _signatures(np.stack(v.to_numpy())) + table_base
        return pd.Series([row.tolist() for row in keyed.astype("int32")])

    @F.pandas_udf("array<int>")
    def probe_buckets_of(v):
        """Probe side: the full Hamming-r multiprobe fan-out —
        L × |masks| keyed buckets per probe vector."""
        import pandas as pd

        if len(v) == 0:
            return pd.Series([], dtype=object)
        packed = _signatures(np.stack(v.to_numpy()))  # (n, L)
        # (n, L, masks): base signature XOR each ball mask, then key
        fan = (packed[:, :, None] ^ probe_masks[None, None, :]) + table_base[
            None, :, None
        ]
        return pd.Series(
            [row.ravel().tolist() for row in fan.astype("int32")]
        )

    corpus = e.select(
        "vec_id", F.explode(buckets_of(F.col("v"))).alias("bucket")
    )
    probes = (
        e.where(F.col("vec_id") < N_PROBES)
        .select(
            F.col("vec_id").alias("probe_id"),
            F.explode(probe_buckets_of(F.col("v"))).alias("pbucket"),
        )
    )
    # dedup multi-table/multi-probe collisions on the int pair key
    # alone — vectors re-attach afterwards, so no shuffle carries arrays
    return (
        F.broadcast(probes)
        .join(
            corpus,
            (F.col("bucket") == F.col("pbucket"))
            & (F.col("vec_id") != F.col("probe_id")),
        )
        .select("probe_id", F.col("vec_id").alias("neighbor_id"))
        .distinct()
    )


@query("sim_topk_lsh", tags=("rows-only",))
def sim_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale-path ANN: multi-table random-hyperplane LSH with probe-side
    multiprobe + exact re-rank over the union of candidates.

    L independent tables of b sign-bits each: a probe and its true
    neighbour land in the same bucket of table t with prob (1−θ/π)^b;
    multiprobe additionally searches the probe's Hamming-r ball in each
    table, lifting the per-table hit prob to Σ_{i≤r} C(b,i)·p^(b−i)
    ·(1−p)^i at zero extra corpus storage (see the tuning table above
    — measured 15/15 recall@3 at 17% of brute-force candidate volume
    on the sf0.1 corpus; asserted ≥13/15 in tests/test_similarity.py).
    Bucket ids compute as one numpy matmul per Arrow batch (the
    literal-plane HOF formulation is interpreted per row — same
    pathology as the IVF cell assignment, see _cell_udf).
    Shape at 100 TB: explode corpus to L rows, shuffle-join on the
    (table,bucket) int key — never a pairwise product; the multiprobe
    fan-out rides the tiny probe side only; candidate dedup is a
    groupBy on the (probe, neighbor) int pair."""
    e = load(spark, sf_dir, "embeddings").where(cos_conform()).withColumn(
        "v", F.col("embedding").cast("array<double>")
    )
    candidates = _lsh_candidates(spark, sf_dir)
    # norms projected once per vector before the candidate join (the
    # sim_topk pattern): per-pair cosine_expr would re-fold both
    # self-dot-products for every candidate — 3× the interpreted HOF
    # work; dot/(pnrm·nrm) is the identical IEEE op tree, so the
    # ranking (and the measured recall) is unchanged
    pvecs = e.where(F.col("vec_id") < N_PROBES).select(
        F.col("vec_id").alias("probe_id"),
        F.col("v").alias("pv"),
        F.sqrt(dot_expr("v", "v")).alias("pnrm"),
    )
    nvecs = e.select(
        F.col("vec_id").alias("neighbor_id"),
        "v",
        F.sqrt(dot_expr("v", "v")).alias("nrm"),
    )
    scored = (
        candidates.join(F.broadcast(pvecs), "probe_id")
        .join(nvecs, "neighbor_id")
        .select(
            "probe_id",
            "neighbor_id",
            (dot_expr("pv", "v") / (F.col("pnrm") * F.col("nrm"))).alias(
                "cosine"
            ),
        )
    )
    w = Window.partitionBy("probe_id").orderBy(F.col("cosine").desc(), "neighbor_id")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= TOP_K)
        .select("probe_id", "neighbor_id", "cosine")
        .orderBy("probe_id", "neighbor_id")
    )


@query(
    "sim_label_centroids",
    oracle=f"""
    SELECT label, CAST(i AS INTEGER) AS pos,
           (CAST(SUM(CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000.0)
                          AS BIGINT)) AS DOUBLE)
              / 1000000.0 / COUNT(*)) AS centroid
    FROM embeddings, generate_series(1, {EMB_DIM}) g(i)
    WHERE {EMB_CONFORM_SQL}
    GROUP BY label, i
    """,
)
def sim_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroids, flat (label, dim, value) form —
    the aggregate under IVF training and class prototypes.

    posexplode → groupBy(label, pos): the shuffle carries per-dim
    integer partial sums (exact, order-insensitive → engine-identical
    averages), so 100 TB of vectors reduces map-side to |labels|×dim
    rows. Components are floor-quantized at 1e-6 before summing:
    floats are dyadic rationals whose exact decimal expansions can
    terminate with a trailing 5 at ANY decimal-cast scale, where Spark
    (HALF_UP) and DuckDB (HALF_EVEN) disagree — floor of the same
    double is tie-free and bit-identical in both engines. Admission
    is the shared ``emb_conform`` model-space predicate on both
    sides (round-10 mixed-dimension gate): empty arrays made the
    COUNT diverge (posexplode emits nothing vs generate_series' 64
    NULL components — degenerate-values gate) and off-width vectors
    made per-label means ill-defined."""
    e = load(spark, sf_dir, "embeddings").where(
        emb_conform()
    )
    return (
        e.select(
            "label",
            F.posexplode(F.col("embedding").cast("array<double>")).alias(
                "pos0", "x"
            ),
        )
        .groupBy("label", (F.col("pos0") + 1).cast("int").alias("pos"))
        .agg(
            (
                F.sum(F.floor(F.col("x") * 1000000.0).cast("bigint"))
                .cast("double")
                / F.lit(1000000.0)
                / F.count("*")
            ).alias("centroid")
        )
    )


@query(
    "embeddings_quantize_int8",
    oracle="""
    WITH scaled AS (
      SELECT vec_id,
             127.0 / list_max(list_transform(embedding,
                                             x -> abs(CAST(x AS DOUBLE))))
               AS scale,
             embedding
      FROM embeddings
      WHERE list_max(list_transform(embedding,
                                    x -> abs(CAST(x AS DOUBLE)))) > 0
    )
    SELECT vec_id, scale,
           CAST(list_sum(list_transform(embedding,
                 x -> floor(CAST(x AS DOUBLE) * scale + 0.5))) AS BIGINT)
             AS q_sum,
           CAST(list_sum(list_transform(embedding,
                 x -> abs(floor(CAST(x AS DOUBLE) * scale + 0.5))))
                AS BIGINT) AS q_l1
    FROM scaled
    """,
)
def embeddings_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 quantization: scale = 127/max|x|,
    code_i = ⌊x_i·scale + 0.5⌋ — the 4× (vs float32) storage
    compression every billion-vector ANN index applies before
    sharding; checked here through the per-vector scale plus exact
    integer checksums (Σq, Σ|q|) of the codes.

    All per-element work is higher-order array lambdas over the
    embedding column — JVM codegen, no explode (64× row-multiplier
    avoided), no UDF. ⌊x+0.5⌋ is used instead of round() so both
    engines share one tie rule. At 100 TB this runs scan-side with
    zero shuffles."""
    xd = lambda x: x.cast("double")  # noqa: E731
    maxabs = F.array_max(F.transform("embedding", lambda x: F.abs(xd(x))))
    e = load(spark, sf_dir, "embeddings").where(F.col("embedding").isNotNull()).where(maxabs > 0)
    scale = (F.lit(127.0) / maxabs).alias("scale")
    q = F.transform("embedding", lambda x: F.floor(xd(x) * (F.lit(127.0) / maxabs) + 0.5))
    zero = F.lit(0).cast("bigint")
    return e.select(
        "vec_id",
        scale,
        F.aggregate(q, zero, lambda acc, v: acc + v.cast("bigint")).alias("q_sum"),
        F.aggregate(q, zero, lambda acc, v: acc + F.abs(v).cast("bigint")).alias(
            "q_l1"
        ),
    )


MRL_TRUNC_DIM = 16  # Matryoshka prefix length


@query(
    "embeddings_matryoshka_truncate",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
      WHERE embedding IS NOT NULL
        AND list_dot_product(CAST(embedding AS DOUBLE[]),
                             CAST(embedding AS DOUBLE[])) > 0
    )
    SELECT vec_id, label,
           CAST(floor(sqrt(list_dot_product(v[1:{MRL_TRUNC_DIM}],
                                            v[1:{MRL_TRUNC_DIM}]))
                      * 1000000) AS BIGINT) AS trunc_norm_micro,
           CAST(floor(list_dot_product(v[1:{MRL_TRUNC_DIM}],
                                       v[1:{MRL_TRUNC_DIM}])
                      / list_dot_product(v, v) * 1000000) AS BIGINT)
             AS retained_energy_ppm
    FROM e
    """,
)
def embeddings_matryoshka_truncate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Matryoshka-style prefix truncation QA: per vector, the norm of
    the first {MRL_TRUNC_DIM} dimensions and the retained-energy ratio
    ‖x[:d']‖²/‖x‖² — the numbers that decide whether a corpus's
    embeddings tolerate prefix truncation (the standard 4× index-size/
    recall trade MRL-trained encoders are built for) before you build
    the cheap ANN tier on truncated vectors.

    Pure scan-side HOF algebra (slice + the shared sequential-fold dot
    product, bit-equal to DuckDB's list_dot_product), no explode, no
    shuffle — at 100 TB this is a map-only pass. Outputs are floor-
    quantized to micro/ppm integers so both engines agree exactly;
    zero-norm vectors are excluded (the ratio is undefined) by the
    same predicate on both sides."""
    e = (
        load(spark, sf_dir, "embeddings")
        .where(F.col("embedding").isNotNull())
        .withColumn("v", F.col("embedding").cast("array<double>"))
        .where(dot_expr("v", "v") > 0)
        .withColumn("t", F.slice("v", 1, MRL_TRUNC_DIM))
    )
    return e.select(
        "vec_id",
        "label",
        F.floor(F.sqrt(dot_expr("t", "t")) * 1e6)
        .cast("bigint")
        .alias("trunc_norm_micro"),
        F.floor(dot_expr("t", "t") / dot_expr("v", "v") * 1e6)
        .cast("bigint")
        .alias("retained_energy_ppm"),
    )


@query(
    "embeddings_vector_qa",
    oracle="""
    WITH base AS (
      SELECT label,
             CASE WHEN embedding IS NULL THEN NULL
                  ELSE CAST(floor(sqrt(list_dot_product(
                         CAST(embedding AS DOUBLE[]),
                         CAST(embedding AS DOUBLE[]))) * 1000000) AS BIGINT)
             END AS norm_micro,
             CASE WHEN embedding IS NULL THEN NULL
                  ELSE len(embedding) END AS dim
      FROM embeddings
    )
    SELECT label,
           CAST(COUNT(*) AS BIGINT) AS n_vectors,
           CAST(COUNT(*) FILTER (WHERE norm_micro IS NULL) AS BIGINT)
             AS n_null_vec,
           CAST(COUNT(*) FILTER (WHERE dim IS NOT NULL AND dim <> 64)
                AS BIGINT) AS n_dim_mismatch,
           MIN(norm_micro) AS norm_micro_min,
           MAX(norm_micro) AS norm_micro_max,
           CAST(floor(CAST(SUM(norm_micro) AS DOUBLE)
                      / COUNT(norm_micro)) AS BIGINT) AS norm_micro_avg
    FROM base GROUP BY label
    """,
)
def embeddings_vector_qa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-table QA gate: per-label vector counts, null-vector
    and dimension-mismatch counts, and L2-norm distribution bounds —
    the sanity pass a pipeline runs before feeding vectors to ANN
    builds or training (a batch of zero/NaN/truncated vectors should
    fail HERE, not corrupt an index).

    Norms are quantized per vector to microscale integers BEFORE
    aggregating (quantize-then-aggregate, as text_bigram_lm_score), so
    min/max/avg are partitioning- and engine-independent; the in-row
    sequential dot product is bit-equal to DuckDB's list_dot_product.
    One groupBy(label); linear scan."""
    e = load(spark, sf_dir, "embeddings").withColumn(
        "v", F.col("embedding").cast("array<double>")
    )
    norm_micro = F.when(
        F.col("v").isNotNull(),
        F.floor(F.sqrt(dot_expr("v", "v")) * 1e6).cast("bigint"),
    )
    dim = F.when(F.col("v").isNotNull(), F.size("v"))
    return (
        e.select("label", norm_micro.alias("norm_micro"), dim.alias("dim"))
        .groupBy("label")
        .agg(
            F.count("*").alias("n_vectors"),
            F.count(F.when(F.col("norm_micro").isNull(), 1)).alias("n_null_vec"),
            F.count(
                F.when(F.col("dim").isNotNull() & (F.col("dim") != 64), 1)
            ).alias("n_dim_mismatch"),
            F.min("norm_micro").alias("norm_micro_min"),
            F.max("norm_micro").alias("norm_micro_max"),
            F.floor(
                F.sum("norm_micro").cast("double") / F.count("norm_micro")
            )
            .cast("bigint")
            .alias("norm_micro_avg"),
        )
    )


@query(
    "embeddings_dim_conform",
    oracle=f"""
    SELECT vec_id, label,
           CAST(len(embedding) AS INTEGER) AS dim,
           CAST(floor(sqrt(list_dot_product(
                  CAST(embedding AS DOUBLE[]),
                  CAST(embedding AS DOUBLE[]))) * 1000000) AS BIGINT)
             AS norm_micro
    FROM embeddings WHERE {EMB_CONFORM_SQL}
    """,
)
def embeddings_dim_conform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The model-space admission step made first-class (round-10
    mixed-dimension axis): the conforming slice of the embeddings
    table — exactly the rows every fixed-dimension operator admits
    via ``emb_conform`` — with each survivor's dimension and
    micro-quantized L2 norm as the checked scalar rendering. A re-run
    encoder at a different width (the duplicate-id class of ingest
    reality) quarantines HERE, observable via embeddings_vector_qa's
    n_dim_mismatch counter; downstream model-space keys then see one
    consistent d=64 (EMB_DIM) space. Plain pushed-down filter + in-row
    fold: one scan, zero shuffles, trivially partition-parallel."""
    e = load(spark, sf_dir, "embeddings").where(emb_conform()).withColumn(
        "v", F.col("embedding").cast("array<double>")
    )
    return e.select(
        "vec_id",
        "label",
        F.size("v").alias("dim"),
        F.floor(F.sqrt(dot_expr("v", "v")) * 1e6)
        .cast("bigint")
        .alias("norm_micro"),
    )


KNN_K = 3


@query(
    "sim_knn_classify",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v,
             sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                   CAST(embedding AS DOUBLE[]))) AS nrm
      FROM embeddings WHERE {COS_CONFORM_SQL}
    ), probes AS (
      SELECT vec_id AS probe_id, label AS true_label, v AS pv, nrm AS pnrm
      FROM e WHERE vec_id < {N_PROBES}
    ), top_k AS (
      SELECT p.probe_id, p.true_label, e.label,
             (list_dot_product(p.pv, e.v) / (p.pnrm * e.nrm)) AS cosine,
             e.vec_id AS neighbor_id
      FROM probes p JOIN e ON e.vec_id <> p.probe_id
      QUALIFY row_number() OVER (PARTITION BY p.probe_id
                                 ORDER BY cosine DESC, neighbor_id) <= {KNN_K}
    ), votes AS (
      SELECT probe_id, true_label, label,
             CAST(COUNT(*) AS BIGINT) AS n_votes
      FROM top_k GROUP BY 1, 2, 3
    )
    SELECT probe_id, true_label, label AS predicted_label, n_votes
    FROM votes
    QUALIFY row_number() OVER (PARTITION BY probe_id
                               ORDER BY n_votes DESC, label) = 1
    """,
)
def sim_knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN label prediction — the end-use the similarity machinery
    exists for: each probe vector takes the majority label of its
    exact top-k cosine neighbours (k={KNN_K}; ties → lower label, so
    the vote is deterministic).

    Composes sim_topk's plan (broadcast probe panel, one corpus scan,
    bounded per-probe window) with a probe-sized vote aggregation —
    nothing here grows with the corpus beyond the scan itself. The
    scale path swaps the exact top-k stage for sim_topk_lsh/_ivf with
    the vote unchanged."""
    nbrs = sim_topk(spark, sf_dir)  # probe_id, neighbor_id, label, cosine
    return _knn_vote(spark, sf_dir, nbrs)


def _knn_vote(
    spark: SparkSession, sf_dir: str, nbrs: DataFrame
) -> DataFrame:
    """The kNN vote stage, shared verbatim by the exact and ANN
    classifiers: majority label over (probe_id, label) neighbour rows,
    ties → lower label, joined against the probe's true label. The
    vote relation is probe-bounded (≤ |probes|·k rows), so everything
    here is broadcast-sized regardless of corpus scale."""
    truth = (
        load(spark, sf_dir, "embeddings")
        .where(F.col("vec_id") < N_PROBES)
        .select(F.col("vec_id").alias("probe_id"), F.col("label").alias("true_label"))
    )
    votes = nbrs.groupBy("probe_id", "label").agg(F.count("*").alias("n_votes"))
    w = Window.partitionBy("probe_id").orderBy(F.desc("n_votes"), "label")
    return (
        votes.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .join(F.broadcast(truth), "probe_id")
        .select(
            "probe_id",
            "true_label",
            F.col("label").alias("predicted_label"),
            "n_votes",
        )
    )


@query("sim_knn_classify_ann", tags=("rows-only",))
def sim_knn_classify_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sim_knn_classify's documented scale path made literal: the
    exact brute-force top-k stage is SWAPPED for sim_topk_lsh's
    multiprobe-LSH candidates; the vote stage (_knn_vote) is shared
    verbatim with the exact classifier. Rows-only by construction (the
    ANN stage is approximate), but the approximation is pinned by
    tests/test_similarity.py::test_knn_ann_agreement — prediction
    agreement with the exact classifier ≥ 4/5 probes (measured 5/5 at
    sf0.001 and sf0.1; both pipelines are deterministic, so this is a
    stable value, not a flaky statistic).

    Labels re-attach to the neighbour rows via a broadcast of the
    probe-bounded top-k relation against the corpus — at 100 TB the
    only corpus-sized work is sim_topk_lsh's bucketed candidate join;
    everything after it is |probes|·k rows."""
    nbrs = sim_topk_lsh(spark, sf_dir)  # probe_id, neighbor_id, cosine
    labels = load(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("neighbor_id"), "label"
    )
    labeled = labels.join(F.broadcast(nbrs), "neighbor_id")
    return _knn_vote(spark, sf_dir, labeled)


HIST_PANEL_K = 100  # fixed ABSOLUTE panel size, corpus-independent
HIST_BUCKETS_PER_UNIT = 20  # bucket width 0.05 in cosine space


@query(
    "sim_cosine_histogram",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
             sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                   CAST(embedding AS DOUBLE[]))) AS nrm
      FROM embeddings WHERE {COS_CONFORM_SQL}
    ), panel AS (
      SELECT vec_id AS p_id, v AS pv, nrm AS pnrm FROM e
      ORDER BY md5('hist:' || CAST(vec_id AS VARCHAR)), vec_id
      LIMIT {HIST_PANEL_K}
    ), cosines AS (
      SELECT CAST(floor((list_dot_product(p.pv, e.v) / (p.pnrm * e.nrm))
                        * {HIST_BUCKETS_PER_UNIT}) AS BIGINT) AS bucket
      FROM panel p JOIN e ON e.vec_id <> p.p_id
    )
    SELECT bucket,
           (CAST(bucket AS DOUBLE) / {HIST_BUCKETS_PER_UNIT}) AS bucket_lo,
           CAST(COUNT(*) AS BIGINT) AS n_pairs
    FROM cosines GROUP BY bucket
    """,
)
def sim_cosine_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise-cosine distribution over a FIXED-SIZE uniform panel ×
    the corpus — the diagnostic that tells you where a corpus's
    similarity mass sits before you pick dedup/ANN thresholds (this
    repo's own LSH tuning notes cite exactly this curve: true
    neighbours at 0.34–0.42 inside a background p999 of 0.39).

    Scale design: the panel is the k smallest vectors by a salted md5
    of vec_id (the same deterministic exact-k draw sample_reservoir_hash
    proves: TakeOrderedAndProject, no RNG, reproducible across engines),
    so the counted pair set is O(k·n) — LINEAR in the corpus at fixed
    k={HIST_PANEL_K}, and the broadcast panel stays k rows no matter how
    large the corpus grows. (The previous fixed-RATE `vec_id % 20`
    panel grew with the corpus, making the pair count O(n²/20) — a
    scale bug this formulation removes.) The corpus is scanned once;
    the histogram is a partial+final count on a ≤ few-hundred-bucket
    key. Counted pairs are ORDERED (panel, other) pairs, so
    panel-panel pairs appear in both directions — a constant factor
    that cancels in the shape. Bucket boundaries are exact: the cosine
    fold is bit-identical in both engines (module header), so floor()
    buckets agree at edges."""
    e = _normed(spark, sf_dir)
    panel = (
        e.orderBy(
            F.md5(F.concat(F.lit("hist:"), F.col("vec_id").cast("string"))),
            "vec_id",
        )
        .limit(HIST_PANEL_K)
        .select(
            F.col("vec_id").alias("p_id"),
            F.col("v").alias("pv"),
            F.col("nrm").alias("pnrm"),
        )
    )
    cos = dot_expr("pv", "v") / (F.col("pnrm") * F.col("nrm"))
    bucket = F.floor(cos * HIST_BUCKETS_PER_UNIT).cast("long")
    return (
        F.broadcast(panel)
        .join(e, F.col("vec_id") != F.col("p_id"))
        .select(bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(F.count("*").alias("n_pairs"))
        .select(
            "bucket",
            (F.col("bucket").cast("double") / HIST_BUCKETS_PER_UNIT).alias(
                "bucket_lo"
            ),
            "n_pairs",
        )
    )


# ---------------------------------------------------------------------------
# sim_kmeans_assign — exact-integer distributed Lloyd iterations
# ---------------------------------------------------------------------------

KMEANS_ASSIGN_K = 8  # clusters; seeds = k-smallest by salted md5
KMEANS_ASSIGN_SCALE = 1_000_000  # component quantization (floor at 1e-6)
KMEANS_ASSIGN_ROUNDS = 2  # centroid updates; assignments run ROUNDS+1 times
KMEANS_ASSIGN_DIM = 64  # embedding dimensionality (oracle mirror only)

_KMEANS_Q = Memo()
_KMEANS_CENTROIDS = Memo()


def _kmeans_quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus with components floor-quantized to bigints at 1e-6 —
    every downstream distance/update is exact integer arithmetic, so
    assignments and centroids are bit-identical across engines,
    partition layouts and reduction orders (floats would make Lloyd's
    argmin order-sensitive near ties). Cached: the relation is read by
    ROUNDS+1 assignment passes."""

    def _build() -> DataFrame:
        e = load(spark, sf_dir, "embeddings").where(emb_conform())
        return e.select(
            "vec_id",
            F.transform(
                F.col("embedding").cast("array<double>"),
                lambda x: F.floor(x * KMEANS_ASSIGN_SCALE).cast("long"),
            ).alias("qv"),
        ).cache()

    return _KMEANS_Q.get(spark, sf_dir, build=_build)


def _kmeans_assign_df(q: DataFrame, cents: list[list[int]]) -> DataFrame:
    """Assignment pass: distance to each of the K centroids, argmin
    with ties to the smallest cluster id via lexicographic array_min
    over (d2, k) structs. Embarrassingly parallel — the corpus is
    scanned once with zero shuffle (the centroid row rides a one-row
    broadcast, the engine's scalar-attach idiom).

    Round-15: centroids flow as broadcast DATA, not plan literals.
    With K×dim literals baked into the expression, every Lloyd round
    produced a brand-new codegen source and re-paid full plan
    compilation — measured ~2 s per assignment pass at sf0.1 against
    0.3 s for re-running the IDENTICAL plan (the profile in
    OPTIMIZATION_r15.md). A constant expression tree over a one-row
    crossJoin keeps the generated source identical across rounds, so
    the codegen cache absorbs rounds 2..N; whole key (this change
    plus the per-component centroid sums below) 6.17 s → 4.59 s cold
    (interleaved single-key A/B at sf0.1, min of 3, same machine),
    bit-identical output."""
    spark = q.sparkSession
    n_k = len(cents)
    # round 16: one-row JVM literal projection instead of
    # createDataFrame — a 1-row createDataFrame parallelizes across
    # the default parallelism through the Python-RDD serializer (the
    # BPE-trainer lesson: 32 near-empty Python tasks per pass, ×
    # ROUNDS+1 passes here). The K×dim literals live on the ONE-ROW
    # side only; the corpus-side distance fold still reads the `cs`
    # attribute, so its codegen stays constant across Lloyd rounds
    # (the round-15 invariant that made centroids-as-data win).
    cdf = spark.range(1).select(
        F.array(
            *[
                F.array(*[F.lit(int(v)).cast("bigint") for v in c])
                for c in cents
            ]
        ).alias("cs")
    )
    best = F.expr(
        f"array_min(transform(sequence(0, {n_k - 1}),"
        " k -> struct(aggregate(zip_with(qv, cs[k],"
        " (a, b) -> (a - b) * (a - b)),"
        " 0L, (acc, x) -> acc + x) AS d2, k AS k)))"
    )
    return q.crossJoin(F.broadcast(cdf)).select(
        "vec_id",
        "qv",
        best["k"].alias("cluster"),
        best["d2"].alias("d2"),
    )


def _kmeans_centroids(spark: SparkSession, sf_dir: str) -> list[list[int]]:
    """Seed + ROUNDS Lloyd updates, memoized per (app, sf_dir).

    Driver round-trips are bounded exactly like the IVF coarse
    quantizer's (the documented collect exception): the seed fetch is
    K×dim bigints via TakeOrderedAndProject, and each update collects
    K×dim (sum, count) partials — the shuffle carries K×dim rows after
    map-side combine, never the vectors. New centroid components are
    FLOOR(sum/count) computed with python floor division, mirrored in
    SQL as (s - pmod(s, n)) / n (DuckDB's // truncates toward zero, so
    the remainder is subtracted first — exact for negative sums too).
    Empty clusters keep their previous centroid."""

    def _build() -> list[list[int]]:
        q = _kmeans_quantized(spark, sf_dir)
        seeds = (
            q.orderBy(
                F.md5(F.concat(F.lit("kmeans:"), F.col("vec_id").cast("string"))),
                "vec_id",
            )
            .limit(KMEANS_ASSIGN_K)
            .select("qv")
            .collect()
        )
        cents = [list(r.qv) for r in seeds]
        if not cents:
            return []
        dim = len(cents[0])
        for _ in range(KMEANS_ASSIGN_ROUNDS):
            # round-15: per-component sums as `dim` aggregate columns
            # of one groupBy(cluster) — the old posexplode form
            # amplified every vector to `dim` rows before the partial
            # aggregate (64× row churn in the map stage for the same
            # K×dim shuffle bytes); the column form reads each
            # component in place. Same collect bound (K rows × dim+2
            # cols), bit-identical centroids (integer sums in both
            # shapes). Whole-key A/B with the data-flow centroids
            # above: 6.17 s → 4.59 s cold (min of 3).
            rows = (
                _kmeans_assign_df(q, cents)
                .groupBy("cluster")
                .agg(
                    F.count("*").alias("n"),
                    *[
                        F.sum(F.col("qv")[p]).alias(f"s{p}")
                        for p in range(dim)
                    ],
                )
                .collect()
            )
            by_k = {
                r.cluster: [int(r[f"s{p}"]) // int(r.n) for p in range(dim)]
                for r in rows
            }
            cents = [
                by_k[k] if k in by_k else cents[k] for k in range(len(cents))
            ]
        return cents

    return _KMEANS_CENTROIDS.get(spark, sf_dir, build=_build)


def _kmeans_oracle() -> str:
    """Unrolled-CTE DuckDB mirror of seed → ROUNDS updates → final
    assignment. Distances/updates expand per-dimension over a dims
    table (1..KMEANS_ASSIGN_DIM); centroids stay in flat (k, pos, c)
    form between rounds."""
    k, scale, dim = KMEANS_ASSIGN_K, KMEANS_ASSIGN_SCALE, KMEANS_ASSIGN_DIM
    parts = [
        f"""
    WITH q AS (
      SELECT vec_id,
             list_transform(CAST(embedding AS DOUBLE[]),
                            x -> CAST(floor(x * {scale}.0) AS BIGINT)) AS qv
      FROM embeddings WHERE {EMB_CONFORM_SQL}
    ),
    dims AS (SELECT CAST(r.range AS INT) AS pos FROM range(1, {dim + 1}) r),
    seeds AS (
      SELECT CAST(row_number() OVER (ORDER BY sk, vec_id) AS INT) - 1 AS k,
             qv AS c
      FROM (SELECT vec_id, qv,
                   md5('kmeans:' || CAST(vec_id AS VARCHAR)) AS sk
            FROM q ORDER BY sk, vec_id LIMIT {k}) s
    ),
    c0 AS (SELECT s.k, d.pos, s.c[d.pos] AS c
           FROM seeds s CROSS JOIN dims d)"""
    ]
    prev = "c0"
    for r in range(1, KMEANS_ASSIGN_ROUNDS + 1):
        parts.append(
            f""",
    a{r} AS (
      SELECT vec_id, k FROM (
        SELECT t.vec_id, t.k,
               row_number() OVER (PARTITION BY t.vec_id
                                  ORDER BY t.d2, t.k) AS rn
        FROM (SELECT q.vec_id, c.k,
                     SUM((q.qv[c.pos] - c.c) * (q.qv[c.pos] - c.c)) AS d2
              FROM q CROSS JOIN {prev} c GROUP BY q.vec_id, c.k) t
      ) WHERE rn = 1
    ),
    u{r} AS (
      SELECT a.k, d.pos, SUM(q.qv[d.pos]) AS s, COUNT(*) AS n
      FROM a{r} a JOIN q USING (vec_id) CROSS JOIN dims d
      GROUP BY a.k, d.pos
    ),
    c{r} AS (
      SELECT p.k, p.pos,
             COALESCE(CAST((u.s - (((u.s % u.n) + u.n) % u.n)) / u.n
                           AS BIGINT), p.c) AS c
      FROM {prev} p LEFT JOIN u{r} u ON u.k = p.k AND u.pos = p.pos
    )"""
        )
        prev = f"c{r}"
    parts.append(
        f""",
    afinal AS (
      SELECT vec_id, k, d2 FROM (
        SELECT t.vec_id, t.k, t.d2,
               row_number() OVER (PARTITION BY t.vec_id
                                  ORDER BY t.d2, t.k) AS rn
        FROM (SELECT q.vec_id, c.k,
                     CAST(SUM((q.qv[c.pos] - c.c) * (q.qv[c.pos] - c.c))
                          AS BIGINT) AS d2
              FROM q CROSS JOIN {prev} c GROUP BY q.vec_id, c.k) t
      ) WHERE rn = 1
    )
    SELECT k AS cluster, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(d2) AS BIGINT) AS sse,
           CAST(SUM(vec_id) AS BIGINT) AS id_checksum
    FROM afinal GROUP BY k"""
    )
    return "".join(parts)


@query("sim_kmeans_assign", oracle=_kmeans_oracle())
def sim_kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Lloyd k-means, bit-exact across engines: seed with
    the K smallest vectors by salted md5 (deterministic exact-k draw,
    no RNG), run KMEANS_ASSIGN_ROUNDS assignment→update rounds in
    exact quantized-integer arithmetic, then report per-cluster size,
    integer SSE and a vec_id checksum of the final assignment.

    This is the registry's oracle-CHECKED iterative-clustering key
    (the IVF coarse quantizer runs a float k-means internally but is
    rows-only by construction): every argmin and every centroid is
    bit-identical in Spark and DuckDB because all arithmetic is bigint
    (ties broken to the smallest cluster id, means floor-divided).

    Scale design (MLlib KMeans' shape): assignment is a zero-shuffle
    map pass against K literal centroids (in-row zip_with fold,
    codegen); the update shuffle carries K×dim (sum, count) partials
    after map-side combine — never the vectors; the two driver
    round-trips per round are K×dim bigints (the documented bounded
    collect exception). SSE is summed as bigint — at extreme corpus
    sizes the final SUM would need decimal(38,0), noted here rather
    than silently widened. Dimensionality is mirrored in the oracle
    via KMEANS_ASSIGN_DIM (a config constant, like the histogram
    panel's); a corpus with different dims fails the value gate
    loudly instead of passing vacuously."""
    q = _kmeans_quantized(spark, sf_dir)
    cents = _kmeans_centroids(spark, sf_dir)
    if not cents:
        return spark.createDataFrame(
            [], "cluster int, n long, sse long, id_checksum long"
        )
    return (
        _kmeans_assign_df(q, cents)
        .groupBy("cluster")
        .agg(
            F.count("*").alias("n"),
            F.sum("d2").alias("sse"),
            F.sum("vec_id").alias("id_checksum"),
        )
    )


# ---------------------------------------------------------------------------
# embeddings_gram_matrix — mapInPandas partial-aggregation Gram matrix
# ---------------------------------------------------------------------------

GRAM_SCALE = 1000  # component quantization for exact integer products
# Layout-independent int64 domain for the per-batch Gram matmul
# (round-10 ADVICE): the raise/no-raise boundary must not depend on
# Arrow batch size or shuffle layout, so the guard checks |q| alone
# against a bound derived from a FIXED batch-row ceiling far above any
# real Arrow batch (spark.sql.execution.arrow.maxRecordsPerBatch
# defaults to 10k; we allow 2^20). Any batch larger than the ceiling
# raises too, so the pair of checks is sufficient for every layout.
GRAM_BATCH_ROW_BOUND = 2**20
GRAM_QMAX_BOUND = math.isqrt((2**63 - 1) // GRAM_BATCH_ROW_BOUND)


@query(
    "embeddings_gram_matrix",
    oracle=f"""
    WITH q AS (
      SELECT list_transform(CAST(embedding AS DOUBLE[]),
                            x -> CAST(floor(x * {GRAM_SCALE}.0) AS BIGINT))
               AS qv
      FROM embeddings
      WHERE {EMB_CONFORM_SQL}
    ),
    dims AS (SELECT CAST(r.range AS INT) AS pos
             FROM range(1, {KMEANS_ASSIGN_DIM + 1}) r)
    SELECT di.pos AS i, dj.pos AS j,
           CAST(SUM(q.qv[di.pos] * q.qv[dj.pos]) AS BIGINT) AS gram
    FROM q CROSS JOIN dims di CROSS JOIN dims dj
    WHERE di.pos <= dj.pos
    GROUP BY di.pos, dj.pos
    """,
)
def embeddings_gram_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upper-triangle Gram matrix XᵀX over floor-quantized integer
    components — the dense d×d summary under distributed PCA /
    covariance / linear-probe fitting: compute the small summary with
    one pass over the corpus, solve the d×d problem on the driver,
    broadcast the projection back. The int64 no-overflow claim is
    ENFORCED, not assumed: each batch checks max|q| against the
    LAYOUT-INDEPENDENT bound ``GRAM_QMAX_BOUND`` (isqrt(2⁶³ /
    ``GRAM_BATCH_ROW_BOUND``), with the row ceiling itself asserted
    per batch) and RAISES on violation — the raise/no-raise boundary
    cannot drift with arrow.maxRecordsPerBatch or shuffle layout
    (round-10 ADVICE). numpy wraps silently where the oracle's
    HUGEINT raises, so an unguarded extreme component (round-9
    extreme-embedding sweep: ×10⁷ vectors produced NEGATIVE gram
    cells on the Spark side only) would be the exact silent
    corruption the engine promises never to emit. Cross-BATCH
    accumulation is protected downstream: the final groupBy SUM runs
    under ANSI and raises on long overflow (and the oracle's HUGEINT
    sum → BIGINT cast raises identically).

    Scale design — the vectorized partial-aggregation pattern: each
    Arrow batch computes its d×d integer Gram with one numpy matmul
    (the ONLY Python stage, batched — never per-row), emits the d(d+1)/2
    upper-triangle cells, and the groupBy sums partials — the shuffle
    carries (#batches)×d(d+1)/2 cells after map-side combine, never the
    vectors. int64 throughout: |q| ≤ {GRAM_SCALE}·max|x|, so per-batch
    products cannot overflow and cross-engine sums are exact (at
    extreme corpus sizes the final SUM would need decimal(38,0), noted
    rather than silently widened). Admission is the shared
    ``emb_conform`` model-space predicate on both sides: a
    zero-length or off-width vector would make the numpy batch
    ragged and crash the matmul outright (degenerate-values and
    mixed-dimension gates)."""
    e = load(spark, sf_dir, "embeddings").where(
        emb_conform()
    )
    qdf = e.select(
        F.transform(
            F.col("embedding").cast("array<double>"),
            lambda x: F.floor(x * GRAM_SCALE).cast("long"),
        ).alias("qv")
    )

    def _partial_gram(batches):
        import numpy as _np
        import pandas as _pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = _np.array([_np.asarray(v) for v in pdf["qv"]], dtype=_np.int64)
            # loud value-domain guard: numpy int64 matmul WRAPS on
            # overflow (no ANSI there) — refuse batches whose worst
            # accumulated product could cross 2^63
            if len(pdf) > GRAM_BATCH_ROW_BOUND:
                raise ValueError(
                    "embeddings_gram_matrix: Arrow batch of "
                    f"{len(pdf)} rows exceeds the fixed "
                    f"{GRAM_BATCH_ROW_BOUND}-row Gram domain ceiling"
                )
            qmax = int(_np.abs(X).max(initial=0))
            if qmax > GRAM_QMAX_BOUND:
                raise ValueError(
                    "embeddings_gram_matrix: quantized component "
                    f"|q|={qmax} exceeds the layout-independent "
                    f"int64 Gram bound {GRAM_QMAX_BOUND} "
                    f"(= isqrt(2^63 / {GRAM_BATCH_ROW_BOUND})); "
                    "screen embedding magnitudes at ingest "
                    "(value-domain contract)"
                )
            G = X.T @ X
            iu = _np.triu_indices(G.shape[0])
            yield _pd.DataFrame(
                {
                    "i": (iu[0] + 1).astype("int32"),
                    "j": (iu[1] + 1).astype("int32"),
                    "partial": G[iu],
                }
            )

    return (
        qdf.mapInPandas(_partial_gram, schema="i int, j int, partial long")
        .groupBy("i", "j")
        .agg(F.sum("partial").alias("gram"))
    )


# ---------------------------------------------------------------------------
# embeddings_random_projection — Johnson-Lindenstrauss signed projection
# ---------------------------------------------------------------------------

RP_OUT_DIMS = 16  # 64-dim embeddings -> 16-dim sketch
RP_SCALE = 1000  # component quantization for exact integer arithmetic


def _rp_signs() -> list[list[int]]:
    """Deterministic ±1 projection matrix (RP_OUT_DIMS × input dim),
    derived from md5 of the (row, col) index pair at import time —
    engine-independent by construction: BOTH sides consume the same
    literal matrix, so no hash function needs to agree across engines
    (the same trick as the LSH hyperplanes)."""
    import hashlib

    return [
        [
            1
            if int(
                hashlib.md5(f"rp:{i}:{j}".encode()).hexdigest()[0], 16
            ) < 8
            else -1
            for j in range(KMEANS_ASSIGN_DIM)
        ]
        for i in range(RP_OUT_DIMS)
    ]


_RP_MATRIX = _rp_signs()


def _rp_oracle() -> str:
    rows = ", ".join(
        f"({i}, {signs})" for i, signs in enumerate(_RP_MATRIX)
    )
    return f"""
    WITH q AS (
      SELECT vec_id,
             list_transform(CAST(embedding AS DOUBLE[]),
                            x -> CAST(floor(x * {RP_SCALE}.0) AS BIGINT))
               AS qv
      FROM embeddings
      WHERE {EMB_CONFORM_SQL}
    ),
    m(out_dim, signs) AS (VALUES {rows})
    SELECT q.vec_id, CAST(m.out_dim AS INT) AS out_dim,
           CAST(list_dot_product(CAST(m.signs AS DOUBLE[]),
                                 CAST(q.qv AS DOUBLE[])) AS BIGINT)
             AS proj_val
    FROM q CROSS JOIN m
    """


@query("embeddings_random_projection", oracle=_rp_oracle())
def embeddings_random_projection(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Signed random projection (Johnson–Lindenstrauss / Achlioptas
    ±1 variant): every 64-dim embedding maps to a RP_OUT_DIMS-dim
    integer sketch through a DETERMINISTIC literal ±1 matrix — the
    standard cheap dimensionality reduction before ANN indexing,
    clustering, or dedup banding, preserving pairwise distances to
    within the JL bound while cutting vector bytes 4×.

    Exactness: components are floor-quantized to integers
    (RP_SCALE), the matrix is ±1, so each projected coordinate is an
    exact bigint — DuckDB mirrors it via list_dot_product over the
    SAME literal matrix widened to double (|values| « 2⁵³, so the
    double path is exact). Long-format output (vec_id, out_dim,
    proj_val) keeps the value hash order-independent.

    Scale design: the matrix is a compile-time literal embedded in
    the plan — no broadcast, no join, no shuffle; one codegen map
    pass over the corpus (zip_with·aggregate per output dim),
    exactly how a 100 TB projection should run. Admission is the
    shared ``emb_conform`` model-space predicate on both sides:
    zip_with NULL-pads a short array, so an empty OR off-width
    vector would project to NULL rows on Spark while the oracle's
    list_dot_product errors (degenerate-values and mixed-dimension
    gates)."""
    e = (
        load(spark, sf_dir, "embeddings")
        .where(emb_conform())
        .withColumn(
            "qv",
            F.expr(
                "transform(embedding, x ->"
                f" CAST(floor(CAST(x AS DOUBLE) * {RP_SCALE}.0) AS BIGINT))"
            ),
        )
    )
    proj_terms = ", ".join(
        "aggregate(zip_with(array({signs}), qv, (s, v) -> s * v),"
        " 0L, (acc, x) -> acc + x)".format(
            signs=", ".join(f"{s}L" for s in signs)
        )
        for signs in _RP_MATRIX
    )
    return e.select(
        "vec_id",
        F.posexplode(F.expr(f"array({proj_terms})")).alias(
            "out_dim", "proj_val"
        ),
    )


@query(
    "sim_label_recall_topk",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v,
             sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                   CAST(embedding AS DOUBLE[]))) AS nrm
      FROM embeddings WHERE {COS_CONFORM_SQL}
    ), probes AS (
      SELECT vec_id AS probe_id, label AS true_label, v AS pv, nrm AS pnrm
      FROM e WHERE vec_id < {N_PROBES}
    ), top_k AS (
      SELECT p.probe_id, p.true_label, e.label,
             (list_dot_product(p.pv, e.v) / (p.pnrm * e.nrm)) AS cosine,
             e.vec_id AS neighbor_id
      FROM probes p JOIN e ON e.vec_id <> p.probe_id
      QUALIFY row_number() OVER (PARTITION BY p.probe_id
                                 ORDER BY cosine DESC, neighbor_id)
        <= {TOP_K}
    )
    SELECT probe_id, true_label,
           CAST(SUM(CASE WHEN label = true_label THEN 1 ELSE 0 END)
             AS BIGINT) AS n_same_label,
           CAST(SUM(CASE WHEN label = true_label THEN 1 ELSE 0 END)
             * 1000000 // {TOP_K} AS BIGINT) AS label_recall_ppm
    FROM top_k GROUP BY probe_id, true_label
    """,
)
def sim_label_recall_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval-quality eval — label agreement at k: for each probe,
    what fraction of its exact top-k cosine neighbours share its
    label, in exact ppm. This is the embedding-quality metric behind
    "are these vectors any good for retrieval": near-chance agreement
    means the embedding space carries no label signal and every
    ANN/kNN key downstream inherits that ceiling.

    Composes sim_topk's plan verbatim (broadcast probe panel, one
    corpus scan, bounded per-probe window); the scoring stage is
    |probes|·k rows. Counts are exact; ppm is one truncating
    division. NULL embeddings excluded symmetrically."""
    nbrs = sim_topk(spark, sf_dir)  # probe_id, neighbor_id, label, cosine
    truth = (
        load(spark, sf_dir, "embeddings")
        .where(F.col("vec_id") < N_PROBES)
        .select(
            F.col("vec_id").alias("probe_id"),
            F.col("label").alias("true_label"),
        )
    )
    return (
        nbrs.join(F.broadcast(truth), "probe_id")
        .groupBy("probe_id", "true_label")
        .agg(
            F.sum(
                F.when(F.col("label") == F.col("true_label"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_same_label"),
            F.expr(
                "CAST(SUM(CASE WHEN label = true_label THEN 1 ELSE 0 END)"
                f" * 1000000 div {TOP_K} AS BIGINT)"
            ).alias("label_recall_ppm"),
        )
    )


@query(
    "embeddings_dimension_stats",
    oracle="""
    WITH flat AS (
      SELECT unnest(range(len(embedding))) AS dim,
             unnest(embedding) AS x
      FROM embeddings
    )
    SELECT CAST(dim AS INT) AS dim,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(floor(CAST(x AS DOUBLE) * 1000000 + 0.5)) AS BIGINT)
             AS sum_micro,
           CAST(MIN(floor(CAST(x AS DOUBLE) * 1000000 + 0.5)) AS BIGINT)
             AS min_micro,
           CAST(MAX(floor(CAST(x AS DOUBLE) * 1000000 + 0.5)) AS BIGINT)
             AS max_micro,
           CAST(COUNT(CASE WHEN x = 0 THEN 1 END) AS BIGINT) AS n_zero
    FROM flat
    GROUP BY dim
    """,
)
def embeddings_dimension_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension embedding health check — the feature-monitoring
    pass an embedding pipeline runs before anything consumes the
    vectors: per coordinate, count / sum / min / max / zero-count.
    A dead dimension (all zeros), a clipped one (min==max pinned), or
    a drifting mean shows up here long before it degrades retrieval.

    Values are quantized to MICRO units with the repo's tie-safe
    ``floor(x * 1e6 + 0.5)`` idiom (see embeddings_quantize_int8)
    before any aggregation, so every statistic is exact bigint algebra
    — a float SUM would be shuffle-order-dependent and never
    hash-comparable across engines.

    Scale shape: posexplode emits dim-tagged scalars in-row (no join,
    no shuffle before the aggregate); the groupBy(dim) reduces to
    |dims| rows with full partial aggregation, so the shuffle carries
    at most |dims| × tasks rows regardless of corpus size. NULL
    embedding rows drop out of posexplode on the Spark side and out of
    unnest on the oracle side — same contract, covered by the
    null-embedding gate."""
    e = load(spark, sf_dir, "embeddings")
    q = F.expr("floor(CAST(x AS DOUBLE) * 1000000 + 0.5)")
    return (
        e.select(F.posexplode("embedding").alias("dim", "x"))
        .select(F.col("dim").cast("int").alias("dim"), q.alias("qx"), "x")
        .groupBy("dim")
        .agg(
            F.count("*").alias("n"),
            F.sum("qx").cast("bigint").alias("sum_micro"),
            F.min("qx").cast("bigint").alias("min_micro"),
            F.max("qx").cast("bigint").alias("max_micro"),
            F.count(F.when(F.col("x") == 0, 1)).alias("n_zero"),
        )
    )


PQ_M = 8  # subspaces (64 dims -> 8 x 8)
PQ_K = 16  # codebook entries per subspace (4-bit codes)
PQ_SCALE = 1_000_000  # component quantization (exact integer distances)


def _pq_quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, qv): components floor-quantized to bigints — all PQ
    arithmetic downstream is exact integers."""
    return (
        load(spark, sf_dir, "embeddings")
        .where(emb_conform())
        .select(
            "vec_id",
            F.expr(
                f"transform(CAST(embedding AS ARRAY<DOUBLE>),"
                f" x -> CAST(floor(x * {PQ_SCALE}) AS BIGINT))"
            ).alias("qv"),
        )
    )


def _pq_codebook_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE-ROW (cs array<array<bigint>>) codebook relation: cs[k] =
    the 64 quantized components of seed k — quantized vectors of the
    salted-md5 k-smallest seed draw, indexed in (md5, vec_id) draw
    order, exactly the oracle's ORDER BY (array_sort on the
    (p, vec_id, qv) struct compares the md5 hex string with the same
    binary collation as orderBy; vec_id is unique, so qv never
    participates). Built fully IN-PLAN — TakeOrderedAndProject({PQ_K})
    into a single-row collect_list aggregate — so the codebook rides
    the broadcast crossJoin as DATA with NO driver round-trip at all
    (the first round-15 cut collected it to Python and re-shipped it
    via createDataFrame: one extra job + py4j hop per key, measured
    ~0.4 s — see OPTIMIZATION_r15.md). Data-not-literals keeps the
    codegen source constant across corpora (the kmeans
    _kmeans_assign_df lesson)."""
    e = _pq_quantized(spark, sf_dir)
    pri = F.md5(F.concat(F.lit("pq:"), F.col("vec_id").cast("string")))
    return (
        e.select(pri.alias("p"), "vec_id", "qv")
        .orderBy("p", "vec_id")
        .limit(PQ_K)
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(p, vec_id, qv))),"
                " s -> s.qv)"
            ).alias("cs")
        )
    )


# codes array<int> for vector column ``qv`` against codebook column
# ``cs``: per subspace m, argmin over the codebook entries of the
# exact integer subspace distance, ties to the smallest k
# (lexicographic array_min over (d, k) structs — the same tie-break
# the old per-(m, k)-row F.min(struct) aggregate had). One constant
# expression, fully in-row: no explode, no join, no shuffle. The
# index-lambda form sizes itself to cs, so an empty/short codebook
# (tiny corpus) needs no Python-side n_k or empty-guard branch.
def _pq_codes() -> F.Column:
    return F.expr(
        f"transform(sequence(0, {PQ_M - 1}), m ->"
        " array_min(transform(cs, (c, k) ->"
        " struct(aggregate(zip_with(slice(qv, m * 8 + 1, 8),"
        " slice(c, m * 8 + 1, 8), (a, b) -> (a - b) * (a - b)),"
        " 0L, (acc, x) -> acc + x) AS d, k AS k))).k)"
    )


@query(
    "embeddings_pq_assign",
    oracle=f"""
    WITH e AS (
      SELECT vec_id,
             list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * {PQ_SCALE}) AS BIGINT))
               AS qv
      FROM embeddings WHERE {EMB_CONFORM_SQL}
    ),
    seeds AS (
      SELECT qv AS sv,
             CAST(row_number() OVER (
               ORDER BY md5('pq:' || CAST(vec_id AS VARCHAR)), vec_id) - 1
               AS BIGINT) AS k
      FROM e
      ORDER BY md5('pq:' || CAST(vec_id AS VARCHAR)), vec_id
      LIMIT {PQ_K}
    ),
    dists AS (
      SELECT e.vec_id, g.m, s.k,
             list_sum(list_transform(generate_series(1, 8),
               i -> (e.qv[g.m * 8 + i] - s.sv[g.m * 8 + i])
                  * (e.qv[g.m * 8 + i] - s.sv[g.m * 8 + i]))) AS d
      FROM e
      CROSS JOIN generate_series(0, {PQ_M - 1}) AS g(m)
      CROSS JOIN seeds s
    ),
    best AS (
      SELECT vec_id, m, k
      FROM dists
      QUALIFY row_number() OVER (PARTITION BY vec_id, m ORDER BY d, k) = 1
    )
    SELECT vec_id,
           {", ".join(f"CAST(MAX(CASE WHEN m = {mm} THEN k END) AS INT)"
                      f" AS code_{mm}" for mm in range(8))},
           CAST(SUM(k << (4 * m)) AS BIGINT) AS packed_code
    FROM best GROUP BY vec_id
    """,
)
def embeddings_pq_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization encoding — the ANN building block between
    scalar quantization (embeddings_quantize_int8) and IVF
    (sim_topk_ivf): each 64-dim vector becomes {PQ_M} 4-bit codes
    (one per 8-dim subspace, nearest of {PQ_K} codebook entries),
    compressing a vector to 32 bits while keeping distances
    approximable per-subspace — at 100 TB this is what lets a billion
    embeddings fit an in-memory ANN index.

    Everything is EXACT integer arithmetic: components floor-quantized
    to bigints (the k-means idiom), codebooks are the quantized
    subvectors of {PQ_K} deterministic seed vectors (salted-md5
    k-smallest — TakeOrderedAndProject, no RNG, the sim_kmeans seed
    draw), distances are bigint sums of squares, and argmin ties
    break on (distance, code) — so the assignment is bit-identical at
    any parallelism and against the oracle's QUALIFY formulation.

    Scale shape (round-15 rewrite): the codebook ({PQ_K}×64 bigints)
    is a one-row IN-PLAN aggregate (_pq_codebook_df — no driver
    round-trip) riding a broadcast crossJoin as data, and every code
    is an in-row argmin fold (_PQ_CODES) — the encode pass is a PURE
    MAP over the corpus: zero shuffles, zero joins, no
    {PQ_M}·{PQ_K}-row per-vector explode, no groupBy(vec_id)
    re-assembly shuffle. The plan's only exchange is the 16-row
    codebook broadcast (plans/r15/embeddings_pq_assign_after.txt);
    output bit-identical at sf0.001/0.01/0.1 against the unchanged
    oracle (A/B numbers in OPTIMIZATION_r15.md). At 100 TB an encode
    pass that shuffles nothing is the difference between reading the
    corpus once and paying a corpus-sized exchange for row
    re-assembly."""
    e = _pq_quantized(spark, sf_dir)
    coded = e.crossJoin(F.broadcast(_pq_codebook_df(spark, sf_dir))).select(
        "vec_id", _pq_codes().alias("codes")
    )
    return coded.select(
        "vec_id",
        *[
            F.col("codes")[mm].cast("int").alias(f"code_{mm}")
            for mm in range(PQ_M)
        ],
        F.expr(
            "cast(aggregate(zip_with(codes, sequence(0,"
            f" {PQ_M - 1}), (c, m) -> shiftleft(cast(c AS bigint), 4 * m)),"
            " 0L, (acc, x) -> acc + x) AS bigint)"
        ).alias("packed_code"),
    )


PQ_QUERY_K = 5  # probe count for the ADC search demo
PQ_TOPK = 10


@query(
    "sim_topk_pq",
    oracle=f"""
    WITH e AS (
      SELECT vec_id,
             list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * {PQ_SCALE}) AS BIGINT))
               AS qv
      FROM embeddings WHERE {EMB_CONFORM_SQL}
    ),
    seeds AS (
      SELECT qv AS sv,
             CAST(row_number() OVER (
               ORDER BY md5('pq:' || CAST(vec_id AS VARCHAR)), vec_id) - 1
               AS BIGINT) AS k
      FROM e
      ORDER BY md5('pq:' || CAST(vec_id AS VARCHAR)), vec_id
      LIMIT {PQ_K}
    ),
    codes AS (
      SELECT vec_id, g.m, s.k,
             list_sum(list_transform(generate_series(1, 8),
               i -> (e.qv[g.m * 8 + i] - s.sv[g.m * 8 + i])
                  * (e.qv[g.m * 8 + i] - s.sv[g.m * 8 + i]))) AS d
      FROM e
      CROSS JOIN generate_series(0, {PQ_M - 1}) AS g(m)
      CROSS JOIN seeds s
      QUALIFY row_number() OVER (PARTITION BY vec_id, m ORDER BY d, k) = 1
    ),
    probes AS (
      SELECT vec_id AS p_id, qv AS qp FROM e
      ORDER BY md5('pqq:' || CAST(vec_id AS VARCHAR)), vec_id
      LIMIT {PQ_QUERY_K}
    ),
    dtable AS (
      SELECT p.p_id, g.m, s.k,
             list_sum(list_transform(generate_series(1, 8),
               i -> (p.qp[g.m * 8 + i] - s.sv[g.m * 8 + i])
                  * (p.qp[g.m * 8 + i] - s.sv[g.m * 8 + i]))) AS dt
      FROM probes p
      CROSS JOIN generate_series(0, {PQ_M - 1}) AS g(m)
      CROSS JOIN seeds s
    ),
    adc AS (
      SELECT t.p_id, c.vec_id, CAST(SUM(t.dt) AS BIGINT) AS score
      FROM codes c JOIN dtable t ON t.m = c.m AND t.k = c.k
      WHERE c.vec_id <> t.p_id
      GROUP BY t.p_id, c.vec_id
    )
    SELECT p_id, CAST(rank AS INT) AS rank, vec_id, score
    FROM (
      SELECT p_id, vec_id, score,
             row_number() OVER (PARTITION BY p_id
                                ORDER BY score, vec_id) AS rank
      FROM adc
    )
    WHERE rank <= {PQ_TOPK}
    """,
)
def sim_topk_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric-distance (ADC) top-k search over the PQ codes — the
    query half of product quantization (embeddings_pq_assign is the
    index half): per probe, build a {PQ_M}×{PQ_K} distance table
    against the codebook, then score every corpus vector by LOOKUP —
    sum the table entries its 8 codes select — never touching the
    original vectors. At 100 TB this is the whole point of PQ: the
    scan reads 32-bit codes instead of 256-byte vectors, and the
    per-vector cost is 8 adds.

    Exactness discipline: quantized-integer distance tables and codes
    (shared helpers with embeddings_pq_assign), ties on
    (score, vec_id) — so even though ADC is an APPROXIMATION of true
    distance, the approximation itself is deterministic and the
    oracle replicates it bit-exactly (unlike the LSH/IVF keys, which
    are rows-only, the PQ search path is fully hash-checked).

    Scale shape (round-15 rewrite): the codebook AND the
    {PQ_QUERY_K}-probe distance table ({PQ_QUERY_K}·{PQ_M}·{PQ_K} =
    640 ints) are ONE one-row in-plan relation — probe draw and
    codebook are each a TakeOrderedAndProject + single-row
    collect_list aggregate, the distance table a constant transform
    over that row — riding a broadcast crossJoin as DATA with no
    driver round-trip (data, not literals, so the codegen source is
    constant and compilation is paid once; the kmeans lesson).
    Scoring is the textbook ADC inner loop IN-ROW: per vector, 8
    argmin code folds plus, per probe, 8 distance-table lookups —
    zero joins and zero shuffles before the final per-probe top-k
    window. The old shape paid a {PQ_M}·{PQ_K}-row explode, a
    groupBy(vec_id, m) code shuffle and a (m, k) join + second
    groupBy (plans/r15/sim_topk_pq_{{before,after}}.txt; A/B numbers
    in OPTIMIZATION_r15.md); output bit-identical at
    sf0.001/0.01/0.1 against the unchanged oracle."""
    e = _pq_quantized(spark, sf_dir)
    pri = F.md5(F.concat(F.lit("pqq:"), F.col("vec_id").cast("string")))
    probes_row = (
        e.select(pri.alias("p"), "vec_id", "qv")
        .orderBy("p", "vec_id")
        .limit(PQ_QUERY_K)
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(p, vec_id, qv))),"
                " s -> struct(s.vec_id AS p_id, s.qv AS qp))"
            ).alias("ps")
        )
    )
    # dt[p][m][k]: probe p's exact integer distance to codebook entry
    # k in subspace m — computed once on the single (cs, ps) row
    one = probes_row.crossJoin(
        F.broadcast(_pq_codebook_df(spark, sf_dir))
    ).select(
        "cs",
        F.expr("transform(ps, pr -> pr.p_id)").alias("pids"),
        F.expr(
            f"transform(ps, pr -> transform(sequence(0, {PQ_M - 1}), m ->"
            " transform(cs, c -> aggregate(zip_with("
            " slice(pr.qp, m * 8 + 1, 8), slice(c, m * 8 + 1, 8),"
            " (a, b) -> (a - b) * (a - b)),"
            " 0L, (acc, x) -> acc + x))))"
        ).alias("dt"),
    )
    coded = e.crossJoin(F.broadcast(one)).select(
        "vec_id", "dt", "pids", _pq_codes().alias("codes")
    )
    per_probe = F.explode(
        F.expr(
            "transform(dt, (dpm, p) -> struct(pids[p] AS p_id,"
            f" aggregate(sequence(0, {PQ_M - 1}), 0L,"
            " (acc, m) -> acc + dpm[m][codes[m]]) AS score))"
        )
    )
    adc = (
        coded.select("vec_id", per_probe.alias("s"))
        .select("vec_id", "s.p_id", "s.score")
        .where(F.col("vec_id") != F.col("p_id"))
    )
    w = Window.partitionBy("p_id").orderBy("score", "vec_id")
    return (
        adc.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= PQ_TOPK)
        .select("p_id", F.col("rank").cast("int").alias("rank"), "vec_id", "score")
    )


@query(
    "embeddings_label_separation",
    oracle="""
    WITH e AS (
      SELECT CAST(label AS INT) AS label,
             unnest(range(len(embedding))) AS dim,
             CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000000 + 0.5)
                  AS BIGINT) AS qx
      FROM embeddings
      WHERE embedding IS NOT NULL AND len(embedding) > 0
        AND label IS NOT NULL
    ), sums AS (
      SELECT label, dim, CAST(SUM(qx) AS BIGINT) AS s
      FROM e GROUP BY 1, 2
    ), nrm AS (
      SELECT label, SUM(CAST(s AS HUGEINT) * s) AS nrm2
      FROM sums GROUP BY 1
    ), cnt AS (
      SELECT CAST(label AS INT) AS label, CAST(COUNT(*) AS BIGINT) AS n
      FROM embeddings
      WHERE embedding IS NOT NULL AND len(embedding) > 0
        AND label IS NOT NULL
      GROUP BY 1
    ), dots AS (
      SELECT a.label AS label_a, b.label AS label_b,
             SUM(CAST(a.s AS HUGEINT) * b.s) AS dot
      FROM sums a JOIN sums b ON a.dim = b.dim AND a.label < b.label
      GROUP BY 1, 2
    )
    SELECT d.label_a, d.label_b, na.n AS n_a, nb.n AS n_b,
           CAST(floor((CAST(d.dot AS DOUBLE)
                 / sqrt(CAST(x.nrm2 AS DOUBLE) * CAST(y.nrm2 AS DOUBLE)))
                 * 1000000 + 0.5) AS BIGINT) AS centroid_cosine_micro
    FROM dots d
    JOIN nrm x ON x.label = d.label_a
    JOIN nrm y ON y.label = d.label_b
    JOIN cnt na ON na.label = d.label_a
    JOIN cnt nb ON nb.label = d.label_b
    """,
)
def embeddings_label_separation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-label centroid separation matrix — the class-separability
    QC a labelled embedding corpus gets before training a probe or
    kNN classifier on it: the cosine between every pair of label
    centroids (scale cancels, so the cosine of the per-label SUM
    vectors equals the cosine of the means). Complements
    sim_label_centroids, which emits the prototype vectors themselves;
    this key is the QC READOUT over them, computed without ever
    materialising a centroid double. Two labels whose
    centroids sit at cosine ≈ 1 are inseparable at the linear level —
    the signal that labels are noisy, duplicated, or need merging.

    Exactness discipline (agg_corr_stats + dimension_stats combined):
    components are micro-quantized with the tie-safe floor(x·1e6+0.5)
    BEFORE any aggregation, the per-(label, dim) sums are exact
    bigints, the dot/norm moments are exact 128-bit products
    (DECIMAL(38,0) / HUGEINT), and only the final cosine is one
    double expression with identical parenthesization on both engines
    — bit-reproducible at any parallelism, then micro-quantized.

    Scale shape: one posexplode (in-row) → groupBy(label, dim) with
    full partial aggregation — the shuffle carries ≤ |labels|·d rows
    per task regardless of corpus size; the pairwise stage joins the
    |labels|·d sums relation with itself on dim (|labels|²·d cells,
    corpus-independent). Nothing downstream of the first aggregate
    ever touches a vector row again — the same sketch-once/
    merge-downstream shape as the Gram matrix key, but keyed by
    label."""
    # empty (non-NULL) arrays are excluded on BOTH sides: they carry
    # no centroid signal, posexplode drops them implicitly, and the
    # dim==0 count trick below requires every counted vector to HAVE a
    # dim 0 — without the filter the oracle's plain row count diverges
    # (found by review on a failed-encode corpus)
    e = load(spark, sf_dir, "embeddings").where(
        F.col("embedding").isNotNull()
        & (F.size("embedding") > 0)
        & F.col("label").isNotNull()
    )
    q = e.select(
        F.col("label").cast("int").alias("label"),
        F.posexplode("embedding").alias("dim", "x"),
    ).select(
        "label",
        "dim",
        F.expr(
            "CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT)"
        ).alias("qx"),
    )
    # the sums relation is consumed FOUR times downstream (norms, both
    # pair sides, counts); without a barrier Catalyst replicates the
    # whole posexplode+aggregate subtree per consumer — 4 corpus scans
    # (measured: 7 parquet scans in the unbarriered plan). It is
    # |labels|·d rows (~640), so an eager localCheckpoint materialises
    # it once and every consumer reads the tiny ExistingRDD; the
    # corpus is scanned exactly once.
    sums = (
        q.groupBy("label", "dim")
        .agg(
            F.sum("qx").cast("bigint").alias("s"),
            F.count("*").alias("nd"),
        )
        .transform(stable_checkpoint)
    )
    nrm = sums.groupBy("label").agg(
        F.sum(F.expr("CAST(s AS DECIMAL(38,0)) * s")).alias("nrm2")
    )
    # vector count per label == row count at any one dim — no second
    # corpus scan for it
    cnt = sums.where(F.col("dim") == 0).select(
        "label", F.col("nd").alias("n")
    )
    a, b = sums.alias("a"), sums.alias("b")
    dots = (
        a.join(
            b,
            (F.col("a.dim") == F.col("b.dim"))
            & (F.col("a.label") < F.col("b.label")),
        )
        .groupBy(
            F.col("a.label").alias("label_a"),
            F.col("b.label").alias("label_b"),
        )
        .agg(
            F.sum(
                F.expr("CAST(a.s AS DECIMAL(38,0)) * b.s")
            ).alias("dot")
        )
    )
    cos = F.expr(
        "CAST(floor((CAST(dot AS DOUBLE)"
        " / sqrt(CAST(nrm2_a AS DOUBLE) * CAST(nrm2_b AS DOUBLE)))"
        " * 1000000 + 0.5) AS BIGINT)"
    )
    return (
        dots.join(
            F.broadcast(nrm.select(F.col("label").alias("label_a"),
                                   F.col("nrm2").alias("nrm2_a"))),
            "label_a",
        )
        .join(
            F.broadcast(nrm.select(F.col("label").alias("label_b"),
                                   F.col("nrm2").alias("nrm2_b"))),
            "label_b",
        )
        .join(
            F.broadcast(cnt.select(F.col("label").alias("label_a"),
                                   F.col("n").alias("n_a"))),
            "label_a",
        )
        .join(
            F.broadcast(cnt.select(F.col("label").alias("label_b"),
                                   F.col("n").alias("n_b"))),
            "label_b",
        )
        .select("label_a", "label_b", "n_a", "n_b",
                cos.alias("centroid_cosine_micro"))
    )
