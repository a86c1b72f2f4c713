"""§2.9 deduplication operators: exact, n-gram Jaccard, MinHash+LSH,
SimHash.

100 TB design notes — these four are the canonical scale ladder:

- ``dedup_exact``: hash-groupBy. One shuffle on a 64-hex key; the
  min-doc_id winner per hash is a partial+final ``min`` aggregate, so
  the shuffle carries one row per distinct hash.
- ``dedup_ngram_jaccard``: exact pairwise Jaccard is O(n²) — only ever
  run it *inside bounded candidate groups* (here: same lang × token
  -count band). At 100 TB the band join keys keep each group at
  thousands of docs, and the self-join shuffles on the band key.
- ``dedup_near`` (MinHash LSH): the unbounded-scale path. Cost is
  linear in corpus size: 64 seeded xxhash64 minima folded IN-ROW over
  each doc's distinct-shingle array (zero-shuffle signatures — the
  doc's shingles already sit in one row), then one groupBy(band-hash)
  self-join that only materialises pairs whose band collides. No full
  pairwise product ever exists. Candidates are then *verified* with
  exact Jaccard, so false positives cost compute, never correctness;
  band/row parameters trade recall for cost.
- ``dedup_simhash``: constant-size signature per doc computed with
  higher-order functions (no explode, no UDF); banding over 4×15-bit
  chunks finds candidates with Hamming distance ≤ 3 at exact recall
  (pigeonhole).

Every key here is value-checked against a DuckDB oracle: the exact
operators trivially; MinHash because its verified output equals the
exact-Jaccard pair set at these band parameters; SimHash because its
token hash is md5-derived and bit-identical in both engines; clusters
via a recursive-CTE transitive closure.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..io import load
from ..registry import query
from ..memo import Memo
from ..session import default_parallelism
from ..session import stable_checkpoint, stable_checkpoint_lazy

# MinHash runs on 3-gram SHINGLES, not tokens: the corpus draws from a
# tiny vocabulary, so token-SET Jaccard barely discriminates (22% of all
# pairs exceed 0.7), while shingle Jaccard is ~0 for unrelated docs and
# ≥0.9 for the constructed near-dups (measured: exactly the 25 true
# pairs at sf0.01 clear 0.3). 64 permutations in 16 bands of 4:
# candidate P = 1-(1-j^4)^16 → miss 2.2e-4 at j=0.80 and 3.9e-8 at
# j=0.9, so LSH recall vs the exact-Jaccard oracle is certain at this
# corpus's similarity gap (near-dups ≥0.9, background ≈0) — which is
# what lets dedup_near carry a full value-checked oracle instead of a
# rows-only tag. ~0 false candidates because background shingle-J ≈ 0.
N_MINHASH = 64
N_BANDS = 16
ROWS_PER_BAND = N_MINHASH // N_BANDS
JACCARD_T = 0.8
SHINGLE_N = 3
# SimHash uses a 60-bit token hash derived from md5 (top 15 hex chars →
# bigint): md5 is the one keyed-quality hash BOTH Spark and DuckDB
# expose with identical output, which is what lets the signatures —
# not just derived counts — be value-checked against the oracle.
# 60 bits split into 4 chunks of 15; pigeonhole still guarantees any
# pair at Hamming ≤ 3 shares a chunk.
SIMHASH_BITS = 60
SIMHASH_CHUNKS = 4
SIMHASH_CHUNK_BITS = SIMHASH_BITS // SIMHASH_CHUNKS


# Exact-dedup canonicalization: trim + ASCII-ONLY case fold. Unicode
# case mapping is deliberately NOT part of the content hash — the
# round-11 special-casing sweep showed the three engines in play
# (JVM String.toLowerCase, Python str.lower, DuckDB simple mapping)
# disagree on İ (i+combining-dot vs i), ß (upper SS vs ẞ), and
# ligatures (ﬁ → FI vs unchanged), so a locale-sensitive fold makes
# the survivor set ENGINE-DEPENDENT. ASCII fold is deterministic
# everywhere; full-fold similarity belongs to the near-dup family and
# the dedicated fold-analysis keys (agg_fold_ci_groups).
ASCII_SRC = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"
ASCII_DST = "abcdefghijklmnopqrstuvwxyz"
CANON_SQL = f"translate(trim(text), '{ASCII_SRC}', '{ASCII_DST}')"


def canon_text() -> F.Column:
    """Spark mirror of ``CANON_SQL``."""
    return F.translate(F.trim(F.col("text")), ASCII_SRC, ASCII_DST)


@query(
    "dedup_exact",
    oracle=f"""
    WITH hashed AS (
      SELECT doc_id, lang, source,
             sha256({CANON_SQL}) AS text_sha
      FROM documents
    )
    SELECT doc_id, lang, source, text_sha
    FROM hashed
    QUALIFY row_number() OVER (PARTITION BY text_sha ORDER BY doc_id) = 1
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup on canonicalized-text hash; lowest doc_id
    survives. Canonicalization is trim + ASCII fold (see CANON_SQL):
    engine-exact on any corpus, where a Unicode case fold would make
    the survivor set depend on which engine's case tables ran."""
    d = load(spark, sf_dir, "documents")
    hashed = d.select(
        "doc_id",
        "lang",
        "source",
        F.sha2(canon_text(), 256).alias("text_sha"),
    )
    w = Window.partitionBy("text_sha").orderBy("doc_id")
    return (
        hashed.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("doc_id", "lang", "source", "text_sha")
    )


def _band(col: F.Column, width: int = 10) -> F.Column:
    """Token-count band used to bound the pairwise candidate space."""
    return F.floor(col / F.lit(width))


# Shared oracle CTE: per-doc distinct 3-gram shingle arrays with the
# lang × token-count-band bounding keys (the DuckDB twin of
# shingled_docs, over shingle STRINGS — Spark's xxhash64'd shingles
# have identical set cardinalities modulo a ~1e-9 collision chance).
_ORACLE_SHINGLED_CTE = """
    base AS (
      SELECT doc_id, lang, string_split(text, ' ') AS t FROM documents
    ), docs AS (
      SELECT doc_id, lang,
             list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                            for i in generate_series(1, len(t) - 2)]) AS toks,
             CAST(floor(len(t) / 10) AS BIGINT) AS band
      FROM base
    ), sized AS (
      SELECT *, len(toks) AS n FROM docs
    )
"""

_ORACLE_NGRAM_JACCARD = f"""
    WITH {_ORACLE_SHINGLED_CTE}
    SELECT a.doc_id AS a_id, b.doc_id AS b_id,
           (CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
              / (a.n + b.n - len(list_intersect(a.toks, b.toks)))) AS jaccard
    FROM sized a JOIN sized b
      ON a.lang = b.lang AND a.band = b.band AND a.doc_id < b.doc_id
    WHERE (CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
              / (a.n + b.n - len(list_intersect(a.toks, b.toks)))) >= 0.6
"""


@query("dedup_ngram_jaccard", oracle=_ORACLE_NGRAM_JACCARD)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram-shingle Jaccard over bounded candidate groups
    (same lang, same token-count band). Union size via
    inclusion-exclusion (|A|+|B|-|A∩B|) with per-doc sizes projected
    before the join — materialising union arrays per pair was the
    single biggest cost in the pairwise stage."""
    # Inverted-index formulation: shingle rows self-joined on the
    # shingle (within lang+band), counting shared shingles per pair.
    # Only pairs with >=1 common shingle ever materialise — identical
    # output to all-pairs (inter=0 implies J=0 < tau) at a fraction of
    # the cost, and the shape that survives 100 TB: shuffles on
    # shingle and pair keys, never a quadratic block product.
    # (A posting-list variant — collect_list per shingle + in-row pair
    # explode, the trick that won for the co-purchase edge build — was
    # measured SLOWER here, 0.68s vs 0.45s warm at sf0.1: both sides
    # of this self-join come off one cached relation, so ReusedExchange
    # already halves the join's shuffle and the posting build is pure
    # extra cost.)
    sh = shingled_docs(spark, sf_dir).select(
        "doc_id", "lang", "band", "n", F.explode("toks").alias("tok")
    )
    a = sh.alias("a")
    b = sh.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.tok") == F.col("b.tok"))
            & (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.band") == F.col("b.band"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("a_id"),
            F.col("b.doc_id").alias("b_id"),
            F.col("a.n").alias("a_n"),
            F.col("b.n").alias("b_n"),
        )
        .agg(F.count("*").alias("inter"))
    )
    jaccard = F.col("inter").cast("double") / (
        F.col("a_n") + F.col("b_n") - F.col("inter")
    )
    return _memo_pairs(
        "ngram",
        spark,
        sf_dir,
        pairs.withColumn("jaccard", jaccard)
        .where(F.col("jaccard") >= 0.6)
        .select("a_id", "b_id", "jaccard"),
    )


_SHINGLE_GRAMS = " || ' ' || ".join(
    f"element_at(t, i + {j})" for j in range(SHINGLE_N)
)
# Shingles are stored as xxhash64 LONGS, not strings: every consumer
# (Jaccard intersection join, MinHash minima, verify) only ever tests
# shingle EQUALITY, so an 8-byte hash is a drop-in replacement that
# shrinks the cached relation and every downstream shuffle ~3× and
# makes array_distinct/joins long-typed. Collision cost: two distinct
# shingles sharing a hash could inflate one intersection count —
# P ≈ (#distinct shingles)²/2⁶⁵, ~1e-9 at this corpus; at true 100 TB
# scale swap in a 128-bit hash (two xxhash64 seeds) the same way.
_SHINGLE_SQL = f"""
    CASE WHEN size(t) < {SHINGLE_N} THEN array()
    ELSE array_distinct(transform(
      sequence(1, size(t) - {SHINGLE_N - 1}), i -> xxhash64({_SHINGLE_GRAMS})
    )) END
"""

# One shingled-documents relation per sf_dir, cached and shared by the
# three shingle consumers (ngram Jaccard, MinHash LSH, verify step).
_SHINGLED = Memo()


def shingled_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, lang, band, toks, n) with distinct 3-gram shingle
    arrays, repartitioned across the cluster and CACHED.

    The cache is load-bearing twice over, not just a speedup:

    - Multi-reference: every consumer self-joins or re-joins this
      relation; uncached, Spark re-executes the whole shingle subtree
      once per reference (measured 4× at sf0.01).
    - Optimizer barrier: Spark's InferFiltersFromGenerate +
      CollapseProject otherwise inline the shingle expression —
      including a per-element re-evaluation of split(text) — into a
      pushed-down scan filter, making it O(tokens²) per document
      (measured 65 s of the 137 s sf0.1 runtime). An InMemoryRelation
      stops predicate pushdown at the cache boundary.

    The cached relation is tiny relative to the corpus (arrays of
    short strings, one row per doc); at 100 TB the same role is played
    by persisting the shingled/signature table once per pipeline run.

    The explicit repartition fixes the other sf0.1 pathology: a
    single-file parquet table scans as ONE partition, so all shingle
    CPU otherwise lands on one core.
    """

    def _build() -> DataFrame:
        d = load(spark, sf_dir, "documents")
        return (
            d.repartition(default_parallelism(), "doc_id")
            .withColumn("t", F.split("text", " "))
            .select(
                "doc_id",
                "lang",
                _band(F.size("t")).alias("band"),
                F.expr(_SHINGLE_SQL).alias("toks"),
            )
            .withColumn("n", F.size("toks"))
            .cache()
        )

    return _SHINGLED.get(spark, sf_dir, build=_build)


def shingle_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct (doc_id, shingle) rows off the cached shingled docs."""
    return shingled_docs(spark, sf_dir).select(
        "doc_id", F.explode("toks").alias("shingle")
    )


# parts (n,) for MinHash and ("simhash",) for the packed SimHash relation
_SIGNATURES = Memo()


def minhash_signatures(
    spark: SparkSession, sf_dir: str, n: int = N_MINHASH
) -> DataFrame:
    """(doc_id, sig[0..n)) via n seeded xxhash64 minima over distinct
    shingles, computed IN-ROW over the cached shingle arrays:
    ``array_min(transform(toks, t -> xxhash64(t, seed)))`` — the doc's
    shingles already sit in one row, so the signature needs NO shuffle
    at all (the previous explode → groupBy(doc_id) 64-minimum
    aggregate shuffled partial minima per doc; the in-row fold
    measured ~30% faster at sf0.1 with bit-identical output — the
    seed literal must stay INT-typed, xxhash64(long, int) ≠
    xxhash64(long, long)). Docs with zero shingles drop out (as the
    groupBy form did implicitly). Cached per (app, sf, n): both
    dedup_near and dedup_near_survivors reference the signature
    relation — uncached, the survivors key re-executes the whole
    subtree."""

    def _build() -> DataFrame:
        sh = shingled_docs(spark, sf_dir)
        return sh.where(F.size("toks") > 0).select(
            "doc_id",
            *[
                F.expr(f"array_min(transform(toks, t -> xxhash64(t, {i})))").alias(
                    f"mh{i}"
                )
                for i in range(n)
            ],
        ).cache()

    return _SIGNATURES.get(spark, sf_dir, n, build=_build)


def band_buckets(sigs: DataFrame, n_bands: int = N_BANDS) -> DataFrame:
    """(doc_id, bucket) LSH band buckets off a MinHash signature table:
    each band's rows are folded into one xxhash64 bucket id (band index
    salted in so band b of one doc never collides with band b' of
    another). Shared by the self-join dedup (dedup_near, default 16×4
    banding) and the incremental batch-vs-index variant (32×2 — see
    dedup_incremental for why the two operating points differ)."""
    rpb = N_MINHASH // n_bands
    bands = sigs.select(
        "doc_id",
        *[
            F.xxhash64(
                F.lit(b),
                *[F.col(f"mh{b * rpb + r}") for r in range(rpb)],
            ).alias(f"band{b}")
            for b in range(n_bands)
        ],
    )
    return bands.select(
        "doc_id",
        F.explode(
            F.array(*[F.col(f"band{b}") for b in range(n_bands)])
        ).alias("bucket"),
    )


_ORACLE_NEAR = f"""
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
           CAST(inter AS DOUBLE) / (a_n + b_n - inter) AS jaccard
    FROM pair_inter
    WHERE CAST(inter AS DOUBLE) / (a_n + b_n - inter) >= {JACCARD_T}
"""


@query("dedup_near", oracle=_ORACLE_NEAR)
def dedup_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-duplicate pairs, exact-Jaccard verified.

    3-gram shingles → 64 seeded-xxhash64 minima → 16 bands of 4 →
    band-bucket self-join → verify candidates with exact shingle
    Jaccard ≥ 0.8. The verify step guarantees zero false positives;
    the band parameters push per-pair miss probability below 1e-3 at
    j=0.8 (≈0 at this corpus's ≥0.9 near-dup similarity), so the
    output value-matches the exact inverted-index all-pairs oracle —
    checked, not rows-only. The oracle's shingle inverted-index join
    only materialises pairs sharing ≥1 shingle, so it stays linear-ish
    too; the LSH path additionally never *counts* shared shingles for
    non-candidates, which is what survives 100 TB.
    """
    exploded = band_buckets(minhash_signatures(spark, sf_dir))
    a = exploded.alias("a")
    b = exploded.alias("b")
    candidates = (
        a.join(
            b,
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("a_id"), F.col("b.doc_id").alias("b_id")
        )
        .distinct()
    )
    # Round-15: exact-Jaccard verify by ARRAY INTERSECTION of the two
    # candidates' cached shingle arrays (the containment_pairs idiom)
    # instead of the previous shared-shingle counting join. The count
    # form re-shuffled the ENTIRE corpus-sized shingle-row relation by
    # (doc_id, shingle) to serve a candidate set the LSH banding has
    # already bounded; the array form touches only the candidate docs'
    # rows of the doc-sized cached relation (two equi-joins AQE
    # resolves to broadcasts while candidates are small) and computes
    # |A∩B| in-row — per-pair work is O(|toks|) either way, but
    # nothing corpus-sized is exchanged. A/B at sf0.1 (interleaved
    # single-key bench runs, cold incl. shared memo builds, two
    # 3-round sets, min): 1.65 s → 1.02 s and 1.58 s → 1.17 s; the two
    # (doc_id, shingle) exchanges disappear from the plan
    # (plans/r15/dedup_near_*.txt). Output bit-identical at all three
    # SFs (toks are distinct per doc, so size(array_intersect) IS the
    # shared-shingle count; oracle unchanged).
    sh = shingled_docs(spark, sf_dir).select("doc_id", "toks", "n")
    verified = (
        candidates.join(
            sh.select(
                F.col("doc_id").alias("a_id"),
                F.col("toks").alias("a_toks"),
                F.col("n").alias("a_n"),
            ),
            "a_id",
        )
        .join(
            sh.select(
                F.col("doc_id").alias("b_id"),
                F.col("toks").alias("b_toks"),
                F.col("n").alias("b_n"),
            ),
            "b_id",
        )
        .withColumn(
            "inter", F.size(F.array_intersect("a_toks", "b_toks"))
        )
        .withColumn(
            "jaccard",
            F.col("inter").cast("double")
            / (F.col("a_n") + F.col("b_n") - F.col("inter")),
        )
        .where(F.col("jaccard") >= JACCARD_T)
    )
    return _memo_pairs(
        "near",
        spark,
        sf_dir,
        verified.select("a_id", "b_id", "jaccard").orderBy("a_id", "b_id"),
    )


# Verified pair relations cached per (app, sf_dir): the pair tables are
# tiny (|true dups|, ~150 rows at sf0.1) but EXPENSIVE (band join +
# exact-Jaccard verify), and each has a second consumer — dedup_clusters
# re-derives the ngram pairs, dedup_near_survivors the LSH pairs — that
# would otherwise re-execute the whole candidate pipeline. Same pattern
# (and same lifetime) as the shingle/signature memos above; at 100 TB
# the persisted-pairs table plays this role.
_PAIRS = Memo()


def _memo_pairs(
    tag: str, spark: SparkSession, sf_dir: str, df: DataFrame
) -> DataFrame:
    return _PAIRS.get(spark, sf_dir, tag, build=lambda: df.cache())


_ORACLE_INCREMENTAL = f"""
    WITH {_ORACLE_SHINGLED_CTE},
    shingle_rows AS (
      SELECT doc_id, n, unnest(toks) AS tok FROM sized
    ),
    pair_inter AS (
      SELECT a.doc_id AS new_id, b.doc_id AS index_id,
             CAST(COUNT(*) AS BIGINT) AS inter,
             any_value(a.n) AS a_n, any_value(b.n) AS b_n
      FROM shingle_rows a JOIN shingle_rows b
        ON a.tok = b.tok AND a.doc_id % 10 = 0 AND b.doc_id % 10 <> 0
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT new_id, index_id,
           CAST(inter AS DOUBLE) / (a_n + b_n - inter) AS jaccard
    FROM pair_inter
    WHERE CAST(inter AS DOUBLE) / (a_n + b_n - inter) >= {JACCARD_T}
"""


@query("dedup_incremental", oracle=_ORACLE_INCREMENTAL)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup: a NEW BATCH (docs with doc_id % 10 = 0,
    standing in for today's crawl) deduplicated against the existing
    INDEX (the other 90%) without ever re-joining the index against
    itself — the shape a daily-ingest pipeline actually runs, where
    the index's MinHash band table is a persisted artifact and each
    increment costs O(|batch| + matching buckets), not O(|corpus|²)
    or even O(|corpus|) re-candidate-generation.

    Same machinery as dedup_near (shared signature cache, shared band
    bucketing, exact-Jaccard verify with zero false positives), but
    the candidate join is batch-buckets ⋈ index-buckets: the batch
    side is tiny, so at scale this join broadcasts the increment
    against the bucketed index. Output: every (new doc, index doc)
    pair at Jaccard ≥ {JACCARD_T} — the rows an upsert would use to
    drop or link incoming duplicates.

    Band operating point (round 6, closes the round-5 advice): this
    key banding is 32 bands × 2 rows over the same 64 minhashes —
    NOT dedup_near's 16×4 — because the oracle is the exact all-pairs
    Jaccard while this path only verifies band-collision candidates,
    so candidate recall IS the correctness gate. At j=0.80 a pair
    misses all 32 two-row bands with p=(1−0.8²)³² ≈ 6.6e-15
    (vs ≈ 2.2e-4 under 16×4 — a real flake once the corpus generator
    emits near-threshold pairs). The price is a looser prefilter —
    measured 671 vs 47 candidate pairs at sf0.1, still O(|batch|)
    bucket-bounded and trivially verified exactly; the SELF-JOIN path
    (dedup_near) keeps 16×4 because its candidate volume scales with
    the whole corpus's similarity mass, and its oracle-recall margin
    is restored by the bimodal corpus gap (near-dups ≥ 0.9)."""
    buckets = band_buckets(minhash_signatures(spark, sf_dir), n_bands=32)
    batch = buckets.where(F.col("doc_id") % 10 == 0)
    index = buckets.where(F.col("doc_id") % 10 != 0)
    candidates = (
        batch.alias("a")
        .join(index.alias("b"), F.col("a.bucket") == F.col("b.bucket"))
        .select(
            F.col("a.doc_id").alias("new_id"), F.col("b.doc_id").alias("index_id")
        )
        .distinct()
    )
    # Round-15: array-intersect verify off the cached shingled docs
    # (same rewrite and rationale as dedup_near — the old
    # shared-shingle counting join re-shuffled the corpus-sized
    # shingle-row relation by (doc_id, shingle) for a candidate set
    # the banding already bounded at O(|batch|); see dedup_near's
    # comment for the A/B and plan evidence pattern). Bit-identical:
    # toks are distinct per doc, so size(array_intersect) IS the
    # shared-shingle count. A/B at sf0.1 (interleaved single-key
    # bench runs, cold, two 3-round sets, min): 2.56 s → 2.12 s and
    # 2.26 s → 1.83 s.
    sh = shingled_docs(spark, sf_dir).select("doc_id", "toks", "n")
    verified = (
        candidates.join(
            sh.select(
                F.col("doc_id").alias("new_id"),
                F.col("toks").alias("a_toks"),
                F.col("n").alias("a_n"),
            ),
            "new_id",
        )
        .join(
            sh.select(
                F.col("doc_id").alias("index_id"),
                F.col("toks").alias("b_toks"),
                F.col("n").alias("b_n"),
            ),
            "index_id",
        )
        .withColumn("inter", F.size(F.array_intersect("a_toks", "b_toks")))
        .withColumn(
            "jaccard",
            F.col("inter").cast("double")
            / (F.col("a_n") + F.col("b_n") - F.col("inter")),
        )
        .where(F.col("jaccard") >= JACCARD_T)
    )
    return verified.select("new_id", "index_id", "jaccard").orderBy(
        "new_id", "index_id"
    )


def cap_hot_postings(rows, key_col: str, cap: int):
    """Drop posting rows whose key occurs in more than ``cap`` rows —
    THE hot-posting valve for every inverted-index self-join in the
    registry (a key with document frequency f contributes f² candidate
    pairs, so one boilerplate shingle at crawl scale is a 10¹²-pair
    blowup). One definition so the Spark semantics can never drift
    between consumers (the contrastive sampler; dedup_containment
    inlines the same window to keep _df for its prefix-filter rank);
    the mirrored oracle fragment is sql_df_cap_qualify below, and
    dedup_shingle_df_profile is the measurement that tunes ``cap``."""
    w = Window.partitionBy(key_col)
    return (
        rows.withColumn("_df", F.count("*").over(w))
        .where(F.col("_df") <= cap)
        .drop("_df")
    )


def sql_df_cap_qualify(col: str, cap: int) -> str:
    """DuckDB twin of cap_hot_postings, as a QUALIFY line."""
    return f"QUALIFY COUNT(*) OVER (PARTITION BY {col}) <= {cap}"


CONTAINMENT_T = 0.8
# posting-length cap: shingles appearing in more than this many docs
# (within a lang) are dropped from candidate matching — the standard
# hot-posting guard that keeps the inverted-index join's worst case
# bounded at scale. Inert on these corpora (max shingle df measured 25
# at sf0.1), and mirrored EXACTLY in the oracle so the key stays
# value-checked either way.
CONTAINMENT_DF_CAP = 1000

_ORACLE_CONTAINMENT = f"""
    WITH {_ORACLE_SHINGLED_CTE},
    shingle_rows AS (
      SELECT doc_id, lang, n, unnest(toks) AS tok FROM sized
    ),
    capped AS (
      SELECT * FROM shingle_rows
      {sql_df_cap_qualify('tok', CONTAINMENT_DF_CAP)}
    ),
    pair_inter AS (
      SELECT a.doc_id AS inner_id, b.doc_id AS outer_id,
             CAST(COUNT(*) AS BIGINT) AS inter, any_value(a.n) AS inner_n
      FROM capped a JOIN capped b
        ON a.tok = b.tok AND a.doc_id <> b.doc_id
      GROUP BY 1, 2
    )
    SELECT inner_id, outer_id,
           CAST(inter AS DOUBLE) / inner_n AS containment
    FROM pair_inter
    WHERE CAST(inter AS DOUBLE) / inner_n >= {CONTAINMENT_T}
"""


@query("dedup_containment", oracle=_ORACLE_CONTAINMENT)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ASYMMETRIC shingle containment: every ordered (inner, outer)
    pair where ≥ {CONTAINMENT_T:.0%} of the inner doc's distinct
    3-gram shingles also occur in the outer doc — the doc-inside-doc
    detector Jaccard structurally misses (a short document quoted
    whole inside a long one has Jaccard ≈ |A|/|B| → 0 but containment
    → 1), and the form the contamination/dedup literature (e.g. Lee
    et al.'s dedup study, benchmark-leak audits) applies alongside
    symmetric near-dup removal.

    Scale shape: the same inverted-index self-join as
    dedup_ngram_jaccard off the shared memoized shingle relation —
    only pairs sharing ≥1 shingle materialise; hot postings above
    df={CONTAINMENT_DF_CAP} are dropped from matching (bounding the
    join's worst case; capped-out shingles can only LOWER measured
    containment, never inflate it), with the identical cap in the
    oracle. No lang or length bounding, deliberately: duplicated text
    crosses metadata labels on real corpora (and on THIS one — 19 of
    the 25 true near-dup pairs at sf0.01 carry different lang labels),
    and containment pairs have very different sizes, which is exactly
    what the band-bounded Jaccard key cannot see. Denominator is the
    inner doc's FULL distinct-shingle count.

    Round-15 rewrite — PREFIX FILTERING (the SSJoin/PPJoin family),
    after the scale-growth harness measured the old full
    inverted-index self-join QUADRATIC (1x/3x/10x synthetic growth:
    1.6 s → 3.3 s → 46 s, segment exponent ~2.2, while true output
    grew only ~linearly): candidate volume was Σ_tok df², and shingle
    df grows linearly with any real corpus, so hot-but-under-cap
    shingles (df « {CONTAINMENT_DF_CAP}) dominated the join long
    before the df-cap valve could engage. Prefix filtering is the
    LOSSLESS cut: a pair with containment ≥ t over the inner doc's n
    shingles (m of them cap-surviving) must share at least one of the
    inner doc's p = m − ⌈t·n⌉ + 1 RAREST shingles — if the outer doc
    missed that whole prefix, the intersection is ≤ m − p < ⌈t·n⌉.
    So the candidate join runs prefix(inner) × full(outer) — hot
    shingles rarely appear in anyone's rarest-p prefix — plus the
    exact SIZE filter (an outer doc with fewer than ⌈t·n⌉ surviving
    shingles cannot contain t·n of the inner's), and candidates are
    then verified with one array_intersect over the capped shingle
    sets. Output is bit-identical to the all-postings join (the
    oracle is unchanged — still the plain inverted-index SQL; the
    sf0.001/sf0.01 hash checks pin it). Docs whose p ≤ 0 (m < t·n:
    too many shingles capped out to ever qualify) drop from the inner
    side entirely.

    Measured regimes (scale-growth harness, 1x/3x/10x, BASELINE.md
    round-15 table): on a LONG-TAIL corpus (token space growing with
    the corpus, Heaps-law — how real text behaves) the rewrite is
    near-linear, because prefixes stay cold. On the SATURATED corpus
    the committed testdata extends to (fixed ~28k-shingle space, so
    EVERY df grows ∝ corpus and Σdf² grows quadratically no matter
    the algorithm), it still wins ~8× on candidate volume over the
    old join, but no candidate generator can be sub-quadratic there —
    that regime is exactly what the df cap is for: as the corpus
    grows, boilerplate-grade shingles cross {CONTAINMENT_DF_CAP} and
    drop out, and a production run tunes the cap to the corpus's df
    distribution.

    The df cap stays, one layer deeper: it bounds the worst case when
    even prefixes go hot (mass-duplicated boilerplate), and
    capped-out shingles can only LOWER measured containment, never
    inflate it — with the identical cap in the oracle. A production
    run over a duplicate-heavy corpus tunes the cap DOWN (or runs
    exact/near dedup first, as this registry's pipeline would)."""
    return containment_pairs(spark, sf_dir, CONTAINMENT_DF_CAP)


def containment_pairs(
    spark: SparkSession, sf_dir: str, cap: int
) -> DataFrame:
    """dedup_containment's plan with the df cap as a parameter — the
    registry key pins cap={CONTAINMENT_DF_CAP} (matching its oracle);
    tools/scale_growth cap-valve probes run the SAME code path with a
    tuned cap to measure the valve engaging on saturated corpora
    (BASELINE.md round-15), instead of measuring a reimplementation."""
    sh = shingled_docs(spark, sf_dir).select(
        "doc_id", "n", F.explode("toks").alias("tok")
    )
    # inline cap_hot_postings, keeping _df for the rarest-first rank.
    # Round 16: the cap-filtered shingle-row relation is materialized
    # ONCE behind a localCheckpoint — the r15 plan replayed this
    # explode + tok-window subtree into four window/aggregate
    # consumers (prefix, both join sides, ctoks) via ReusedExchange,
    # re-running the window sort each time. The checkpoint is the
    # cheap half of the r15 full restructure (whose collect_list
    # re-sort measured SLOWER); m and rnk then ride ONE merged window
    # node (same partition+order spec, full-frame count + row_number).
    with_df = (
        sh.withColumn("_df", F.count("*").over(Window.partitionBy("tok")))
        .where(F.col("_df") <= cap)
        .transform(stable_checkpoint_lazy)
    )
    w_doc = Window.partitionBy("doc_id").orderBy("_df", "tok")
    ranked = with_df.select(
        "doc_id",
        "n",
        "tok",
        "_df",
        F.count("*")
        .over(
            w_doc.rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        )
        .alias("m"),
        F.row_number().over(w_doc).alias("rnk"),
    )
    sized = ranked
    prefix = ranked.where(
        F.col("rnk")
        <= F.col("m") - F.ceil(F.lit(CONTAINMENT_T) * F.col("n")) + 1
    )
    ctoks = with_df.groupBy("doc_id").agg(
        F.first("n").alias("n"), F.collect_set("tok").alias("ctoks")
    )
    cand = (
        prefix.alias("a")
        .join(
            sized.alias("b"),
            (F.col("a.tok") == F.col("b.tok"))
            & (F.col("a.doc_id") != F.col("b.doc_id"))
            # size filter: outer must hold >= ceil(t*n) surviving
            # shingles to possibly contain t*n of the inner's
            & (
                F.col("b.m")
                >= F.ceil(F.lit(CONTAINMENT_T) * F.col("a.n"))
            ),
        )
        .select(
            F.col("a.doc_id").alias("inner_id"),
            F.col("b.doc_id").alias("outer_id"),
        )
        .distinct()
    )
    ver = cand.join(
        ctoks.select(
            F.col("doc_id").alias("inner_id"),
            F.col("n").alias("inner_n"),
            F.col("ctoks").alias("inner_toks"),
        ),
        "inner_id",
    ).join(
        ctoks.select(
            F.col("doc_id").alias("outer_id"),
            F.col("ctoks").alias("outer_toks"),
        ),
        "outer_id",
    )
    containment = (
        F.size(F.array_intersect("inner_toks", "outer_toks")).cast("double")
        / F.col("inner_n")
    )
    return (
        ver.where(containment >= CONTAINMENT_T)
        .select("inner_id", "outer_id", containment.alias("containment"))
        .orderBy("inner_id", "outer_id")
    )


def simhash_signatures(docs: DataFrame) -> DataFrame:
    """(doc_id, chunks[4]) 60-bit SimHash as one higher-order-function
    expression: hash each distinct token ONCE (the per-bit lambda sees
    the pre-hashed value — hashing inside the bit loop costs 60×), fold
    per-bit +1/-1 votes, threshold, pack 15-bit chunks MSB-first.

    Constant-size state per row, no shuffle at all for the signature
    itself; the explicit repartition spreads the CPU (a single-file
    parquet table otherwise scans as one partition). An explode+64-
    aggregate formulation was tried and measured 2-3× slower — the
    wide aggregate loses to a tight fold over an in-row array.

    Written as one SQL expression because ``shiftright`` with a
    column-valued shift amount is SQL-only (the PySpark wrapper takes
    a Python int)."""
    expr = F.expr(
        f"""
        transform(
          sequence(0, {SIMHASH_CHUNKS - 1}),
          c -> aggregate(
            slice(
              transform(
                aggregate(
                  transform(array_distinct(split(text, ' ')),
                            tok -> cast(conv(substring(md5(tok), 1, 15), 16, 10)
                                        as bigint)),
                  array_repeat(0L, {SIMHASH_BITS}),
                  (acc, h) -> zip_with(
                    acc,
                    transform(
                      sequence(0, {SIMHASH_BITS - 1}),
                      b -> CASE WHEN (shiftright(h, b) & 1L) = 1L
                                THEN 1L ELSE -1L END
                    ),
                    (x, y) -> x + y
                  )
                ),
                v -> CASE WHEN v > 0L THEN 1L ELSE 0L END
              ),
              c * {SIMHASH_CHUNK_BITS} + 1, {SIMHASH_CHUNK_BITS}
            ),
            0L,
            (acc, bit) -> acc * 2L + bit
          )
        )
        """
    )
    return docs.repartition(default_parallelism(), "doc_id").select(
        "doc_id", expr.alias("chunks")
    )


_ORACLE_SIMHASH = f"""
    WITH toks AS (
      SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
      FROM documents
    ), hashed AS (
      SELECT doc_id,
             ('0x' || substring(md5(tok), 1, 15))::BIGINT AS h
      FROM toks
    ), votes AS (
      SELECT doc_id, bs.b AS b,
             SUM(CASE WHEN ((h >> bs.b) & 1) = 1 THEN 1 ELSE -1 END) AS vote
      FROM hashed, (SELECT unnest(generate_series(0, {SIMHASH_BITS - 1})) AS b) bs
      GROUP BY doc_id, bs.b
    ), chunked AS (
      SELECT doc_id, CAST(b // {SIMHASH_CHUNK_BITS} AS INT) AS chunk_pos,
             SUM(CASE WHEN vote > 0
                 THEN (CAST(1 AS BIGINT)
                       << ({SIMHASH_CHUNK_BITS - 1} - (b % {SIMHASH_CHUNK_BITS})))
                 ELSE 0 END) AS chunk_val
      FROM votes GROUP BY doc_id, CAST(b // {SIMHASH_CHUNK_BITS} AS INT)
    ), cand AS (
      SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
      FROM chunked a JOIN chunked b
        ON a.chunk_pos = b.chunk_pos AND a.chunk_val = b.chunk_val
       AND a.doc_id < b.doc_id
    ), sigs AS (
      SELECT doc_id, list(chunk_val ORDER BY chunk_pos) AS chunks
      FROM chunked GROUP BY doc_id
    ), pairs AS (
      SELECT c.a_id, c.b_id,
             CAST(bit_count(xor(sa.chunks[1], sb.chunks[1]))
                + bit_count(xor(sa.chunks[2], sb.chunks[2]))
                + bit_count(xor(sa.chunks[3], sb.chunks[3]))
                + bit_count(xor(sa.chunks[4], sb.chunks[4])) AS BIGINT) AS hamming
      FROM cand c
      JOIN sigs sa ON sa.doc_id = c.a_id
      JOIN sigs sb ON sb.doc_id = c.b_id
    )
    SELECT a_id, b_id, hamming FROM pairs WHERE hamming <= 3
"""


@query("dedup_simhash", oracle=_ORACLE_SIMHASH)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup candidates: pairs sharing ≥1 of 4 15-bit chunks
    then verified at exact Hamming distance ≤ 3 over the full 60 bits
    — the pigeonhole pair (4 chunks, threshold 3) makes the banding
    EXACTLY recall-complete: every qualifying pair shares a chunk, so
    the output equals all-pairs Hamming ≤ 3 without an all-pairs join.

    Fully value-checked: the md5-derived token hash (see SIMHASH_BITS
    note) makes the signatures — and therefore the banding candidates
    and Hamming distances — bit-identical in DuckDB, so the oracle
    recomputes the whole pipeline (votes → packed chunks → chunk-equality
    candidates → Hamming filter) rather than settling for a rows-only
    check. Deterministic by construction: no sampling, no permutation
    seeds, same candidate semantics on both engines."""
    # cached via the session memo (same lifetime + eviction hook as the
    # shingle/signature caches): the banding self-join references the
    # signature relation twice, and signatures are 5 longs per doc —
    # pennies to hold, but a fresh .cache() per call would leak one
    # InMemoryRelation per invocation in sweep loops.
    # The 4 chunks are additionally packed into ONE 60-bit long: the
    # band join emits millions of candidate rows (templated docs pile
    # thousands of docs into single chunk buckets at sf0.1), and per
    # candidate the packed form costs one codegen bit_count(xor)
    # instead of a zip_with/aggregate HOF fold that allocates two
    # arrays per row — measured 1.9s → 1.2s for the whole key, output
    # bit-identical.
    def _build() -> DataFrame:
        d = load(spark, sf_dir, "documents")
        return (
            simhash_signatures(d)
            .withColumn(
                "packed",
                F.expr("aggregate(chunks, 0L, (acc, c) -> acc * 32768L + c)"),
            )
            .cache()
        )

    sig = _SIGNATURES.get(spark, sf_dir, "simhash", build=_build)
    exploded = sig.select(
        "doc_id",
        "packed",
        F.posexplode("chunks").alias("chunk_pos", "chunk_val"),
    )
    a = exploded.alias("a")
    b = exploded.alias("b")
    # exact Hamming computed IN the band-join row (both packed
    # signatures are already present there): the dedup shuffle then
    # carries only (a_id, b_id, hamming) for pairs that already passed
    # the threshold — never the signatures, and never sub-threshold
    # candidates. A distinct() on the array-typed candidate rows was
    # measured 2× slower at sf0.1.
    hamming = F.bit_count(F.col("a.packed").bitwiseXOR(F.col("b.packed"))).cast(
        "long"
    )
    return (
        a.join(
            b,
            (F.col("a.chunk_pos") == F.col("b.chunk_pos"))
            & (F.col("a.chunk_val") == F.col("b.chunk_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("a_id"),
            F.col("b.doc_id").alias("b_id"),
            hamming.alias("hamming"),
        )
        .where(F.col("hamming") <= 3)
        .groupBy("a_id", "b_id")
        .agg(F.min("hamming").alias("hamming"))
        .orderBy("a_id", "b_id")
    )


_ORACLE_CLUSTERS = f"""
    WITH RECURSIVE {_ORACLE_SHINGLED_CTE},
    pairs AS (
      SELECT a.doc_id AS a_id, b.doc_id AS b_id
      FROM sized a JOIN sized b
        ON a.lang = b.lang AND a.band = b.band AND a.doc_id < b.doc_id
      WHERE (CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
                / (a.n + b.n - len(list_intersect(a.toks, b.toks)))) >= 0.6
    ),
    edges AS (
      SELECT a_id AS src, b_id AS dst FROM pairs
      UNION
      SELECT b_id AS src, a_id AS dst FROM pairs
    ),
    reach AS (
      SELECT src, dst FROM edges
      UNION
      SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
    ),
    labels AS (
      SELECT src AS doc_id, LEAST(src, MIN(dst)) AS cluster_id
      FROM reach GROUP BY src
    )
    SELECT doc_id, cluster_id FROM labels
    UNION ALL
    SELECT doc_id, doc_id AS cluster_id FROM documents
    WHERE doc_id NOT IN (SELECT src FROM edges)
"""


@query("dedup_clusters", oracle=_ORACLE_CLUSTERS)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster assignment: connected components over the
    near-dup pair graph — single-task union-find when the edge list
    fits one executor (the normal post-LSH case), distributed
    min-label propagation WITH POINTER JUMPING otherwise (O(log d)
    rounds; see _min_label_components for both regimes' design notes).
    Oracle: single-statement recursive CTE — transitive closure over
    the same (SQL-derived) edge set, min reachable id per vertex — so
    the fixpoint result is fully value-checked, not rows-only.

    Two scale decisions hold in both regimes: (1) the edge relation is
    materialized ONCE (localCheckpoint) — unmaterialized, every
    reference would re-execute the whole shingle→band→verify pipeline
    that produced it; (2) CC runs only over vertices incident to ≥1
    edge — isolated docs can never change label, so they are unioned
    back unchanged at the end. On a real corpus duplicates are a small
    fraction, so CC state is |dup vertices|, not |corpus|. In the
    distributed regime the edge/label relations are repartitioned to
    ceil(|edges|/1M) partitions so the graph iterates at its own
    scale, and only a scalar changed-count reaches the driver per
    round."""
    pairs = dedup_ngram_jaccard(spark, sf_dir).select("a_id", "b_id")
    docs = load(spark, sf_dir, "documents").select("doc_id")
    return _min_label_components(pairs, docs).orderBy("doc_id")


# Above this many (directed) edges the dup graph no longer fits one
# executor task comfortably and CC switches to the distributed
# iterative path. 5M edges ≈ 80 MB of long pairs — far under an
# executor's memory, well over any LSH dup graph a healthy corpus
# produces (dups are a small fraction; sf0.1 measures 142).
_SINGLE_TASK_EDGE_LIMIT = 5_000_000


def _min_label_components(pairs: DataFrame, docs: DataFrame) -> DataFrame:
    """(doc_id, cluster_id) for EVERY doc: connected components over
    the undirected pair graph, isolated docs labelled with themselves;
    cluster_id = the component's minimum doc_id (deterministic).
    Shared by dedup_clusters and dedup_near_survivors.

    Two-regime design — the honest 100 TB shape:

    - **edges fit one task** (≤ _SINGLE_TASK_EDGE_LIMIT, the normal
      case after LSH dedup, where edges ≪ corpus): one shuffle of the
      bare edge list into a single union-find pass (path-halving +
      union-by-min). One job instead of 2 jobs × rounds — measured
      3.9 s → ~0.5 s at sf0.1, exact same output.
    - **distributed**: min-label propagation WITH POINTER JUMPING —
      each round first takes the min over the 1-hop neighbourhood,
      then compresses L(u) ← L(L(u)) via a self-join of the label
      table, doubling effective propagation distance per round:
      O(log d) rounds instead of O(d) on chain-shaped dup graphs
      (transitive near-dup chains are exactly how real scrape dups
      look). Same join+agg shapes as plain propagation (star
      -contraction alternatives rewrite the edge SET each round,
      which costs an extra distinct-shuffle per round on the big
      relation); per round one edges⋈labels shuffle + one label
      self-join, localCheckpoint truncating lineage, only a scalar
      changed-count ever reaching the driver.
    """
    edges = (
        pairs.union(
            pairs.select(F.col("b_id").alias("a_id"), F.col("a_id").alias("b_id"))
        )
        .withColumnsRenamed({"a_id": "src", "b_id": "dst"})
        .transform(stable_checkpoint)
    )
    n_edges = edges.count()
    verts = edges.select(F.col("src").alias("doc_id")).distinct()
    if n_edges <= _SINGLE_TASK_EDGE_LIMIT:
        labels = _single_task_components(edges)
    else:
        labels = _iterative_components(edges, n_edges)
    isolated = docs.join(verts, "doc_id", "left_anti").withColumn(
        "cluster_id", F.col("doc_id")
    )
    return labels.unionByName(isolated)


def _single_task_components(edges: DataFrame) -> DataFrame:
    """Union-find over the whole edge list in ONE executor task
    (applyInPandas on a constant key): path-halving find, union by
    MIN id so every root is its component's minimum — bit-identical
    to the iterative fixpoint. The shuffle moves only (src, dst)
    longs; no vector/text columns ride along."""
    import pandas as pd

    def uf(pdf: "pd.DataFrame") -> "pd.DataFrame":
        parent: dict[int, int] = {}

        def find(x: int) -> int:
            while parent[x] != x:
                parent[x] = parent[parent[x]]  # path halving
                x = parent[x]
            return x

        for u, v in zip(pdf["src"].to_numpy(), pdf["dst"].to_numpy()):
            u, v = int(u), int(v)
            parent.setdefault(u, u)
            parent.setdefault(v, v)
            ru, rv = find(u), find(v)
            if ru != rv:
                if rv < ru:
                    ru, rv = rv, ru
                parent[rv] = ru  # larger root under smaller → min root
        ids = sorted(parent)
        return pd.DataFrame(
            {"doc_id": ids, "cluster_id": [find(x) for x in ids]}
        )

    return (
        edges.groupBy(F.lit(1).alias("g"))
        .applyInPandas(lambda pdf: uf(pdf), "doc_id long, cluster_id long")
    )


def _iterative_components(edges: DataFrame, n_edges: int) -> DataFrame:
    """Distributed min-label propagation with pointer jumping; see
    _min_label_components for the design notes."""
    n_parts = max(1, min(default_parallelism(), n_edges // 1_000_000))
    edges = edges.repartition(n_parts, "dst").transform(stable_checkpoint)
    verts = edges.select(F.col("src").alias("doc_id")).distinct()
    labels = (
        verts.withColumn("cluster_id", F.col("doc_id"))
        .repartition(n_parts, "doc_id")
        .transform(stable_checkpoint)
    )
    for _ in range(50):  # O(log d) with jumping; break below fires long before
        neighbor_min = (
            edges.join(
                labels.select(
                    F.col("doc_id").alias("dst"),
                    F.col("cluster_id").alias("n_label"),
                ),
                "dst",
            )
            .groupBy(F.col("src").alias("doc_id"))
            .agg(F.min("n_label").alias("n_min"))
        )
        hop = (
            labels.withColumnRenamed("cluster_id", "old_label")
            .join(neighbor_min, "doc_id", "left")
            .select(
                "doc_id",
                "old_label",
                F.least(
                    F.col("old_label"), F.coalesce("n_min", "old_label")
                ).alias("l1"),
            )
        )
        # pointer jumping: L(u) ← L(L(u)). Labels only ever decrease
        # and L(v) ≤ v, so the jump is monotone; the left join covers
        # roots (L(u) = u has itself in the table by construction).
        parent = hop.select(
            F.col("doc_id").alias("p_id"), F.col("l1").alias("p_label")
        )
        new_labels = (
            hop.join(parent, hop["l1"] == parent["p_id"], "left")
            .select(
                "doc_id",
                F.coalesce("p_label", "l1").alias("cluster_id"),
                (F.coalesce("p_label", "l1") != F.col("old_label")).alias(
                    "changed"
                ),
            )
            .repartition(n_parts, "doc_id")
            .transform(stable_checkpoint)
        )
        changed = new_labels.where("changed").count()
        labels = new_labels.drop("changed")
        if changed == 0:
            break
    return labels


_ORACLE_NEAR_SURVIVORS = f"""
    WITH RECURSIVE {_ORACLE_SHINGLED_CTE},
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
    ),
    near_pairs AS (
      SELECT a_id, b_id FROM pair_inter
      WHERE CAST(inter AS DOUBLE) / (a_n + b_n - inter) >= {JACCARD_T}
    ),
    edges AS (
      SELECT a_id AS src, b_id AS dst FROM near_pairs
      UNION
      SELECT b_id AS src, a_id AS dst FROM near_pairs
    ),
    reach AS (
      SELECT src, dst FROM edges
      UNION
      SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
    ),
    labels AS (
      SELECT src AS doc_id, LEAST(src, MIN(dst)) AS cluster_id
      FROM reach GROUP BY src
    )
    SELECT d.doc_id, d.lang, d.source FROM documents d
    WHERE d.doc_id NOT IN
      (SELECT doc_id FROM labels WHERE cluster_id < doc_id)
"""


@query("dedup_near_survivors", oracle=_ORACLE_NEAR_SURVIVORS)
def dedup_near_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The operator a corpus pipeline actually runs: the DEDUPLICATED
    corpus under MinHash near-dup semantics. Near-dup pairs (the
    dedup_near output) cluster via min-label connected components and
    only each cluster's lowest doc_id survives; docs untouched by any
    pair pass through. Same linear LSH + bounded-iteration CC
    machinery as dedup_near/dedup_clusters — this key just closes the
    loop from pair list to kept-rows, which is what downstream
    training-mix stages consume. Oracle: recursive-CTE closure over
    the exact-Jaccard pair set."""
    pairs = dedup_near(spark, sf_dir).select("a_id", "b_id")
    d = load(spark, sf_dir, "documents")
    labels = _min_label_components(pairs, d.select("doc_id"))
    survivors = labels.where(F.col("cluster_id") == F.col("doc_id")).select(
        "doc_id"
    )
    return d.join(survivors, "doc_id").select("doc_id", "lang", "source")


@query(
    "dedup_exact_keep_best",
    oracle=f"""
    SELECT doc_id, lang, source, n_chars
    FROM documents
    QUALIFY row_number() OVER (
      PARTITION BY md5({CANON_SQL})
      ORDER BY n_chars DESC, doc_id
    ) = 1
    """,
)
def dedup_exact_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup that keeps the BEST duplicate, not an arbitrary
    one: within each content-hash group the highest-quality copy
    survives (longest document, doc_id tiebreak) — the
    training-corpus variant where near-identical scrapes differ in
    truncation and you want the fullest.

    Same single-shuffle profile as dedup_exact (hash → window rank
    instead of dropDuplicates), and unlike dropDuplicates the
    survivor choice is DETERMINISTIC — dropDuplicates keeps whichever
    row the shuffle delivers first."""
    from pyspark.sql import Window

    d = load(spark, sf_dir, "documents")
    h = F.md5(canon_text())
    w = Window.partitionBy(h).orderBy(F.col("n_chars").desc(), "doc_id")
    return (
        d.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("doc_id", "lang", "source", "n_chars")
    )


SPECTRUM_PANEL_K = 100  # fixed ABSOLUTE panel size (the
# sim_cosine_histogram pattern): pair volume is O(k · postings), linear
# in the corpus at fixed k — a fixed-RATE panel would grow the pair
# count quadratically


@query(
    "dedup_pair_jaccard_spectrum",
    oracle=f"""
    WITH {_ORACLE_SHINGLED_CTE},
    shingle_rows AS (
      SELECT doc_id, n, unnest(toks) AS tok FROM sized
    ),
    panel AS (
      SELECT doc_id AS p_id, n AS p_n, toks AS p_toks FROM sized
      ORDER BY md5('spec:' || CAST(doc_id AS VARCHAR)), doc_id
      LIMIT {SPECTRUM_PANEL_K}
    ),
    panel_rows AS (
      SELECT p_id, p_n, unnest(p_toks) AS tok FROM panel
    ),
    pair_inter AS (
      SELECT p.p_id, s.doc_id,
             CAST(COUNT(*) AS BIGINT) AS inter,
             any_value(p.p_n) AS p_n, any_value(s.n) AS s_n
      FROM panel_rows p JOIN shingle_rows s
        ON p.tok = s.tok AND s.doc_id <> p.p_id
      GROUP BY p.p_id, s.doc_id
    ),
    banded AS (
      SELECT CAST(floor(CAST(inter AS DOUBLE)
                        / (p_n + s_n - inter) * 10) AS INT) AS band
      FROM pair_inter
    ),
    hist AS (
      SELECT band, CAST(COUNT(*) AS BIGINT) AS n_pairs
      FROM banded GROUP BY band
    )
    SELECT band,
           (CAST(band AS DOUBLE) / 10) AS band_lo,
           n_pairs,
           CAST(SUM(n_pairs) OVER (ORDER BY band DESC) AS BIGINT)
             AS n_pairs_ge
    FROM hist
    """,
)
def dedup_pair_jaccard_spectrum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pair-Jaccard SPECTRUM over a fixed panel × the corpus — the
    measurement you calibrate LSH banding against: it shows where the
    corpus's pair-similarity mass sits (here: a background lobe at
    J < 0.1 and a near-dup lobe at J ≥ 0.8, nothing in between), so
    threshold and band/row choices stop being guesses. n_pairs_ge is
    the running "pairs a threshold at this band's lower edge would
    have to verify" count — the verify-stage cost curve.

    Scale design: the panel is {SPECTRUM_PANEL_K} docs drawn by salted
    md5 k-smallest (TakeOrderedAndProject — deterministic, corpus-
    size-independent, the sim_cosine_histogram fix), and pairs come
    from the panel's shingle postings joined against the corpus
    inverted index — O(k · postings) TOTAL, never all-pairs. The
    shingle relations are the shared session memos, so the spectrum
    rides the same cached build as the dedup keys. Bands are
    data-driven groupBy keys (no per-band CASE arms to go vacuous);
    the cumulative window runs over ≤ 11 rows. The Jaccard division
    and the floor(x*10) banding are the same double expression tree on
    both engines, so band edges agree bit-exactly."""
    sized = shingled_docs(spark, sf_dir)
    rows = shingle_rows(spark, sf_dir)
    panel = (
        sized.orderBy(
            F.md5(F.concat(F.lit("spec:"), F.col("doc_id").cast("string"))),
            "doc_id",
        )
        .limit(SPECTRUM_PANEL_K)
        .select(F.col("doc_id").alias("p_id"), F.col("n").alias("p_n"),
                F.col("toks").alias("p_toks"))
    )
    panel_rows = panel.select(
        "p_id", "p_n", F.explode("p_toks").alias("shingle")
    )
    sizes = sized.select(F.col("doc_id").alias("s_id"), F.col("n").alias("sn"))
    pair_inter = (
        F.broadcast(panel_rows)
        .join(rows, ["shingle"])
        .where(F.col("doc_id") != F.col("p_id"))
        .groupBy("p_id", "doc_id")
        .agg(F.count("*").alias("inter"), F.first("p_n").alias("pn"))
        .join(sizes, F.col("doc_id") == F.col("s_id"))
    )
    band = F.floor(
        F.col("inter").cast("double")
        / (F.col("pn") + F.col("sn") - F.col("inter"))
        * 10
    ).cast("int")
    hist = (
        pair_inter.select(band.alias("band"))
        .groupBy("band")
        .agg(F.count("*").alias("n_pairs"))
    )
    w = Window.orderBy(F.desc("band")).rangeBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return hist.select(
        "band",
        (F.col("band").cast("double") / 10).alias("band_lo"),
        "n_pairs",
        F.sum("n_pairs").over(w).cast("bigint").alias("n_pairs_ge"),
    )


@query(
    "dedup_shingle_df_profile",
    oracle=f"""
    WITH {_ORACLE_SHINGLED_CTE},
    shingle_rows AS (
      SELECT doc_id, unnest(toks) AS tok FROM sized
    ),
    df AS (
      SELECT tok, CAST(COUNT(*) AS BIGINT) AS df
      FROM shingle_rows GROUP BY tok
    )
    SELECT CAST(length(printf('%b', df)) AS INT) AS df_band,
           CAST(COUNT(*) AS BIGINT) AS n_shingles,
           CAST(SUM(df) AS BIGINT) AS n_postings,
           CAST(SUM(df * (df - 1)) AS BIGINT) AS n_pair_candidates,
           CAST(MAX(df) AS BIGINT) AS max_df
    FROM df GROUP BY 1
    """,
)
def dedup_shingle_df_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shingle document-frequency profile — the measurement you run
    BEFORE choosing a hot-posting cap (dedup_containment's
    CONTAINMENT_DF_CAP, sampling's NEG_SHINGLE_DF_CAP): per BINARY
    df band (band b = df in [2^(b-1), 2^b): 1 = df 1, 2 = df 2-3,
    3 = df 4-7, …), how many distinct shingles live there, how many
    posting rows they own, and — the number the caps
    exist to bound — how many ordered candidate pairs the
    inverted-index self-join would generate from them
    (Σ df·(df−1), exactly the pair count `ON a.tok = b.tok AND
    a.doc_id <> b.doc_id` produces). On a crawl, one boilerplate
    band dominating n_pair_candidates IS the 10¹²-pair blowup in
    table form; the cap is set where that column explodes. The band
    is the df's binary digit count (band b = df in [2^(b-1), 2^b)) —
    computed as the LENGTH of the base-2 STRING rendering on both
    engines (Spark conv(df,10,2), DuckDB printf('%b')): pure
    integer/string algebra, because floor(log2) of a double is not
    engine-stable at bucket edges.

    Scale shape: the df relation is one count per distinct shingle
    off the SHARED memoized shingle explode (partial-aggregated
    map-side), the profile a ≤20-row re-aggregate — strictly cheaper
    than any dedup key that consumes the same index."""
    rows = shingle_rows(spark, sf_dir)
    df = rows.groupBy("shingle").agg(F.count("*").alias("df"))
    return df.groupBy(
        F.length(F.expr("conv(df, 10, 2)")).cast("int").alias("df_band")
    ).agg(
        F.count("*").alias("n_shingles"),
        F.sum("df").cast("bigint").alias("n_postings"),
        F.sum(F.col("df") * (F.col("df") - 1))
        .cast("bigint")
        .alias("n_pair_candidates"),
        F.max("df").cast("bigint").alias("max_df"),
    )


@query(
    "dedup_doc_ids",
    oracle="""
    SELECT doc_id, text, lang, source, n_chars FROM (
      SELECT *, row_number() OVER (
        PARTITION BY doc_id
        ORDER BY text NULLS FIRST, lang NULLS FIRST,
                 source NULLS FIRST, n_chars NULLS FIRST) AS rn
      FROM documents
    ) WHERE rn = 1
    """,
)
def dedup_doc_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-ID dedup — the documents twin of stream_dedup and the
    declared INGEST step for corpora that violate the doc_id key
    contract (re-crawls and shard overlaps re-emit an id with changed
    text; the round-9 duplicate-doc_id sweep showed 9 downstream keys
    — the whole shingle-index family plus per-doc aggregates — split
    between engines once two different texts share one id, because
    "a document" stops being well-defined). One row per doc_id
    survives, picked by lexicographic struct-MIN over the payload
    (NULL fields smallest on both engines — the probed stream_dedup
    idiom), so the survivor is deterministic, not arrival-order.
    tests/test_duplicate_docid_corpus.py proves the documented
    two-step pipeline end-to-end: this key is hash-exact on the
    violating corpus, and the divergent downstream keys are hash-exact
    again on its output.

    Scale notes: min(struct) is an ordinary aggregate — partial
    map-side combine, ONE exchange on doc_id, no window sort; at
    100 TB this is the cheapest possible id-level dedup (same shuffle
    as the groupBys every downstream key already does)."""
    d = load(spark, sf_dir, "documents")
    return (
        d.groupBy("doc_id")
        .agg(F.min(F.struct("text", "lang", "source", "n_chars")).alias("s"))
        .select("doc_id", "s.text", "s.lang", "s.source", "s.n_chars")
    )


# The survivor subquery in isolation (raw FLOAT[] output) — the
# remediation pipeline materialises THIS via DuckDB COPY so the
# deduped parquet keeps the exact FLOAT[] physical type
# (tests/test_duplicate_vecid_corpus.py); the checked oracle below
# wraps it with the scalar rendering. The NULL-element guard runs
# BEFORE the survivor pick because that pick is where engines
# diverge: Spark orders NULL array elements smallest, DuckDB's
# nested comparison orders them largest — so a NULL component is
# outside the value domain and must fail LOUDLY on both sides, never
# silently pick different survivors.
DEDUP_VEC_SURVIVOR_SQL = """
    SELECT vec_id, embedding, label FROM (
      SELECT *, row_number() OVER (
        PARTITION BY vec_id
        ORDER BY embedding NULLS FIRST, label NULLS FIRST) AS rn
      FROM (
        SELECT vec_id,
               CASE WHEN len(list_filter(embedding, x -> x IS NULL)) > 0
                    THEN error('dedup_vec_ids: NULL embedding component'
                               || ' (value-domain contract: engines order'
                               || ' NULL array elements differently)')
                    ELSE embedding END AS embedding,
               label
        FROM embeddings
      )
    ) WHERE rn = 1
"""


@query(
    "dedup_vec_ids",
    oracle=f"""
    WITH survivors AS ({DEDUP_VEC_SURVIVOR_SQL})
    SELECT vec_id,
           CASE WHEN embedding IS NULL THEN NULL
                ELSE coalesce(array_to_string(list_transform(
                       CAST(embedding AS DOUBLE[]),
                       x -> CAST(CAST(floor(x * 1000000.0) AS BIGINT)
                                 AS VARCHAR)), ','), '')
           END AS embedding_q,
           label
    FROM survivors
    """,
)
def dedup_vec_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector-ID dedup — the embeddings twin of dedup_doc_ids /
    stream_dedup, and the declared ingest step for embedding tables
    that violate the vec_id key contract (a re-run encoder job
    re-emits an id with a different vector; the round-9 duplicate-
    vec_id sweep split 4 similarity keys — pairwise thresholds,
    kNN, k-means assignment, embedding dedup — because 'a vector'
    stops being well-defined). One row per vec_id survives, picked by
    lexicographic struct-MIN over (embedding, label): array<float>
    compares element-wise identically on both engines (same parquet
    FLOAT bytes, same lexicographic rule), so the survivor is
    deterministic, not arrival-order.

    The CHECKED output renders the survivor's embedding as a scalar —
    comma-joined micro-quantized components (floor at 1e-6, the
    repo-wide float idiom) — because checked results carry scalar
    columns only (operators/aggregates.py contract): the driver's
    order-insensitive canonicalizer column-sorts the frame and cannot
    sort ndarray cells (the round-9 driver ERR on this very key).
    Downstream consumers of the remediation use the raw-FLOAT[]
    survivor relation (DEDUP_VEC_SURVIVOR_SQL), not the rendering.
    NULL components fail loudly on both engines before the survivor
    pick (see DEDUP_VEC_SURVIVOR_SQL comment); array_join/
    array_to_string empty-vs-NULL divergence is coalesced oracle-side
    under an IS NULL arm, the probed idiom.

    Scale notes: same shape as dedup_doc_ids — partial map-side
    combine, ONE exchange on vec_id, no window sort; the embedding
    array rides the aggregation buffer once, never exploded; the
    rendering is a post-aggregate projection."""
    e = load(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.when(
            F.exists("embedding", lambda x: x.isNull()),
            F.raise_error(
                F.lit(
                    "dedup_vec_ids: NULL embedding component "
                    "(value-domain contract: engines order NULL "
                    "array elements differently)"
                )
            ).cast("array<float>"),
        )
        .otherwise(F.col("embedding"))
        .alias("embedding"),
        "label",
    )
    s = e.groupBy("vec_id").agg(
        F.min(F.struct("embedding", "label")).alias("s")
    )
    return s.select(
        "vec_id",
        F.array_join(
            F.transform(
                F.col("s.embedding").cast("array<double>"),
                lambda x: F.floor(x * 1000000.0).cast("bigint").cast("string"),
            ),
            ",",
        ).alias("embedding_q"),
        F.col("s.label").alias("label"),
    )
