"""Deterministic corpus extension for scale-growth measurement.

The committed testdata tops out at sf0.1 (600k lineitem rows, 5k
documents), which is enough to check plan SHAPE but not to measure how
wall time actually GROWS with input — the one 100 TB design claim that
plan audits argue rather than measure. This module synthesises larger
corpora (3x, 10x, ...) from the sf0.1 seed so `tools/scale_growth.py`
can fit per-key wall-time-vs-rows exponents on real runs.

Why not twin replication (the old scaling probe)? Shift-replicated
documents are EXACT twins of their originals, so every pair-emitting
dedup key's true output grows quadratically in the factor — the probe
then measures result growth, not algorithmic growth, for precisely the
self-join families (containment, ngram-Jaccard, pairwise-threshold)
whose exponents we most need. The extender instead grows each table the
way a real corpus grows:

- **documents** — new docs are synthesised driver-side by resampling
  word SPANS (4-12 word chunks) from same-language originals. Shingles
  are therefore shared with the rest of the corpus at natural rates, so
  posting-list lengths (shingle document frequency) grow linearly with
  the corpus — the exact regime the hot-shingle df caps exist for, and
  the one twin replication cannot produce (twins multiply pair counts,
  not df spread). A fixed ~4% of new docs are near-duplicates (copy of
  an earlier doc with ~3% of words rewritten), keeping the per-doc
  dup-pair rate CONSTANT across factors so correct dedup output grows
  linearly and any super-linear wall time is the algorithm's own.
- **embeddings** — new vectors perturb a random original (sigma=0.12
  noise on each component, 2% with sigma=0.01 to keep a constant
  near-dup rate), label copied from the base so the cluster structure
  that IVF/k-means/PQ rely on is preserved at every factor.
- **customer/supplier/part/orders/lineitem** — TPC-H-style scaling:
  every table replicates with its key shifted by factor*(max_key+1),
  and the foreign keys in orders/lineitem shift in lockstep, so each
  replica is a self-consistent slice (joins keep their fan-out, the
  co-purchase graph grows as k disjoint copies with identical local
  structure). This matches how TPC-H itself scales all non-dimension
  tables with SF.
- **events** — replicas shift user_id/event_id: corpus growth adds
  USERS (per-user path length constant), which is how an event stream
  actually grows and keeps per-user sort cost fixed.
- **region/nation** — true dimensions, copied as-is (TPC-H fixes them
  across SF too).

Everything is deterministic: a single numpy RandomState(seed) drives
the document/embedding synthesis sequentially, and the Spark-side
replication is pure arithmetic. Two runs with the same (sf_dir,
factor, seed) produce byte-identical corpora.

Documents/embeddings are built driver-side with pyarrow (5k rows * 300
chars at the seed scale — trivially driver-sized; at a real 100 TB this
generator would be replaced by the cluster-parallel Python DataSource
pattern in sources/synthetic.py, which is the scale path for synthetic
load generation). The big fact tables replicate through Spark and write
distributed.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

# Fraction of synthesised docs that are near-duplicates of an earlier
# doc, and the fraction of words rewritten inside such a near-dup.
# Constant across factors => dedup-pair output grows linearly.
NEAR_DUP_RATE = 0.04
NEAR_DUP_MUTATION = 0.03
EMB_NEAR_DUP_RATE = 0.02
EMB_NOISE = 0.12
EMB_NEAR_NOISE = 0.01

_SHIFT_TABLES = {
    # table -> (own key column, {fk column -> table whose key domain it shifts with})
    "customer": ("c_custkey", {}),
    "supplier": ("s_suppkey", {}),
    "part": ("p_partkey", {}),
    "orders": ("o_orderkey", {"o_custkey": "customer"}),
    "lineitem": (
        "l_orderkey",
        {"l_partkey": "part", "l_suppkey": "supplier"},
    ),
    "events": ("event_id", {"user_id": None}),  # None: shift by own max+1
}

_COPY_TABLES = ("region", "nation")


def _synth_documents(
    sf_dir: str,
    factor: int,
    rng: np.random.RandomState,
    longtail: float = 0.0,
):
    """Return the extended documents table.

    ``longtail`` > 0 switches the token-space growth regime: that
    fraction of each fresh doc's words is rewritten to a NOVEL token
    (``nv<counter>``, unique corpus-wide — ids, codes, typos, names),
    so the vocabulary grows with the corpus the way real text does
    (Heaps' law) instead of saturating at the seed corpus's fixed
    vocab. The default 0.0 keeps the saturated regime — the committed
    testdata's own shape, and the adversarial worst case for every
    posting-list join (all shingle dfs grow ∝ corpus). The scale-growth
    harness measures both regimes; near-dup copies inherit their base
    doc's novel tokens, so dup structure is preserved either way."""
    tbl = pq.read_table(os.path.join(sf_dir, "documents.parquet"))
    doc_id = tbl.column("doc_id").to_pylist()
    text = tbl.column("text").to_pylist()
    lang = tbl.column("lang").to_pylist()
    source = tbl.column("source").to_pylist()
    n = len(doc_id)

    by_lang: dict[str, list[int]] = {}
    words = [t.split(" ") for t in text]
    for i, lg in enumerate(lang):
        by_lang.setdefault(lg, []).append(i)
    vocab_by_lang = {
        lg: sorted({w for i in idxs for w in words[i]})
        for lg, idxs in by_lang.items()
    }

    new_text: list[str] = []
    new_lang: list[str] = []
    new_source: list[str] = []
    # indices into (words + new word lists) per lang, for near-dup bases
    new_words: list[list[str]] = []
    new_by_lang: dict[str, list[int]] = {lg: [] for lg in by_lang}
    novel_counter = 0

    for _ in range(n * (factor - 1)):
        if new_words and rng.rand() < NEAR_DUP_RATE:
            # near-duplicate of an earlier synthesised doc: copy, then
            # rewrite a small fixed fraction of its words
            j = int(rng.randint(len(new_words)))
            lg = new_lang[j]
            w = list(new_words[j])
            vocab = vocab_by_lang[lg]
            n_mut = max(1, int(len(w) * NEAR_DUP_MUTATION))
            for _m in range(n_mut):
                pos = int(rng.randint(len(w)))
                w[pos] = vocab[int(rng.randint(len(vocab)))]
            src = new_source[j]
        else:
            # fresh doc: template fixes lang/source/length, body is
            # spans resampled from same-language originals so shingle
            # df grows with the corpus at natural rates
            t_idx = int(rng.randint(n))
            lg = lang[t_idx]
            src = source[t_idx]
            target = len(words[t_idx])
            pool = by_lang[lg]
            w = []
            while len(w) < target:
                d = words[pool[int(rng.randint(len(pool)))]]
                span = int(rng.randint(4, 13))
                start = int(rng.randint(max(1, len(d) - span + 1)))
                w.extend(d[start : start + span])
            w = w[:target]
            if longtail > 0.0:
                flips = rng.rand(len(w)) < longtail
                for pos in np.flatnonzero(flips):
                    w[int(pos)] = f"nv{novel_counter}"
                    novel_counter += 1
        new_words.append(w)
        new_by_lang[lg].append(len(new_words) - 1)
        new_text.append(" ".join(w))
        new_lang.append(lg)
        new_source.append(src)

    all_text = text + new_text
    out = {
        "doc_id": pa.array(range(n * factor), type=pa.int64()),
        "text": pa.array(all_text, type=pa.string()),
        "lang": pa.array(lang + new_lang, type=pa.string()),
        "source": pa.array(source + new_source, type=pa.string()),
        "n_chars": pa.array([len(t) for t in all_text], type=pa.int64()),
    }
    return pa.table(out)


def _synth_embeddings(sf_dir: str, factor: int, rng: np.random.RandomState):
    tbl = pq.read_table(os.path.join(sf_dir, "embeddings.parquet"))
    base = np.array(tbl.column("embedding").to_pylist(), dtype=np.float32)
    labels = np.asarray(tbl.column("label").to_pylist(), dtype=np.int32)
    n, dim = base.shape
    picks = rng.randint(n, size=n * (factor - 1))
    sigma = np.where(
        rng.rand(len(picks)) < EMB_NEAR_DUP_RATE, EMB_NEAR_NOISE, EMB_NOISE
    ).astype(np.float32)
    noise = rng.randn(len(picks), dim).astype(np.float32) * sigma[:, None]
    new_vecs = base[picks] + noise
    all_vecs = np.concatenate([base, new_vecs])
    all_labels = np.concatenate([labels, labels[picks]])
    out = pa.table(
        {
            "vec_id": pa.array(range(n * factor), type=pa.int64()),
            "embedding": pa.array(
                [row.tolist() for row in all_vecs],
                type=pa.list_(pa.float32()),
            ),
            "label": pa.array(all_labels.tolist(), type=pa.int32()),
        }
    )
    return out


def _replicate_shifted(spark: SparkSession, sf_dir: str, table: str, factor: int):
    """k self-consistent replicas of a fact table, keys shifted in
    lockstep with the tables they reference (one exchange-free union of
    arithmetic maps — scales to any corpus Spark can scan)."""
    key_col, fks = _SHIFT_TABLES[table]
    df = spark.read.parquet(os.path.join(sf_dir, f"{table}.parquet"))

    def _max_plus_one(tbl: str, col: str) -> int:
        d = spark.read.parquet(os.path.join(sf_dir, f"{tbl}.parquet"))
        return int(d.agg(F.max(col)).collect()[0][0]) + 1

    own_shift = _max_plus_one(table, key_col)
    fk_shift = {}
    for col, ref in fks.items():
        if ref is None:
            fk_shift[col] = _max_plus_one(table, col)
        else:
            fk_shift[col] = _max_plus_one(ref, _SHIFT_TABLES[ref][0])

    parts = []
    for k in range(factor):
        p = df.withColumn(key_col, F.col(key_col) + F.lit(k * own_shift))
        for col, shift in fk_shift.items():
            p = p.withColumn(col, F.col(col) + F.lit(k * shift))
        parts.append(p)
    rep = parts[0]
    for p in parts[1:]:
        rep = rep.unionByName(p)
    return rep


def extend_corpus(
    spark: SparkSession,
    sf_dir: str,
    factor: int,
    out_dir: str,
    seed: int = 42,
    longtail: float = 0.0,
) -> str:
    """Write a factor-x extension of the corpus at ``sf_dir`` into
    ``out_dir`` (all ten tables, same layout). Deterministic in
    (sf_dir, factor, seed, longtail). Returns ``out_dir``."""
    if factor < 1:
        raise ValueError(f"factor must be >= 1, got {factor}")
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.RandomState(seed)

    pq.write_table(
        _synth_documents(sf_dir, factor, rng, longtail=longtail),
        os.path.join(out_dir, "documents.parquet"),
    )
    pq.write_table(
        _synth_embeddings(sf_dir, factor, rng),
        os.path.join(out_dir, "embeddings.parquet"),
    )
    for t in _COPY_TABLES:
        spark.read.parquet(os.path.join(sf_dir, f"{t}.parquet")).write.mode(
            "overwrite"
        ).parquet(os.path.join(out_dir, f"{t}.parquet"))
    for t in _SHIFT_TABLES:
        _replicate_shifted(spark, sf_dir, t, factor).write.mode(
            "overwrite"
        ).parquet(os.path.join(out_dir, f"{t}.parquet"))
    return out_dir
