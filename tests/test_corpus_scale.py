"""Gates for sources/corpus_scale.extend_corpus — the generator behind
the round-15 scale-growth exponent measurement (tools/scale_growth.py).

What must hold for the exponents to mean anything:

- determinism: same (sf_dir, factor, seed) -> byte-identical corpora
  (else the 1x/3x/10x runs measure different inputs per re-run);
- linear row growth on every scaled table, dimensions fixed;
- referential consistency of the shifted replicas (a lineitem row's
  orderkey must still hit an orders row, else join keys silently lose
  their fan-out and every join exponent reads too low);
- document growth must NOT be exact-twin replication (distinct texts,
  shared vocabulary, constant near-dup injection) — the precise defect
  of the old scaling probe's replicas that this generator exists to fix;
- embeddings keep dim/labels so the clustering keys stay well-posed.
"""

from __future__ import annotations

import hashlib
import os

import pyarrow.parquet as pq
import pytest

from tests.conftest import SF_SMOKE
from uchr_scetl_spark.sources.corpus_scale import extend_corpus

FACTOR = 3


@pytest.fixture(scope="module")
def extended(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("scale") / "f3")
    extend_corpus(spark, SF_SMOKE, FACTOR, out, seed=42)
    return out


def _rows(d: str, t: str) -> int:
    return pq.read_metadata(os.path.join(d, f"{t}.parquet")).num_rows


def _pq_rows(d, t):
    try:
        return pq.read_metadata(os.path.join(d, f"{t}.parquet")).num_rows
    except Exception:
        # spark writes a directory; sum the parts
        import glob

        return sum(
            pq.read_metadata(p).num_rows
            for p in glob.glob(os.path.join(d, f"{t}.parquet", "*.parquet"))
        )


def test_row_growth(spark, extended):
    for t in ("customer", "supplier", "part", "orders", "lineitem", "events",
              "documents", "embeddings"):
        base = spark.read.parquet(f"{SF_SMOKE}/{t}.parquet").count()
        assert _pq_rows(extended, t) == base * FACTOR, t
    for t in ("region", "nation"):
        base = spark.read.parquet(f"{SF_SMOKE}/{t}.parquet").count()
        assert _pq_rows(extended, t) == base, t


def test_referential_consistency(spark, extended):
    li = spark.read.parquet(f"{extended}/lineitem.parquet")
    od = spark.read.parquet(f"{extended}/orders.parquet")
    cu = spark.read.parquet(f"{extended}/customer.parquet")
    # every lineitem orderkey resolves; every order custkey resolves
    assert li.join(od, li.l_orderkey == od.o_orderkey, "left_anti").count() == 0
    assert od.join(cu, od.o_custkey == cu.c_custkey, "left_anti").count() == 0
    # join fan-out preserved exactly: joined row count scales by FACTOR
    base_li = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet")
    base_od = spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
    base_join = base_li.join(
        base_od, base_li.l_orderkey == base_od.o_orderkey
    ).count()
    assert li.join(od, li.l_orderkey == od.o_orderkey).count() == base_join * FACTOR


def test_documents_not_twins(spark, extended):
    docs = pq.read_table(os.path.join(extended, "documents.parquet"))
    texts = docs.column("text").to_pylist()
    n = len(texts) // FACTOR
    orig = set(texts[:n])
    synth = texts[n:]
    # synthesised docs are new strings, not copies of originals
    twin_frac = sum(1 for t in synth if t in orig) / len(synth)
    assert twin_frac < 0.01, twin_frac
    # but built from the same vocabulary (chunk resampling, not noise)
    orig_vocab = {w for t in texts[:n] for w in t.split(" ")}
    synth_vocab = {w for t in synth for w in t.split(" ")}
    assert synth_vocab <= orig_vocab
    # keys and stats columns are consistent
    ids = docs.column("doc_id").to_pylist()
    assert ids == list(range(n * FACTOR))
    n_chars = docs.column("n_chars").to_pylist()
    assert all(len(t) == c for t, c in zip(texts, n_chars))
    # language mix is preserved within a tolerance (templates are
    # uniform draws over originals)
    langs = docs.column("lang").to_pylist()
    for lg in set(langs[:n]):
        base_frac = langs[:n].count(lg) / n
        got_frac = langs.count(lg) / len(langs)
        assert abs(got_frac - base_frac) < 0.1, lg


def test_embeddings_shape(spark, extended):
    emb = pq.read_table(os.path.join(extended, "embeddings.parquet"))
    vecs = emb.column("embedding").to_pylist()
    n = len(vecs) // FACTOR
    dim = len(vecs[0])
    assert all(len(v) == dim for v in vecs)
    base_labels = set(emb.column("label").to_pylist()[:n])
    assert set(emb.column("label").to_pylist()) == base_labels
    assert emb.column("vec_id").to_pylist() == list(range(n * FACTOR))


def test_deterministic(spark, extended, tmp_path):
    out2 = str(tmp_path / "f3b")
    extend_corpus(spark, SF_SMOKE, FACTOR, out2, seed=42)
    for t in ("documents", "embeddings"):
        a = pq.read_table(os.path.join(extended, f"{t}.parquet"))
        b = pq.read_table(os.path.join(out2, f"{t}.parquet"))
        assert a.equals(b), t
    # spark-written tables: compare content digests (file layout may
    # differ, values must not)
    for t in ("lineitem", "events"):
        a = spark.read.parquet(f"{extended}/{t}.parquet")
        b = spark.read.parquet(f"{out2}/{t}.parquet")
        cols = a.columns
        ha = hashlib.sha256(
            str(sorted(map(tuple, a.select(cols).collect()))).encode()
        ).hexdigest()
        hb = hashlib.sha256(
            str(sorted(map(tuple, b.select(cols).collect()))).encode()
        ).hexdigest()
        assert ha == hb, t


def test_longtail_regime(spark, tmp_path):
    """longtail > 0 must grow the vocabulary with the corpus (novel
    nv<i> tokens at ~the requested word rate, each corpus-unique) and
    stay deterministic — the regime switch the scale-growth harness
    uses to measure posting-join keys under Heaps-law token growth
    instead of the seed corpus's saturated fixed vocab."""
    out = str(tmp_path / "lt")
    extend_corpus(spark, SF_SMOKE, FACTOR, out, seed=42, longtail=0.05)
    docs = pq.read_table(os.path.join(out, "documents.parquet"))
    texts = docs.column("text").to_pylist()
    n = len(texts) // FACTOR
    synth_words = [w for t in texts[n:] for w in t.split(" ")]
    novel = [w for w in synth_words if w.startswith("nv")]
    rate = len(novel) / len(synth_words)
    assert 0.03 < rate < 0.07, rate
    # corpus-unique: novel tokens never repeat except via near-dup
    # copies of an earlier doc (bounded by the injection rate)
    from collections import Counter

    dup_novel = sum(1 for c in Counter(novel).values() if c > 1)
    assert dup_novel / max(1, len(set(novel))) < 0.1
    out2 = str(tmp_path / "lt2")
    extend_corpus(spark, SF_SMOKE, FACTOR, out2, seed=42, longtail=0.05)
    assert docs.equals(pq.read_table(os.path.join(out2, "documents.parquet")))
