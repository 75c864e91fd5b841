"""KMV bottom-k sketch: hash/bottom-k replay, merge algebra, estimator
regimes, and the Spark by-group + pairwise-overlap surfaces; the
map-side bound of every source sketch on the shared per-group fold."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from pyhctsa_spark.functions.hll_state import splitmix64
from pyhctsa_spark.operators.kmv_sketch import kmv_hashes


def _h63(toks):
    return sorted({int(h) >> 1 for h in splitmix64(
        np.asarray(toks, dtype=np.int64))})


def test_kmv_hashes_bottom_k_distinct():
    toks = np.array([5, 5, 7, 7, 9, 11, 13, 5], dtype=np.int64)
    ref = _h63(toks)
    got = kmv_hashes(toks, 3)
    assert list(got) == ref[:3]
    assert list(kmv_hashes(toks, 100)) == ref  # unsaturated keeps all


def test_kmv_merge_is_bottom_k_of_sketch_union():
    rng = np.random.default_rng(3)
    a = rng.integers(0, 10_000, 5000, dtype=np.int64)
    b = rng.integers(5_000, 15_000, 5000, dtype=np.int64)
    k = 64
    merged = np.unique(np.concatenate([kmv_hashes(a, k),
                                       kmv_hashes(b, k)]))[:k]
    direct = kmv_hashes(np.concatenate([a, b]), k)
    assert (merged == direct).all()


def test_estimator_regimes():
    k = 256
    # exact regime
    toks = np.arange(100, dtype=np.int64)
    hs = kmv_hashes(toks, k)
    assert len(hs) == 100  # would estimate exactly
    # saturated regime: 50k distinct, err ~ 1/sqrt(k) ~ 6%
    toks = np.arange(50_000, dtype=np.int64)
    hs = kmv_hashes(toks, k)
    est = (k - 1) * 2.0 ** 63 / float(hs[-1])
    assert abs(est - 50_000) / 50_000 < 0.2


@pytest.fixture(scope="module")
def seq(spark):
    from pyhctsa_spark.sources.synthetic import sequences_df

    return sequences_df(spark, 30).cache()


def test_kmv_distinct_by_matches_replay(spark, seq):
    from pyhctsa_spark.operators.kmv_sketch import kmv_distinct_by

    k = 64
    got = {r["source"]: r for r in kmv_distinct_by(seq, k=k).collect()}
    per_src: dict = {}
    for r in seq.select("source", "tokens").collect():
        per_src.setdefault(r["source"], []).extend(r["tokens"])
    assert set(got) == set(per_src)
    for s, toks in per_src.items():
        hs = _h63(toks)
        size = min(k, len(hs))
        assert got[s]["n"] == len(toks)
        assert got[s]["kmv_size"] == size
        assert got[s]["kmv_kth"] == hs[size - 1]
        if size < k:
            assert got[s]["est_distinct"] == float(size)
        else:
            assert got[s]["est_distinct"] == (
                float((k - 1) * 2 ** 63) / float(hs[k - 1])
            )


def test_kmv_overlap_matches_replay_and_truth(spark):
    from pyhctsa_spark.operators.kmv_sketch import kmv_group_overlap

    # two sources with known 50% vocabulary overlap, plus a disjoint one
    rows = []
    for d in range(8):
        rows.append((f"a{d}", "srcA", list(range(0, 600))))
        rows.append((f"b{d}", "srcB", list(range(300, 900))))
        rows.append((f"c{d}", "srcC", list(range(10_000, 10_050))))
    df = spark.createDataFrame(
        rows, "doc_id string, source string, tokens array<int>"
    )
    k = 128
    got = {(r["a"], r["b"]): r
           for r in kmv_group_overlap(df, k=k).collect()}
    assert set(got) == {("srcA", "srcB"), ("srcA", "srcC"),
                        ("srcB", "srcC")}

    ha, hb = set(_h63(range(0, 600))), set(_h63(range(300, 900)))
    union = sorted(ha | hb)[:k]
    m = sum(1 for h in union if h in ha and h in hb)
    r = got[("srcA", "srcB")]
    assert r["union_size"] == k and r["inter_matches"] == m
    assert r["union_kth"] == union[-1]
    # estimates land near truth: |A∪B|=900, J=1/3, |A∩B|=300
    assert abs(r["union_est"] - 900) / 900 < 0.25
    assert abs(r["jaccard_est"] - 1 / 3) < 0.15
    assert abs(r["inter_est"] - 300) / 300 < 0.4
    # disjoint pair: zero matches, exact-regime union of 650 distinct
    # saturates k, so matches stay 0
    assert got[("srcA", "srcC")]["inter_matches"] == 0
    assert got[("srcA", "srcC")]["jaccard_est"] == 0.0


@pytest.mark.parametrize("sketch", ["kmv", "cms", "hll"])
def test_kmv_partial_shuffle_is_bounded(spark, seq, sketch, monkeypatch):
    """The pre-shuffle side emits at most tasks x groups x (rows per
    state) rows — k for KMV, D*W for CMS, 2^p for the per-source HLL
    union: the map output of the sketch pass must not scale with corpus
    tokens. The CMS and HLL map sides are the ``_group_fold`` each
    sketch builds, caught as it is called."""
    from pyhctsa_spark.functions import hll_state as H
    from pyhctsa_spark.operators import cms_sketch, hll_rollup
    from pyhctsa_spark.operators.kmv_sketch import _kmv_partial
    from pyhctsa_spark.operators.rollup import _group_fold

    k = 16
    if sketch == "kmv":
        partial, per_state = _kmv_partial(seq, k, "source"), k
    else:
        module, run, per_state = {
            "cms": (cms_sketch, cms_sketch.cms_sketch_by,
                    cms_sketch.D * cms_sketch.W),
            "hll": (hll_rollup, hll_rollup.hll_distinct_by_source, H.M),
        }[sketch]
        folds = []

        def spy(*args):
            folds.append(_group_fold(*args))
            return folds[-1]

        monkeypatch.setattr(module, "_group_fold", spy)
        run(seq)
        (partial,) = folds
    cnt = partial.count()
    n_src = seq.select("source").distinct().count()
    parts = seq.rdd.getNumPartitions()
    assert 0 < cnt <= parts * n_src * per_state
