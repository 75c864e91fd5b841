"""Exact-quantile histogram rollup: state algebra vs brute-force numpy,
Spark operator vs per-doc recomputation, retention cascade exactness,
and plan shape (zero Exchange on the single-pass path)."""

import numpy as np
import pytest

from pyhctsa_spark.functions import hist_state as H


def _brute(window_vals: np.ndarray) -> dict:
    """Order statistics straight from the definition."""
    v = np.sort(np.asarray(window_vals, dtype=np.int64))
    n = len(v)
    out = {"n": n, "n_distinct": len(np.unique(v))}
    for num, den, name in H.QUANTILES:
        thr = -(-(num * n) // den)  # ceil(q*n)
        out[name] = int(v[thr - 1])
    uniq, cnt = np.unique(v, return_counts=True)
    best = np.flatnonzero(cnt == cnt.max())[0]  # smallest value among ties
    out["mode_tok"] = int(uniq[best])
    out["mode_count"] = int(cnt.max())
    return out


def _rand_mat(rng, k, L, lo=-5, hi=40):
    return rng.integers(lo, hi, size=(k, L)).astype(np.int64)


def test_hist_finalize_matches_brute():
    rng = np.random.default_rng(7)
    for L in (4, 8, 17, 64):
        Y = _rand_mat(rng, 13, L)
        fin = H.finalize(H.hist_from_windows(Y))
        for w in range(13):
            b = _brute(Y[w])
            for key, want in b.items():
                assert fin[key][w] == want, (L, w, key)


def test_hist_quantiles_match_numpy_inverted_cdf():
    rng = np.random.default_rng(11)
    Y = _rand_mat(rng, 40, 25)
    fin = H.finalize(H.hist_from_windows(Y))
    for w in range(40):
        for num, den, name in H.QUANTILES:
            want = np.percentile(Y[w], num, method="inverted_cdf")
            assert fin[name][w] == int(want), (w, name)


def test_merge_groups_equals_direct_windows():
    rng = np.random.default_rng(3)
    W, group = 8, 4
    toks = rng.integers(0, 30, size=W * group * 5 + 3).astype(np.int64)
    k0 = len(toks) // W
    s0 = H.hist_from_windows(toks[: k0 * W].reshape(k0, W))
    merged = H.merge_groups(s0, group)
    k1 = k0 // group
    direct = H.hist_from_windows(toks[: k1 * W * group].reshape(k1, W * group))
    for key in ("vals", "cnts", "offs"):
        np.testing.assert_array_equal(merged[key], direct[key])


def test_merge_is_associative_two_ways():
    rng = np.random.default_rng(5)
    toks = rng.integers(0, 12, size=256).astype(np.int64)
    s0 = H.hist_from_windows(toks.reshape(32, 8))
    once = H.merge_groups(H.merge_groups(s0, 4), 2)
    direct = H.merge_groups(s0, 8)
    for key in ("vals", "cnts", "offs"):
        np.testing.assert_array_equal(once[key], direct[key])


def test_pack_roundtrip_bytes_and_arrow():
    rng = np.random.default_rng(9)
    Y = _rand_mat(rng, 7, 16)
    state = H.hist_from_windows(Y)
    back = H.unpack_blobs(H.pack_bytes(state))
    for key in ("vals", "cnts", "offs"):
        np.testing.assert_array_equal(back[key], state[key])
    arr = H.pack_arrow(state)
    back2 = H.unpack_blobs([row.as_py() for row in arr])
    for key in ("vals", "cnts", "offs"):
        np.testing.assert_array_equal(back2[key], state[key])


def test_topk_matches_brute():
    rng = np.random.default_rng(17)
    Y = _rand_mat(rng, 20, 30, lo=0, hi=12)
    t = H.topk(H.hist_from_windows(Y), 3)
    for w in range(20):
        uniq, cnt = np.unique(Y[w], return_counts=True)
        order = np.lexsort((uniq, -cnt))[:3]
        mask = t["row"] == w
        np.testing.assert_array_equal(t["token"][mask], uniq[order])
        np.testing.assert_array_equal(t["count"][mask], cnt[order])
        np.testing.assert_array_equal(t["rank"][mask], np.arange(1, len(order) + 1))


def test_topk_fewer_distinct_than_k():
    Y = np.array([[5, 5, 5, 5], [1, 2, 1, 2]], dtype=np.int64)
    t = H.topk(H.hist_from_windows(Y), 3)
    assert list(t["row"]) == [0, 1, 1]
    assert list(t["token"]) == [5, 1, 2]
    assert list(t["count"]) == [4, 2, 2]


def test_state_size_bounded_by_vocab():
    rng = np.random.default_rng(13)
    toks = rng.integers(0, 10, size=4096).astype(np.int64)  # vocab 10
    s = H.hist_from_windows(toks.reshape(8, 512))
    merged = H.merge_groups(s, 8)  # one window of 4096 points
    assert len(merged["vals"]) <= 10
    assert H.finalize(merged)["n"][0] == 4096


# ---------------------------------------------------------------------------
# Spark operator
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def seq(spark):
    from pyhctsa_spark.sources.synthetic import sequences_df

    return sequences_df(spark, 12, partitions=3, binary=True)


def _tok_arrays(spark, n_docs):
    from pyhctsa_spark.sources.synthetic import make_doc

    return {str(make_doc(i)[0]): np.asarray(make_doc(i)[1], dtype=np.int64)
            for i in range(n_docs)}


def test_rollup_quantile_tiers_matches_brute(spark, seq):
    from pyhctsa_spark.operators.quantile_rollup import rollup_quantile_tiers

    W, group = 8, 4
    rows = rollup_quantile_tiers(seq, window=W, group=group, n_tiers=3).collect()
    toks = _tok_arrays(spark, 12)
    by_key = {(r.doc_id, r.tier, r.window_idx): r for r in rows}
    assert len(by_key) == len(rows)
    checked = 0
    for doc_id, t in toks.items():
        for tier in range(3):
            L = W * group**tier
            for w in range(len(t) // L):
                r = by_key[(doc_id, tier, w)]
                b = _brute(t[w * L:(w + 1) * L])
                for key, want in b.items():
                    assert getattr(r, key) == want, (doc_id, tier, w, key)
                checked += 1
    assert checked == len(rows)


def test_quantile_cascade_exact_from_store(spark, seq, tmp_path_factory):
    """Retention path: tier 1 purely from the materialized tier-0 hist
    store equals the direct tier-1 computation on raw tokens — EVERY
    column (the ALG cascade can't do this for order statistics)."""
    from pyhctsa_spark.operators.quantile_rollup import (
        quantile_cascade_from_store,
        rollup_quantile_tiers,
    )

    W, group = 8, 4
    path = str(tmp_path_factory.mktemp("qtier") / "t0")
    rollup_quantile_tiers(seq, window=W, group=group, n_tiers=1).write.parquet(path)
    t0 = spark.read.parquet(path)
    got = {(r.doc_id, r.window_idx): r
           for r in quantile_cascade_from_store(t0, group=group).collect()}
    direct = {(r.doc_id, r.window_idx): r
              for r in rollup_quantile_tiers(
                  seq, window=W * group, group=group, n_tiers=1).collect()}
    assert set(got) == set(direct)
    cols = ["n", "n_distinct", "mode_tok", "mode_count",
            "p25", "p50", "p75", "p90", "hist_bin"]
    for key, r in got.items():
        assert r.tier == 1
        for c in cols:
            assert getattr(r, c) == getattr(direct[key], c), (key, c)


def test_topk_from_store_no_exchange_and_matches_brute(spark, seq):
    from pyspark.sql import functions as F

    from pyhctsa_spark.operators.quantile_rollup import (
        rollup_quantile_tiers,
        topk_tokens_from_store,
    )

    W, group = 8, 4
    tiers = rollup_quantile_tiers(seq, window=W, group=group, n_tiers=2)
    tk = topk_tokens_from_store(tiers.where(F.col("tier") == 1), k=3)
    plan = tk._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    rows = tk.collect()
    toks = _tok_arrays(spark, 12)
    L = W * group
    by_win = {}
    for r in rows:
        by_win.setdefault((r.doc_id, r.window_idx), []).append(r)
    for (doc_id, w), rs in by_win.items():
        win = toks[doc_id][w * L:(w + 1) * L]
        uniq, cnt = np.unique(win, return_counts=True)
        order = np.lexsort((uniq, -cnt))[:3]
        rs = sorted(rs, key=lambda r: r.rank)
        assert [r.token for r in rs] == list(uniq[order])
        assert [r.tok_count for r in rs] == list(cnt[order])


def test_streaming_quantile_rollup_matches_batch(spark, tmp_path_factory):
    import pandas as pd

    from pyhctsa_spark.operators.quantile_rollup import rollup_quantile_tiers
    from pyhctsa_spark.sources.synthetic import sequences_df
    from pyhctsa_spark.streaming.rollup_stream import stream_rollup

    base = tmp_path_factory.mktemp("qstream")
    src, sink, ckpt = str(base / "src"), str(base / "sink"), str(base / "ckpt")
    sequences_df(spark, 10, partitions=2, binary=True).write.parquet(src)
    q = stream_rollup(spark, src, sink, ckpt, available_now=True,
                      family="quantile")
    q.awaitTermination(120)
    got = (
        spark.read.parquet(sink).toPandas()
        .sort_values(["doc_id", "tier", "window_idx"]).reset_index(drop=True)
    )
    want = (
        rollup_quantile_tiers(spark.read.parquet(src)).toPandas()
        .sort_values(["doc_id", "tier", "window_idx"]).reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, want)


def test_quantile_rollup_plan_has_no_exchange(spark, seq):
    from pyhctsa_spark.operators.quantile_rollup import rollup_quantile_tiers

    plan = rollup_quantile_tiers(seq)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "MapInArrow" in plan or "ArrowEvalPython" in plan


def test_quantile_cascade_single_exchange(spark, seq):
    from pyhctsa_spark.operators.quantile_rollup import (
        quantile_cascade_from_store,
        rollup_quantile_tiers,
    )

    t0 = rollup_quantile_tiers(seq, window=8, group=4, n_tiers=1)
    plan = (
        quantile_cascade_from_store(t0, group=4)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("Exchange hashpartitioning") == 1
