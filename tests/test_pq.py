"""Product quantization (operators/pq.py): lossless-codebook exactness
vs brute force, an independent numpy ADC replay, IVFPQ full-probe
bit-exactness and partial-probe routing, guards, and degenerate
vectors."""

import numpy as np
import pytest

from pyhctsa_spark.operators.pq import knn_ivfpq, knn_pq, pq_encode, pq_train
from pyhctsa_spark.operators.similarity import ivf_build, knn_bruteforce


def _emb_df(spark, X, partitions=4):
    rows = [(int(i), [float(x) for x in v]) for i, v in enumerate(X)]
    return spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>"
    ).repartition(partitions)


def test_lossless_codebook_matches_bruteforce(spark):
    # ksub == train_sample == corpus size: every subvector is its own
    # codeword, reconstruction is exact, so ADC == exact cosine ranking
    rng = np.random.default_rng(0)
    X = rng.normal(size=(40, 16)).astype(np.float32)
    df = _emb_df(spark, X)
    q = df.where("vec_id < 5")
    pq = knn_pq(df, q, k=3, m=4, ksub=40, train_sample=40)
    bf = knn_bruteforce(df, q, k=3)
    got = {(r["qid"], r["rank"]): (r["nid"], r["score"]) for r in pq.collect()}
    want = {(r["qid"], r["rank"]): (r["nid"], r["cosine"]) for r in bf.collect()}
    assert set(got) == set(want)
    for key in want:
        assert got[key][0] == want[key][0], key
        assert abs(got[key][1] - want[key][1]) < 1e-9


def _reference_adc(X, qids, m, ksub, k):
    """Independent replay: md5-ordered sample -> codebooks, argmin
    encode via the distance expansion, per-query LUT sum, top-k."""
    import hashlib

    X64 = X.astype(np.float32).astype(np.float64)
    nrm = np.linalg.norm(X64, axis=1, keepdims=True)
    U = np.divide(X64, nrm, out=np.zeros_like(X64), where=nrm > 0)
    order = sorted(range(len(X)),
                   key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(), i))
    S = U[order[:ksub]]
    d = X.shape[1]
    dsub = d // m
    books = np.stack([S[:, s * dsub:(s + 1) * dsub] for s in range(m)])
    codes = np.empty((len(X), m), dtype=int)
    for s in range(m):
        x = U[:, s * dsub:(s + 1) * dsub]
        d2 = ((x * x).sum(1)[:, None] + (books[s] ** 2).sum(1)[None, :]
              - 2.0 * x @ books[s].T)
        codes[:, s] = d2.argmin(axis=1)
    out = {}
    for qi in qids:
        scores = []
        for n in range(len(X)):
            if n == qi:
                continue
            sc = sum(
                float(U[qi, s * dsub:(s + 1) * dsub] @ books[s][codes[n, s]])
                for s in range(m)
            )
            scores.append((sc, n))
        scores.sort(key=lambda t: (-t[0], t[1]))
        out[qi] = scores[:k]
    return out


def test_agrees_with_numpy_reference(spark):
    rng = np.random.default_rng(1)
    X = rng.normal(size=(60, 12)).astype(np.float32)
    df = _emb_df(spark, X)
    got = {}
    res = knn_pq(df, df.where("vec_id < 4"), k=3, m=3, ksub=8)
    for r in res.collect():
        got.setdefault(r["qid"], []).append((r["rank"], r["nid"], r["score"]))
    want = _reference_adc(X, [0, 1, 2, 3], m=3, ksub=8, k=3)
    for qi, pairs in want.items():
        mine = sorted(got[qi])
        for (rank, nid, score), (wsc, wnid) in zip(mine, pairs):
            assert nid == wnid, (qi, rank)
            assert abs(score - wsc) < 1e-9


def test_ivfpq_full_probe_is_bit_exact_with_pq(spark):
    rng = np.random.default_rng(2)
    X = rng.normal(size=(80, 8)).astype(np.float32)
    df = _emb_df(spark, X)
    q = df.where("vec_id < 6")
    books = pq_train(df, m=4, ksub=16)
    codes = pq_encode(df, books)
    cents, assigned = ivf_build(df, num_centroids=4)
    full = knn_ivfpq(df, q, k=3, nprobe=4,
                     prebuilt=(cents, assigned, books, codes))
    plain = knn_pq(df, q, k=3, prebuilt=(books, codes))
    assert sorted(map(tuple, full.collect())) == \
        sorted(map(tuple, plain.collect()))


def test_ivfpq_partial_probe_routes_candidates(spark):
    rng = np.random.default_rng(3)
    X = rng.normal(size=(80, 8)).astype(np.float32)
    df = _emb_df(spark, X)
    q = df.where("vec_id < 6")
    books = pq_train(df, m=4, ksub=16)
    codes = pq_encode(df, books)
    cents, assigned = ivf_build(df, num_centroids=4)
    res = knn_ivfpq(df, q, k=3, nprobe=1,
                    prebuilt=(cents, assigned, books, codes)).collect()
    # every hit must come from the single probed list of its query
    from pyhctsa_spark.operators.similarity import _probes_for

    probed = {(r["qid"], r["cid"])
              for r in _probes_for(q, cents, 1, "embedding", "vec_id")
              .select("qid", "cid").collect()}
    cid_of = {r["nid"]: r["cid"] for r in assigned.select("nid", "cid").collect()}
    assert len(res) > 0
    for r in res:
        assert (r["qid"], cid_of[r["nid"]]) in probed


def test_query_batch_guard_and_zero_norm(spark):
    rng = np.random.default_rng(4)
    X = rng.normal(size=(20, 8)).astype(np.float32)
    X[3] = 0.0
    df = _emb_df(spark, X)
    with pytest.raises(ValueError, match="max_broadcast_queries"):
        knn_pq(df, df, k=2, m=2, ksub=4, max_broadcast_queries=5)
    # zero-norm corpus vector scores via a zero reconstruction and a
    # zero-norm query scores 0 everywhere — no crash, full output
    out = knn_pq(df, df.where("vec_id IN (3, 5)"), k=2, m=2, ksub=4).collect()
    assert {r["qid"] for r in out} == {3, 5}
    assert all(r["score"] == r["score"] for r in out)  # no NaN


def test_trained_codebooks_improve_quantization(spark):
    rng = np.random.default_rng(5)
    X = rng.normal(size=(300, 16)).astype(np.float32)
    df = _emb_df(spark, X)

    def mse(books):
        codes = {r["nid"]: r["code"] for r in pq_encode(df, books).collect()}
        U = X.astype(np.float64)
        U /= np.linalg.norm(U, axis=1, keepdims=True)
        dsub = 16 // 4
        err = 0.0
        for i in range(len(X)):
            rec = np.concatenate([books[s][codes[i][s]] for s in range(4)])
            err += float(((U[i] - rec) ** 2).sum())
        return err / len(X)

    raw = pq_train(df, m=4, ksub=16, train_iters=0, train_sample=16)
    trained = pq_train(df, m=4, ksub=16, train_iters=10, train_sample=300)
    assert mse(trained) < mse(raw) * 0.9


def test_rerank_full_shortlist_equals_bruteforce(spark):
    # R >= corpus size: the shortlist is everything, so the refine step
    # reproduces exact brute-force ranking even with a very lossy PQ
    rng = np.random.default_rng(6)
    X = rng.normal(size=(50, 16)).astype(np.float32)
    df = _emb_df(spark, X)
    q = df.where("vec_id < 4")
    got = knn_pq(df, q, k=3, m=4, ksub=4, rerank=50)
    want = knn_bruteforce(df, q, k=3)
    g = {(r["qid"], r["rank"]): (r["nid"], r["score"]) for r in got.collect()}
    w = {(r["qid"], r["rank"]): (r["nid"], r["cosine"]) for r in want.collect()}
    assert set(g) == set(w)
    for key in w:
        assert g[key][0] == w[key][0], key
        assert abs(g[key][1] - w[key][1]) < 1e-9


def test_rerank_recovers_tie_collapsed_ranks(spark):
    # two tight cones: raw ADC collapses within-cone ranks, the refine
    # step must recover the exact within-cone ordering
    rng = np.random.default_rng(7)
    base = rng.normal(size=(2, 12))
    X = np.vstack([
        base[i % 2] + 0.05 * rng.normal(size=12) for i in range(100)
    ]).astype(np.float32)
    df = _emb_df(spark, X)
    q = df.where("vec_id = 0")
    exact = {r["nid"] for r in knn_bruteforce(df, q, k=5).collect()}
    refined = knn_pq(df, q, k=5, m=4, ksub=4, train_iters=5,
                     train_sample=100, rerank=60)
    got = {r["nid"] for r in refined.collect()}
    assert len(got & exact) == 5
    # ivfpq with rerank also runs end-to-end
    r2 = knn_ivfpq(df, q, k=5, m=4, ksub=4, num_centroids=2, nprobe=2,
                   rerank=60)
    assert len({r["nid"] for r in r2.collect()} & exact) == 5


def test_ivfpq_index_roundtrip_and_full_probe_exact(spark, tmp_path):
    import numpy as np

    from pyhctsa_spark.operators.pq import (
        ivfpq_write_index,
        knn_ivfpq,
        knn_ivfpq_index,
        pq_train,
        read_codebooks,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qs = emb.where("vec_id < 5")
    idx = str(tmp_path / "ivfpq")
    stats = ivfpq_write_index(emb, idx, m=8, ksub=16, num_centroids=4,
                              pq_train_iters=0, ivf_train_iters=2)
    assert stats["nlist"] == 4

    # codebooks round-trip parquet bit-exactly
    books = pq_train(emb, m=8, ksub=16, train_iters=0)
    got = read_codebooks(spark, idx)
    assert got.shape == books.shape and (got == books).all()

    # full probe against the index == the in-memory composition
    want = {
        (r["qid"], r["rank"]): (r["nid"], round(r["score"], 9))
        for r in knn_ivfpq(emb, qs, k=3, m=8, ksub=16, num_centroids=4,
                           nprobe=4).collect()
    }
    gotq = {
        (r["qid"], r["rank"]): (r["nid"], round(r["score"], 9))
        for r in knn_ivfpq_index(spark, idx, qs, k=3, nprobe=4).collect()
    }
    # full probe + a corpus-wide rerank shortlist must equal exact
    # cosine top-k (a narrow shortlist may legitimately miss true
    # neighbors when the ksub=16 codebook quantizes coarsely)
    from pyhctsa_spark.operators.similarity import knn_bruteforce

    exact = {
        (r["qid"], r["rank"]): r["nid"]
        for r in knn_bruteforce(emb, qs, k=3).collect()
    }
    rr = {
        (r["qid"], r["rank"]): r["nid"]
        for r in knn_ivfpq_index(spark, idx, qs, k=3, nprobe=4,
                                 rerank=500, corpus=emb).collect()
    }
    assert rr == exact
    assert set(gotq) == set(want)


def test_ivfpq_index_rerank_requires_corpus(spark, tmp_path):
    import pytest as _pytest

    from pyhctsa_spark.operators.pq import ivfpq_write_index, knn_ivfpq_index

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    idx = str(tmp_path / "ivfpq2")
    ivfpq_write_index(emb, idx, m=8, ksub=16, num_centroids=4,
                      pq_train_iters=0, ivf_train_iters=2)
    with _pytest.raises(ValueError, match="raw corpus"):
        knn_ivfpq_index(spark, idx, emb.where("vec_id < 3"),
                        rerank=16)


def test_ivfpq_index_append_erase_lifecycle(spark, tmp_path):
    """The PQ sibling of the IVF lifecycle: build over 80% of the
    corpus, append the rest (assigned + encoded against the FROZEN
    build-time quantizer/codebooks — faiss train-then-add), and the
    appended index with a corpus-wide rerank must equal exact cosine
    top-k over the union. Compaction folds the heap; drop_ids erases."""
    from pyhctsa_spark.operators.pq import (
        append_to_ivfpq_index,
        compact_ivfpq_index,
        ivfpq_write_index,
        knn_ivfpq_index,
        read_pq_meta,
    )
    from pyhctsa_spark.operators.tablefs import SnapshotTable

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    base = emb.where("vec_id % 5 != 0")
    delta = emb.where("vec_id % 5 = 0")
    qs = emb.where("vec_id < 5")
    idx = str(tmp_path / "ivfpq")
    ivfpq_write_index(base, idx, m=8, ksub=16, num_centroids=4,
                      pq_train_iters=0, ivf_train_iters=2)
    meta = read_pq_meta(idx)
    assert meta["nlist"] == 4 and meta["m"] == 8

    counters = append_to_ivfpq_index(delta, idx)
    assert counters["appended"] == delta.count()
    assert 0.0 < counters["assign_cos_mean"] <= 1.0
    # heap holds the delta's codes; the partition tree is untouched
    table = SnapshotTable(idx)
    assert table.read(spark, "lists").count() == base.count()
    assert table.read(spark, "lists_delta").count() == delta.count()

    exact = {
        (r["qid"], r["rank"]): r["nid"]
        for r in knn_bruteforce(emb, qs, k=3).collect()
    }
    got = {
        (r["qid"], r["rank"]): r["nid"]
        for r in knn_ivfpq_index(spark, idx, qs, k=3, nprobe=4,
                                 rerank=500, corpus=emb).collect()
    }
    assert got == exact

    # compact folds the heap; erasing the delta restores the base view
    stats = compact_ivfpq_index(spark, idx,
                                drop_ids=delta.select("vec_id"))
    assert stats["lists"] == (emb.count(), base.count())
    assert table.read(spark, "lists_delta") is None
    base_exact = {
        (r["qid"], r["rank"]): r["nid"]
        for r in knn_bruteforce(base, qs, k=3).collect()
    }
    got2 = {
        (r["qid"], r["rank"]): r["nid"]
        for r in knn_ivfpq_index(spark, idx, qs, k=3, nprobe=4,
                                 rerank=500, corpus=base).collect()
    }
    assert got2 == base_exact
