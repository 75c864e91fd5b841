"""Product quantization (PQ) for embedding search at 100 TB
(Jégou et al. 2011, "Product quantization for nearest neighbor
search"; the faiss IndexPQ / IndexIVFPQ scan strategy).

Plain IVF (operators/similarity.py) prunes WHICH vectors are scored;
PQ shrinks WHAT is scanned: each L2-normalized vector is split into
``m`` subvectors, each quantized to its nearest codeword in a
per-subspace codebook of ``ksub`` entries, so the corpus compresses to
``m`` small ints per vector (64-dim float32 = 256 B -> m=8 codes =
8-16 B, a 16-32x scan-size cut). Queries stay full precision:
asymmetric distance computation (ADC) precomputes, per query and
subspace, the inner products against all ``ksub`` codewords (an
``m x ksub`` lookup table), and a candidate's approximate cosine is m
table lookups + adds — no per-candidate float vector ever read.

Scale shape, mirroring the IVF contracts:

- codebooks train driver-side on a bounded md5-ordered sample (build
  cost independent of corpus size); ``train_iters=0`` uses the sample
  subvectors themselves as codewords, which makes encode + ADC + top-k
  fully replayable in ANSI SQL — the ``knn_pq_top3`` value oracle;
- encoding is MAP-SIDE (one Arrow-batched distance matmul per batch
  against the broadcast (m, ksub, dsub) codebook tensor) — no shuffle;
- ADC scoring streams over the codes scan with the same bounded
  per-partition top-k carry as similarity._score_and_rank, so the
  global rank exchange moves partitions x Q x k rows;
- ``knn_ivfpq`` composes the two prunings: IVF routes each query to
  ``nprobe`` inverted lists, PQ codes are what those lists store, and
  probing every list reproduces ``knn_pq`` exactly (the machinery
  check, pytest-enforced).

Distances use the ||x||^2 + ||c||^2 - 2 x.c expansion on BOTH the
numpy and SQL sides so the argmin decisions agree to fp noise.

No reference counterpart: pyhctsa has no similarity-search surface
(SURVEY §2.0); this is the scale path the LLM-pipeline inventory
lists next to brute-force and IVF ANN.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from pyhctsa_spark.operators import tablefs
from pyhctsa_spark.operators.similarity import (
    _as_double,
    _compact_ivf_lists,
    _norm,
)


def _list_col_matrix(col, n_rows: int):
    """(n_rows, width) float/int matrix from an Arrow list column whose
    entries all share one width — a flat-buffer reshape instead of
    to_pandas + np.stack over n_rows python list objects (optimization
    r6, guide §4.2). Falls back to the object path for ragged input."""
    import numpy as np

    off = col.offsets.to_numpy(zero_copy_only=False)
    vals = col.values.to_numpy(zero_copy_only=False)
    lens = np.diff(off)
    if len(lens) and (lens == lens[0]).all():
        return np.ascontiguousarray(
            vals[off[0]:off[-1]].reshape(n_rows, int(lens[0]))
        )
    return np.stack(col.to_pandas().to_numpy())


def _md5_sample(embeddings: DataFrame, n: int, vec_col: str, id_col: str):
    """The ``n`` corpus vectors with the smallest (md5(id), id), L2
    normalized, as a numpy (n, d) matrix — the deterministic bounded
    train sample shared with semdedup/IVF (md5 so SQL can replay it)."""
    import numpy as np

    rows = (
        embeddings.select(
            F.col(id_col).alias("vid"), _as_double(F.col(vec_col)).alias("v")
        )
        .withColumn("_h", F.md5(F.col("vid").cast("string").cast("binary")))
        .orderBy("_h", "vid")
        .limit(n)
        .select("v")
        .collect()  # bounded train sample, never the corpus
    )
    X = np.asarray([r["v"] for r in rows], dtype=np.float64)
    nrm = np.linalg.norm(X, axis=1, keepdims=True)
    return np.divide(X, nrm, out=np.zeros_like(X), where=nrm > 0)


def pq_train(
    embeddings: DataFrame,
    m: int = 8,
    ksub: int = 256,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    train_iters: int = 0,
    train_sample: int | None = None,
):
    """Per-subspace codebooks as a numpy (m, ksub, d/m) tensor.
    ``train_iters=0``: codewords are the first ``ksub`` md5-ordered
    sample subvectors (oracle-replayable). ``train_iters>0``: standard
    per-subspace Lloyd k-means from that init (production path; empty
    cells keep their previous codeword, deterministic)."""
    import numpy as np

    if train_sample is None:
        train_sample = (
            ksub if train_iters == 0 else min(131072, max(4096, 32 * ksub))
        )
    X = _md5_sample(embeddings, train_sample, vec_col, id_col)
    d = X.shape[1]
    if d % m:
        raise ValueError(f"dim {d} not divisible by m={m}")
    dsub = d // m
    k = min(ksub, len(X))
    books = np.empty((m, k, dsub))
    for s in range(m):
        sub = X[:, s * dsub : (s + 1) * dsub]
        C = sub[:k].copy()
        for _ in range(train_iters):
            d2 = (
                (sub * sub).sum(1)[:, None]
                + (C * C).sum(1)[None, :]
                - 2.0 * sub @ C.T
            )
            assign = d2.argmin(axis=1)
            sums = np.zeros_like(C)
            np.add.at(sums, assign, sub)
            counts = np.bincount(assign, minlength=k)
            ok = counts > 0
            C[ok] = sums[ok] / counts[ok, None]
        books[s] = C
    return books


def pq_encode(
    embeddings: DataFrame,
    codebooks,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Map-side PQ encode -> ``(nid, code array<smallint>)``: normalize
    each vector, then per subspace take the argmin squared-L2 codeword
    (ties -> smallest index). One Arrow batch matmul per subspace; the
    corpus is never shuffled. The codes column is the ENTIRE stored
    index payload — m*2 bytes per vector."""
    import numpy as np
    import pyarrow as pa

    B = np.ascontiguousarray(codebooks)
    m, _ksub, dsub = B.shape
    cc = [(B[s] * B[s]).sum(1) for s in range(m)]  # ||c||^2 per subspace

    base = embeddings.select(
        F.col(id_col).alias("nid"), _as_double(F.col(vec_col)).alias("v")
    )
    id_type = dict(base.dtypes)["nid"]

    def fn(batches):
        for rb in batches:
            if rb.num_rows == 0:
                continue
            # flat-buffer reshape instead of to_pandas + np.stack over
            # 10k python list objects (optimization r6, guide §4.2 —
            # same convention as similarity._norm's Arrow fold)
            M = _list_col_matrix(rb.column(1), rb.num_rows)
            nid = rb.column(0)
            nrm = np.linalg.norm(M, axis=1, keepdims=True)
            U = np.divide(M, nrm, out=np.zeros_like(M), where=nrm > 0)
            codes = np.empty((len(U), m), dtype=np.int16)
            for s in range(m):
                x = U[:, s * dsub : (s + 1) * dsub]
                d2 = (x * x).sum(1)[:, None] + cc[s][None, :] - 2.0 * x @ B[s].T
                codes[:, s] = d2.argmin(axis=1)
            yield pa.RecordBatch.from_arrays(
                [
                    nid,
                    pa.FixedSizeListArray.from_arrays(
                        pa.array(codes.ravel(), type=pa.int16()), m
                    ).cast(pa.list_(pa.int16())),
                ],
                names=["nid", "code"],
            )

    return base.mapInArrow(fn, schema=f"nid {id_type}, code array<smallint>")


def _collect_queries(queries: DataFrame, vec_col, id_col, max_q: int):
    import numpy as np

    rows = (
        queries.select(
            F.col(id_col).alias("qid"), _as_double(F.col(vec_col)).alias("v")
        )
        .limit(max_q + 1)
        .collect()
    )
    if len(rows) > max_q:
        raise ValueError(
            f"query batch exceeds max_broadcast_queries={max_q}; split the "
            "queries into batches against one codebook/encoding"
        )
    qids = [r["qid"] for r in rows]
    Q = np.asarray([r["v"] for r in rows], dtype=np.float64)
    nrm = np.linalg.norm(Q, axis=1, keepdims=True)
    return qids, np.divide(Q, nrm, out=np.zeros_like(Q), where=nrm > 0)


def _adc_topk(codes: DataFrame, qids, Qn, codebooks, k: int) -> DataFrame:
    """ADC scan: per-partition bounded top-k over the codes stream.
    LUT[s] = Qn_sub @ codebook[s]^T (Q x ksub per subspace) is broadcast
    in the task closure; a candidate's score is m gathers + adds."""
    import numpy as np
    import pandas as pd
    import pyarrow as pa

    B = np.ascontiguousarray(codebooks)
    m, _ksub, dsub = B.shape
    lut = np.stack(
        [Qn[:, s * dsub : (s + 1) * dsub] @ B[s].T for s in range(m)]
    )  # (m, Q, ksub)
    qid_arr = np.asarray(qids)
    types = dict(codes.dtypes)
    out_ddl = f"qid {types['nid']}, nid {types['nid']}, score double"

    nq = len(qid_arr)

    def fn(batches):
        # carry = per-query running top-k as (nq, c) score/nid matrices;
        # candidate selection per batch is ONE flattened lexsort with
        # the exact (qid, score desc, nid asc) key instead of a pandas
        # mergesort + groupby.head over the concatenated frame
        # (optimization r6 — same ordering, same floats, ~5x less
        # per-batch work at rerank shortlist depths)
        c_s = c_n = None
        for rb in batches:
            if rb.num_rows == 0:
                continue
            codes_mat = _list_col_matrix(rb.column(1), rb.num_rows)
            nid = rb.column(0).to_numpy(zero_copy_only=False)
            S = lut[0][:, codes_mat[:, 0]]
            for s in range(1, m):
                S = S + lut[s][:, codes_mat[:, s]]  # (Q, B)
            excl = qid_arr[:, None] == nid[None, :]
            if excl.any():
                S = np.where(excl, -np.inf, S)
            nid_t = np.broadcast_to(nid, S.shape)
            cs = S if c_s is None else np.concatenate([c_s, S], axis=1)
            cn = (
                nid_t if c_n is None
                else np.concatenate([c_n, nid_t], axis=1)
            )
            ncand = cs.shape[1]
            rows_f = np.repeat(np.arange(nq), ncand)
            perm = np.lexsort((cn.ravel(), -cs.ravel(), rows_f))
            keep = perm.reshape(nq, ncand)[:, : min(k, ncand)]
            c_s = cs.ravel()[keep]
            c_n = cn.ravel()[keep]
        if c_s is not None:
            qf = np.repeat(qid_arr, c_s.shape[1])
            sel = np.isfinite(c_s.ravel())
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(qf[sel], from_pandas=True),
                    pa.array(c_n.ravel()[sel], from_pandas=True),
                    pa.array(c_s.ravel()[sel], type=pa.float64()),
                ],
                names=["qid", "nid", "score"],
            )

    local = codes.select("nid", "code").mapInArrow(fn, schema=out_ddl)
    w = Window.partitionBy("qid").orderBy(F.desc("score"), F.asc("nid"))
    return (
        local.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def _exact_rerank(
    corpus: DataFrame,
    shortlist: DataFrame,
    qids,
    Qn,
    k: int,
    vec_col: str,
    id_col: str,
) -> DataFrame:
    """Refine step (faiss IndexRefineFlat): re-score the bounded ADC
    shortlist with exact cosine. The full vectors of ONLY the
    shortlisted ids are read back — the id set is a literal IN filter,
    so predicate pushdown keeps the refine scan ~Q x R rows of real
    I/O — and the (qid, nid) pairs are broadcast onto it."""
    import numpy as np
    import pandas as pd
    import pyarrow as pa

    pairs = shortlist.select("qid", "nid").persist()
    try:
        sub = corpus.select(
            F.col(id_col).alias("nid"), _as_double(F.col(vec_col)).alias("v")
        )
        ids = [r["nid"] for r in pairs.select("nid").distinct().collect()]
        if len(ids) <= 2048:
            # literal IN filter -> parquet predicate pushdown: the
            # refine scan reads ~|ids| rows of real I/O
            sub = sub.where(F.col("nid").isin(ids))
        # else: a Q x R shortlist can be ~100k ids, and a 100k-deep IN
        # expression tree costs Catalyst ~a minute of planning (measured
        # 59 s at 20 x 4096) — let the broadcast join below do the
        # filtering; the scan stays columnar and the join is map-side
        cand = F.broadcast(pairs).join(sub, "nid")

        qpos = pd.Series({q: i for i, q in enumerate(qids)})
        types = dict(pairs.dtypes)
        out_ddl = f"qid {types['qid']}, nid {types['nid']}, score double"

        def fn(batches):
            for rb in batches:
                if rb.num_rows == 0:
                    continue
                V = _list_col_matrix(rb.column(2), rb.num_rows)
                nrm = np.linalg.norm(V, axis=1, keepdims=True)
                U = np.divide(V, nrm, out=np.zeros_like(V), where=nrm > 0)
                qv = rb.column(0).to_numpy(zero_copy_only=False)
                qi = qpos[qv].to_numpy()
                sc = np.einsum("ij,ij->i", Qn[qi], U)
                yield pa.RecordBatch.from_arrays(
                    [
                        rb.column(0),
                        rb.column(1),
                        pa.array(sc, type=pa.float64()),
                    ],
                    names=["qid", "nid", "score"],
                )

        local = cand.select("qid", "nid", "v").mapInArrow(fn, schema=out_ddl)
        w = Window.partitionBy("qid").orderBy(F.desc("score"), F.asc("nid"))
        out = (
            local.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
        )
        out = out.localCheckpoint()  # materialize before unpersisting pairs
    finally:
        pairs.unpersist()
    return out


def knn_pq(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    m: int = 8,
    ksub: int = 256,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    train_iters: int = 0,
    train_sample: int | None = None,
    max_broadcast_queries: int = 100_000,
    prebuilt: tuple | None = None,
    rerank: int | None = None,
) -> DataFrame:
    """PQ-ADC approximate top-k by cosine: ``(qid, nid, score, rank)``
    where score is the asymmetric inner product of the normalized query
    with the candidate's PQ reconstruction. ``prebuilt`` =
    (codebooks, codes_df) from pq_train/pq_encode for multi-batch reuse
    (otherwise each call retrains + re-encodes identically).

    ``rerank=R`` adds the refine step: the ADC scan shortlists the
    top-R codes per query, then ONLY those Q x R vectors are read back
    full-precision and re-scored exactly. Quantization cells coarser
    than the true top-k gaps (tight clusters, near-duplicates) make raw
    ADC ranks tie-collapse — size R above the expected quantization-cell
    occupancy."""
    if prebuilt is not None:
        books, codes = prebuilt
    else:
        books = pq_train(corpus, m, ksub, vec_col, id_col,
                         train_iters, train_sample)
        codes = pq_encode(corpus, books, vec_col, id_col)
    qids, Qn = _collect_queries(queries, vec_col, id_col,
                                max_broadcast_queries)
    adc = _adc_topk(codes, qids, Qn, books, rerank or k)
    if rerank is None:
        return adc
    return _exact_rerank(corpus, adc, qids, Qn, k, vec_col, id_col)


def knn_ivfpq(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    m: int = 8,
    ksub: int = 256,
    num_centroids: int | None = None,
    nprobe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    max_broadcast_queries: int = 100_000,
    prebuilt: tuple | None = None,
    rerank: int | None = None,
) -> DataFrame:
    """IVF + PQ composed (the faiss IndexIVFPQ scan): IVF routes each
    query to ``nprobe`` inverted lists (coarse pruning of WHICH rows),
    the lists store PQ codes (compression of WHAT is scanned), and ADC
    scores only the probed candidates. The probe side is explicitly
    broadcast onto the codes scan — the corpus is never shuffled at
    query time (same contract as similarity.knn_ivf). ``rerank=R``
    re-scores the top-R shortlist exactly (see knn_pq).

    ``prebuilt`` = (cents, assigned, codebooks, codes) from
    ivf_build + pq_train + pq_encode. ``nprobe == num_centroids``
    probes everything and reproduces ``knn_pq`` exactly."""
    from pyhctsa_spark.operators.similarity import _probes_for, ivf_build

    if prebuilt is not None:
        cents, assigned, books, codes = prebuilt
    else:
        cents, assigned = ivf_build(corpus, num_centroids, vec_col, id_col)
        books = pq_train(corpus, m, ksub, vec_col, id_col)
        codes = pq_encode(corpus, books, vec_col, id_col)
    qids, Qn = _collect_queries(queries, vec_col, id_col,
                                max_broadcast_queries)
    probes = _probes_for(queries, cents, nprobe, vec_col, id_col)
    coded_lists = codes.join(
        assigned.select("nid", "cid"), "nid"
    )  # at index-build time this join is the materialized list store
    probe_cids = F.broadcast(probes.select("qid", "cid"))
    # each nid lives in exactly one list, so (qid, nid) pairs are unique
    cand = probe_cids.join(coded_lists, "cid").select("qid", "nid", "code")
    adc = _adc_topk_pairs(cand, qids, Qn, books, rerank or k)
    if rerank is None:
        return adc
    return _exact_rerank(corpus, adc, qids, Qn, k, vec_col, id_col)


def _adc_topk_pairs(cand: DataFrame, qids, Qn, codebooks, k: int) -> DataFrame:
    """ADC over routed (qid, nid, code) pairs — each query scores ONLY
    its own probed candidates (faiss IVFPQ semantics). Same bounded
    per-partition top-k carry; per-row sums run subspace-by-subspace in
    the same order as the broadcast scan, so a full probe is
    bit-identical to ``knn_pq``."""
    import numpy as np
    import pandas as pd
    import pyarrow as pa

    B = np.ascontiguousarray(codebooks)
    m, _ksub, dsub = B.shape
    lut = np.stack(
        [Qn[:, s * dsub : (s + 1) * dsub] @ B[s].T for s in range(m)]
    )  # (m, Q, ksub)
    qpos = pd.Series({q: i for i, q in enumerate(qids)})
    qid_arr = np.asarray(qids)
    types = dict(cand.dtypes)
    out_ddl = f"qid {types['qid']}, nid {types['nid']}, score double"

    def fn(batches):
        # running top-k as flat (qi, nid, score) arrays; one lexsort
        # with the exact (qid, score desc, nid asc) key + per-run
        # position filter replaces the pandas mergesort/groupby carry
        # (optimization r6 — same ordering, same floats)
        c_q = c_n = c_s = None
        for rb in batches:
            if rb.num_rows == 0:
                continue
            codes_mat = _list_col_matrix(rb.column(2), rb.num_rows)
            qv = rb.column(0).to_numpy(zero_copy_only=False)
            nv = rb.column(1).to_numpy(zero_copy_only=False)
            qi = qpos[qv].to_numpy()
            S = lut[0][qi, codes_mat[:, 0]]
            for s in range(1, m):
                S = S + lut[s][qi, codes_mat[:, s]]
            ok = qv != nv
            qi, nv, S = qi[ok], nv[ok], S[ok]
            if c_q is not None:
                qi = np.concatenate([c_q, qi])
                nv = np.concatenate([c_n, nv])
                S = np.concatenate([c_s, S])
            order = np.lexsort((nv, -S, qi))
            qs = qi[order]
            starts = np.flatnonzero(np.r_[True, qs[1:] != qs[:-1]])
            runlen = np.diff(np.r_[starts, len(qs)])
            pos = np.arange(len(qs)) - np.repeat(starts, runlen)
            keep = order[pos < k]
            c_q, c_n, c_s = qi[keep], nv[keep], S[keep]
        if c_q is not None and len(c_q):
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(qid_arr[c_q], from_pandas=True),
                    pa.array(c_n, from_pandas=True),
                    pa.array(c_s, type=pa.float64()),
                ],
                names=["qid", "nid", "score"],
            )

    local = cand.select("qid", "nid", "code").mapInArrow(fn, schema=out_ddl)
    w = Window.partitionBy("qid").orderBy(F.desc("score"), F.asc("nid"))
    return (
        local.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def ivfpq_write_index(
    corpus: DataFrame,
    path: str,
    m: int = 8,
    ksub: int = 256,
    num_centroids: int | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    write_salt: int | None = None,
    pq_train_iters: int = 10,
    ivf_train_iters: int = 10,
    train_sample: int | None = None,
) -> dict:
    """Materialize the composed index (faiss IndexIVFPQ on disk):
    cid-partitioned inverted lists holding ONLY (nid, code) — m*2 bytes
    of payload per vector — plus the centroid table and the PQ
    codebooks, committed as one snapshot of a ``tablefs.SnapshotTable``
    at ``path``. The one corpus shuffle (codes -> lists) happens here,
    once, salted so a skewed list fans out over ``write_salt`` write
    tasks. Raw vectors are NOT stored: that is the point of PQ — a
    100 TB float corpus becomes a ~3-6 TB code index; exact rerank at
    query time reads the shortlisted ids back from the original corpus
    table (stats-pruned point lookups).

    Returns inverted-list skew stats (ivf_list_stats)."""
    from pyhctsa_spark.operators._local_df import one_slice_df
    from pyhctsa_spark.operators.similarity import (
        _ivf_sizes,
        _write_lists,
        ivf_build,
        ivf_list_stats,
    )

    # same salt derivation as ivf_write_index (PQ rows are ~m*2 bytes,
    # so one salt bucket per ~100k rows of a list is conservative)
    num_centroids, write_salt = _ivf_sizes(corpus, num_centroids, write_salt)
    cents, assigned = ivf_build(
        corpus, num_centroids, vec_col, id_col,
        train_sample=train_sample, train_iters=ivf_train_iters,
    )
    books = pq_train(corpus, m, ksub, vec_col, id_col,
                     train_iters=pq_train_iters,
                     train_sample=train_sample)
    codes = pq_encode(corpus, books, vec_col, id_col)
    spark = corpus.sparkSession
    mm, kk, dsub = books.shape
    table = tablefs.SnapshotTable(path)
    with table.writer() as man:
        man["tables"] = {}
        _write_lists(table, man, codes.join(assigned.select("nid", "cid"),
                                            "nid"), write_salt)
        table.write(man, "centroids", cents)
        table.write(man, "codebooks", one_slice_df(
            spark,
            [(int(s), int(j), [float(x) for x in books[s, j]])
             for s in range(mm) for j in range(kk)],
            "s int, j int, c array<double>",
        ))
        man["props"] = {
            "nlist": int(table.read(spark, "centroids", man).count()),
            "m": int(mm), "ksub": int(kk), "dim": int(mm * dsub),
            "write_salt": int(write_salt),
            "id_type": corpus.select(id_col).schema[0].dataType.simpleString(),
        }
        table.commit(man)
    return ivf_list_stats(table.read(spark, "lists", man))


def read_pq_meta(path: str) -> dict:
    return tablefs.SnapshotTable(path).manifest()["props"]


def append_to_ivfpq_index(
    df: DataFrame,
    path: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> dict:
    """Add a vector batch to a materialized IVFPQ index — the PQ
    sibling of ``similarity.append_to_ivf_index``, same LSM shape:
    the batch is assigned map-side against the index's own centroids
    and encoded against its own CODEBOOKS (both frozen at build — the
    faiss train-then-add contract), then the (nid, code, cid) rows
    are added as a new generation of the ``lists_delta`` heap. No
    existing file is read or rewritten; probes union the heap;
    ``compact_ivfpq_index`` folds it.

    Caller contract (same as the sibling indexes): ids not already
    present; appending an id again duplicates its row until compaction.

    Returns {appended, assign_cos_mean} — the drift counter reads
    against the IVF quantizer; codebook drift shows up the same way
    (both are trained on the same corpus snapshot)."""
    from pyhctsa_spark.operators.similarity import (
        _append_heap,
        _assign_cos_mean,
        _centroid_matrix,
        _with_cnorm,
    )

    spark = df.sparkSession
    table = tablefs.SnapshotTable(path)
    with table.writer() as man:
        cents = table.read(spark, "centroids", man)
        books = _codebooks(table.read(spark, "codebooks", man))
        base = df.select(
            F.col(id_col).alias("nid"), _as_double(F.col(vec_col)).alias("cv")
        )
        # fused Arrow norm + assignment (r6), bit-identical to the old
        # interpreted _norm + _nearest_cid_udf pair
        assigned = _with_cnorm(base, centroids=_centroid_matrix(cents)).persist()
        try:
            codes = pq_encode(df, books, vec_col, id_col)
            n = assigned.count()
            _append_heap(table, man,
                         codes.join(assigned.select("nid", "cid"), "nid"), n)
            drift = _assign_cos_mean(assigned, cents)
        finally:
            assigned.unpersist()
        table.commit(man)
    return {"appended": int(n), "assign_cos_mean": drift}


def compact_ivfpq_index(
    spark: SparkSession,
    path: str,
    drop_ids: DataFrame | None = None,
    id_col: str = "vec_id",
) -> dict:
    """Fold the append heap into the cid= partition layout,
    de-duplicate re-appended ids, and erase ``drop_ids`` (the
    right-to-be-forgotten path for the code index). The same list fold
    as ``similarity.compact_ivf_index``, salted by this index's own
    ``write_salt`` and committed in one publish (a crash leaves the
    index as it was).

    Returns {"lists": (rows_before, rows_after)} lineage counts."""
    return _compact_ivf_lists(spark, path, drop_ids, id_col)


def read_codebooks(spark: SparkSession, path: str):
    """The index's codebooks as the numpy (m, ksub, dsub) tensor."""
    return _codebooks(tablefs.SnapshotTable(path).read(spark, "codebooks"))


def _codebooks(df: DataFrame):
    """Codebook rows -> the numpy (m, ksub, dsub) tensor, bit-exact
    (doubles round-trip parquet losslessly)."""
    import numpy as np

    rows = df.collect()
    mm = max(r["s"] for r in rows) + 1
    kk = max(r["j"] for r in rows) + 1
    dsub = len(rows[0]["c"])
    B = np.zeros((mm, kk, dsub))
    for r in rows:
        B[r["s"], r["j"]] = r["c"]
    return B


def knn_ivfpq_index(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    max_broadcast_queries: int = 100_000,
    rerank: int | None = None,
    corpus: DataFrame | None = None,
) -> DataFrame:
    """ANN against the materialized IVFPQ index: reads ONLY the probed
    inverted lists (cid partition pruning — the nprobe/nlist scan
    fraction is real I/O, of 16-byte code rows rather than 256-byte
    vectors), ADC-scores them, and optionally rerank=R re-scores the
    shortlist exactly against ``corpus`` (required for rerank: the
    index stores no raw vectors by design)."""
    if rerank is not None and corpus is None:
        raise ValueError(
            "rerank needs the raw corpus DataFrame — the IVFPQ index "
            "stores only PQ codes (pass corpus=, or rerank=None)"
        )
    from pyhctsa_spark.operators.similarity import _probes_for, _with_delta

    table = tablefs.SnapshotTable(path)
    man = table.manifest()
    cents = table.read(spark, "centroids", man)
    books = _codebooks(table.read(spark, "codebooks", man))
    qids, Qn = _collect_queries(queries, vec_col, id_col,
                                max_broadcast_queries)
    probes = _probes_for(queries, cents, nprobe, vec_col, id_col).persist()
    try:
        probed = sorted(
            r["cid"] for r in probes.select("cid").distinct().collect()
        )  # bounded: <= nlist values
        lists = table.read(spark, "lists", man).where(
            F.col("cid").isin(probed)
        )
        # plus the append heap (codes added since the last compaction)
        lists = _with_delta(table, man, spark, lists, cid_filter=probed)
        cand = F.broadcast(probes.select("qid", "cid")).join(
            lists, "cid"
        ).select("qid", "nid", "code")
        adc = _adc_topk_pairs(cand, qids, Qn, books, rerank or k)
        if rerank is not None:
            adc = _exact_rerank(corpus, adc, qids, Qn, k, vec_col, id_col)
        out = adc.localCheckpoint()
    finally:
        probes.unpersist()
    return out
