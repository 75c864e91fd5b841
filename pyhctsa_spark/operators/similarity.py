"""Approximate-nearest-neighbor search over embedding columns.

Baseline: brute-force cosine top-k (exact; broadcast the query side).
Scale path: IVF — spherical-k-means coarse centroids (count scaled
with the corpus, sqrt-N by default), map-side inverted-list
assignment, probe the top-nprobe lists per query. The corpus is NEVER
hash-shuffled at query time:

- the probe side (queries x nprobe routing rows) is explicitly
  broadcast, bounded by ``max_broadcast_queries`` — a large query set
  must be batched by the caller, never silently shuffled against the
  corpus on the low-cardinality, list-skewed ``cid`` key;
- candidate scoring streams over the corpus scan (BroadcastHashJoin),
  so inverted-list SKEW cannot create a straggler task — no task is
  ever keyed by cid;
- per-partition LOCAL top-k (mapInArrow, bounded carry of
  queries x k rows) reduces the final exchange from
  |candidates| ~ N*Q*nprobe/nlist rows to partitions x Q x k rows
  before the global rank window.

For repeated querying, ``ivf_write_index`` materializes the inverted
lists as cid-partitioned parquet (salted at write time so a skewed
list never serializes into one write task), and ``knn_ivf_index``
reads back ONLY the probed lists — partition pruning turns the
nprobe/nlist scan fraction into real I/O savings, the actual point of
an IVF index at 100 TB. The materialized index has the full lifecycle
of the sibling MinHash / BM25 indexes: ``append_to_ivf_index`` adds a
vector batch delta-proportionally (map-side assignment against the
index's own centroids, written to a small cid-sorted append heap that
probes union in — the LSM shape, so a batch never shatters into
nlist tiny files — with a quantizer-drift counter), and
``compact_ivf_index`` folds the heap into the partition layout,
de-duplicates re-appended ids, and erases dropped ids
(right-to-be-forgotten). Every write commits through one
``tablefs.SnapshotTable`` manifest publish.

Everything stays in DataFrame expressions (zip_with/aggregate dot
products in whole-stage codegen); the one Python stage is the
Arrow-batched centroid argmax / local-top-k, both O(batch).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from pyhctsa_spark.operators import tablefs


def _as_double(col):
    # native elementwise cast: same values as the old
    # transform(x -> cast(x as double)) lambda, but codegen'd instead
    # of interpreted (higher-order-function lambdas never enter
    # whole-stage codegen — guide §4.1 / CLAUDE.md)
    return F.col(col).cast("array<double>") if isinstance(col, str) \
        else col.cast("array<double>")


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def _norm(a):
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def _with_cnorm(df: DataFrame, vec: str = "cv", out: str = "cnorm",
                centroids=None) -> DataFrame:
    """Append the L2 norm of ``vec`` as column ``out`` via one Arrow
    pass. Bit-identical to ``_norm`` for clean vectors: the fold
    ``acc = acc + x*x`` runs per dimension in the same IEEE-754 order
    as the JVM ``aggregate`` lambda, just vectorized across the rows
    of a batch — so index builds and appends write the exact same
    cnorm bytes as the old interpreted fold, ~100x faster on wide
    corpora. (Sole divergence: a NULL *element* inside a vector folds
    to SQL NULL in the JVM but to NaN here; both score as
    no-cosine downstream.)

    ``centroids`` (numpy (k, d)) additionally appends the
    nearest-centroid ``cid`` via the same ``argmax(M @ C.T)`` as
    ``_nearest_cid_udf``, fusing the index-build assignment into this
    pass — one Python crossing of the corpus instead of two."""
    import numpy as np
    import pyarrow as pa

    names = [f.name for f in df.schema.fields]
    ddl = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
    ) + f", {out} double"
    if centroids is not None:
        ddl += ", cid int"
    vi = names.index(vec)
    C = centroids

    def fn(batches):
        for rb in batches:
            col = rb.column(vi)
            n = len(col)
            res = np.full(n, np.nan, dtype=np.float64)
            valid = np.zeros(n, dtype=bool)
            cid = np.zeros(n, dtype=np.int32)
            isnull = pa.compute.is_null(col).to_numpy(zero_copy_only=False)
            offsets = col.offsets.to_numpy(zero_copy_only=False)
            v = col.values.to_numpy(zero_copy_only=False)
            v = np.asarray(v, dtype=np.float64)
            lens = np.diff(offsets)
            for length in np.unique(lens[~isnull]) if n else []:
                sel = (~isnull) & (lens == length)
                idx = np.nonzero(sel)[0]
                if length == 0:
                    res[idx] = 0.0
                    valid[idx] = True
                    continue
                gather = (
                    offsets[idx][:, None] + np.arange(length)[None, :]
                ).ravel()
                M = v[gather].reshape(len(idx), length)
                acc = np.zeros(len(idx), dtype=np.float64)
                for i in range(length):
                    acc = acc + M[:, i] * M[:, i]
                res[idx] = np.sqrt(acc)
                valid[idx] = True
                if C is not None:
                    # identical expression to _nearest_cid_udf
                    cid[idx] = np.argmax(M @ C.T, axis=1).astype(np.int32)
            cols = (
                [rb.column(i) for i in range(rb.num_columns)]
                + [pa.array(res, type=pa.float64(), mask=~valid)]
            )
            outn = list(names) + [out]
            if C is not None:
                cols.append(pa.array(cid, type=pa.int32()))
                outn.append("cid")
            yield pa.RecordBatch.from_arrays(cols, names=outn)

    return df.mapInArrow(fn, schema=ddl)


def knn_bruteforce(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact cosine top-k: broadcast the (small) query side against the
    corpus scan — no shuffle of the corpus, one pass."""
    c = (
        corpus.select(F.col(id_col).alias("nid"), _as_double(F.col(vec_col)).alias("cv"))
        .withColumn("cnorm", _norm(F.col("cv")))
    )
    q = (
        queries.select(F.col(id_col).alias("qid"), _as_double(F.col(vec_col)).alias("qv"))
        .withColumn("qnorm", _norm(F.col("qv")))
    )
    pairs = c.join(F.broadcast(q), F.col("qid") != F.col("nid"))
    # an all-zero embedding has norm 0 and Spark 4 ANSI raises on the
    # division — a NULL cosine instead (desc ordering sorts NULLs last,
    # so degenerate vectors simply never make top-k)
    denom = F.col("qnorm") * F.col("cnorm")
    cos = F.when(denom > 0, _dot(F.col("qv"), F.col("cv")) / denom)
    scored = pairs.select("qid", "nid", cos.alias("cosine"))
    w = Window.partitionBy("qid").orderBy(F.desc("cosine"), F.asc("nid"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def _spherical_kmeans(X, k: int, iters: int = 10):
    """Deterministic spherical k-means (cosine) on a numpy sample.
    Init = first k rows of the (hash-ordered) sample; Lloyd iterations
    with re-normalized mean centroids, vectorized over all clusters
    (np.add.at scatter — no per-cluster Python loop, so k in the
    thousands trains in seconds). Empty clusters keep their previous
    centroid (stable, deterministic)."""
    import numpy as np

    Xn = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    C = Xn[:k].copy()
    for _ in range(iters):
        assign = (Xn @ C.T).argmax(axis=1)
        sums = np.zeros_like(C)
        np.add.at(sums, assign, Xn)
        counts = np.bincount(assign, minlength=k)
        nv = np.linalg.norm(sums, axis=1)
        ok = (counts > 0) & (nv > 0)
        C[ok] = sums[ok] / nv[ok, None]
    return C


def _pick_num_centroids(n: int) -> int:
    """faiss-style sqrt-N list count, clamped to a sane range: enough
    lists that nprobe/nlist is a real scan-fraction knob, few enough
    that the centroid table stays broadcastable."""
    import math

    return max(16, min(65536, int(math.isqrt(max(1, n)))))


def ivf_build(
    corpus: DataFrame,
    num_centroids: int | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    train_sample: int | None = None,
    train_iters: int = 10,
) -> tuple[DataFrame, DataFrame]:
    """IVF index: spherical-k-means centroids trained driver-side on a
    deterministic bounded sample (the ``train_sample`` corpus vectors
    with the smallest xxhash64(id) — the faiss-style train-on-sample
    pattern, so index build cost is independent of corpus size), then
    every vector is assigned map-side to its nearest centroid by cosine.
    Returns (centroids, assigned) DataFrames.

    ``num_centroids=None`` scales the list count with the corpus
    (sqrt-N, clamped [16, 65536]); the train sample scales with it
    (>=32 vectors per centroid, capped at 131072) so large centroid
    counts aren't starved. Centroid ids are fixed integers baked into a
    literal DataFrame — both downstream consumers (inverted-list
    assignment and query routing) see the identical broadcast centroid
    table, and the corpus itself is never collected or shuffled.
    """
    base = corpus.select(
        F.col(id_col).alias("nid"), _as_double(F.col(vec_col)).alias("cv")
    )
    if num_centroids is None:
        num_centroids = _pick_num_centroids(corpus.count())
    if train_sample is None:
        train_sample = min(131072, max(4096, 32 * num_centroids))
    # Two-pass deterministic sample (same smallest-xxhash64 set as the
    # old TakeOrdered, same hash-sorted order): pass 1 finds the hash
    # cutoff on a column-pruned scan of ids alone — the old single-pass
    # orderBy/limit carried every partition's top-train_sample VECTORS
    # through the TakeOrdered (≈2 GB of arrays at 1M x 64d), pass 2
    # collects just the ~train_sample sampled vectors (~16 MB).
    cut_rows = (
        corpus.select(F.xxhash64(F.col(id_col)).alias("_h"))
        .orderBy("_h")
        .limit(train_sample)
        .agg(F.max("_h").alias("c"))
        .first()
    )
    cut = cut_rows["c"] if cut_rows is not None else None
    if cut is None:
        sample = []
    else:
        sample = (
            corpus.select(
                F.xxhash64(F.col(id_col)).alias("_h"),
                _as_double(F.col(vec_col)).alias("cv"),
            )
            .where(F.col("_h") <= F.lit(int(cut)))
            .collect()  # bounded index-build sample, never the corpus
        )
        sample.sort(key=lambda r: r["_h"])
        sample = sample[:train_sample]
    import numpy as np

    X = np.asarray([r["cv"] for r in sample], dtype=np.float64)
    k = min(num_centroids, len(X))
    C = _spherical_kmeans(X, k, train_iters)
    from pyhctsa_spark.operators._local_df import one_slice_df

    spark = corpus.sparkSession
    cents = one_slice_df(
        spark,
        [(j, [float(x) for x in C[j]]) for j in range(k)],
        "cid int, centroid array<double>",
    ).withColumn("centnorm", _norm(F.col("centroid")))

    # Map-side assignment: centroids are unit vectors, so the nearest
    # centroid by cosine is argmax(cv @ C^T) — the per-row norm is a
    # positive scalar that cannot change the argmax. FUSED with the
    # norm computation into ONE Arrow pass (optimization r6: norm +
    # argmax used to be two separate Python crossings of the corpus),
    # ZERO shuffle of the corpus (the previous shape — crossJoin +
    # row_number() OVER (PARTITION BY nid) — hash-shuffled corpus x k
    # rows, a non-starter at 10^12 vectors). Ties resolve to the
    # smallest cid (np.argmax first occurrence), matching the old
    # (desc sim, asc cid) ranking.
    assigned = _with_cnorm(base, centroids=C)
    return cents, assigned


def _nearest_cid_udf(C):
    """Arrow-batched nearest-centroid argmax over a broadcast numpy
    centroid matrix — the ONE assignment expression, shared by the
    initial build and every index append so a vector lands in the same
    list no matter which path wrote it. Ties resolve to the smallest
    cid (np.argmax first occurrence)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def _nearest(cv):
        M = np.stack(cv.to_numpy())
        return pd.Series(np.argmax(M @ C.T, axis=1).astype(np.int32))

    # real annotation objects: `from __future__ import annotations` would
    # stringify inline hints, which pandas_udf cannot resolve
    _nearest.__annotations__ = {"cv": pd.Series, "return": pd.Series}
    return pandas_udf(_nearest, "int")


def ivf_list_stats(assigned: DataFrame) -> dict:
    """Inverted-list skew diagnostic: size of the largest list vs the
    mean. A ratio far above ~8 means the coarse quantizer is collapsing
    (too few centroids for the data's cluster structure) and partial
    probes will both over-scan and under-recall — retrain with more
    centroids. One tiny aggregate job (nlist rows)."""
    row = (
        assigned.groupBy("cid").count()
        .agg(
            F.count("*").alias("nlist"),
            F.max("count").alias("max_list"),
            F.avg("count").alias("mean_list"),
            F.min("count").alias("min_list"),
        )
        .first()
    )
    return {
        "nlist": int(row["nlist"]),
        "max_list": int(row["max_list"]),
        "mean_list": float(row["mean_list"]),
        "min_list": int(row["min_list"]),
        "skew_ratio": float(row["max_list"] / max(1.0, row["mean_list"])),
    }


def _probes_for(queries: DataFrame, cents: DataFrame, nprobe: int,
                vec_col: str, id_col: str) -> DataFrame:
    """Route each query to its nprobe nearest centroids (by cosine).
    Query-side only: Q x nlist scored rows, top-nprobe per query."""
    q = (
        queries.select(F.col(id_col).alias("qid"),
                       _as_double(F.col(vec_col)).alias("qv"))
        .withColumn("qnorm", _norm(F.col("qv")))
    )
    qc = q.crossJoin(F.broadcast(cents))
    qdenom = F.col("qnorm") * F.col("centnorm")
    qcos = F.when(qdenom > 0, _dot(F.col("qv"), F.col("centroid")) / qdenom)
    wq = Window.partitionBy("qid").orderBy(F.desc("csim"), F.asc("cid"))
    return (
        qc.select("qid", "qv", "qnorm", "cid", qcos.alias("csim"))
        .withColumn("rank", F.row_number().over(wq))
        .where(F.col("rank") <= nprobe)
        .select("qid", "qv", "qnorm", "cid")
    )


def _score_and_rank(cand: DataFrame, k: int) -> DataFrame:
    """Arrow-batched candidate scoring + per-partition partial top-k,
    fused into ONE map stage over the candidate stream:

    - cosine is a numpy batch einsum (BLAS-speed), not an interpreted
      ``zip_with``/``aggregate`` fold per row — higher-order-function
      lambdas don't enter whole-stage codegen, and at N*Q*nprobe/nlist
      candidates the per-row interpreter cost dominates everything;
    - the stage keeps a running (cosine desc, nid asc) top-k per qid
      across its partition's batches — carry bounded at |queries| x k
      rows — so the global rank window's exchange moves
      partitions x Q x k rows, not every scored candidate. Exact: the
      global top-k is contained in the union of per-partition top-ks.
    - degenerate (zero-norm) vectors score as Arrow NULL, matching the
      SQL ``CASE WHEN denom > 0`` semantics of ``knn_bruteforce`` and
      ranking last under the DESC window (Spark sorts NaN FIRST on a
      desc double, so NaN must not leak out of this stage).

    ``cand`` must carry qid, qv, qnorm, nid, cv, cnorm.
    """
    import numpy as np
    import pandas as pd
    import pyarrow as pa

    src = cand.select("qid", "qv", "qnorm", "nid", "cv", "cnorm")
    types = dict(src.dtypes)
    out_ddl = f"qid {types['qid']}, nid {types['nid']}, cosine double"

    def fn(batches):
        carry = None
        for rb in batches:
            pdf = rb.to_pandas()
            if not len(pdf):
                continue
            Q = np.stack(pdf["qv"].to_numpy())
            V = np.stack(pdf["cv"].to_numpy())
            denom = pdf["qnorm"].to_numpy() * pdf["cnorm"].to_numpy()
            dots = np.einsum("ij,ij->i", Q, V)
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = np.where(denom > 0, dots / denom, np.nan)
            sc = pd.DataFrame(
                {"qid": pdf["qid"], "nid": pdf["nid"], "cosine": cos}
            )
            if carry is not None:
                sc = pd.concat([carry, sc], ignore_index=True)
            sc = sc.sort_values(
                ["qid", "cosine", "nid"],
                ascending=[True, False, True],
                na_position="last",
                kind="mergesort",
            )
            carry = sc.groupby("qid", sort=False).head(k)
        if carry is not None and len(carry):
            carry = carry.reset_index(drop=True)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(carry["qid"], from_pandas=True),
                    pa.array(carry["nid"], from_pandas=True),
                    # from_pandas=True maps NaN -> Arrow NULL, so the
                    # window's DESC NULLS-LAST ordering is preserved
                    pa.array(carry["cosine"], type=pa.float64(),
                             from_pandas=True),
                ],
                names=["qid", "nid", "cosine"],
            )

    local = src.mapInArrow(fn, schema=out_ddl)
    w = Window.partitionBy("qid").orderBy(F.desc("cosine"), F.asc("nid"))
    return (
        local
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def knn_ivf(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    num_centroids: int | None = None,
    nprobe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    max_broadcast_queries: int = 100_000,
    prebuilt: tuple | None = None,
) -> DataFrame:
    """IVF ANN: route each query to its ``nprobe`` nearest centroids and
    search only those inverted lists — scoring ~nprobe/num_centroids of
    the (corpus x query) pairs instead of all of them.

    The probe side is EXPLICITLY broadcast (never left to AQE): joining
    a large probe set to the corpus on ``cid`` would hash-shuffle the
    whole corpus on a low-cardinality, skew-prone key. A query batch
    above ``max_broadcast_queries`` is rejected — batch the queries (or
    materialize the index with ``ivf_write_index`` and run batches
    against it) instead of silently degrading to a corpus shuffle.

    ``prebuilt``: the (cents, assigned) pair from ``ivf_build`` —
    REQUIRED for multi-batch callers, otherwise every batch would pay a
    full corpus count + k-means train + assignment pass for identical
    results (persist/write ``assigned`` between batches, or use
    ``ivf_write_index`` + ``knn_ivf_index`` for the durable variant).

    nprobe == num_centroids probes every list: bit-identical to
    ``knn_bruteforce`` (the driver-oracle machinery check)."""
    if queries.limit(max_broadcast_queries + 1).count() > max_broadcast_queries:
        raise ValueError(
            f"query batch exceeds max_broadcast_queries="
            f"{max_broadcast_queries}; split the queries into batches and "
            "reuse one index across them via prebuilt=ivf_build(corpus) "
            "or ivf_write_index/knn_ivf_index — a non-broadcast probe "
            "join would shuffle the corpus on the skewed cid key"
        )
    cents, assigned = prebuilt or ivf_build(corpus, num_centroids, vec_col, id_col)
    probes = _probes_for(queries, cents, nprobe, vec_col, id_col)
    cand = F.broadcast(probes).join(assigned, "cid").where(
        F.col("qid") != F.col("nid")
    )
    return _score_and_rank(cand, k)


def ivf_write_index(
    corpus: DataFrame,
    path: str,
    num_centroids: int | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    write_salt: int | None = None,
    train_sample: int | None = None,
    train_iters: int = 10,
) -> dict:
    """Materialize the IVF index: inverted lists as cid-partitioned
    parquet in sub-table ``lists`` plus the centroid table
    ``centroids``, committed as one snapshot of a
    ``tablefs.SnapshotTable`` at ``path``. The one corpus shuffle an IVF
    structure needs happens HERE, once, at build time — and it is
    salted (cid, xxhash64(nid) % write_salt) so a skewed list fans out
    over ``write_salt`` write tasks instead of serializing into one
    straggler. ``write_salt=None`` (default) derives the salt from the
    corpus/list ratio — one salt bucket per ~100k rows of a list, so a
    small index writes exactly one file per list instead of fanning
    every list into 8 near-empty files (~8x the file count, and probes
    pay the per-file open cost at every query — guide §6); large or
    skewed lists still fan out. Returns the list-size skew stats
    (``ivf_list_stats``) so the caller can gate on quantizer health at
    build time."""
    num_centroids, write_salt = _ivf_sizes(corpus, num_centroids, write_salt)
    cents, assigned = ivf_build(
        corpus, num_centroids, vec_col, id_col, train_sample, train_iters
    )
    spark = corpus.sparkSession
    table = tablefs.SnapshotTable(path)
    with table.writer() as man:
        man["tables"] = {}
        _write_lists(table, man, assigned, write_salt)
        table.write(man, "centroids", cents)
        cents = table.read(spark, "centroids", man)
        crows = cents.select("cid", "centroid").collect()  # <= nlist rows
        lists = table.read(spark, "lists", man)
        # quantizer-health baseline on a bounded sample of the written
        # lists: mean cosine(vector, assigned centroid). Appends report
        # the same statistic for their delta, so drift (new data the
        # centroids no longer describe -> falling assign cosine -> worse
        # partial-probe recall) is visible without ever rescanning the
        # corpus.
        man["props"] = {
            "nlist": len(crows),
            "dim": len(crows[0]["centroid"]),
            "write_salt": int(write_salt),
            "metric": "cosine",
            "id_type": corpus.select(id_col).schema[0].dataType.simpleString(),
            "build_assign_cos_mean": _assign_cos_mean(lists.limit(4096),
                                                      cents),
        }
        table.commit(man)
    return ivf_list_stats(lists)


def _ivf_sizes(corpus: DataFrame, num_centroids: int | None,
               write_salt: int | None) -> tuple[int, int]:
    """(num_centroids, write_salt), each derived from the corpus size
    when not given: one salt bucket per ~100k rows of a list."""
    if num_centroids is None or write_salt is None:
        n_corpus = corpus.count()
        if num_centroids is None:
            num_centroids = _pick_num_centroids(n_corpus)
        if write_salt is None:
            write_salt = max(
                1, min(64, -(-n_corpus // (max(1, num_centroids) * 100_000)))
            )
    return num_centroids, write_salt


def _write_lists(table, man: dict, lists: DataFrame, write_salt: int) -> None:
    """Write the inverted lists (rows carrying ``cid`` and ``nid``) as
    the pending generation of ``lists``, salted by (cid, xxhash64(nid) %
    write_salt) and partitioned by cid; the append heap is emptied."""
    table.write(man, "lists", lists.repartition(
        F.col("cid"),
        F.pmod(F.xxhash64(F.col("nid").cast("string")), F.lit(write_salt)),
    ), "cid")
    man["tables"]["lists_delta"] = []


# append heap file sizing: ~one output file per this many delta rows
# (~0.5 GB of 64-dim doubles per file)
_DELTA_ROWS_PER_FILE = 1_000_000


def _append_heap(table, man: dict, delta: DataFrame, n: int) -> None:
    """Write ``n`` delta rows as a new generation of the ``lists_delta``
    heap: O(n / _DELTA_ROWS_PER_FILE) files, cid-sorted so row-group
    stats prune probes."""
    files = max(1, -(-n // _DELTA_ROWS_PER_FILE))
    table.write(man, "lists_delta",
                delta.repartition(files).sortWithinPartitions("cid"),
                replace=False)


def _with_delta(table, man: dict, spark: SparkSession, lists: DataFrame,
                cid_filter=None) -> DataFrame:
    """Union the partitioned lists with the append heap (if any).
    ``cid_filter`` restricts the heap scan to the probed lists — heap
    files are written cid-sorted, so the predicate prunes row groups
    by min/max stats even without directory partitioning."""
    delta = table.read(spark, "lists_delta", man)
    if delta is None:
        return lists
    if cid_filter is not None:
        delta = delta.where(F.col("cid").isin(cid_filter))
    return lists.unionByName(delta.select(*lists.columns))


def read_ivf_meta(path: str) -> dict:
    return tablefs.SnapshotTable(path).manifest()["props"]


def _centroid_matrix(cents: DataFrame):
    """A centroid table as a cid-ordered numpy matrix — bounded by
    nlist (<= 65536 rows), never the corpus."""
    import numpy as np

    rows = cents.orderBy("cid").collect()
    if [r["cid"] for r in rows] != list(range(len(rows))):
        raise ValueError("centroid table has non-contiguous cids")
    return np.asarray([r["centroid"] for r in rows], dtype=np.float64)


def _assign_cos_mean(assigned: DataFrame, cents: DataFrame) -> float:
    """Mean cosine(vector, its assigned centroid) over ``assigned``
    rows (nid, cv, cnorm, cid) — the quantizer-drift statistic."""
    denom = F.col("cnorm") * F.col("centnorm")
    acos = F.when(
        denom > 0, _dot(F.col("cv"), F.col("centroid")) / denom
    )
    row = (
        assigned.join(F.broadcast(cents), "cid")
        .agg(F.avg(acos).alias("m"))
        .first()
    )
    return float(row["m"]) if row["m"] is not None else float("nan")


def append_to_ivf_index(
    df: DataFrame,
    path: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    batch_id: int | None = None,
) -> dict:
    """Add a vector batch to a materialized IVF index — the "daily
    embedding delta" path, completing the persistent-index triad
    (MinHash dedup_index, BM25 search_index, this). Delta-proportional:
    the batch is assigned map-side against the index's OWN centroids
    (``_nearest_cid_udf``, bit-identical to the build assignment) and
    added as a new generation — no existing file is read or rewritten,
    so append cost is O(delta) regardless of index size.

    The delta lands in the ``lists_delta`` append HEAP (plain parquet,
    cid as a sorted data column), not the ``lists`` partition tree: a
    dynamic-partition append writes one file per TOUCHED LIST — nlist
    near-empty files for a small batch (measured 6x the useful work at
    20k rows vs a 1000-list index), and repeated appends would rot the
    directory tree into millions of tiny files. The heap append writes
    O(delta/0.5GB) files regardless of nlist; probes read the pruned
    partition tree plus the heap (cid-sorted files -> row-group
    pruning); ``compact_ivf_index`` folds the heap back into the
    partition layout. The LSM shape, same as the search index's df
    partials.

    A stream passes its ``batch_id``: it is committed with the data,
    and a batch already committed is skipped
    (``{"skipped_committed_batch": True}``). Caller contract (same as
    the sibling indexes): ids not already present. Appending an id again
    duplicates its (cid, nid) row — a duplicated neighbor can occupy two
    top-k slots until ``compact_ivf_index`` repairs the lists.

    Returns lineage counters: rows appended, the delta's mean
    assign-cosine, and the build-time baseline — a delta cosine well
    below the baseline means the coarse quantizer no longer describes
    the incoming data (drifted distribution): rebuild with fresh
    centroids rather than continuing to append.
    """
    spark = df.sparkSession
    table = tablefs.SnapshotTable(path)
    with table.writer() as man:
        if table.committed(batch_id, man):
            return {"appended": 0, "skipped_committed_batch": True}
        cents = table.read(spark, "centroids", man)
        base = df.select(
            F.col(id_col).alias("nid"), _as_double(F.col(vec_col)).alias("cv")
        )
        # fused Arrow norm + assignment, bit-identical to the build
        # path's; persisted: feeds the file sizing, the write, and the
        # drift agg
        assigned = _with_cnorm(base, centroids=_centroid_matrix(cents)).persist()
        try:
            n = assigned.count()
            _append_heap(table, man, assigned, n)
            drift = _assign_cos_mean(assigned, cents)
        finally:
            assigned.unpersist()
        if batch_id is not None:
            man["last_batch"] = batch_id
        table.commit(man)
    return {
        "appended": int(n),
        "assign_cos_mean": drift,
        "build_assign_cos_mean": man["props"].get("build_assign_cos_mean"),
    }


def compact_ivf_index(
    spark: SparkSession,
    path: str,
    drop_ids: DataFrame | None = None,
    id_col: str = "vec_id",
) -> dict:
    """Rewrite the inverted lists as one generation: fold the append
    heap in, de-duplicate re-appended ids and, when ``drop_ids`` is
    given, ERASE those vectors — the right-to-be-forgotten path for the
    vector index (the searchability sibling of operators/deletion.py,
    same as compact_minhash_index / compact_search_index). Centroids are
    untouched: removing vectors never moves an assignment.

    Returns {"lists": (rows_before, rows_after)} lineage counts.
    """
    return _compact_ivf_lists(spark, path, drop_ids, id_col)


def _compact_ivf_lists(
    spark: SparkSession,
    path: str,
    drop_ids: DataFrame | None,
    id_col: str,
) -> dict:
    """The list fold shared by the IVF and IVFPQ indexes: union the
    append heap into ``lists``, keep one row per nid, anti-join
    ``drop_ids``, rewrite salted by the index's ``write_salt`` and
    commit the new lists with an empty heap in one publish. An erasure
    drops the index's history in that commit, so no file still holds
    an erased id once it returns. The rows after come from the written
    parquet footers."""
    table = tablefs.SnapshotTable(path)
    with table.writer() as man:
        df = _with_delta(table, man, spark, table.read(spark, "lists", man))
        before = df.count()
        # one list per vector: assignment is deterministic, so
        # re-appended ids duplicate WHOLE rows and any representative
        # per nid is exact
        clean = df.dropDuplicates(["nid"])
        if drop_ids is not None:
            drops = F.broadcast(
                drop_ids.select(F.col(id_col).alias("nid")).distinct()
            )
            clean = clean.join(drops, "nid", "left_anti")
        _write_lists(table, man, clean, man["props"]["write_salt"])
        after = tablefs.footer_rows(table.gen_dir("lists", man))
        table.commit(man, keep_history=drop_ids is None)
    return {"lists": (int(before), after)}


def knn_ivf_index(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    max_broadcast_queries: int = 100_000,
) -> DataFrame:
    """ANN against a materialized index: reads ONLY the probed inverted
    lists (cid is a parquet partition column, and the probe set is
    collected into a literal IN-filter, so partition pruning skips the
    other nlist - |probed| directories entirely). Scan cost is
    ~nprobe/nlist of the corpus in actual I/O, not just in compute —
    the property that makes IVF worth materializing."""
    if queries.limit(max_broadcast_queries + 1).count() > max_broadcast_queries:
        raise ValueError(
            f"query batch exceeds max_broadcast_queries="
            f"{max_broadcast_queries}; split the queries into batches"
        )
    table = tablefs.SnapshotTable(path)
    man = table.manifest()
    cents = table.read(spark, "centroids", man)
    probes = _probes_for(queries, cents, nprobe, vec_col, id_col).persist()
    try:
        probed = sorted(
            r["cid"] for r in probes.select("cid").distinct().collect()
        )  # bounded: <= |queries| x nprobe values
        lists = table.read(spark, "lists", man).where(
            F.col("cid").isin(probed)
        )
        # plus the append heap (vectors added since the last compaction
        # — small by the LSM contract; cid-sorted files, so the same
        # isin prunes its row groups)
        lists = _with_delta(table, man, spark, lists, cid_filter=probed)
        cand = F.broadcast(probes).join(lists, "cid").where(
            F.col("qid") != F.col("nid")
        )
        out = _score_and_rank(cand, k)
        out = out.localCheckpoint()  # materialize before unpersisting probes
    finally:
        probes.unpersist()
    return out


def hard_negatives(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 3,
    max_cos: float = 0.95,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Hard-negative mining for contrastive training: per query, the
    top-``k`` most-similar corpus vectors whose round-6 cosine is
    BELOW ``max_cos`` — similar enough to be hard, not so similar they
    are near-duplicates (those belong to the dedup family, not the
    negatives set).

    One corpus scan: the (small) query set is broadcast, cosine runs
    as JVM higher-order expressions, the near-dup band and NULL
    (zero-norm) cosines are filtered BEFORE ranking, and the per-query
    top-k is a WindowGroupLimit partial top-k — shuffle volume
    O(queries x k), independent of corpus size. All boundaries
    (the band cut and the rank order) are on round-6 values, so the
    DuckDB replay is exact.

    Returns ``(qid, neg_rank, nid, cos6)``.
    """
    v = emb.select(
        F.col(id_col).alias("nid"), _as_double(vec_col).alias("e")
    )
    q = emb.join(queries.select(F.col(id_col).alias("qid")),
                 F.col(id_col) == F.col("qid")).select(
        "qid", _as_double(vec_col).alias("qe")
    )
    zero = F.lit(0.0).cast("double")
    cos = _dot(F.col("e"), F.col("qe")) / F.nullif(
        _norm(F.col("e")) * _norm(F.col("qe")), zero
    )
    scored = (
        v.join(F.broadcast(q))
        .where(F.col("nid") != F.col("qid"))
        .select("qid", "nid", F.round(cos, 6).alias("cos6"))
        .where(
            F.col("cos6").isNotNull()
            & ~F.isnan("cos6")
            & (F.col("cos6") < F.lit(float(max_cos)).cast("double"))
        )
    )
    w = Window.partitionBy("qid").orderBy(
        F.col("cos6").desc(), F.col("nid").asc()
    )
    return (
        scored.withColumn("neg_rank", F.row_number().over(w).cast("long"))
        .where(F.col("neg_rank") <= k)
        .select("qid", "neg_rank", "nid", "cos6")
    )


def positive_pairs(
    emb: DataFrame,
    docs: DataFrame,
    min_cos: float = 0.95,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    doc_id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Anchor/positive pair mining for contrastive training: unordered
    pairs with round-6 cosine AT OR ABOVE ``min_cos`` whose texts are
    NOT byte-identical — semantically-close-but-distinct pairs (exact
    duplicates are dedup's business, and training on them teaches
    nothing). The mirror of :func:`hard_negatives`' below-band cut.

    Exact all-pairs formulation (the oracle-exact baseline, like
    knn_bruteforce). Execution shape (optimization round 6): the old
    id-ordered self-join evaluated dot/norm as interpreted
    higher-order-function lambdas PER PAIR (~400 interpreted steps x
    N^2/2 pairs — 65 s at 2k vectors); now vectors are dealt into
    deterministic hash blocks, every unordered BLOCK pair becomes one
    applyInPandas group, and the group computes its pair-cosine matrix
    in numpy with a per-dimension fold (``acc = acc + x*y``) that
    replays the JVM ``aggregate`` fold bit-for-bit — same IEEE-754
    operations in the same order, so the UNROUNDED cosine is
    bit-identical and the final ``round(.., 6)`` + band filter stay in
    Spark SQL exactly as before. The md5 identity anti-filter is
    attached per vector BEFORE pairing (1:1 inner join — equivalent to
    the old post-pair inner joins) and applied inside the group. Total
    work is still the O(N^2) the oracle demands, but vectorized and
    spread over B(B+1)/2 independent groups; the scale path for the
    same band is embedding_near_dup_pairs (dedup.py: LSH-bucketed,
    no all-pairs).

    Returns ``(id_a, id_b, cos6)`` with ``id_a < id_b``.
    """
    import math

    import numpy as np
    import pandas as pd

    fp = docs.select(
        F.col(doc_id_col).alias("vid"), F.md5(F.col(text_col)).alias("_fp")
    )
    v = emb.select(
        F.col(id_col).alias("vid"), _as_double(F.col(vec_col)).alias("e")
    )
    ve = v.join(fp, "vid")
    n = emb.count()
    # block count: bound per-block rows (task memory) but keep enough
    # block pairs to spread over the cluster at small N
    n_blocks = max(1, math.ceil(n / 8192))
    n_blocks = max(n_blocks, min(8, math.ceil(n / 256)))
    rep = ve.select(
        "vid",
        "e",
        "_fp",
        F.pmod(F.xxhash64("vid"), F.lit(n_blocks)).cast("int").alias("b"),
        F.explode(
            F.sequence(F.lit(0), F.lit(n_blocks - 1))
        ).alias("j"),
    ).select(
        "vid", "e", "_fp", "b",
        F.least("b", "j").alias("g1"), F.greatest("b", "j").alias("g2"),
    )
    id_type = dict(emb.dtypes)[id_col]
    out_schema = f"id_a {id_type}, id_b {id_type}, cos double"
    # anything below this can never round(…,6) up into the band
    min_keep = float(min_cos) - 1e-6

    def _fold_dot(A: np.ndarray, B: np.ndarray) -> np.ndarray:
        """acc = (…((0 + a0*b0) + a1*b1)…) per pair — the exact JVM
        aggregate fold, vectorized across the pair matrix."""
        acc = np.zeros((A.shape[0], B.shape[0]), dtype=np.float64)
        buf = np.empty_like(acc)
        for i in range(A.shape[1]):
            # product rounded first, then added — two roundings per
            # element per step, identical to the JVM lambda
            np.multiply(A[:, i, None], B[None, :, i], out=buf)
            np.add(acc, buf, out=acc)
        return acc

    def _fold_norm(A: np.ndarray) -> np.ndarray:
        acc = np.zeros(A.shape[0], dtype=np.float64)
        for i in range(A.shape[1]):
            acc = acc + A[:, i] * A[:, i]
        return np.sqrt(acc)

    def _emit(ida, fa, A, idb, fb, Bm, same_side: bool, out: list) -> None:
        nb_norm = _fold_norm(Bm)
        # slice the A side so the pair matrices stay ~<=8M cells
        step = max(1, (8 << 20) // max(1, Bm.shape[0]))
        for s in range(0, A.shape[0], step):
            As, ids_s, fa_s = A[s:s + step], ida[s:s + step], fa[s:s + step]
            dotm = _fold_dot(As, Bm)
            denom = _fold_norm(As)[:, None] * nb_norm[None, :]
            with np.errstate(divide="ignore", invalid="ignore"):
                cosm = dotm / denom
            keep = (denom != 0.0) & ~np.isnan(cosm) & (cosm >= min_keep)
            if same_side:
                keep &= ids_s[:, None] < idb[None, :]
            else:
                keep &= ids_s[:, None] != idb[None, :]
            # texts byte-identical (eqNullSafe incl. both-NULL) -> drop
            keep &= ~(fa_s[:, None] == fb[None, :])
            ii, jj = np.nonzero(keep)
            if ii.size:
                a_ids, b_ids = ids_s[ii], idb[jj]
                out.append(pd.DataFrame({
                    "id_a": np.minimum(a_ids, b_ids),
                    "id_b": np.maximum(a_ids, b_ids),
                    "cos": cosm[ii, jj],
                }))

    def gen_pairs(key, pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({"id_a": [], "id_b": [], "cos": []})
        if len(pdf) < 2:
            return empty
        g1, g2 = int(key[0]), int(key[1])
        out: list = []
        # pairs across differing embedding lengths fold to NULL in the
        # JVM (zip_with pads, aggregate propagates) -> dropped; mirror
        # that by pairing only within a length class
        lens = pdf["e"].map(lambda x: -1 if x is None else len(x))
        for length, sub in pdf.groupby(lens):
            if length <= 0 or len(sub) < 2:
                continue
            ids = sub["vid"].to_numpy()
            fps = sub["_fp"].to_numpy(dtype=object)
            E = np.stack([np.asarray(x, dtype=np.float64)
                          for x in sub["e"]])
            if g1 == g2:
                _emit(ids, fps, E, ids, fps, E, True, out)
            else:
                mask = (sub["b"].to_numpy() == g1)
                if not mask.any() or mask.all():
                    continue
                _emit(ids[mask], fps[mask], E[mask],
                      ids[~mask], fps[~mask], E[~mask], False, out)
        if not out:
            return empty
        return pd.concat(out, ignore_index=True)

    pairs = rep.groupBy("g1", "g2").applyInPandas(gen_pairs, out_schema)
    return (
        pairs.select("id_a", "id_b", F.round("cos", 6).alias("cos6"))
        .where(
            F.col("cos6").isNotNull()
            & ~F.isnan("cos6")
            & (F.col("cos6") >= F.lit(float(min_cos)).cast("double"))
        )
    )
