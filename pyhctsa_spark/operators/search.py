"""Full-text relevance search over the documents table: inverted-index
construction, BM25 top-k retrieval, and TF-IDF keyword extraction.

The reference repo has no search surface (SURVEY §2.0) — this is part of
the training-data-pipeline layer: corpus search is how curation teams
audit what a filter kept ("show me the top docs matching X"), and TF-IDF
keywords are a standard cheap document-descriptor for clustering/
diagnostics.

Spark-first shape (everything JVM-side, no Python in the scan path):

- The posting build is ``explode → groupBy(term, doc) count`` — partial
  (map-side) aggregation keeps the shuffle at O(distinct (term, doc))
  rather than O(token occurrences).
- Query scoring filters the token ARRAY against the (tiny, literal)
  query-term set BEFORE the explode, so the per-doc work after the scan
  is proportional to query hits, not document length, and the filter
  sits inside the same whole-stage-codegen span as the scan.
- Per-term document frequencies and the (1-row) corpus stats are
  broadcast — the only shuffles are the two aggregations.
- Top-k is ``TakeOrderedAndProject`` (sort-limit pushed to partial
  per-partition heaps), never a global single-partition window; the
  rank column is attached by a window over the ≤ k surviving rows.

Determinism across engines (DuckDB oracle): scores are rounded to 6
decimals IN-QUERY on both sides and ordered by (rounded score DESC,
doc_id ASC), so a libm ULP difference can never flip a boundary.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

BM25_K1 = 1.2
BM25_B = 0.75


def _cos6_expr(a, b):
    """Round-6 cosine between two double-array columns, as JVM
    higher-order expressions: NULL (not an error, not NaN) on a
    zero-norm side. Shared by every dense tower in this module so the
    NaN/NULL contract is defined in exactly one place."""
    zero = F.lit(0.0).cast("double")

    def dot(x, y):
        return F.aggregate(
            F.zip_with(x, y, lambda u, v: u * v), zero, lambda acc, u: acc + u
        )

    return F.round(
        dot(a, b) / F.nullif(F.sqrt(dot(a, a)) * F.sqrt(dot(b, b)), zero), 6
    )


def _doc_words(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(doc_id, _w: array<string>, dl: int) — whitespace tokenization,
    the same split the rest of the text family uses (text.py)."""
    w = F.split(F.col(text_col), " ")
    return df.select(
        F.col(id_col).alias("doc_id"), w.alias("_w"), F.size(w).alias("dl")
    )


def build_inverted_index(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Full postings table ``(term, doc_id, tf, dl)``.

    One explode + one groupBy: Spark's partial hash aggregation combines
    (term, doc) counts map-side before the exchange, so the shuffle
    carries one row per DISTINCT (term, doc) — for natural-language
    corpora that is ~40-60% of raw token volume, and the postings can be
    written out partitioned by a term hash for pruned query-time scans.
    """
    return (
        _doc_words(df, text_col, id_col)
        .select("doc_id", "dl", F.explode("_w").alias("term"))
        .groupBy("term", "doc_id", "dl")
        .agg(F.count("*").alias("tf"))
        .select("term", "doc_id", "tf", "dl")
    )


def bm25_topk(
    df: DataFrame,
    query_terms: list[str],
    k: int = 10,
    k1: float = BM25_K1,
    b: float = BM25_B,
    text_col: str = "text",
    id_col: str = "doc_id",
    base: DataFrame | None = None,
) -> DataFrame:
    """Top-k documents by BM25 relevance to ``query_terms``.

    Lucene-variant BM25 (always-positive idf):

        idf(t)     = ln(1 + (N - df_t + 0.5) / (df_t + 0.5))
        score(d)   = Σ_t idf(t) · tf · (k1+1) / (tf + k1·(1-b+b·dl/avgdl))

    Duplicate query terms are collapsed (bag-of-terms query == set query
    here, the standard retrieval convention). Returns
    ``(rank, doc_id, score6, n_terms_hit)`` — score rounded to 6 in-query
    so the DuckDB oracle agrees on tie boundaries.

    Plan shape (asserted in tests/test_search.py): the query-term filter
    runs on the token array BEFORE explode (scan-side prune); df_t
    (≤ |q| rows) and the 1-row corpus stats are broadcast; the final
    top-k is TakeOrderedAndProject, not a global window.
    """
    terms = sorted(set(query_terms))
    if not terms:
        raise ValueError("bm25_topk needs at least one query term")
    if base is None:
        base = _doc_words(df, text_col, id_col)
    # ``base``: callers that already hold a (persisted) _doc_words
    # table pass it so the corpus is tokenized once per pipeline, not
    # once per pass (bm25_rm3_topk re-ranks against the same corpus —
    # optimization r6, guide §2.3)
    # corpus constants from the full table (df_t/N/avgdl must see every
    # doc, matched or not)
    stats = base.agg(F.count("*").alias("n_docs"), F.avg("dl").alias("avgdl"))
    qarr = F.array(*[F.lit(t) for t in terms])
    tf = (
        base.select(
            "doc_id",
            "dl",
            F.explode(
                F.filter("_w", lambda w: F.array_contains(qarr, w))
            ).alias("term"),
        )
        .groupBy("doc_id", "dl", "term")
        .agg(F.count("*").alias("tf"))
    )
    dft = tf.groupBy("term").agg(F.count("*").alias("df_t"))
    k1c = F.lit(float(k1)).cast("double")
    bc = F.lit(float(b)).cast("double")
    one = F.lit(1.0).cast("double")
    half = F.lit(0.5).cast("double")
    idf = F.log(
        one
        + (F.col("n_docs") - F.col("df_t") + half) / (F.col("df_t") + half)
    )
    contrib = (
        idf
        * F.col("tf")
        * (k1c + one)
        / (
            F.col("tf")
            + k1c * (one - bc + bc * F.col("dl") / F.nullif(F.col("avgdl"), F.lit(0.0)))
        )
    )
    scored = (
        tf.join(F.broadcast(dft), "term")
        .join(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(
            F.round(F.sum(contrib), 6).alias("score6"),
            F.count("*").alias("n_terms_hit"),
        )
    )
    top = scored.orderBy(F.col("score6").desc(), F.col("doc_id").asc()).limit(k)
    w = Window.orderBy(F.col("score6").desc(), F.col("doc_id").asc())
    return top.withColumn("rank", F.row_number().over(w).cast("long")).select(
        "rank", "doc_id", "score6", "n_terms_hit"
    )


def bm25_topk_multi(
    df: DataFrame,
    queries: DataFrame,
    k: int = 10,
    k1: float = BM25_K1,
    b: float = BM25_B,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Batched retrieval: top-k per query for a (small) query table
    ``(query_id, terms: array<string>)`` — the shape a curation audit
    job uses (hundreds of probe queries over the corpus in ONE scan).

    The query table is exploded to (query_id, term), deduped, and
    broadcast into the postings stream; per-(query, doc) scores
    aggregate in one shuffle and the per-query top-k uses a
    WindowGroupLimit partial top-k (rn <= k recognized by Spark's
    InferWindowGroupLimit), so shuffle volume is O(queries × k) per
    task, independent of corpus size.
    """
    qt = queries.select(
        "query_id", F.explode("terms").alias("term")
    ).distinct()
    base = _doc_words(df, text_col, id_col)
    stats = base.agg(F.count("*").alias("n_docs"), F.avg("dl").alias("avgdl"))
    # all terms any query mentions — broadcast set, array-filter pre-explode
    postings = (
        base.select("doc_id", "dl", F.explode("_w").alias("term"))
        .join(F.broadcast(qt.select("term").distinct()), "term")
        .groupBy("term", "doc_id", "dl")
        .agg(F.count("*").alias("tf"))
    )
    dft = postings.groupBy("term").agg(F.count("*").alias("df_t"))
    k1c = F.lit(float(k1)).cast("double")
    bc = F.lit(float(b)).cast("double")
    one = F.lit(1.0).cast("double")
    half = F.lit(0.5).cast("double")
    idf = F.log(
        one
        + (F.col("n_docs") - F.col("df_t") + half) / (F.col("df_t") + half)
    )
    contrib = (
        idf
        * F.col("tf")
        * (k1c + one)
        / (
            F.col("tf")
            + k1c * (one - bc + bc * F.col("dl") / F.nullif(F.col("avgdl"), F.lit(0.0)))
        )
    )
    scored = (
        postings.join(F.broadcast(qt), "term")
        .join(F.broadcast(dft), "term")
        .join(F.broadcast(stats))
        .groupBy("query_id", "doc_id")
        .agg(
            F.round(F.sum(contrib), 6).alias("score6"),
            F.count("*").alias("n_terms_hit"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score6").desc(), F.col("doc_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "doc_id", "score6", "n_terms_hit")
    )


def tfidf_keywords(
    df: DataFrame,
    top_n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Top-n TF-IDF keywords per document:
    ``tfidf = tf · ln(N / df_t)`` (raw-count tf, plain idf).

    Returns ``(doc_id, kw_rank, term, tfidf6)``. Per-doc ranking orders
    by (rounded tfidf DESC, term ASC); the ``rn <= top_n`` filter
    compiles to a WindowGroupLimit partial top-k, so the shuffle ships
    O(docs × top_n) rows regardless of vocabulary size.
    """
    base = _doc_words(df, text_col, id_col)
    stats = base.agg(F.count("*").alias("n_docs"))
    tf = (
        base.select("doc_id", F.explode("_w").alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    dft = tf.groupBy("term").agg(F.count("*").alias("df_t"))
    tfidf = (
        tf.join(F.broadcast(dft), "term")
        .join(F.broadcast(stats))
        .select(
            "doc_id",
            "term",
            F.round(
                F.col("tf")
                * F.log(
                    F.col("n_docs").cast("double")
                    / F.col("df_t").cast("double")
                ),
                6,
            ).alias("tfidf6"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf6").desc(), F.col("term").asc()
    )
    return (
        tfidf.withColumn("kw_rank", F.row_number().over(w).cast("long"))
        .where(F.col("kw_rank") <= top_n)
        .select("doc_id", "kw_rank", "term", "tfidf6")
    )


def cosine_topk_ranks(
    emb: DataFrame,
    query_vec_id: int,
    pool: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Rank the ``pool`` nearest vectors to ``query_vec_id`` by cosine.

    The dense half of hybrid retrieval: the (1-row) query vector is
    broadcast against the corpus and the dot product / norms run as
    JVM higher-order functions — one corpus scan, no Python, top-pool
    via TakeOrderedAndProject. Cosine is rounded to 6 IN-QUERY before
    ranking (the same ULP armor as bm25_topk's score6) and ties break
    on vec_id, so the DuckDB oracle agrees on every rank boundary.
    Zero-norm vectors yield NULL cosine (excluded by the descending
    NULLS LAST sort) rather than an ANSI division error.

    Role at scale: this is the ORACLE-EXACT full-scan baseline (the
    dense sibling of similarity.knn_bruteforce, same interpreted-HOF
    cosine); the production path at corpus scale is the materialized
    IVF tower (:func:`hybrid_rrf_indexed` / similarity.knn_ivf_index),
    whose scoring is Arrow-batched einsum over partition-pruned lists.

    Returns ``(vec_id, cos6, r_cos)`` with ``r_cos`` in 1..pool.
    """
    v = emb.select(
        F.col(id_col).alias("vec_id"),
        F.transform(vec_col, lambda x: x.cast("double")).alias("e"),
    )
    qv = v.where(F.col("vec_id") == int(query_vec_id)).select(
        F.col("e").alias("qe")
    )
    scored = (
        v.where(F.col("vec_id") != int(query_vec_id))
        .join(F.broadcast(qv))
        .select("vec_id", _cos6_expr(F.col("e"), F.col("qe")).alias("cos6"))
        .where(F.col("cos6").isNotNull() & ~F.isnan("cos6"))
    )
    top = scored.orderBy(F.col("cos6").desc(), F.col("vec_id").asc()).limit(
        pool
    )
    w = Window.orderBy(F.col("cos6").desc(), F.col("vec_id").asc())
    return top.withColumn("r_cos", F.row_number().over(w).cast("long"))


def hybrid_rrf_topk(
    docs: DataFrame,
    emb: DataFrame,
    query_terms: list[str],
    query_vec_id: int = 0,
    k: int = 10,
    pool: int = 50,
    k_rrf: int = 60,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Hybrid retrieval: reciprocal-rank fusion of BM25 and cosine.

    The standard two-tower audit query of a curation pipeline ("docs
    that match these terms AND look like this example"): lexical ranks
    come from :func:`bm25_topk` (top ``pool``), dense ranks from
    :func:`cosine_topk_ranks` over the aligned embeddings table, and
    the lists fuse with Cormack/Clarke/Buettcher reciprocal-rank
    fusion::

        rrf(d) = sum_systems 1 / (k_rrf + rank_system(d))

    A document absent from one list contributes 0 for that system (the
    standard convention). Both input ranks are computed over rounded
    scores, and the fused score is ``round(_, 6)`` with a doc_id
    tiebreak, so the DuckDB oracle reproduces the ordering exactly —
    1/(k_rrf+r) on an integer rank is a single correctly-rounded IEEE
    division, identical across engines.

    Scale shape: each side is one corpus scan ending in a pool-sized
    TakeOrderedAndProject; the fusion join touches <= 2*pool rows.
    Returns ``(rank, doc_id, fused6, r_bm25, r_cos)``.
    """
    bm = bm25_topk(
        docs, query_terms, k=pool, text_col=text_col, id_col=id_col
    ).select("doc_id", F.col("rank").alias("r_bm25"))
    cs = cosine_topk_ranks(emb, query_vec_id, pool=pool).select(
        F.col("vec_id").alias("doc_id"), "r_cos"
    )
    kr = F.lit(float(k_rrf)).cast("double")
    one = F.lit(1.0).cast("double")
    zero = F.lit(0.0).cast("double")
    fused = F.coalesce(one / (kr + F.col("r_bm25")), zero) + F.coalesce(
        one / (kr + F.col("r_cos")), zero
    )
    scored = bm.join(cs, "doc_id", "full_outer").select(
        "doc_id", "r_bm25", "r_cos", F.round(fused, 6).alias("fused6")
    )
    top = scored.orderBy(F.col("fused6").desc(), F.col("doc_id").asc()).limit(
        k
    )
    w = Window.orderBy(F.col("fused6").desc(), F.col("doc_id").asc())
    return top.withColumn("rank", F.row_number().over(w).cast("long")).select(
        "rank", "doc_id", "fused6", "r_bm25", "r_cos"
    )


def cosine_topk_multi(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Batched dense retrieval: top-k per query for a (small) query
    table ``(query_id, qvec: array<numeric>[, exclude_vec_id])`` —
    hundreds of probe vectors against the corpus in ONE scan.

    The query table is broadcast (BroadcastNestedLoopJoin against the
    corpus scan); cosine runs as JVM higher-order functions rounded to
    6 in-query; the per-query top-k is a WindowGroupLimit partial
    top-k, so shuffle volume is O(queries x k) per task, independent
    of corpus size. If the optional ``exclude_vec_id`` column is
    present (nullable), that corpus id is excluded from its query's
    candidates — how a corpus-row probe skips itself. Zero-norm
    vectors (either side) yield NULL cosine and are excluded.

    Returns ``(query_id, r_cos, vec_id, cos6)``.
    """
    has_excl = "exclude_vec_id" in queries.columns
    qcols = [
        F.col("query_id"),
        F.transform("qvec", lambda x: x.cast("double")).alias("qe"),
    ]
    if has_excl:
        qcols.append(F.col("exclude_vec_id"))
    q = queries.select(*qcols)
    v = emb.select(
        F.col(id_col).alias("vec_id"),
        F.transform(vec_col, lambda x: x.cast("double")).alias("e"),
    )
    joined = v.join(F.broadcast(q))
    if has_excl:
        joined = joined.where(
            ~F.col("vec_id").eqNullSafe(F.col("exclude_vec_id"))
        )
    scored = joined.select(
        "query_id", "vec_id",
        _cos6_expr(F.col("e"), F.col("qe")).alias("cos6"),
    ).where(F.col("cos6").isNotNull() & ~F.isnan("cos6"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos6").desc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("r_cos", F.row_number().over(w).cast("long"))
        .where(F.col("r_cos") <= k)
        .select("query_id", "r_cos", "vec_id", "cos6")
    )


def hybrid_rrf_topk_multi(
    docs: DataFrame,
    emb: DataFrame,
    queries: DataFrame,
    k: int = 10,
    pool: int = 50,
    k_rrf: int = 60,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Batched hybrid retrieval: RRF fusion per query for a query table
    ``(query_id, terms: array<string>, qvec: array<numeric>
    [, exclude_vec_id])`` — the audit-job shape: hundreds of hybrid
    probes cost one corpus scan per tower total, not per query.

    Lexical ranks come from :func:`bm25_topk_multi`, dense ranks from
    :func:`cosine_topk_multi` (both per-query WindowGroupLimit partial
    top-pools), fused per query with the same 1/(k_rrf+rank)
    convention as :func:`hybrid_rrf_topk` — a single-query table
    reproduces it exactly (pytest-gated multi==single, the same
    contract bm25_topk_multi has).

    Returns ``(query_id, rank, doc_id, fused6, r_bm25, r_cos)``.
    """
    bm = bm25_topk_multi(
        docs,
        queries.select("query_id", "terms"),
        k=pool,
        text_col=text_col,
        id_col=id_col,
    ).select("query_id", "doc_id", F.col("rank").alias("r_bm25"))
    qvec_cols = ["query_id", "qvec"] + (
        ["exclude_vec_id"] if "exclude_vec_id" in queries.columns else []
    )
    cs = cosine_topk_multi(emb, queries.select(*qvec_cols), k=pool).select(
        "query_id", F.col("vec_id").alias("doc_id"), "r_cos"
    )
    kr = F.lit(float(k_rrf)).cast("double")
    one = F.lit(1.0).cast("double")
    zero = F.lit(0.0).cast("double")
    fused = F.coalesce(one / (kr + F.col("r_bm25")), zero) + F.coalesce(
        one / (kr + F.col("r_cos")), zero
    )
    scored = bm.join(cs, ["query_id", "doc_id"], "full_outer").select(
        "query_id", "doc_id", "r_bm25", "r_cos",
        F.round(fused, 6).alias("fused6"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("fused6").desc(), F.col("doc_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "doc_id", "fused6", "r_bm25", "r_cos")
    )


def hybrid_rrf_indexed(
    spark,
    search_index_path: str,
    ivf_index_path: str,
    query_terms: list[str],
    query_vecs: DataFrame,
    k: int = 10,
    pool: int = 50,
    k_rrf: int = 60,
    nprobe: int = 4,
) -> DataFrame:
    """Steady-state hybrid retrieval: both towers served from
    MATERIALIZED indexes — the persistent inverted index
    (search_index.query_search_index: scan pruned to the query's term
    buckets) and the IVF vector index (similarity.knn_ivf_index: scan
    pruned to the probed inverted lists + append heap). Query cost is
    independent of corpus size in both towers; fusion is the same
    1/(k_rrf+rank) convention as :func:`hybrid_rrf_topk`.

    ``query_vecs`` is a 1-row DataFrame carrying the dense query
    (vec_id, embedding) — its vec_id is excluded from the dense
    candidates, mirroring the scan tower's self-exclusion. At
    ``nprobe >= nlist`` (full probe) the dense tower is exact and the
    result value-matches the scan-based :func:`hybrid_rrf_topk` (the
    indexed BM25 tower is bit-equal to bm25_topk by its own gate) —
    the driver oracle doc_hybrid_rrf_indexed replays exactly that.

    Returns ``(rank, doc_id, fused6, r_bm25, r_cos)``.
    """
    from pyhctsa_spark.operators.search_index import query_search_index
    from pyhctsa_spark.operators.similarity import knn_ivf_index

    bm = query_search_index(
        spark, search_index_path, query_terms, k=pool
    ).select("doc_id", F.col("rank").alias("r_bm25"))
    # The IVF probe ranks by RAW cosine (nid tiebreak) and keeps
    # NULL-cosine (zero-norm) rows ranked last; the scan tower and the
    # shared oracle rank by ROUND-6 cosine (id tiebreak) and exclude
    # NULLs. Re-derive the dense ranks on the probe's candidates under
    # the round-6 contract, fetching a +16 slack past the pool so a
    # round-6 tie straddling the raw pool cut cannot change membership
    # (17+ exact round-6 ties at the boundary would be needed).
    raw = knn_ivf_index(
        spark, ivf_index_path, query_vecs, k=pool + 16, nprobe=nprobe
    ).where(F.col("cosine").isNotNull() & ~F.isnan("cosine"))
    wc = Window.orderBy(F.col("cos6").desc(), F.col("doc_id").asc())
    cs = (
        raw.select(
            F.col("nid").alias("doc_id"), F.round("cosine", 6).alias("cos6")
        )
        .withColumn("r_cos", F.row_number().over(wc).cast("long"))
        .where(F.col("r_cos") <= pool)
        .select("doc_id", "r_cos")
    )
    kr = F.lit(float(k_rrf)).cast("double")
    one = F.lit(1.0).cast("double")
    zero = F.lit(0.0).cast("double")
    fused = F.coalesce(one / (kr + F.col("r_bm25")), zero) + F.coalesce(
        one / (kr + F.col("r_cos")), zero
    )
    scored = bm.join(cs, "doc_id", "full_outer").select(
        "doc_id", "r_bm25", "r_cos", F.round(fused, 6).alias("fused6")
    )
    top = scored.orderBy(F.col("fused6").desc(), F.col("doc_id").asc()).limit(
        k
    )
    w = Window.orderBy(F.col("fused6").desc(), F.col("doc_id").asc())
    return top.withColumn("rank", F.row_number().over(w).cast("long")).select(
        "rank", "doc_id", "fused6", "r_bm25", "r_cos"
    )


def bm25_rm3_topk(
    docs: DataFrame,
    query_terms: list[str],
    k: int = 10,
    fb_docs: int = 10,
    fb_terms: int = 10,
    orig_weight: float = 0.5,
    k1: float = BM25_K1,
    b: float = BM25_B,
    text_col: str = "text",
    id_col: str = "doc_id",
    persist_base: bool = True,
) -> DataFrame:
    """BM25 with RM3-style pseudo-relevance-feedback query expansion.

    Two deterministic passes (Lavrenko/Croft relevance-model flavor,
    adapted to BM25 interpolation as IR toolkits do):

    1. The top ``fb_docs`` documents by plain BM25 (:func:`bm25_topk`,
       rounded-score ordering) are taken as pseudo-relevant. Every
       non-query term t in them gets weight
       ``w(t) = sum_d (tf(t,d)/dl_d) * score6(d)``, normalized to sum
       to 1 and rounded to 6; the top ``fb_terms`` by (weight DESC,
       term ASC) become the expansion set E.
    2. Final score interpolates the original and expansion queries:
       ``round(a * s0(d) + (1-a) * sum_{t in E} w6(t) * c_t(d), 6)``
       where s0 is the raw BM25 sum over the original terms and c_t
       the standard per-term BM25 contribution, all df/avgdl from the
       full corpus.

    The expansion set (``fb_terms`` rows, weights included) is
    collected to the driver — a bounded-metadata collect, same class
    as the cagg touched-chunk reads — so the second pass keeps the
    scan-side literal array prune of :func:`bm25_topk`. Rounded
    boundaries everywhere make the DuckDB oracle ordering-exact.

    Returns ``(rank, doc_id, score6, n_exp_hit)`` — n_exp_hit counts
    matched expansion terms.
    """
    terms = sorted(set(query_terms))
    if not terms:
        raise ValueError("bm25_rm3_topk needs at least one query term")
    # base feeds FIVE consumers (pass-1 stats+tf, feedback tf, pass-2
    # stats+tf) — persist the tokenized table once instead of
    # re-splitting the corpus per branch (pass 1 now reuses it too:
    # optimization r6). Batch-scoped: callers reclaim it via
    # clearCache() (the bench/driver convention); pass
    # persist_base=False when the tokenized corpus exceeds cluster
    # cache and re-scanning is the cheaper trade.
    base = _doc_words(df=docs, text_col=text_col, id_col=id_col)
    if persist_base:
        base = base.persist()
    fb = bm25_topk(
        docs, terms, k=fb_docs, k1=k1, b=b, text_col=text_col,
        id_col=id_col, base=base,
    ).select("doc_id", "score6")
    # expansion-term weights from the feedback docs' FULL token lists
    fbtf = (
        base.join(F.broadcast(fb), "doc_id")
        .select(
            "doc_id", "dl", "score6", F.explode("_w").alias("term")
        )
        .groupBy("doc_id", "dl", "score6", "term")
        .agg(F.count("*").alias("tf"))
    )
    qarr0 = F.array(*[F.lit(t) for t in terms])
    ew = (
        fbtf.where(~F.array_contains(qarr0, F.col("term")))
        .groupBy("term")
        .agg(
            F.sum(
                F.col("tf").cast("double")
                / F.col("dl").cast("double")
                * F.col("score6")
            ).alias("w")
        )
    )
    total = ew.agg(F.sum("w").alias("wtot"))
    exp = (
        ew.join(F.broadcast(total))
        .select(
            "term",
            F.round(
                F.col("w") / F.nullif(F.col("wtot"), F.lit(0.0).cast("double")),
                6,
            ).alias("w6"),
        )
        .where(F.col("w6").isNotNull())
        .orderBy(F.col("w6").desc(), F.col("term").asc())
        .limit(fb_terms)
    )
    # bounded collect: fb_terms rows of (term, weight) metadata
    exp_rows = [(r["term"], float(r["w6"])) for r in exp.collect()]
    all_terms = sorted(set(terms) | {t for t, _ in exp_rows})
    wmap = F.create_map(
        *[x for t, wt in exp_rows for x in (F.lit(t), F.lit(wt))]
    ) if exp_rows else F.create_map()
    qarr = F.array(*[F.lit(t) for t in all_terms])
    stats = base.agg(F.count("*").alias("n_docs"), F.avg("dl").alias("avgdl"))
    tf2 = (
        base.select(
            "doc_id",
            "dl",
            F.explode(
                F.filter("_w", lambda w: F.array_contains(qarr, w))
            ).alias("term"),
        )
        .groupBy("doc_id", "dl", "term")
        .agg(F.count("*").alias("tf"))
    )
    dft = tf2.groupBy("term").agg(F.count("*").alias("df_t"))
    k1c = F.lit(float(k1)).cast("double")
    bc = F.lit(float(b)).cast("double")
    one = F.lit(1.0).cast("double")
    half = F.lit(0.5).cast("double")
    zero = F.lit(0.0).cast("double")
    idf = F.log(
        one
        + (F.col("n_docs") - F.col("df_t") + half) / (F.col("df_t") + half)
    )
    contrib = (
        idf
        * F.col("tf")
        * (k1c + one)
        / (
            F.col("tf")
            + k1c
            * (one - bc + bc * F.col("dl") / F.nullif(F.col("avgdl"), F.lit(0.0)))
        )
    )
    is_orig = F.array_contains(qarr0, F.col("term"))
    aw = F.lit(float(orig_weight)).cast("double")
    scored = (
        tf2.join(F.broadcast(dft), "term")
        .join(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(
            F.round(
                aw * F.sum(F.when(is_orig, contrib).otherwise(zero))
                + (one - aw)
                * F.sum(
                    F.when(
                        ~is_orig,
                        F.coalesce(wmap[F.col("term")], zero) * contrib,
                    ).otherwise(zero)
                ),
                6,
            ).alias("score6"),
            F.sum(F.when(~is_orig, F.lit(1)).otherwise(F.lit(0)))
            .cast("long")
            .alias("n_exp_hit"),
        )
        .where(F.col("score6") > 0)
    )
    top = scored.orderBy(F.col("score6").desc(), F.col("doc_id").asc()).limit(
        k
    )
    w = Window.orderBy(F.col("score6").desc(), F.col("doc_id").asc())
    return top.withColumn("rank", F.row_number().over(w).cast("long")).select(
        "rank", "doc_id", "score6", "n_exp_hit"
    )


def mmr_topk(
    docs: DataFrame,
    emb: DataFrame,
    query_terms: list[str],
    k: int = 5,
    pool: int = 20,
    lam: float = 0.7,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Maximal-marginal-relevance diversified top-k (Carbonell/
    Goldstein): greedily select k of the BM25 top-``pool`` candidates,
    each step maximizing

        obj(d) = lam * rel(d) - (1-lam) * max_{s in S} sim(d, s)

    where rel is the candidate's BM25 score normalized by the pool
    max (round-6) and sim is round-6 cosine between the candidates'
    embeddings (aligned by id). Ties break on doc_id; a candidate with
    no computable similarity to the selected set (zero-norm embedding)
    contributes max-sim 0.

    Scale shape: scoring the corpus down to the pool is the one big
    job (:func:`bm25_topk`); the pairwise-similarity table is
    pool^2 rows computed distributed and persisted; every objective
    value the greedy can select is precomputed by Spark SQL `round`
    in that same pass, collected (<= pool^2 rows, the documented
    bounded-pool contract), and the greedy runs as driver table
    lookups — O(k * pool^2) dictionary reads, never corpus-sized and
    never k sequential Spark jobs. The DuckDB replay (unrolled to k
    stages) stays ordering-exact because no objective is ever computed
    outside Spark SQL.

    Returns ``(rank, doc_id, obj6)`` in selection order.
    """
    zero = F.lit(0.0).cast("double")
    lamc = F.lit(float(lam)).cast("double")
    lamr = F.lit(1.0 - float(lam)).cast("double")
    cand = bm25_topk(
        docs, query_terms, k=pool, text_col=text_col, id_col=id_col
    ).select("doc_id", "score6")
    relmax = cand.agg(F.max("score6").alias("relmax"))
    c = (
        cand.join(F.broadcast(relmax))
        .select(
            "doc_id",
            F.round(
                F.col("score6") / F.nullif(F.col("relmax"), zero), 6
            ).alias("rel"),
        )
        .where(F.col("rel").isNotNull())
        .persist()
    )
    ve = emb.select(
        F.col("vec_id").alias("doc_id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("e"),
    )
    # ce feeds both sides of the pairwise self-join below — persist it
    # so the embeddings read + candidate join run once, not twice
    ce = c.select("doc_id").join(ve, "doc_id").persist()

    a = ce.select(F.col("doc_id").alias("da"), F.col("e").alias("ea"))
    b = ce.select(F.col("doc_id").alias("db"), F.col("e").alias("eb"))
    sim = (
        a.join(b, F.col("da") != F.col("db"))
        .select(
            "da", "db", _cos6_expr(F.col("ea"), F.col("eb")).alias("cs")
        )
        .where(F.col("cs").isNotNull() & ~F.isnan("cs"))
        .persist()
    )
    try:
        # Optimization round 6: the old loop ran k sequential
        # orderBy-limit(1) Spark jobs (a ~2.5 s driver constant). Every
        # objective the greedy can ever see is one of two Spark-rounded
        # values — round(lam*rel, 6) when the candidate has no computed
        # similarity to the selected set (the max-sim coalesces to 0,
        # and x - lamr*0.0 == x bit-exactly), or
        # round(lam*rel - lamr*cs, 6) for the selected neighbor whose
        # round-6 cs is the max — so ALL of them are precomputed by
        # Spark SQL `round` in one pass and the greedy itself is pure
        # table lookups over <= pool^2 collected rows (the documented
        # bounded-pool contract). No driver float arithmetic, so the
        # DuckDB unrolled replay stays ordering-exact.
        base = c.select(
            "doc_id", F.round(lamc * F.col("rel"), 6).alias("obj0")
        ).collect()
        pair_rows = (
            sim.join(c, sim["da"] == c["doc_id"])
            .select(
                "da", "db", "cs",
                F.round(
                    lamc * F.col("rel") - lamr * F.col("cs"), 6
                ).alias("obj_pair"),
            )
            .collect()
        )
        obj0 = {r["doc_id"]: r["obj0"] for r in base}
        by_pair = {(r["da"], r["db"]): (r["cs"], r["obj_pair"])
                   for r in pair_rows}
        cand_ids = sorted(obj0)
        picked: list[tuple[int, int, float]] = []
        sel: list = []
        for step in range(1, k + 1):
            best = None
            for d in cand_ids:
                if d in sel:
                    continue
                ms = None
                obj = obj0[d]
                for s in sel:
                    v = by_pair.get((d, s))
                    if v is not None and (ms is None or v[0] > ms):
                        ms, obj = v[0], v[1]
                key = (-obj, d)
                if best is None or key < best[0]:
                    best = (key, d, obj)
            if best is None:
                break
            picked.append((step, best[1], float(best[2])))
            sel.append(best[1])
        from pyhctsa_spark.operators._local_df import one_slice_df

        spark = docs.sparkSession
        return one_slice_df(
            spark, picked, "rank long, doc_id long, obj6 double"
        )
    finally:
        c.unpersist()
        ce.unpersist()
        sim.unpersist()


def tower_rank_correlation(
    docs: DataFrame,
    emb: DataFrame,
    query_terms: list[str],
    query_vec_id: int = 0,
    pool: int = 50,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Rank agreement between the lexical and dense towers: Spearman's
    rho and Kendall's tau over the documents BOTH towers rank in their
    top-``pool`` — the diagnostic a curation team reads before trusting
    a fused ranking ("do my towers even agree?").

    Both towers' pool ranks are re-ranked densely within the shared
    subset (row_number, so no tie handling is needed), then

        rho = 1 - 6 * sum(d_i^2) / (n * (n^2 - 1))
        tau = (concordant - discordant) / (n * (n - 1) / 2)

    with NULL when n < 2. All arithmetic on the shared subset is
    integer until the final round-6 division, so the DuckDB replay is
    bit-exact. Scale shape: each tower is one corpus scan ending in a
    pool-sized top-k; the correlation math runs on <= pool rows (the
    Kendall pair join is <= pool^2/2 rows).

    Returns one row ``(n_shared, spearman6, kendall6)``.
    """
    bm = bm25_topk(
        docs, query_terms, k=pool, text_col=text_col, id_col=id_col
    ).select("doc_id", F.col("rank").alias("r_bm25"))
    cs = cosine_topk_ranks(emb, query_vec_id, pool=pool).select(
        F.col("vec_id").alias("doc_id"), "r_cos"
    )
    # the shared subset is <= pool rows by construction — collect it and
    # run the INTEGER rank/pair sums on the driver (optimization r6,
    # guide §1.2: the former persist + two global windows + pool^2 join
    # + localCheckpoint cost five scheduled jobs for 50 rows). The
    # final double divisions and round(,6) stay in Spark with the
    # identical expressions, so the oracle replay is still bit-exact.
    rows = bm.join(cs, "doc_id").collect()
    n_shared = len(rows)
    by_bm = sorted(rows, key=lambda r: r["r_bm25"])
    rb_of = {
        r["doc_id"]: i + 1
        for i, r in enumerate(sorted(rows, key=lambda r: r["r_cos"]))
    }
    ranks = [(i + 1, rb_of[r["doc_id"]]) for i, r in enumerate(by_bm)]
    sd2 = (
        sum((ra - rb) * (ra - rb) for ra, rb in ranks)
        if n_shared else None
    )
    cd = (
        sum(
            1 if rb1 < rb2 else -1
            for i, (_, rb1) in enumerate(ranks)
            for _, rb2 in ranks[i + 1:]
        )
        if n_shared > 1 else None
    )
    from pyspark.sql import types as T

    from ._local_df import one_slice_df

    stats = one_slice_df(
        docs.sparkSession,
        [(n_shared, sd2, cd)],
        T.StructType([
            T.StructField("n_shared", T.LongType(), False),
            T.StructField("sd2", T.LongType(), True),
            T.StructField("cd", T.LongType(), True),
        ]),
    )
    dbl = lambda c: c.cast("double")
    n = F.col("n_shared")
    rho = F.round(
        F.lit(1.0).cast("double")
        - F.lit(6.0).cast("double") * dbl(F.col("sd2"))
        / F.nullif(dbl(n * (n * n - 1)), F.lit(0.0).cast("double")),
        6,
    )
    tau = F.round(
        dbl(F.coalesce(F.col("cd"), F.lit(0)))
        / F.nullif(
            dbl(n * (n - 1)) / F.lit(2.0).cast("double"),
            F.lit(0.0).cast("double"),
        ),
        6,
    )
    return stats.select(
        "n_shared", rho.alias("spearman6"), tau.alias("kendall6")
    )
