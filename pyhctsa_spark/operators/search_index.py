"""Persistent inverted index for BM25 retrieval — the 100 TB search
shape: one corpus-sized indexing pass, then every query is a
PARTITION-PRUNED probe that reads only the term buckets it mentions.

``operators/search.py`` scores straight off the documents table — right
for one-off audits, wrong as the steady state: a corpus re-scan per
query cannot survive 100 TB. This module materializes the postings once
and makes query cost proportional to the query's own term buckets,
independent of corpus size.

Layout under ``path`` (a ``tablefs.SnapshotTable``: every write adds
``gen=G`` directories and commits them in one manifest publish):

    postings/gen=G/term_bucket=B/  (term, doc_id, tf, dl) hash-partitioned
    df/gen=G/term_bucket=B/        (term, df_t) PARTIAL rows, same
                                   partitioning — each build/append batch
                                   adds its own partial counts; readers
                                   SUM them (so appends never rewrite the
                                   vocabulary-sized table), compaction
                                   merges
    stats/gen=G/                   1 row (n_docs, n_dl, sum_dl)  BM25
                                   constants
    _MANIFEST.json                 live generations, props {n_buckets,
                                   tokenizer, id_type}, last stream batch

Scale contract:

- ``build_search_index`` is the one corpus pass: explode → partial-agg
  postings (the shuffle carries one row per DISTINCT (term, doc), never
  raw token volume), written ``partitionBy(term_bucket)`` and sorted by
  term within each partition so query-time ``term IN (...)`` predicates
  prune parquet row groups under the pruned partitions.
- ``query_search_index`` reads ONLY the ≤|q| buckets the query's terms
  hash to (partition pruning, asserted in tests/test_search_index.py),
  derives df_t from the pruned ``df/`` table (broadcast — ≤|q| rows)
  and the corpus constants from the 1-row ``stats/``; top-k is
  TakeOrderedAndProject. No shuffle in the plan touches the corpus.
- ``append_to_search_index`` is delta-proportional in EVERY table: the
  batch's postings and its df PARTIALS append into the same partition
  layout (a per-append rewrite of the full vocabulary table would be
  the scale killer — web-corpus vocabularies run to billions of hapax
  tokens); ``stats/`` merges exactly (sums, not averages, are stored
  so the merge is associative), all three in one commit.
- ``compact_search_index(drop_ids=...)`` is the right-to-be-forgotten
  path (the searchability sibling of operators/deletion.py): rewrites
  postings without the dropped docs and RECOMPUTES df/stats from the
  surviving postings, the three tables committed in one publish.

Scores are identical (to the 6-decimal in-query rounding) to
``search.bm25_topk`` run against the same corpus — the equality is a
pytest gate, so the ad-hoc and indexed paths can never drift.

No reference counterpart: pyhctsa has no search surface (SURVEY §2.0);
this is training-data-pipeline infrastructure.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from pyhctsa_spark.operators import tablefs
from pyhctsa_spark.operators._local_df import one_slice_df
from pyhctsa_spark.operators.search import BM25_B, BM25_K1, _doc_words


def _bucket_expr(term_col, n_buckets: int):
    """Non-negative stable bucket for a term: pmod(xxhash64(term), n).

    xxhash64 is a Spark built-in (same seed everywhere), so the probe
    side can compute the SAME bucket ids for its literal query terms
    driver-side via a 1-row select — no Python reimplementation that
    could drift from the JVM's hash.
    """
    return F.pmod(F.xxhash64(term_col), F.lit(n_buckets)).cast("int")


def _term_buckets(spark: SparkSession, terms: list[str], n_buckets: int) -> list[int]:
    """Bucket ids for literal query terms, computed BY Spark (one local
    1-row job) so they are bit-identical to the index's own bucketing."""
    row = spark.range(1).select(
        *[
            _bucket_expr(F.lit(t), n_buckets).alias(f"b{i}")
            for i, t in enumerate(terms)
        ]
    ).head()
    return sorted({int(v) for v in row})


def _postings(df: DataFrame, text_col: str, id_col: str, n_buckets: int) -> DataFrame:
    """(term_bucket, term, doc_id, tf, dl) for a document batch. The
    groupBy's partial (map-side) aggregation collapses token occurrences
    to distinct (term, doc) before the exchange."""
    return (
        _doc_words(df, text_col, id_col)
        .select("doc_id", "dl", F.explode("_w").alias("term"))
        .groupBy("term", "doc_id", "dl")
        .agg(F.count("*").alias("tf"))
        .select(
            _bucket_expr(F.col("term"), n_buckets).alias("term_bucket"),
            "term",
            "doc_id",
            "tf",
            "dl",
        )
    )


def _df_from_postings(postings: DataFrame) -> DataFrame:
    return postings.groupBy("term_bucket", "term").agg(
        F.count("*").alias("df_t")
    )


def _stats_from_base(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Corpus constants, stored as exact integer SUMS so append merges
    are associative: n_docs = every doc (idf's N, NULL text included),
    n_dl / sum_dl = docs with a tokenizable text (avg(dl) semantics:
    avgdl = sum_dl / n_dl). Matches search.bm25_topk's
    ``agg(count(*), avg(dl))`` exactly."""
    return _doc_words(df, text_col, id_col).agg(
        F.count("*").alias("n_docs"),
        F.count("dl").alias("n_dl"),
        F.coalesce(F.sum("dl"), F.lit(0)).cast("long").alias("sum_dl"),
    )


def _stats_from_postings(postings: DataFrame) -> DataFrame:
    """Corpus constants recomputed from the postings (compaction path):
    one row per doc is (doc_id, dl) after dedup. A NULL-text doc has no
    postings, so it leaves n_docs on recompute — documented compaction
    caveat (tokenizable docs, the only kind that can score, are exact)."""
    return (
        postings.select("doc_id", "dl")
        .dropDuplicates(["doc_id"])
        .agg(
            F.count("*").alias("n_docs"),
            F.count("*").alias("n_dl"),
            F.coalesce(F.sum("dl"), F.lit(0)).cast("long").alias("sum_dl"),
        )
    )


def build_search_index(
    df: DataFrame,
    path: str,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 64,
) -> dict:
    """Index ``df`` under ``path``; returns the meta dict.

    One corpus pass builds the postings; df/ and stats/ are projections
    of it (the postings table is persisted across the three writes so
    the explode runs once). Within each term_bucket partition the files
    are sorted by term, so a query's ``term IN (...)`` predicate prunes
    parquet row groups below the partition pruning.

    Stats are computed from the BASE table, not the postings, so NULL-
    text docs (no postings) still count toward idf's N exactly as the
    ad-hoc ``bm25_topk`` counts them.
    """
    if n_buckets < 1:
        raise ValueError("n_buckets must be >= 1")
    post = _postings(df, text_col, id_col, n_buckets).persist()
    meta = {
        "n_buckets": int(n_buckets),
        "tokenizer": "whitespace",
        "id_type": df.select(id_col).schema[0].dataType.simpleString(),
    }
    table = tablefs.SnapshotTable(path)
    with table.writer() as man:
        man.update(tables={}, props=meta)
        _write_tables(table, man, post, _df_from_postings(post),
                      _stats_from_base(df, text_col, id_col))
        table.commit(man)
    post.unpersist()
    return meta


def read_index_meta(path: str) -> dict:
    return tablefs.SnapshotTable(path).manifest()["props"]


def _write_tables(table, man: dict, post: DataFrame, df_t: DataFrame,
                  stats: DataFrame, replace: bool = True) -> None:
    """Write postings, df partials and stats as the pending generation.
    ``replace=False`` adds the postings and df partials beside the live
    ones (an append); stats always replace."""
    for name, out, part in (
        ("postings",
         post.repartition("term_bucket").sortWithinPartitions("term"),
         ["term_bucket"]),
        ("df", df_t.repartition("term_bucket"), ["term_bucket"]),
        ("stats", stats.coalesce(1), []),
    ):
        table.write(man, name, out, *part, replace=replace or name == "stats")


def _postings_schema(meta: dict) -> str:
    return (
        f"term string, doc_id {meta['id_type']}, tf bigint, dl int, "
        "term_bucket int"
    )


def _read_or_empty(spark: SparkSession, table, man: dict, name: str,
                   schema: str) -> DataFrame:
    """A sub-table, or an empty frame with the known schema when no
    generation holds a row: a partitionBy write of ZERO rows leaves no
    part file, so an index bootstrapped over an empty corpus — the
    from-nothing streaming start — has no live postings or df."""
    df = table.read(spark, name, man)
    return spark.createDataFrame([], schema) if df is None else df


def query_search_index(
    spark: SparkSession,
    path: str,
    query_terms: list[str],
    k: int = 10,
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> DataFrame:
    """Top-k BM25 over the index: same scoring (and the same
    (score6 DESC, doc_id ASC) tie order) as ``search.bm25_topk``, but
    the scan is pruned to the query's term buckets.

    Plan shape (asserted in tests): the postings scan shows
    ``PartitionFilters: [term_bucket IN (...)]`` — only ≤|q| of the
    index's buckets are read; df_t and stats are broadcast; top-k is
    TakeOrderedAndProject. Nothing in the plan scales with corpus size
    except the pruned bucket scan itself.
    """
    table = tablefs.SnapshotTable(path)
    man = table.manifest()
    meta = man["props"]
    terms = sorted(set(query_terms))
    if not terms:
        raise ValueError("query_search_index needs at least one query term")
    buckets = _term_buckets(spark, terms, meta["n_buckets"])

    post = _read_or_empty(
        spark, table, man, "postings", _postings_schema(meta)
    ).where(F.col("term_bucket").isin(buckets) & F.col("term").isin(terms))
    # df rows are per-batch PARTIALS — sum them (pruned read: ≤|q|
    # buckets, then ≤|q| grouped rows)
    dft = (
        _read_or_empty(
            spark, table, man, "df",
            "term string, df_t bigint, term_bucket int",
        )
        .where(F.col("term_bucket").isin(buckets) & F.col("term").isin(terms))
        .groupBy("term")
        .agg(F.sum("df_t").cast("long").alias("df_t"))
    )
    stats = table.read(spark, "stats", man).select(
        "n_docs",
        (
            F.col("sum_dl").cast("double")
            / F.nullif(F.col("n_dl"), F.lit(0)).cast("double")
        ).alias("avgdl"),
    )

    from pyspark.sql import Window

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
            + k1c
            * (one - bc + bc * F.col("dl") / F.nullif(F.col("avgdl"), F.lit(0.0)))
        )
    )
    scored = (
        post.join(F.broadcast(dft), "term")
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


def append_to_search_index(
    df: DataFrame,
    path: str,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    batch_id: int | None = None,
) -> None:
    """Add a document batch. Delta-proportional in every table: the
    batch's postings and its df PARTIALS are added as a new generation
    (no rewrite of any existing file); only the 1-row ``stats`` is
    rewritten, merged, and all three commit in one publish. A stream
    passes its ``batch_id``: it is committed with the data, and a batch
    already committed is skipped, so a replay never double-counts df_t
    or the corpus stats.

    Caller contract (same as the MinHash index): ids not already
    present. Appending an id again duplicates (term, doc) rows and df
    partials — ``compact_search_index`` repairs both.
    """
    spark = df.sparkSession
    table = tablefs.SnapshotTable(path)
    with table.writer() as man:
        if table.committed(batch_id, man):
            return
        post = _postings(df, text_col, id_col,
                         int(man["props"]["n_buckets"])).persist()
        d_stats = _stats_from_base(df, text_col, id_col).head()
        old_stats = table.read(spark, "stats", man).head()
        merged_stats = one_slice_df(
            spark,
            [tuple(int(old_stats[c]) + int(d_stats[c])
                   for c in ("n_docs", "n_dl", "sum_dl"))],
            "n_docs long, n_dl long, sum_dl long",
        )
        # df: add the DELTA's partial counts only — readers sum
        # partials, so the vocabulary-sized table is never rewritten
        _write_tables(table, man, post, _df_from_postings(post),
                      merged_stats, replace=False)
        if batch_id is not None:
            man["last_batch"] = batch_id
        table.commit(man)
        post.unpersist()


def compact_search_index(
    spark: SparkSession,
    path: str,
    drop_ids: DataFrame | None = None,
    id_col: str = "doc_id",
) -> dict:
    """Rewrite the index as one generation: de-duplicate rows left by
    appends of an id already present and, when ``drop_ids`` is given,
    ERASE those documents from searchability (the governance sibling of
    operators/deletion.py). df/ and stats/ are RECOMPUTED from the
    surviving postings, so a compacted index is self-consistent
    whatever state appends left it in, and the three tables commit in
    one publish: a crash leaves the index answering exactly as before.
    An erasure drops the index's history in that commit, so no file
    still holds an erased id once it returns.

    Returns {"postings": (rows_before, rows_after)}.

    Note: after an erasure, stats (and so every score) reflect the
    surviving corpus — the indexed path keeps matching an ad-hoc
    ``bm25_topk`` over the erased base table, which is the invariant
    that matters.
    """
    table = tablefs.SnapshotTable(path)
    with table.writer() as man:
        post = _read_or_empty(spark, table, man, "postings",
                              _postings_schema(man["props"]))
        before = post.count()
        clean = post.dropDuplicates(["term", "doc_id"])
        if drop_ids is not None:
            drops = F.broadcast(
                drop_ids.select(F.col(id_col).alias("doc_id")).distinct()
            )
            clean = clean.join(drops, "doc_id", "left_anti")
        # persisted: feeds the postings, df and stats writes
        clean = clean.select(
            "term_bucket", "term", "doc_id", "tf", "dl"
        ).persist()
        _write_tables(table, man, clean, _df_from_postings(clean),
                      _stats_from_postings(clean))
        after = tablefs.footer_rows(table.gen_dir("postings", man))
        table.commit(man, keep_history=drop_ids is None)
        clean.unpersist()
    return {"postings": (int(before), after)}
