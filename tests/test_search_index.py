"""Persistent inverted index (operators/search_index.py): indexed BM25
must equal the ad-hoc scorer (search.bm25_topk) bit-for-bit at the
6-decimal rounding, query scans must be partition-pruned to the query's
term buckets, appends must be delta-proportional and exact, and
compaction must repair replayed appends and erase documents. Crashes
at the commit are in tests/test_snapshot_table.py."""

import os

import pytest
from pyspark.sql import functions as F

QUERY = ["spark", "hash", "dup", "join"]


@pytest.fixture(scope="module")
def corpus(spark):
    df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    df = df.select("doc_id", "text").persist()
    df.count()
    yield df
    df.unpersist()


@pytest.fixture(scope="module")
def built(spark, corpus, tmp_path_factory):
    from pyhctsa_spark.operators.search_index import build_search_index

    path = str(tmp_path_factory.mktemp("sidx") / "idx")
    meta = build_search_index(corpus, path, n_buckets=16)
    return path, meta


def _rows(df):
    return [tuple(r) for r in df.collect()]


def test_indexed_equals_adhoc(spark, corpus, built):
    from pyhctsa_spark.operators.search import bm25_topk
    from pyhctsa_spark.operators.search_index import query_search_index

    path, _ = built
    got = _rows(query_search_index(spark, path, QUERY, k=10))
    want = _rows(bm25_topk(corpus, QUERY, k=10))
    assert got == want and len(got) == 10


def test_query_scan_is_partition_pruned(spark, built):
    from pyhctsa_spark.operators.search_index import (
        _term_buckets,
        query_search_index,
        read_index_meta,
    )

    path, meta = built
    out = query_search_index(spark, path, QUERY, k=10)
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    seg = plan.split("PartitionFilters:")[1][:300]
    assert "term_bucket" in seg
    # the pruned bucket set is the query terms' own buckets (< all 16)
    buckets = _term_buckets(spark, sorted(set(QUERY)), meta["n_buckets"])
    assert 1 <= len(buckets) <= len(set(QUERY)) < read_index_meta(path)["n_buckets"]
    # term IN (...) is pushed into the scan under the pruned partitions
    assert "PushedFilters:" in plan and "In(term" in plan


def test_append_delta_equals_full_rebuild(spark, corpus, tmp_path):
    from pyhctsa_spark.operators.search import bm25_topk
    from pyhctsa_spark.operators.search_index import (
        append_to_search_index,
        build_search_index,
        query_search_index,
    )

    old = corpus.where(F.col("doc_id") % 5 != 0)
    delta = corpus.where(F.col("doc_id") % 5 == 0)
    path = str(tmp_path / "idx")
    build_search_index(old, path, n_buckets=16)
    append_to_search_index(delta, path)

    out = query_search_index(spark, path, QUERY, k=10)
    got = _rows(out)
    want = _rows(bm25_topk(corpus, QUERY, k=10))
    assert got == want
    # the scan over both live generations still prunes to the query's
    # term buckets
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "term_bucket" in plan.split("PartitionFilters:")[1][:300]

    # postings/ accumulated the delta as a second live generation
    # without rewriting the old files: appended buckets hold >1 file
    from pyhctsa_spark.operators.tablefs import SnapshotTable

    post_dir = os.path.join(path, "postings")
    live = SnapshotTable(path).manifest()["tables"]["postings"]
    assert len(live) == 2
    files = [
        (b, f)
        for g in live
        for b in os.listdir(os.path.join(post_dir, g))
        if b.startswith("term_bucket=")
        for f in os.listdir(os.path.join(post_dir, g, b))
        if f.endswith(".parquet")
    ]
    assert len(files) > len({b for b, _ in files})


def test_compact_repairs_replayed_append(spark, corpus, tmp_path):
    from pyhctsa_spark.operators.search import bm25_topk
    from pyhctsa_spark.operators.search_index import (
        append_to_search_index,
        build_search_index,
        compact_search_index,
        query_search_index,
    )

    old = corpus.where(F.col("doc_id") % 5 != 0)
    delta = corpus.where(F.col("doc_id") % 5 == 0)
    path = str(tmp_path / "idx")
    build_search_index(old, path, n_buckets=8)
    append_to_search_index(delta, path)
    # crash-replayed append: same batch lands twice
    append_to_search_index(delta, path)

    stats = compact_search_index(spark, path)
    before, after = stats["postings"]
    assert before > after  # duplicates existed and were collapsed

    got = _rows(query_search_index(spark, path, QUERY, k=10))
    want = _rows(bm25_topk(corpus, QUERY, k=10))
    assert got == want


def test_compact_erases_documents(spark, corpus, tmp_path):
    from pyhctsa_spark.operators.search import bm25_topk
    from pyhctsa_spark.operators.search_index import (
        build_search_index,
        compact_search_index,
        query_search_index,
    )

    path = str(tmp_path / "idx")
    build_search_index(corpus, path, n_buckets=8)
    # erase the ad-hoc top-3 for the query — the indexed result must
    # re-rank exactly like an ad-hoc run over the surviving corpus
    top3 = [r["doc_id"] for r in bm25_topk(corpus, QUERY, k=3).collect()]
    drops = spark.createDataFrame([(d,) for d in top3], "doc_id long")
    compact_search_index(spark, path, drop_ids=drops)

    survivors = corpus.join(F.broadcast(drops), "doc_id", "left_anti")
    got = _rows(query_search_index(spark, path, QUERY, k=10))
    want = _rows(bm25_topk(survivors, QUERY, k=10))
    assert got == want
    assert not set(top3) & {r[1] for r in got}


def test_empty_query_raises(spark, built):
    from pyhctsa_spark.operators.search_index import query_search_index

    path, _ = built
    with pytest.raises(ValueError):
        query_search_index(spark, path, [])
