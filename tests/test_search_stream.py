"""Streaming search-index maintenance (streaming/search_stream.py):
stream == batch (indexed scores after N micro-batches equal an ad-hoc
BM25 over everything ingested), replay idempotence via the batch id
committed with the index rows, and a crash inside the index append
followed by a redelivery — the contract that keeps df_t/stats exact
when foreachBatch redelivers a batch whose append did not commit."""

import os

import pytest
from pyspark.sql import functions as F

from pyhctsa_spark.operators import tablefs
from pyhctsa_spark.operators.search import bm25_topk
from pyhctsa_spark.operators.search_index import (
    build_search_index,
    query_search_index,
)
from pyhctsa_spark.operators.tablefs import SnapshotTable
from pyhctsa_spark.streaming.search_stream import (
    process_index_batch,
    stream_search_indexing,
)

WORDS = ["alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta"]
QUERY = ["alpha", "gamma", "zeta"]


def _df(spark, lo, hi):
    return spark.createDataFrame(
        [
            (
                i,
                " ".join(
                    WORDS[(i + j) % len(WORDS)] for j in range(6 + i % 5)
                ),
                f"src{i % 2}",
            )
            for i in range(lo, hi)
        ],
        "doc_id long, text string, source string",
    )


def _empty(spark):
    return spark.createDataFrame(
        [], "doc_id long, text string, source string"
    )


def _rows(df):
    return [tuple(r) for r in df.collect()]


@pytest.fixture()
def stores(tmp_path):
    return str(tmp_path / "idx"), str(tmp_path / "sink")


def test_stream_equals_batch(spark, stores):
    idx, sink = stores
    build_search_index(_empty(spark), idx, n_buckets=8)
    batches = [_df(spark, 0, 6), _df(spark, 6, 10), _df(spark, 10, 15)]
    for i, b in enumerate(batches):
        process_index_batch(b, i, index_path=idx, sink_dir=sink)
    everything = _df(spark, 0, 15)
    got = _rows(query_search_index(spark, idx, QUERY, k=12))
    want = _rows(bm25_topk(everything, QUERY, k=12))
    assert got == want
    # the sink carries every ingested doc under its batch partition
    sunk = spark.read.parquet(sink)
    assert sunk.count() == 15
    assert {r["batch"] for r in sunk.select("batch").distinct().collect()} \
        == {0, 1, 2}


def test_replay_after_commit_is_noop(spark, stores):
    idx, sink = stores
    build_search_index(_empty(spark), idx, n_buckets=8)
    b0 = _df(spark, 0, 8)
    process_index_batch(b0, 0, index_path=idx, sink_dir=sink)
    before = _rows(query_search_index(spark, idx, QUERY, k=8))
    n_post = SnapshotTable(idx).read(spark, "postings").count()
    # foreachBatch redelivery after a successful commit
    process_index_batch(b0, 0, index_path=idx, sink_dir=sink)
    assert SnapshotTable(idx).read(spark, "postings").count() == n_post
    assert _rows(query_search_index(spark, idx, QUERY, k=8)) == before


def test_crash_window_replay_self_heals(spark, stores, monkeypatch):
    idx, sink = stores
    build_search_index(_empty(spark), idx, n_buckets=8)
    process_index_batch(
        _df(spark, 0, 6), 0, index_path=idx, sink_dir=sink
    )
    # batch 1 crashes INSIDE its index append: its postings, df partials
    # and merged stats are written, the manifest publish fails
    b1 = _df(spark, 6, 10)

    def crash(path, text):
        raise RuntimeError("injected crash at the commit")

    monkeypatch.setattr(tablefs, "publish", crash)
    with pytest.raises(RuntimeError, match="injected crash"):
        process_index_batch(b1, 1, index_path=idx, sink_dir=sink)
    monkeypatch.undo()
    # redelivery: batch 1's postings, df_t and stats count once
    process_index_batch(b1, 1, index_path=idx, sink_dir=sink)
    got = _rows(query_search_index(spark, idx, QUERY, k=10))
    want = _rows(bm25_topk(_df(spark, 0, 10), QUERY, k=10))
    assert got == want
    # exactly one posting row per (term, doc)
    dup = (
        SnapshotTable(idx).read(spark, "postings")
        .groupBy("term", "doc_id").count().where(F.col("count") > 1).count()
    )
    assert dup == 0


def test_streaming_query_end_to_end(spark, stores, tmp_path):
    idx, sink = stores
    build_search_index(_empty(spark), idx, n_buckets=8)
    src = tmp_path / "src"
    src.mkdir()
    import glob
    import shutil
    import time as _time

    now = _time.time()
    batches = [_df(spark, 0, 6), _df(spark, 6, 10), _df(spark, 10, 15)]
    for i, b in enumerate(batches):
        staging = str(tmp_path / f"stage{i}")
        b.coalesce(1).write.mode("overwrite").parquet(staging)
        part = glob.glob(f"{staging}/part-*.parquet")[0]
        dst = str(src / f"b{i}.parquet")
        shutil.move(part, dst)
        os.utime(dst, (now + i, now + i))
    q = stream_search_indexing(
        spark, str(src), sink, str(tmp_path / "ckpt"), idx,
        available_now=True, max_files_per_trigger=1,
    )
    q.awaitTermination(300)
    got = _rows(query_search_index(spark, idx, QUERY, k=12))
    want = _rows(bm25_topk(_df(spark, 0, 15), QUERY, k=12))
    assert got == want
