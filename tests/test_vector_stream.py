"""Streaming IVF-index maintenance (streaming/vector_stream.py):
stream == batch (full-probe answers after N micro-batches equal brute
force over everything ingested), replay idempotence via the batch id
committed with the heap rows, and a crash inside the heap append
followed by a redelivery — the contract that keeps top-k exact when
foreachBatch redelivers a batch whose append did not commit."""

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from pyhctsa_spark.operators import tablefs
from pyhctsa_spark.operators.similarity import (
    ivf_write_index,
    knn_bruteforce,
    knn_ivf_index,
    read_ivf_meta,
)
from pyhctsa_spark.operators.tablefs import SnapshotTable
from pyhctsa_spark.streaming.vector_stream import (
    process_vector_batch,
    stream_vector_indexing,
)

DIM = 8


def _vecs(spark, lo, hi):
    rng = np.random.default_rng(11)
    all_v = rng.normal(size=(200, DIM))
    return spark.createDataFrame(
        [(i, [float(x) for x in all_v[i]]) for i in range(lo, hi)],
        "vec_id long, embedding array<double>",
    )


def _topk_rows(df):
    return [
        (r["qid"], r["nid"])
        for r in df.orderBy("qid", "rank").collect()
    ]


@pytest.fixture()
def stores(tmp_path, spark):
    """Index bootstrapped over vectors 0..40 (the IVF quantizer needs a
    training corpus — the faiss train-then-add shape)."""
    idx = str(tmp_path / "vidx")
    ivf_write_index(_vecs(spark, 0, 40), idx, num_centroids=8)
    return idx, str(tmp_path / "sink")


def _probe_equals_bruteforce(spark, idx, corpus, k=3):
    q = corpus.where(F.col("vec_id") < 5)
    nlist = read_ivf_meta(idx)["nlist"]
    got = _topk_rows(knn_ivf_index(spark, idx, q, k=k, nprobe=nlist))
    want = _topk_rows(knn_bruteforce(corpus, q, k=k))
    return got == want


def test_stream_equals_batch(spark, stores):
    idx, sink = stores
    batches = [_vecs(spark, 40, 60), _vecs(spark, 60, 75),
               _vecs(spark, 75, 90)]
    for i, b in enumerate(batches):
        process_vector_batch(b, i, index_path=idx, sink_dir=sink)
    assert _probe_equals_bruteforce(spark, idx, _vecs(spark, 0, 90))
    sunk = spark.read.parquet(sink)
    assert sunk.count() == 50
    assert {r["batch"] for r in sunk.select("batch").distinct().collect()} \
        == {0, 1, 2}


def test_replay_after_commit_is_noop(spark, stores):
    idx, sink = stores
    b0 = _vecs(spark, 40, 60)
    process_vector_batch(b0, 0, index_path=idx, sink_dir=sink)
    n_heap = SnapshotTable(idx).read(spark, "lists_delta").count()
    # foreachBatch redelivery after a successful commit
    process_vector_batch(b0, 0, index_path=idx, sink_dir=sink)
    assert SnapshotTable(idx).read(spark, "lists_delta").count() == n_heap
    assert _probe_equals_bruteforce(spark, idx, _vecs(spark, 0, 60))


def test_crash_window_replay_self_heals(spark, stores, monkeypatch):
    idx, sink = stores
    process_vector_batch(
        _vecs(spark, 40, 60), 0, index_path=idx, sink_dir=sink
    )
    # batch 1 crashes INSIDE its index append: its heap rows are
    # written, the manifest publish fails
    b1 = _vecs(spark, 60, 75)

    def crash(path, text):
        raise RuntimeError("injected crash at the commit")

    monkeypatch.setattr(tablefs, "publish", crash)
    with pytest.raises(RuntimeError, match="injected crash"):
        process_vector_batch(b1, 1, index_path=idx, sink_dir=sink)
    monkeypatch.undo()
    # redelivery: batch 1's vectors sit in the index once, so no
    # duplicate occupies a top-k slot
    process_vector_batch(b1, 1, index_path=idx, sink_dir=sink)
    assert _probe_equals_bruteforce(spark, idx, _vecs(spark, 0, 75))
    table = SnapshotTable(idx)
    dup = (
        table.read(spark, "lists").select("nid")
        .unionByName(table.read(spark, "lists_delta").select("nid"))
        .groupBy("nid").count().where(F.col("count") > 1).count()
    )
    assert dup == 0


def test_streaming_query_end_to_end(spark, stores, tmp_path):
    idx, sink = stores
    src = tmp_path / "src"
    src.mkdir()
    import glob
    import shutil
    import time as _time

    now = _time.time()
    batches = [_vecs(spark, 40, 60), _vecs(spark, 60, 75),
               _vecs(spark, 75, 90)]
    for i, b in enumerate(batches):
        staging = str(tmp_path / f"stage{i}")
        b.coalesce(1).write.mode("overwrite").parquet(staging)
        part = glob.glob(f"{staging}/part-*.parquet")[0]
        dst = str(src / f"b{i}.parquet")
        shutil.move(part, dst)
        os.utime(dst, (now + i, now + i))
    q = stream_vector_indexing(
        spark, str(src), sink, str(tmp_path / "ckpt"), idx,
        available_now=True, max_files_per_trigger=1,
    )
    q.awaitTermination(300)
    assert _probe_equals_bruteforce(spark, idx, _vecs(spark, 0, 90))
