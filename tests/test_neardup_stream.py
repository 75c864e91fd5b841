"""Streaming near-dup dedup (streaming/neardup_stream.py): survivor
semantics across micro-batches (intra-batch collapse, index screening,
survivor indexing), foreachBatch replay idempotence (after a commit and
after a crash at it), and the bootstrap-required guard. The heavy probe machinery itself is oracled
via minhash_index_delta_pairs; these tests pin the STREAM contract.
"""

import os

import pytest

from pyhctsa_spark.operators import tablefs
from pyhctsa_spark.operators.dedup_index import build_minhash_index
from pyhctsa_spark.streaming.neardup_stream import (
    process_neardup_batch,
    stream_neardup_dedup,
)

WORDS = ["alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta"]
# seed CHOICE matters: the modular construction aligns some seed pairs
# into genuine shingle overlap (e.g. J(text(100), text(1)) = 0.6);
# seeds {0..4, 10, 12} are pairwise zero-Jaccard (verified offline)


def _text(seed, n=14, change=None):
    w = [WORDS[(seed + j) % len(WORDS)] + str((seed * 7 + j) % 23)
         for j in range(n)]
    if change is not None:
        w[4] = "CHANGED" + str(change)
    return " ".join(w)


def _df(spark, rows):
    return spark.createDataFrame(
        [(i, t, f"src{i % 2}") for i, t in rows],
        "doc_id long, text string, source string",
    )


def _empty(spark):
    return spark.createDataFrame(
        [], "doc_id long, text string, source string"
    )


@pytest.fixture()
def stores(tmp_path):
    return str(tmp_path / "idx"), str(tmp_path / "sink")


def _batches(spark):
    # batch 0: 0..4 distinct, 10 = exact copy of 0, 11 = near-dup of 1
    b0 = _df(spark, [(i, _text(i)) for i in range(5)]
             + [(10, _text(0)), (11, _text(1, change=11))])
    # batch 1: 20 = copy of 0 (dup vs index), 21 fresh, 22 = near-dup
    # of 21 (intra-batch)
    b1 = _df(spark, [(20, _text(0)), (21, _text(10)),
                     (22, _text(10, change=22))])
    # batch 2: 30 = copy of 21 (dup vs a batch-1 SURVIVOR), 31 fresh
    b2 = _df(spark, [(30, _text(10)), (31, _text(12))])
    return [b0, b1, b2]


def _sink_ids(spark, sink):
    return {
        r["doc_id"] for r in spark.read.parquet(sink).collect()
    }


def test_sequential_batches_survivor_semantics(spark, stores):
    idx, sink = stores
    build_minhash_index(_empty(spark), idx, threshold=0.3)
    for i, b in enumerate(_batches(spark)):
        process_neardup_batch(b, i, index_path=idx, sink_dir=sink)
    # 10/11 collapse intra-batch-0; 20 dups the indexed 0; 22 collapses
    # onto 21; 30 dups the indexed batch-1 survivor 21
    assert _sink_ids(spark, sink) == {0, 1, 2, 3, 4, 21, 31}
    # survivors carry their batch partition
    got = {
        (r["doc_id"], r["batch"])
        for r in spark.read.parquet(sink).select("doc_id", "batch").collect()
    }
    assert (21, 1) in got and (31, 2) in got


def test_replay_is_idempotent(spark, stores, tmp_path, monkeypatch):
    idx, sink = stores
    build_minhash_index(_empty(spark), idx, threshold=0.3)
    b0, b1, _ = _batches(spark)
    process_neardup_batch(b0, 0, index_path=idx, sink_dir=sink)
    # committed replay: the committed batch id short-circuits, sink
    # unchanged
    before = _sink_ids(spark, sink)
    process_neardup_batch(b0, 0, index_path=idx, sink_dir=sink)
    assert _sink_ids(spark, sink) == before
    # crash-before-commit replay: batch 0 crashes at its index commit
    # on a fresh index and is redelivered — same survivor set, no sink
    # duplication (batch=0 dir overwritten), and later batches still
    # decide identically
    idx, sink = str(tmp_path / "idx2"), str(tmp_path / "sink2")
    build_minhash_index(_empty(spark), idx, threshold=0.3)

    def crash(path, text):
        raise RuntimeError("injected crash at the commit")

    monkeypatch.setattr(tablefs, "publish", crash)
    with pytest.raises(RuntimeError, match="injected crash"):
        process_neardup_batch(b0, 0, index_path=idx, sink_dir=sink)
    monkeypatch.undo()
    process_neardup_batch(b0, 0, index_path=idx, sink_dir=sink)
    rows = spark.read.parquet(sink).where("batch = 0").collect()
    assert {r["doc_id"] for r in rows} == before
    assert len(rows) == len(before)  # no duplicate rows
    process_neardup_batch(b1, 1, index_path=idx, sink_dir=sink)
    assert _sink_ids(spark, sink) == before | {21}


def test_prebuilt_index_requires_bootstrap(spark, stores):
    idx, sink = stores
    base = _df(spark, [(i, _text(i)) for i in range(5)])
    build_minhash_index(base, idx, threshold=0.3)
    with pytest.raises(ValueError, match="bootstrap"):
        process_neardup_batch(
            _df(spark, [(50, _text(0))]), 0, index_path=idx, sink_dir=sink
        )


def test_bootstrap_prebuilt_index_screens_against_it(spark, stores):
    idx, sink = stores
    base = _df(spark, [(i, _text(i)) for i in range(5)])
    build_minhash_index(base, idx, threshold=0.3)
    batch = _df(spark, [(50, _text(0)), (51, _text(12))])
    process_neardup_batch(
        batch, 0, index_path=idx, sink_dir=sink, bootstrap=base
    )
    assert _sink_ids(spark, sink) == {51}


def test_streaming_query_end_to_end(spark, stores, tmp_path):
    idx, sink = stores
    build_minhash_index(_empty(spark), idx, threshold=0.3)
    src = tmp_path / "src"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    import glob
    import shutil
    import time as _time

    now = _time.time()
    for i, b in enumerate(_batches(spark)):
        staging = str(tmp_path / f"stage{i}")
        b.coalesce(1).write.mode("overwrite").parquet(staging)
        part = glob.glob(f"{staging}/part-*.parquet")[0]
        dst = str(src / f"b{i}.parquet")
        shutil.move(part, dst)
        os.utime(dst, (now + i, now + i))  # enforce arrival order
    q = stream_neardup_dedup(
        spark, str(src), sink, ckpt, idx,
        available_now=True, max_files_per_trigger=1,
    )
    q.awaitTermination(300)
    # whatever micro-batch grouping the source chose, the survivor
    # invariant holds: exactly ONE representative per near-dup family
    families = [
        {0, 10, 20}, {1, 11}, {2}, {3}, {4}, {21, 22, 30}, {31},
    ]
    got = _sink_ids(spark, sink)
    for fam in families:
        assert len(got & fam) == 1, (fam, got)
    assert len(got) == len(families)


def test_batches_do_not_accumulate_cache(spark, stores):
    """A long-running stream must not leak persisted frames batch after
    batch: the per-batch probe caches are unpersisted once the batch
    commits, so the session's persistent-RDD census is flat."""
    idx, sink = stores
    build_minhash_index(_empty(spark), idx, threshold=0.3)
    b0, b1, b2 = _batches(spark)
    process_neardup_batch(b0, 0, index_path=idx, sink_dir=sink)
    before = len(spark.sparkContext._jsc.getPersistentRDDs())
    process_neardup_batch(b1, 1, index_path=idx, sink_dir=sink)
    process_neardup_batch(b2, 2, index_path=idx, sink_dir=sink)
    after = len(spark.sparkContext._jsc.getPersistentRDDs())
    assert after <= before
