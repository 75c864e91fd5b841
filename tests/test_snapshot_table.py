"""The snapshot table (operators/tablefs.SnapshotTable) and the five
stores that commit through it: the cagg store and the MinHash, BM25,
IVF and IVFPQ indexes.

One crash matrix covers every store: a crash before the manifest
publish, a crash after it but before the GC, and a replayed stream
batch. Each case asserts that no row is lost, none is counted twice,
and a reader sees the old or the new snapshot. Beside it: a query that
runs while a compaction sits between its write and its commit neither
changes the table nor sees the compaction; a BM25 compaction that
crashes at any of its commit steps leaves the index answering as
before; an erasure leaves no file that holds an erased id."""

import os
import re
import shutil
from typing import Callable, NamedTuple

import numpy as np
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from pyhctsa_spark.operators import tablefs
from pyhctsa_spark.operators.cagg import CaggSnapshotStore, cagg_finalize
from pyhctsa_spark.operators.dedup_index import (
    append_to_minhash_index,
    build_minhash_index,
    compact_minhash_index,
    query_minhash_index,
)
from pyhctsa_spark.operators.pq import (
    append_to_ivfpq_index,
    compact_ivfpq_index,
    ivfpq_write_index,
    knn_ivfpq_index,
)
from pyhctsa_spark.operators.search import bm25_topk
from pyhctsa_spark.operators.search_index import (
    append_to_search_index,
    build_search_index,
    compact_search_index,
    query_search_index,
)
from pyhctsa_spark.operators.similarity import (
    append_to_ivf_index,
    compact_ivf_index,
    ivf_write_index,
    knn_ivf_index,
)
from pyhctsa_spark.operators.tablefs import SnapshotTable
from pyhctsa_spark.streaming.neardup_stream import process_neardup_batch
from pyhctsa_spark.streaming.search_stream import process_index_batch
from pyhctsa_spark.streaming.vector_stream import process_vector_batch

WIN = 30 * 60 * 1_000_000
DIM = 8


def _docs(spark, lo, hi):
    """Documents whose texts share vocabulary (BM25 has something to
    rank) but no 3-shingle (every doc survives the near-dup screen)."""
    return spark.createDataFrame(
        [(i, " ".join(f"w{(i * 7 + j * j) % 11} u{i}x{j}"
                      for j in range(6)), f"s{i % 2}")
         for i in range(lo, hi)],
        "doc_id long, text string, source string",
    )


def _vecs(spark, lo, hi):
    rng = np.random.default_rng(11)
    all_v = rng.normal(size=(200, DIM))
    return spark.createDataFrame(
        [(i, [float(x) for x in all_v[i]]) for i in range(lo, hi)],
        "vec_id long, embedding array<double>",
    )


def _events(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id").alias("event_id"),
        F.timestamp_micros(
            F.lit(1_700_000_000_000_000) + F.col("id") * 613_789_123
        ).alias("ts"),
        (F.col("id") % 5).alias("user_id"),
        (F.sin(F.col("id") / 17.0) * 10).alias("value"),
    )


def _rows(df, *cols):
    """Sorted row tuples (a multiset: a duplicated row shows twice)."""
    if df is None:
        return []
    return sorted(tuple(r) for r in df.select(*cols).collect())


def _cagg(path):
    return CaggSnapshotStore(path, window_micros=WIN, chunk_windows=8)


def _cagg_answer(spark, path):
    fin = cagg_finalize(_cagg(path).read(spark).drop("chunk"))
    return _rows(fin.select("user_id", "widx", "n_events",
                            F.round("mean", 9), "open", "close"),
                 "*")


def _index_answer(*subtables):
    """Every row of the id-bearing sub-tables, read through the table."""
    def answer(spark, path):
        t = SnapshotTable(path)
        return {name: _rows(t.read(spark, name), *cols)
                for name, cols in subtables}
    return answer


def _bm25_answer(spark, path):
    t = SnapshotTable(path)
    df = t.read(spark, "df")
    return {
        "postings": _rows(t.read(spark, "postings"), "term", "doc_id", "tf"),
        "df": [] if df is None else _rows(
            df.groupBy("term").agg(F.sum("df_t")), "*"),
        "stats": _rows(t.read(spark, "stats"), "*"),
    }


_LISTS = _index_answer(("lists", ["nid", "cid"]),
                       ("lists_delta", ["nid", "cid"]))


def _build_ivfpq(spark, path):
    ivfpq_write_index(_vecs(spark, 0, 40), path, m=4, ksub=8,
                      num_centroids=4, pq_train_iters=0, ivf_train_iters=2)


def _refresh_cagg(spark, path):
    _cagg(path).refresh(spark, _events(spark, 500, 900), batch_id=0)


class _Store(NamedTuple):
    build: Callable
    # the write under test: run twice, it must equal running it once
    write: Callable
    answer: Callable
    # the store's stream batch body (batch id 0), if it has a stream
    batch: Callable | None = None


_STORES = {
    "cagg": _Store(
        lambda spark, p: _cagg(p).materialize(_events(spark, 0, 600)),
        _refresh_cagg, _cagg_answer, _refresh_cagg),
    "minhash": _Store(
        lambda spark, p: build_minhash_index(_docs(spark, 0, 8), p,
                                             threshold=0.3),
        lambda spark, p: append_to_minhash_index(_docs(spark, 8, 14), p,
                                                 batch_id=0),
        _index_answer(("sigs", ["doc_id"]),
                      ("bands", ["band_id", "band_hash", "doc_id"])),
        lambda spark, p: process_neardup_batch(
            _docs(spark, 8, 14), 0, index_path=p, sink_dir=p + "_sink",
            bootstrap=_docs(spark, 0, 8))),
    "bm25": _Store(
        lambda spark, p: build_search_index(_docs(spark, 0, 8), p,
                                            n_buckets=4),
        lambda spark, p: append_to_search_index(_docs(spark, 8, 14), p,
                                                batch_id=0),
        _bm25_answer,
        lambda spark, p: process_index_batch(
            _docs(spark, 8, 14), 0, index_path=p, sink_dir=p + "_sink")),
    "ivf": _Store(
        lambda spark, p: ivf_write_index(_vecs(spark, 0, 40), p,
                                         num_centroids=4),
        lambda spark, p: append_to_ivf_index(_vecs(spark, 40, 55), p,
                                             batch_id=0),
        _LISTS,
        lambda spark, p: process_vector_batch(
            _vecs(spark, 40, 55), 0, index_path=p, sink_dir=p + "_sink")),
    "ivfpq": _Store(
        _build_ivfpq,
        lambda spark, p: compact_ivfpq_index(
            spark, p, drop_ids=_vecs(spark, 3, 9).select("vec_id")),
        _LISTS),
}


def _crash_at_publish(monkeypatch, after: bool) -> None:
    """Make the next manifest publish raise: before it writes anything,
    or once the new manifest is in place (before the GC)."""
    real = tablefs.publish

    def publish(path, text):
        if path.endswith(SnapshotTable.MANIFEST):
            if after:
                real(path, text)
            raise RuntimeError("injected crash at the manifest publish")
        real(path, text)

    monkeypatch.setattr(tablefs, "publish", publish)


def _old_and_new(spark, store, path, write):
    """The store's answer after the build, and after one clean ``write``
    run on a copy of the built store."""
    store.build(spark, path)
    old = store.answer(spark, path)
    ref = path + "_ref"
    shutil.copytree(path, ref)
    write(spark, ref)
    new = store.answer(spark, ref)
    assert new != old
    return old, new


@pytest.mark.parametrize("case", ["before_publish", "after_publish"])
@pytest.mark.parametrize("name", sorted(_STORES))
def test_crash_matrix(spark, tmp_path, monkeypatch, name, case):
    """A crash before the publish leaves the old snapshot and the rerun
    applies the write once; a crash after it leaves the new snapshot
    and the rerun adds nothing (a committed batch id, or an idempotent
    erasure). The write is the cagg refresh, the indexes' append with
    a batch id, and the IVFPQ erasure."""
    store = _STORES[name]
    path = str(tmp_path / name)
    old, new = _old_and_new(spark, store, path, store.write)
    _crash_at_publish(monkeypatch, after=case == "after_publish")
    with pytest.raises(RuntimeError, match="injected crash"):
        store.write(spark, path)
    monkeypatch.undo()
    assert store.answer(spark, path) == (old if case == "before_publish"
                                         else new)
    store.write(spark, path)
    assert store.answer(spark, path) == new


@pytest.mark.parametrize("name", ["bm25", "cagg", "ivf", "minhash"])
def test_replayed_stream_batch_counts_once(spark, tmp_path, name):
    """A stream batch redelivered after its commit changes nothing."""
    store = _STORES[name]
    path = str(tmp_path / name)
    _, new = _old_and_new(spark, store, path, store.batch)
    store.batch(spark, path)
    store.batch(spark, path)
    assert store.answer(spark, path) == new


def _files(path):
    return sorted(os.path.relpath(os.path.join(dp, f), path)
                  for dp, _, fs in os.walk(path) for f in fs)


def _query_minhash(spark, path):
    probe = _docs(spark, 0, 3).withColumn("doc_id", F.col("doc_id") + 100)
    return _rows(query_minhash_index(probe, path, _docs(spark, 0, 14)), "*")


def _query_search(spark, path):
    return _rows(query_search_index(spark, path, ["w1", "w4", "w9"], k=20),
                 "*")


def _query_ivf(spark, path):
    return _rows(knn_ivf_index(spark, path, _vecs(spark, 0, 4), k=3,
                               nprobe=4), "qid", "nid", "rank")


def _query_ivfpq(spark, path):
    return _rows(knn_ivfpq_index(spark, path, _vecs(spark, 0, 4), k=3,
                                 nprobe=4), "qid", "nid", "rank")


class _Index(NamedTuple):
    build: Callable
    append: Callable
    compact: Callable
    query: Callable
    rows: Callable  # _docs or _vecs
    cut: tuple  # (built, built + appended) rows
    id_col: str  # the id column in the index's files
    # the erased ids: the query answer holds some of them
    ids: list

    def build_and_append(self, spark, path):
        """Build, then append, so two generations are live."""
        self.build(self.rows(spark, 0, self.cut[0]), path)
        self.append(self.rows(spark, *self.cut), path)

    def erase(self, spark, path, drop=True):
        """Compact the index, erasing ``ids`` unless ``drop`` is off."""
        key = "doc_id" if self.rows is _docs else "vec_id"
        drops = spark.createDataFrame([(i,) for i in self.ids], f"{key} long")
        return self.compact(spark, path, drop_ids=drops if drop else None,
                            id_col=key)


_INDEXES = {
    "minhash": _Index(
        lambda df, p: build_minhash_index(df, p, threshold=0.3),
        append_to_minhash_index, compact_minhash_index, _query_minhash,
        _docs, (8, 14), "doc_id", [0, 9]),
    "bm25": _Index(
        build_search_index, append_to_search_index, compact_search_index,
        _query_search, _docs, (8, 14), "doc_id", [1, 9]),
    "ivf": _Index(
        lambda df, p: ivf_write_index(df, p, num_centroids=4),
        append_to_ivf_index, compact_ivf_index, _query_ivf,
        _vecs, (40, 55), "nid", [9, 11, 41]),
    "ivfpq": _Index(
        lambda df, p: ivfpq_write_index(df, p, m=4, ksub=8, num_centroids=4,
                                        pq_train_iters=0, ivf_train_iters=2),
        append_to_ivfpq_index, compact_ivfpq_index, _query_ivfpq,
        _vecs, (40, 55), "nid", [9, 11, 41]),
}


def _hook_commit_renames(monkeypatch, hook):
    """Call ``hook(i)`` before the i-th rename or replace that is not the
    writer lease's own (i = 0, 1, ...)."""
    calls = []

    def wrap(real):
        def renamed(src, dst, *a, **kw):
            if SnapshotTable.WRITER_LOCK not in f"{src}{dst}":
                calls.append(dst)
                hook(len(calls) - 1)
            return real(src, dst, *a, **kw)
        return renamed

    monkeypatch.setattr(os, "rename", wrap(os.rename))
    monkeypatch.setattr(os, "replace", wrap(os.replace))
    return calls


@pytest.mark.parametrize("name", sorted(_INDEXES))
def test_query_beside_a_compaction_changes_nothing(spark, tmp_path,
                                                   monkeypatch, name):
    """A query that runs while an erasing compaction has written its new
    files but not committed them returns the pre-compaction answer and
    leaves every file of the table as it was; the compaction then
    commits."""
    idx = _INDEXES[name]
    path = str(tmp_path / name)
    idx.build_and_append(spark, path)
    assert len(SnapshotTable(path).manifest()["history"]) == 1
    before = idx.query(spark, path)
    seen = []

    def query_at_commit(i):
        if i == 0:
            files = _files(path)
            seen.append(idx.query(spark, path))
            assert _files(path) == files

    _hook_commit_renames(monkeypatch, query_at_commit)
    idx.erase(spark, path)
    monkeypatch.undo()
    assert seen == [before]
    after = idx.query(spark, path)
    assert after != before


def test_bm25_compaction_crash_at_any_commit_step(spark, tmp_path,
                                                  monkeypatch):
    """The postings, df and stats of a compaction commit together: a
    crash at any rename of the compaction leaves the index answering
    exactly as before it, and a rerun converges to the ad-hoc BM25 over
    the surviving corpus."""
    idx = _INDEXES["bm25"]
    path = str(tmp_path / "bm25")
    idx.build_and_append(spark, path)
    before = idx.query(spark, path)
    ref = path + "_ref"
    shutil.copytree(path, ref)
    steps = _hook_commit_renames(monkeypatch, lambda i: None)
    idx.erase(spark, ref)
    monkeypatch.undo()
    assert steps
    survivors = _docs(spark, 0, 14).where("doc_id NOT IN (1, 9)")
    want = _rows(bm25_topk(survivors, ["w1", "w4", "w9"], k=20), "*")
    for step in range(len(steps)):
        work = str(tmp_path / f"crash{step}")
        shutil.copytree(path, work)

        def crash(i, step=step):
            if i == step:
                raise RuntimeError("injected crash")

        _hook_commit_renames(monkeypatch, crash)
        with pytest.raises(RuntimeError, match="injected crash"):
            idx.erase(spark, work)
        monkeypatch.undo()
        assert idx.query(spark, work) == before, step
        idx.erase(spark, work)
        assert idx.query(spark, work) == want


def _holders(path, col, ids):
    """Parquet files under ``path`` whose column ``col`` holds one of
    ``ids`` (files without the column are skipped)."""
    out = []
    for f in tablefs.parquet_parts(path):
        if col in pq.read_schema(f).names:
            vals = pq.read_table(f, columns=[col]).column(col).to_pylist()
            if set(vals) & set(ids):
                out.append(os.path.relpath(f, path))
    return out


@pytest.mark.parametrize("name", sorted(_INDEXES))
def test_erasure_leaves_no_file_with_an_erased_id(spark, tmp_path, name):
    idx = _INDEXES[name]
    path = str(tmp_path / name)
    idx.build_and_append(spark, path)
    assert _holders(path, idx.id_col, idx.ids)
    idx.erase(spark, path)
    assert _holders(path, idx.id_col, idx.ids) == []


def test_delete_keys_crash_after_publish_purges_history(spark, tmp_path,
                                                        monkeypatch):
    """The purge is part of the erasure's one publish: a crash right
    after it leaves no older snapshot readable, and the next writer
    removes the superseded files even though the rerun finds no state
    left to erase."""
    path = str(tmp_path / "cagg")
    store = CaggSnapshotStore(path, window_micros=WIN, chunk_windows=8,
                              snapshot_retain=4)
    store.materialize(_events(spark, 0, 600))
    store.refresh(spark, _events(spark, 600, 900), batch_id=0)
    _crash_at_publish(monkeypatch, after=True)
    with pytest.raises(RuntimeError, match="injected crash"):
        store.delete_keys(spark, [1])
    monkeypatch.undo()
    assert [s["gen"] for s in store.snapshots()] == [2]
    with pytest.raises(ValueError, match="not a retained snapshot"):
        store.read_at(spark, 1)
    assert store.read(spark).where("user_id = 1").count() == 0
    assert store.delete_keys(spark, [1]) == {"touched_chunks": [],
                                             "states_deleted": 0}
    assert _holders(path, "user_id", [1]) == []
    assert store.read(spark).count() > 0


def test_delete_keys_leaves_no_file_with_an_erased_key(spark, tmp_path):
    path = str(tmp_path / "cagg")
    store = CaggSnapshotStore(path, window_micros=WIN, chunk_windows=8)
    store.materialize(_events(spark, 0, 600))
    store.refresh(spark, _events(spark, 600, 900), batch_id=0)
    assert _holders(path, "user_id", [1, 3])
    store.delete_keys(spark, [1, 3])
    assert _holders(path, "user_id", [1, 3]) == []


def test_two_generations_read_as_one_pruned_scan(spark, tmp_path):
    """Two committed generations of a partitioned sub-table read as one
    scan that prunes on the partition column; a generation written but
    never committed is not read and goes at the next writer's GC."""
    path = str(tmp_path / "t")
    t = SnapshotTable(path)
    for lo in (0, 10):
        with t.writer() as man:
            t.write(man, "x", spark.range(lo, lo + 10).select(
                "id", (F.col("id") % 3).cast("int").alias("b")), "b",
                replace=False)
            t.commit(man)
    with t.writer() as man:  # crash before the publish: an orphan
        orphan = t.write(man, "x", spark.range(100, 103).select(
            "id", F.lit(1).alias("b")), "b", replace=False)
    assert os.path.isdir(orphan)
    assert t.manifest()["tables"]["x"] == ["gen=0", "gen=1"]
    got = t.read(spark, "x").where(F.col("b").isin(1, 2))
    assert _rows(got, "id") == [(i,) for i in range(20) if i % 3]
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan") == 1
    assert re.search(r"b#\d+ IN \(1,2\)",
                     plan.split("PartitionFilters:")[1][:200])
    with t.writer():
        pass
    assert not os.path.exists(orphan)


def test_gc_keeps_the_previous_snapshot_for_one_commit(spark, tmp_path):
    path = str(tmp_path / "t")
    t = SnapshotTable(path)

    def commit(lo, keep_history=True):
        with t.writer() as man:
            t.write(man, "x", spark.range(lo, lo + 3))
            t.commit(man, keep_history=keep_history)

    commit(0)
    commit(10)
    assert sorted(os.listdir(t.root("x"))) == ["gen=0", "gen=1"]
    commit(20)
    assert sorted(os.listdir(t.root("x"))) == ["gen=1", "gen=2"]
    assert [s["gen"] for s in t.manifest()["history"]] == [1]
    commit(30, keep_history=False)
    assert sorted(os.listdir(t.root("x"))) == ["gen=3"]
    assert t.manifest()["history"] == []
    assert _rows(t.read(spark, "x"), "id") == [(30,), (31,), (32,)]


def test_compactions_report_rows_from_footers(spark, tmp_path):
    """compact_minhash_index and compact_ivf_index count their rows
    after from the written files' footers: each runs a fixed number of
    Spark jobs and no re-read of what it wrote."""
    from test_compaction import _jobs_run

    jobs = {}
    for name in ("minhash", "ivf"):
        idx = _INDEXES[name]
        path = str(tmp_path / name)
        idx.build_and_append(spark, path)
        info, jobs[name] = _jobs_run(spark, idx.erase, spark, path, False)
        before, after = info["lists" if name == "ivf" else "sigs"]
        assert before == after == {"minhash": 14, "ivf": 55}[name]
    # counts under Spark 4.1 with adaptive execution, where each shuffle
    # stage runs as a job of its own: per MinHash table the count and
    # the dedup write, for IVF the heap union's count and the salted
    # write. Re-reading the written files to count them added 2 jobs per
    # table.
    assert jobs == {"minhash": 10, "ivf": 7}


def test_erasure_job_counts_the_append_heap(spark, tmp_path, capsys,
                                            monkeypatch):
    """The erasure job counts what is left through the table's reader
    over every sub-table that holds ids, the IVF append heap included."""
    import json

    from jobs import erasure_job
    from pyhctsa_spark.operators import similarity

    path = str(tmp_path / "ivf")
    _INDEXES["ivf"].build_and_append(spark, path)
    # a compaction that erases nothing leaves the appended ids in the heap
    monkeypatch.setattr(similarity, "compact_ivf_index",
                        lambda *a, **kw: {"lists": (55, 55)})
    assert erasure_job.main(["--ivf-index", path, "--ids", "41,42,1"]) == 2
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["rows_remaining"] == 3
