"""Deletion propagation: exactness, touched-chunk-only rewrites, audit
trail, dead-chunk sweep, idempotence, crash recovery of the staged
rewrite and its Spark job count."""

import os

import pytest
from pyspark.sql import functions as F
from test_compaction import _jobs_run

from pyhctsa_spark.operators.deletion import (
    delete_docs,
    deletion_log,
    verify_erased,
)
from pyhctsa_spark.operators.retention import write_tier_chunked


@pytest.fixture()
def store(spark, tmp_path):
    from pyhctsa_spark.operators.quantile_rollup import rollup_quantile_tiers
    from pyhctsa_spark.sources.synthetic import sequences_df

    seq = sequences_df(spark, 24)
    tiers = rollup_quantile_tiers(seq, window=8, group=4, n_tiers=2)
    d = str(tmp_path / "store")
    write_tier_chunked(tiers, d, chunk_windows=16)
    return d


def test_total_erasure_then_verify_and_rerun(spark, store):
    """Erasing EVERY doc sweeps every chunk; the emptied store must
    verify as 0 remaining and a re-run must be a no-op — not crash the
    schema-less parquet read (UNABLE_TO_INFER_SCHEMA)."""
    all_ids = [r["doc_id"] for r in
               spark.read.parquet(store).select("doc_id").distinct().collect()]
    info = delete_docs(spark, store, all_ids)
    assert info["rows_deleted"] > 0 and info["chunks_removed"]
    assert verify_erased(spark, store, all_ids) == 0
    again = delete_docs(spark, store, all_ids)
    assert again == {"touched_chunks": [], "rows_deleted": 0,
                     "chunks_removed": []}


def test_delete_is_exact_and_verified(spark, store):
    before = spark.read.parquet(store)
    doomed = [r["doc_id"] for r in
              before.select("doc_id").distinct().limit(3).orderBy("doc_id").collect()]
    # snapshot the expected survivors BEFORE the store is rewritten
    b = (
        before.where(~F.col("doc_id").isin(doomed))
        .orderBy("doc_id", "tier", "window_idx").drop("hist_bin").collect()
    )
    info = delete_docs(spark, store, doomed)
    assert info["rows_deleted"] > 0 and info["touched_chunks"]
    assert verify_erased(spark, store, doomed) == 0
    # survivors are bit-identical: deletion == filter of the old store
    a = (
        spark.read.parquet(store)
        .orderBy("doc_id", "tier", "window_idx").drop("hist_bin").collect()
    )
    assert a == b


def test_untouched_chunks_never_rewritten(spark, store):
    # every chunk's current file set, by mtime+size
    def snap():
        out = {}
        for root, _dirs, files in os.walk(store):
            if "_deletion_log" in root:
                continue
            for f in files:
                p = os.path.join(root, f)
                out[p] = os.stat(p).st_mtime_ns
        return out

    before = snap()
    doomed = [r["doc_id"] for r in
              spark.read.parquet(store).select("doc_id").distinct()
              .orderBy("doc_id").limit(1).collect()]
    info = delete_docs(spark, store, doomed)
    after = snap()
    touched_dirs = {
        os.path.join(store, f"tier={t}", f"chunk={c}")
        for t, c in info["touched_chunks"]
    }
    for p, m in before.items():
        d = os.path.dirname(p)
        if d not in touched_dirs:
            assert after.get(p) == m, f"untouched file rewritten: {p}"


def test_audit_log_and_idempotence(spark, store):
    doomed = [r["doc_id"] for r in
              spark.read.parquet(store).select("doc_id").distinct()
              .orderBy("doc_id").limit(2).collect()]
    info1 = delete_docs(spark, store, doomed)
    log = deletion_log(spark, store)
    assert set(r["doc_id"] for r in log.collect()) == set(doomed)
    assert log.agg(F.sum("n_rows")).first()[0] == info1["rows_deleted"]
    # re-run: converged no-op, no extra log rows
    info2 = delete_docs(spark, store, doomed)
    assert info2 == {"touched_chunks": [], "rows_deleted": 0,
                     "chunks_removed": []}
    assert deletion_log(spark, store).count() == log.count()


def test_fully_dead_chunk_is_swept(spark, tmp_path):
    rows = [(f"d{i}", "s", 0, w, 1) for i in range(2) for w in range(4)]
    df = spark.createDataFrame(
        rows, "doc_id string, source string, tier int, window_idx long, n long"
    )
    d = str(tmp_path / "tiny")
    write_tier_chunked(df, d, chunk_windows=2)
    # delete every doc -> every chunk dies
    info = delete_docs(spark, d, ["d0", "d1"])
    assert info["chunks_removed"]
    assert not any(
        c.startswith("chunk=")
        for t in os.listdir(d) if t.startswith("tier=")
        for c in os.listdir(os.path.join(d, t))
    )


def _sorted_rows(df):
    return df.orderBy("doc_id", "tier", "window_idx").drop("hist_bin").collect()


def _first_docs(spark, store, n):
    return [r["doc_id"] for r in
            spark.read.parquet(store).select("doc_id").distinct()
            .orderBy("doc_id").limit(n).collect()]


def _no_leftovers(store):
    """No stage and no tablefs swap sibling anywhere in the store."""
    assert not os.path.exists(os.path.join(store, "_compact_stage"))
    for t in os.listdir(store):
        if t.startswith("tier="):
            assert not any(e.startswith((".compact", "_compact"))
                           for e in os.listdir(os.path.join(store, t)))


@pytest.mark.parametrize("crash", ["after_stage", "move_0", "move_2"])
def test_delete_crash_recovery_converges(spark, store, monkeypatch, crash):
    """A crash after the staged write (before any swap) or at the k-th
    staged move (k = 0: no chunk swapped yet, the k-th chunk caught
    between its two renames; k = 2: two chunks swapped): the store
    still reads, and the next delete_docs converges to the original
    store filtered by the doomed ids, with no leftover and every doomed
    id in the audit log."""
    import pyhctsa_spark.operators.deletion as deletion

    doomed = _first_docs(spark, store, 3)
    want = _sorted_rows(
        spark.read.parquet(store).where(~F.col("doc_id").isin(doomed)))
    if crash == "after_stage":
        def crashing_swap(*args):
            raise RuntimeError("injected crash")

        monkeypatch.setattr(deletion, "_swap_chunks", crashing_swap)
    else:
        k = int(crash[-1])
        real_rename = os.rename
        moved = []

        def crashing_rename(src, dst):
            if "_compact_stage" in str(src):
                if len(moved) == k:
                    raise RuntimeError("injected crash")
                moved.append(src)
            real_rename(src, dst)

        monkeypatch.setattr(os, "rename", crashing_rename)
    with pytest.raises(RuntimeError, match="injected crash"):
        delete_docs(spark, store, doomed)
    monkeypatch.undo()
    assert os.path.isdir(os.path.join(store, "_compact_stage"))
    spark.catalog.refreshByPath(store)
    # the half-done rewrite never breaks a read of the store
    spark.read.parquet(store).count()
    info = delete_docs(spark, store, doomed)
    assert info["rows_deleted"] > 0
    assert verify_erased(spark, store, doomed) == 0
    assert _sorted_rows(spark.read.parquet(store)) == want
    _no_leftovers(store)
    logged = {r["doc_id"] for r in deletion_log(spark, store).collect()}
    assert logged == set(doomed)


def test_delete_after_compaction_crash_between_renames(spark, tmp_path,
                                                       monkeypatch):
    """A compaction that crashed between the two renames of a chunk
    leaves its rows only in the swap sibling. delete_docs repairs the
    store before its probe, so the erasure reaches those rows and a
    later compaction cannot bring them back."""
    from pyhctsa_spark.operators.compaction import compact_chunks
    from pyhctsa_spark.operators.quantile_rollup import rollup_quantile_tiers
    from pyhctsa_spark.sources.synthetic import sequences_df

    tiers = rollup_quantile_tiers(sequences_df(spark, 12), window=8,
                                  group=4, n_tiers=2)
    d = str(tmp_path / "store")
    # two appends: every chunk holding docs of both halves has two parts
    for half in (0, 1):
        write_tier_chunked(
            tiers.where(F.abs(F.hash("doc_id")) % 2 == half), d,
            chunk_windows=16, mode="append")
    doomed = _first_docs(spark, d, 3)
    real_rename = os.rename

    def crashing_rename(src, dst):
        if "_compact_stage" in str(src):
            raise RuntimeError("injected crash")
        real_rename(src, dst)

    monkeypatch.setattr(os, "rename", crashing_rename)
    with pytest.raises(RuntimeError, match="injected crash"):
        compact_chunks(spark, d)
    monkeypatch.undo()
    # the first candidate's live directory is gone, its rows sit in the
    # old sibling only
    assert any(e.startswith((".compact_old.", "_compact_old."))
               for e in os.listdir(os.path.join(d, "tier=0")))
    delete_docs(spark, d, doomed)
    assert verify_erased(spark, d, doomed) == 0
    compact_chunks(spark, d)
    assert verify_erased(spark, d, doomed) == 0
    _no_leftovers(d)


def test_verify_erased_counts_a_chunk_caught_mid_swap(spark, tmp_path,
                                                     monkeypatch):
    """A compaction that crashed between the two renames of a chunk
    leaves its rows only in the swap sibling; verify_erased counts them
    from there, so it still finds every row of the ids, and it leaves
    the stage and the swap siblings exactly as it found them (a writer
    may still be running)."""
    from pyhctsa_spark.operators.compaction import compact_chunks
    from pyhctsa_spark.operators.quantile_rollup import rollup_quantile_tiers
    from pyhctsa_spark.sources.synthetic import sequences_df

    tiers = rollup_quantile_tiers(sequences_df(spark, 12), window=8,
                                  group=4, n_tiers=2)
    d = str(tmp_path / "store")
    for half in (0, 1):
        write_tier_chunked(
            tiers.where(F.abs(F.hash("doc_id")) % 2 == half), d,
            chunk_windows=16, mode="append")
    ids = _first_docs(spark, d, 3)
    want = spark.read.parquet(d).where(F.col("doc_id").isin(ids)).count()
    real_rename = os.rename

    def crashing_rename(src, dst):
        if "_compact_stage" in str(src):
            raise RuntimeError("injected crash")
        real_rename(src, dst)

    monkeypatch.setattr(os, "rename", crashing_rename)
    with pytest.raises(RuntimeError, match="injected crash"):
        compact_chunks(spark, d)
    monkeypatch.undo()
    assert any(e.startswith((".compact_old.", "_compact_old."))
               for e in os.listdir(os.path.join(d, "tier=0")))
    assert os.path.isdir(os.path.join(d, "_compact_stage"))
    spark.catalog.refreshByPath(d)
    assert spark.read.parquet(d).where(
        F.col("doc_id").isin(ids)).count() < want

    def tree():
        return sorted(os.path.relpath(os.path.join(r, n), d)
                      for r, ds, fs in os.walk(d) for n in ds + fs)

    before = tree()
    assert verify_erased(spark, d, ids) == want
    assert tree() == before


def test_delete_job_count_does_not_grow_with_touched_chunks(spark, store,
                                                            tmp_path):
    """One delete_docs runs the same Spark jobs for 10 and for all 154
    touched chunks of the fixture store: the store read (listing and
    schema), the probe and the staged write, 6 in all. The touched
    chunks are re-read through the probe's relation, so their listing
    and schema cost no job, and no job collects the surviving chunks."""
    import shutil

    all_ids = _first_docs(spark, store, 1000)
    jobs, touched = [], []
    for n in (1, len(all_ids)):
        d = str(tmp_path / f"copy{n}")
        shutil.copytree(store, d)
        info, n_jobs = _jobs_run(spark, delete_docs, spark, d, all_ids[:n])
        assert verify_erased(spark, d, all_ids[:n]) == 0
        jobs.append(n_jobs)
        touched.append(len(info["touched_chunks"]))
    assert touched[0] < touched[1]
    assert jobs[0] == jobs[1] <= 6


def test_erasure_job_cli_tier_store(spark, store, capsys, monkeypatch, tmp_path):
    import json

    # reuse the running test session instead of building a new one
    from pyspark.sql import SparkSession

    from jobs.erasure_job import main

    doomed = [r["doc_id"] for r in
              spark.read.parquet(store).select("doc_id").distinct()
              .orderBy("doc_id").limit(2).collect()]
    ids_file = tmp_path / "ids.txt"
    ids_file.write_text("\n".join(doomed) + "\n")
    rc = main(["--store", store, "--ids-file", str(ids_file)])
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["rows_deleted"] > 0 and out["rows_remaining"] == 0
    assert out["n_ids"] == 2


def test_erasure_job_cli_cagg_store(spark, tmp_path, capsys):
    import json

    from pyspark.sql import functions as F

    from jobs.erasure_job import main
    from pyhctsa_spark.operators.cagg import CaggSnapshotStore

    ev = spark.range(1500).select(
        (F.col("id") % 3).alias("user_id"),
        F.timestamp_micros(
            F.lit(1_700_000_000_000_000) + F.col("id") * 913_789_123
        ).alias("ts"),
        (F.col("id") % 50).cast("double").alias("value"),
    )
    path = str(tmp_path / "cs")
    # a non-default layout: the job must open the store in the layout
    # its manifest records
    CaggSnapshotStore(path, chunk_windows=16).materialize(ev)
    rc = main(["--cagg-store", path, "--ids", "1"])
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["states_deleted"] > 0 and out["states_remaining"] == 0
    assert out["history_purged"] is True


def test_erasure_job_cagg_key_type_from_one_chunk(spark, tmp_path, capsys):
    """The cagg branch takes the key column's type from one manifest
    chunk: on a 49-chunk store it runs fewer Spark jobs than the 14 it
    ran with a read of the whole store (a listing job and a footer job)
    for the type alone."""
    import json

    from jobs.erasure_job import main
    from pyhctsa_spark.operators.cagg import CaggSnapshotStore

    ev = spark.range(1500).select(
        (F.col("id") % 3).alias("user_id"),
        F.timestamp_micros(
            F.lit(1_700_000_000_000_000) + F.col("id") * 913_789_123
        ).alias("ts"),
        (F.col("id") % 50).cast("double").alias("value"),
    )
    path = str(tmp_path / "cs")
    CaggSnapshotStore(path, chunk_windows=16).materialize(ev)
    assert len(CaggSnapshotStore(path).manifest()["chunks"]) == 49
    rc, n_jobs = _jobs_run(spark, main, ["--cagg-store", path, "--ids", "1"])
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["states_deleted"] > 0 and out["states_remaining"] == 0
    assert n_jobs < 14


def test_erasure_job_cli_minhash_index(spark, tmp_path, capsys):
    import json

    from jobs.erasure_job import main
    from pyhctsa_spark.operators.dedup_index import build_minhash_index

    words = ["alpha", "beta", "gamma", "delta", "eps", "zeta"]
    docs = spark.createDataFrame(
        [
            (i, " ".join(words[(i + j) % 6] + str((i * 7 + j) % 23)
                         for j in range(12)), "s")
            for i in range(8)
        ],
        "doc_id long, text string, source string",
    )
    idx = str(tmp_path / "idx")
    build_minhash_index(docs, idx, threshold=0.3)
    rc = main(["--minhash-index", idx, "--ids", "3,5"])
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["rows_remaining"] == 0 and out["n_ids"] == 2
    assert out["sigs"][1] == out["sigs"][0] - 2  # two docs erased
    # untouched docs still searchable
    assert spark.read.parquet(idx + "/sigs").count() == 6


def test_erasure_job_cli_search_index(spark, tmp_path, capsys):
    import json

    from jobs.erasure_job import main
    from pyhctsa_spark.operators.search import bm25_topk
    from pyhctsa_spark.operators.search_index import (
        build_search_index,
        query_search_index,
    )

    words = ["alpha", "beta", "gamma", "delta", "eps", "zeta"]
    docs = spark.createDataFrame(
        [
            (i, " ".join(words[(i + j) % 6] for j in range(10)), "s")
            for i in range(8)
        ],
        "doc_id long, text string, source string",
    )
    idx = str(tmp_path / "sidx")
    build_search_index(docs, idx, n_buckets=8)
    rc = main(["--search-index", idx, "--ids", "3,5"])
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["rows_remaining"] == 0 and out["n_ids"] == 2
    before, after = out["postings"]
    assert before > after
    # erased docs are unretrievable; survivors re-rank exactly like an
    # ad-hoc run over the erased corpus
    got = [tuple(r) for r in
           query_search_index(spark, idx, ["alpha", "beta"], k=8).collect()]
    want = [tuple(r) for r in
            bm25_topk(docs.where("doc_id not in (3, 5)"),
                      ["alpha", "beta"], k=8).collect()]
    assert got == want
    assert not {3, 5} & {r[1] for r in got}


def test_erasure_job_cli_ivf_index(spark, tmp_path, capsys):
    import json

    import numpy as np
    from jobs.erasure_job import main
    from pyhctsa_spark.operators.similarity import ivf_write_index

    rng = np.random.default_rng(7)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in rng.normal(size=8)]) for i in range(24)],
        "vec_id long, embedding array<double>",
    )
    idx = str(tmp_path / "vidx")
    ivf_write_index(emb, idx, num_centroids=4)
    rc = main(["--ivf-index", idx, "--ids", "3,5"])
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["rows_remaining"] == 0 and out["n_ids"] == 2
    before, after = out["lists"]
    assert (before, after) == (24, 22)
    # survivors still retrievable
    assert spark.read.parquet(idx + "/lists").count() == 22


def test_erasure_job_cli_ivfpq_index(spark, tmp_path, capsys):
    import json

    import numpy as np
    from jobs.erasure_job import main
    from pyhctsa_spark.operators.pq import ivfpq_write_index

    rng = np.random.default_rng(9)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in rng.normal(size=16)]) for i in range(24)],
        "vec_id long, embedding array<double>",
    )
    idx = str(tmp_path / "pqidx")
    ivfpq_write_index(emb, idx, m=4, ksub=8, num_centroids=4,
                      pq_train_iters=0, ivf_train_iters=2)
    rc = main(["--ivfpq-index", idx, "--ids", "3,5"])
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["rows_remaining"] == 0 and out["n_ids"] == 2
    assert tuple(out["lists"]) == (24, 22)
