"""Chunk compaction: candidate selection, data-identity, lineage,
idempotence, and interop with retention + partition pruning."""

import os
import uuid

import pytest
from pyspark.sql import functions as F

from pyhctsa_spark.operators.compaction import (
    compact_chunks,
    compaction_candidates,
    compaction_log,
)
from pyhctsa_spark.operators.retention import (
    RetentionPolicy,
    apply_retention,
    read_tier_chunked,
    retention_log,
    tier_watermarks,
    write_tier_chunked,
)


def _fragmented_store(spark, path, n_docs=4, n_w0=256, n_parts=8, n_tiers=2):
    """Write a (tier, chunk) store where every chunk has n_parts files."""
    rows = []
    for d in range(n_docs):
        for t in range(n_tiers):
            ratio = 16 ** t
            for w in range(n_w0 // ratio):
                rows.append((f"doc{d}", t, w, float(w) * (d + 1)))
    df = spark.createDataFrame(
        rows, "doc_id string, tier int, window_idx long, mean double"
    ).withColumn("chunk", (F.col("window_idx") / F.lit(64)).cast("long"))
    (
        df.repartition(n_parts)  # force many small parts per partition dir
        .write.mode("overwrite")
        .partitionBy("tier", "chunk")
        .parquet(path)
    )
    return df


@pytest.mark.parametrize("target_files", [1, 2])
def test_compaction_merges_parts_preserves_data(spark, tmp_path, target_files):
    path = str(tmp_path / "store")
    _fragmented_store(spark, path, n_parts=8)
    before = read_tier_chunked(spark, path)
    before_pd = before.orderBy("tier", "doc_id", "window_idx").toPandas()
    chunk_rows = {
        (r["tier"], r["chunk"]): r["count"]
        for r in before.groupBy("tier", "chunk").count().collect()
    }
    cands = compaction_candidates(path, target_files=target_files)
    # tier 0: chunks 0..3, tier 1: chunk 0 — all fragmented
    assert len(cands) == 5
    # AQE would coalesce this tiny shuffle into one task; without that,
    # the files-per-chunk bound rests on the shuffle keys alone
    key = "spark.sql.adaptive.coalescePartitions.enabled"
    prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        rows = compact_chunks(spark, path, target_files=target_files)
    finally:
        spark.conf.set(key, prev)
    assert len(rows) == 5
    for r in rows:
        assert r["files_before"] > 1
        assert 1 <= r["files_after"] <= target_files
        # exact lineage: the chunk's row count, read from the footers
        assert r["rows"] == chunk_rows[(r["tier"], r["chunk"])]
    # data identical after the rewrite (values AND partition columns)
    after_pd = (
        read_tier_chunked(spark, path)
        .orderBy("tier", "doc_id", "window_idx")
        .toPandas()
    )
    assert before_pd[["doc_id", "tier", "window_idx", "mean"]].equals(
        after_pd[["doc_id", "tier", "window_idx", "mean"]]
    )
    # lineage log complete
    log = compaction_log(spark, path).toPandas()
    assert len(log) == 5
    assert (log.files_after <= target_files).all()
    assert sorted(log.rows) == sorted(r["rows"] for r in rows)
    # idempotent: nothing left to compact
    assert compaction_candidates(path, target_files=target_files) == []
    assert compact_chunks(spark, path, target_files=target_files) == []


def test_compacted_chunk_is_sorted_within_file(spark, tmp_path):
    for target_files in (1, 2):
        path = str(tmp_path / f"store{target_files}")
        _fragmented_store(spark, path, n_parts=8)
        compact_chunks(spark, path, target_files=target_files)
        # read every physical file raw: rows must be clustered by
        # (doc_id, window_idx) for run-friendly downstream scans
        for tdir in ("tier=0", "tier=1"):
            for cdir in os.listdir(os.path.join(path, tdir)):
                chunk = os.path.join(path, tdir, cdir)
                for part in os.listdir(chunk):
                    if not part.endswith(".parquet"):
                        continue
                    pdf = spark.read.parquet(
                        os.path.join(chunk, part)
                    ).toPandas()
                    assert len(pdf) > 0
                    assert (
                        pdf.sort_values(["doc_id", "window_idx"])
                        .reset_index(drop=True)
                        .equals(pdf.reset_index(drop=True))
                    )


def test_compaction_then_retention_lifecycle(spark, tmp_path):
    """The full chunk lifecycle on one store: fragment -> compact ->
    evict; pruning still reaches the scan afterwards."""
    path = str(tmp_path / "store")
    _fragmented_store(spark, path, n_parts=6)
    compact_chunks(spark, path, target_files=1)
    policy = RetentionPolicy(horizons={0: 128, 1: None}, chunk_windows=64)
    evicted = apply_retention(
        spark, path, policy, watermark_widx={0: 255, 1: 15}
    )
    assert sorted(e["chunk"] for e in evicted) == [0, 1]
    df = read_tier_chunked(spark, path).where("tier = 0 AND chunk = 2")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    assert df.count() == 64 * 4


def test_compaction_crash_recovery_all_windows(spark, tmp_path, monkeypatch):
    """Simulated crash states around the swap: leftover tmp, leftover
    old with live dir, and the worst case — live dir missing entirely
    (between the two renames). Then injected crashes around the stage:
    after the staged write before any swap, and partway through the
    swap loop. All must repair on the next invocation with no data loss
    and no chunk= parse breakage."""
    import os
    import shutil

    from pyhctsa_spark.operators.compaction import (
        _parquet_parts,
        _recover_store,
    )
    from pyhctsa_spark.operators.tablefs import swap_names

    path = str(tmp_path / "store")
    _fragmented_store(spark, path, n_parts=4)
    before = (
        read_tier_chunked(spark, path)
        .orderBy("tier", "doc_id", "window_idx").toPandas()
    )
    d0 = os.path.join(path, "tier=0", "chunk=0")
    d1 = os.path.join(path, "tier=0", "chunk=1")
    d2 = os.path.join(path, "tier=0", "chunk=2")
    tmp0, _ = swap_names(d0)
    _, old1 = swap_names(d1)
    _, old2 = swap_names(d2)
    shutil.copytree(d0, tmp0)       # crash before swap
    shutil.copytree(d1, old1)       # crash before cleanup
    os.rename(d2, old2)             # crash BETWEEN the renames
    # the store still reads (hidden . dirs are invisible to Spark) and
    # retention's _chunk_dirs does not choke on the leftovers
    from pyhctsa_spark.operators.retention import _chunk_dirs

    assert 2 not in _chunk_dirs(path)[0]  # d2 is mid-swap, not live
    rows = compact_chunks(spark, path, target_files=1)
    assert rows  # recovery happened, then compaction proceeded
    after = (
        read_tier_chunked(spark, path)
        .orderBy("tier", "doc_id", "window_idx").toPandas()
    )
    cols = ["doc_id", "tier", "window_idx", "mean"]
    assert before[cols].equals(after[cols])
    # no leftovers remain anywhere
    for tdir in os.listdir(path):
        if tdir.startswith("tier="):
            assert not any(
                e.startswith((".compact", "_compact"))
                for e in os.listdir(os.path.join(path, tdir))
            )
    # crash states of the staging directory: the injected crash hits
    # the move of the k-th staged chunk, which is then caught between
    # its two renames (k = 0: no chunk swapped yet; k = 2: two chunks
    # swapped, three still staged)
    real_rename = os.rename
    for k in (0, 2):
        p = str(tmp_path / f"staged{k}")
        _fragmented_store(spark, p, n_parts=4)
        want = (
            read_tier_chunked(spark, p)
            .orderBy("tier", "doc_id", "window_idx").toPandas()
        )
        moved = []

        def crashing_rename(src, dst, k=k, moved=moved):
            if "_compact_stage" in str(src):
                if len(moved) == k:
                    raise RuntimeError("injected crash")
                moved.append(src)
            real_rename(src, dst)

        monkeypatch.setattr(os, "rename", crashing_rename)
        with pytest.raises(RuntimeError, match="injected crash"):
            compact_chunks(spark, p, target_files=1)
        monkeypatch.undo()
        assert os.path.isdir(os.path.join(p, "_compact_stage"))
        n_parts = [
            len(_parquet_parts(d))
            for chunks in _chunk_dirs(p).values() for d in chunks.values()
        ]
        assert n_parts.count(1) == k  # swapped chunks are compacted
        _recover_store(p)  # what the next invocation runs first
        assert not os.path.exists(os.path.join(p, "_compact_stage"))
        rows = compact_chunks(spark, p, target_files=1)
        assert len(rows) == 5 - k
        got = (
            read_tier_chunked(spark, p)
            .orderBy("tier", "doc_id", "window_idx").toPandas()
        )
        assert want[cols].equals(got[cols])
        assert not os.path.exists(os.path.join(p, "_compact_stage"))
        for tdir in os.listdir(p):
            if tdir.startswith("tier="):
                assert not any(
                    e.startswith((".compact", "_compact"))
                    for e in os.listdir(os.path.join(p, tdir))
                )


def _jobs_run(spark, fn, *args):
    """(fn(*args), number of Spark jobs it ran), counted through a job
    group."""
    sc = spark.sparkContext
    group = f"count-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn(*args)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # the status store is fed by the listener bus asynchronously
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_lifecycle_job_count_does_not_grow_with_store(spark, tmp_path):
    """Compaction runs the same number of Spark jobs for 5 and for 10
    candidate chunks, and tier_watermarks none for 2 and for 3 tiers."""
    compact_jobs = []
    # n_w0 // 64 tier-0 chunks plus one tier-1 chunk, all fragmented
    for n_w0, n_cands in ((256, 5), (576, 10)):
        path = str(tmp_path / f"compact{n_w0}")
        _fragmented_store(spark, path, n_parts=4, n_w0=n_w0)
        rows, n_jobs = _jobs_run(spark, compact_chunks, spark, path)
        assert len(rows) == n_cands
        assert compaction_candidates(path) == []
        compact_jobs.append(n_jobs)
    assert compact_jobs[0] == compact_jobs[1] > 0
    wm_jobs = []
    for n_tiers in (2, 3):
        path = str(tmp_path / f"wm{n_tiers}")
        _fragmented_store(spark, path, n_parts=2, n_tiers=n_tiers)
        wm, n_jobs = _jobs_run(spark, tier_watermarks, spark, path)
        assert wm == {t: 256 // 16**t - 1 for t in range(n_tiers)}
        wm_jobs.append(n_jobs)
    assert wm_jobs == [0, 0]


def test_maintenance_of_fresh_store_runs_no_spark_job(spark, tmp_path):
    """On a store fresh from write_tier_chunked, the watermarks, an
    eviction (with its audit row) and compaction run no Spark job."""
    rows = [(f"doc{d}", t, w, float(w)) for d in range(4)
            for t, ratio in ((0, 1), (1, 16)) for w in range(256 // ratio)]
    path = str(tmp_path / "store")
    write_tier_chunked(
        spark.createDataFrame(
            rows, "doc_id string, tier int, window_idx long, mean double"),
        path, chunk_windows=64)
    wm, n_jobs = _jobs_run(spark, tier_watermarks, spark, path)
    assert (wm, n_jobs) == ({0: 255, 1: 15}, 0)
    policy = RetentionPolicy(horizons={0: 128, 1: None}, chunk_windows=64)
    evicted, n_jobs = _jobs_run(spark, apply_retention, spark, path, policy, wm)
    assert sorted(e["chunk"] for e in evicted) == [0, 1]
    assert n_jobs == 0
    assert retention_log(spark, path).count() == 2
    compacted, n_jobs = _jobs_run(spark, compact_chunks, spark, path)
    assert (compacted, n_jobs) == ([], 0)
