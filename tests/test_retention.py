"""Retention-policy executor: chunk-drop eviction, lineage, guards,
partition pruning."""

import os

import pytest
from pyspark.sql import functions as F

from pyhctsa_spark.operators.retention import (
    RetentionPolicy,
    apply_retention,
    read_tier_chunked,
    retention_log,
    write_tier_chunked,
)


def _tiers(spark, n_docs=6, n_w0=512):
    # tier 0: windows 0..n_w0-1; tier 1: 16x coarser; tier 2: 256x
    rows = []
    for d in range(n_docs):
        for t, ratio in ((0, 1), (1, 16), (2, 256)):
            for w in range(n_w0 // ratio):
                rows.append((f"doc{d}", t, w, float(w) + t))
    return spark.createDataFrame(
        rows, "doc_id string, tier int, window_idx long, mean double"
    )


def test_retention_drops_only_expired_chunks(spark, tmp_path):
    path = str(tmp_path / "store")
    write_tier_chunked(_tiers(spark), path, chunk_windows=64)
    policy = RetentionPolicy(
        horizons={0: 128, 1: None, 2: None}, chunk_windows=64)
    before = read_tier_chunked(spark, path)
    t0_before = before.where("tier = 0").count()
    # watermark at the last tier-0 window: keep widx >= 512-128 = 384,
    # i.e. chunks >= 6; chunks 0..5 expire
    evicted = apply_retention(
        spark, path, policy, watermark_widx={0: 511, 1: 31, 2: 1})
    assert sorted(e["chunk"] for e in evicted) == [0, 1, 2, 3, 4, 5]
    assert all(e["tier"] == 0 for e in evicted)
    assert all(e["bytes"] > 0 and e["n_files"] > 0 for e in evicted)
    after = read_tier_chunked(spark, path)
    # survivors: 2 chunks x 64 windows x 6 docs at tier 0; tiers 1/2 whole
    assert after.where("tier = 0").count() == 2 * 64 * 6
    assert after.where("tier = 0").agg(
        F.min("window_idx")).first()[0] == 384
    assert after.where("tier = 1").count() == 32 * 6
    assert after.where("tier = 2").count() == 2 * 6
    assert t0_before == 512 * 6
    # lineage log readable and complete
    log = retention_log(spark, path).toPandas()
    assert len(log) == 6
    assert log.bytes.sum() == sum(e["bytes"] for e in evicted)
    # idempotent: second run evicts nothing new
    assert apply_retention(
        spark, path, policy, watermark_widx={0: 511, 1: 31, 2: 1}) == []


def test_retention_log_counts_data_files_only(spark, tmp_path):
    """A chunk written by write_tier_chunked holds one parquet part
    beside the writer's side files (checksums, markers): its eviction
    logs n_files == 1 and that part's size as bytes."""
    path = str(tmp_path / "store")
    write_tier_chunked(_tiers(spark), path, chunk_windows=64)
    d = os.path.join(path, "tier=0", "chunk=0")
    parts = [os.path.join(d, f) for f in os.listdir(d)
             if f.endswith(".parquet")]
    assert len(parts) == 1
    size = os.path.getsize(parts[0])
    # keep widx >= 511 - 448 + 1 = 64: chunk 0 alone expires
    evicted = apply_retention(
        spark, path, RetentionPolicy(horizons={0: 448}, chunk_windows=64),
        watermark_widx={0: 511})
    assert [(e["chunk"], e["n_files"], e["bytes"]) for e in evicted] == [
        (0, 1, size)]
    log = retention_log(spark, path).toPandas()
    assert log[["n_files", "bytes"]].values.tolist() == [[1, size]]


def test_retention_guard_requires_cascade_coverage(spark, tmp_path):
    path = str(tmp_path / "store")
    # only tier 0 exists: no coarser tier to cover evicted range
    write_tier_chunked(
        _tiers(spark).where("tier = 0"), path, chunk_windows=64)
    policy = RetentionPolicy(horizons={0: 64}, chunk_windows=64)
    with pytest.raises(ValueError, match="no coarser tier"):
        apply_retention(spark, path, policy, watermark_widx={0: 511})
    # force drops anyway
    evicted = apply_retention(
        spark, path, policy, watermark_widx={0: 511}, force=True)
    assert len(evicted) == 7  # chunks 0..6, keep only chunk 7


def test_retention_guard_detects_partial_coverage(spark, tmp_path):
    path = str(tmp_path / "store")
    df = _tiers(spark)
    # truncate tier 1 to its first chunk-worth (windows 0..63 at 16x
    # would cover tier-0 windows 0..1023, so shrink harder: keep only
    # tier-1 windows < 4 -> covers tier-0 widx <= 79... with
    # chunk_windows=64 tier 1 chunk 0 present covers widx <= 63*? )
    # Simplest: remove tier 1 rows AND its chunks beyond chunk 0 by
    # filtering window_idx < 64 at tier 1 (chunk 0 only).
    df = df.where("tier != 1 OR window_idx < 64")
    write_tier_chunked(df, path, chunk_windows=64)
    # drop ALL tier-0 chunks (horizon 1 window, watermark far ahead):
    # needs tier-1 coverage up to (512*...)/16; present tier-1 chunk 0
    # covers widx <= 63 -> claimed coverage (0+1)*64-1 = 63 >= 31? The
    # eviction cut is chunk 8 (all), need_widx = (512-1)//16 = 31,
    # have = 63 -> guard passes; then make it fail with a watermark that
    # pushes the cut beyond coverage: use chunk_windows=64, horizon=64,
    # watermark 4095 -> cut = ceil((4095-64+1)/64) = 63 -> need
    # (63*64-1)//16 = 251 > 63 -> raises.
    policy = RetentionPolicy(horizons={0: 64}, chunk_windows=64)
    with pytest.raises(ValueError, match="cascade before evicting"):
        apply_retention(spark, path, policy, watermark_widx={0: 4095})


def test_chunked_layout_prunes_partitions(spark, tmp_path):
    path = str(tmp_path / "store")
    write_tier_chunked(_tiers(spark), path, chunk_windows=64)
    df = read_tier_chunked(spark, path).where(
        "tier = 0 AND chunk = 3 AND window_idx BETWEEN 192 AND 255"
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    # partition filters reach the scan: expired/other chunks never open
    assert "PartitionFilters: [" in plan
    assert "tier" in plan.split("PartitionFilters:")[1][:200]
    assert df.count() == 64 * 6


def test_retention_keeps_partially_live_boundary_chunk(spark, tmp_path):
    """Horizon landing mid-chunk must NOT evict that chunk: windows at
    its tail are still inside the horizon (found by review — ceil-based
    cutoff over-evicted here)."""
    path = str(tmp_path / "store")
    write_tier_chunked(_tiers(spark), path, chunk_windows=64)
    # watermark 511, horizon 127 -> keep widx >= 385; chunk 6 holds
    # 384..447 (384 expired, 385..447 LIVE) -> only chunks 0..5 drop
    policy = RetentionPolicy(
        horizons={0: 127, 1: None, 2: None}, chunk_windows=64)
    evicted = apply_retention(
        spark, path, policy, watermark_widx={0: 511, 1: 31, 2: 1})
    assert sorted(e["chunk"] for e in evicted) == [0, 1, 2, 3, 4, 5]
    after = read_tier_chunked(spark, path)
    assert after.where("tier = 0").agg(
        F.min("window_idx")).first()[0] == 384


def test_guard_failure_on_later_tier_deletes_nothing(spark, tmp_path):
    """A cascade-guard failure on ANY tier must abort before the first
    rmtree: tier 0 would pass its guard (tier 1 covers it) but tier 1
    has no tier 2 — the whole run raises and tier-0 chunks survive
    (found by review: the single-phase loop deleted tier 0 first)."""
    path = str(tmp_path / "store")
    write_tier_chunked(_tiers(spark).where("tier < 2"), path,
                       chunk_windows=8)
    # tier 0: chunks 0..63; tier 1 (32 windows): chunks 0..3. Tier 0's
    # guard passes (tier 1 covers it); tier 1 expires chunks 0..2 but
    # has no tier 2 -> the run must abort with NOTHING deleted.
    policy = RetentionPolicy(
        horizons={0: 64, 1: 8}, chunk_windows=8)
    before = read_tier_chunked(spark, path).count()
    with pytest.raises(ValueError, match="no coarser tier"):
        apply_retention(spark, path, policy,
                        watermark_widx={0: 511, 1: 31})
    assert read_tier_chunked(spark, path).count() == before
    import os
    assert not os.path.exists(os.path.join(path, "_retention_log"))


def test_append_ingest_then_compact_then_retain(spark, tmp_path):
    """Incremental ingest: two appends land disjoint window ranges in
    disjoint chunks; compaction merges the fragments; retention ages
    the old half out. Data identical to a one-shot write throughout."""
    from pyhctsa_spark.operators.compaction import compact_chunks

    path = str(tmp_path / "store")
    full = _tiers(spark)
    write_tier_chunked(full.where("window_idx < 256 OR tier > 0"), path,
                       chunk_windows=64)
    write_tier_chunked(
        full.where("tier = 0 AND window_idx >= 256"), path,
        chunk_windows=64, mode="append",
    )
    got = read_tier_chunked(spark, path)
    assert got.count() == full.count()
    compact_chunks(spark, path, target_files=1)
    assert read_tier_chunked(spark, path).count() == full.count()
    policy = RetentionPolicy(
        horizons={0: 256, 1: None, 2: None}, chunk_windows=64)
    evicted = apply_retention(
        spark, path, policy, watermark_widx={0: 511, 1: 31, 2: 1})
    assert sorted(e["chunk"] for e in evicted) == [0, 1, 2, 3]
    assert read_tier_chunked(spark, path).where("tier = 0").agg(
        F.min("window_idx")).first()[0] == 256


def _file_paths(path):
    """Every data file of a (tier, chunk) store, by chunk directory."""
    out = {}
    for tdir in sorted(os.listdir(path)):
        if not tdir.startswith("tier="):
            continue
        for cdir in sorted(os.listdir(os.path.join(path, tdir))):
            d = os.path.join(path, tdir, cdir)
            out[d] = [os.path.join(d, f) for f in sorted(os.listdir(d))
                      if not f.startswith(("_", "."))]
    return out


def test_fresh_chunked_write_is_one_sorted_file_per_chunk(spark, tmp_path):
    """Each chunk is written by one task as one file sorted by
    (doc_id, window_idx), so a fresh store has nothing to compact. The
    input rows arrive shuffled over several partitions."""
    import random

    import pyarrow.parquet as pq

    from pyhctsa_spark.operators.compaction import compaction_candidates

    rows = [(f"doc{d}", t, w, float(w)) for d in range(8)
            for t, ratio in ((0, 1), (1, 16), (2, 256))
            for w in range(512 // ratio)]
    random.Random(0).shuffle(rows)
    df = spark.createDataFrame(
        rows, "doc_id string, tier int, window_idx long, mean double"
    ).repartition(6)
    path = str(tmp_path / "store")
    write_tier_chunked(df, path, chunk_windows=64)
    files = _file_paths(path)
    assert len(files) == 8 + 1 + 1
    for chunk_files in files.values():
        assert len(chunk_files) == 1
        got = pq.ParquetFile(chunk_files[0]).read(
            columns=["doc_id", "window_idx"]).to_pandas()
        assert got.equals(
            got.sort_values(["doc_id", "window_idx"]).reset_index(drop=True))
    assert compaction_candidates(path) == []
    assert read_tier_chunked(spark, path).count() == len(rows)


def test_tier_watermarks_equal_spark_max_of_newest_chunks(spark, tmp_path):
    """Footer watermarks equal a Spark max(window_idx) over each tier's
    newest chunk. The newest tier-0 chunk holds two files, one written
    without statistics (read through the column fallback) that holds
    the maximum; tier 1's newest chunk also holds a zero-row file;
    tier 2's holds a hidden file Spark skips; tier 3's newest chunk
    holds only a zero-row file, so the tier is left out."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pyhctsa_spark.operators.retention import _chunk_dirs, tier_watermarks

    path = str(tmp_path / "store")
    write_tier_chunked(_tiers(spark).where("window_idx <= 500"), path,
                       chunk_windows=64)
    newest = _file_paths(path)
    schema = pq.read_schema(newest[os.path.join(path, "tier=0", "chunk=7")][0])

    def put(tier, chunk, name, widx, **kw):
        d = os.path.join(path, f"tier={tier}", f"chunk={chunk}")
        os.makedirs(d, exist_ok=True)
        table = pa.Table.from_pylist(
            [{"doc_id": "docx", "window_idx": w, "mean": 0.0} for w in widx],
            schema=schema)
        pq.write_table(table, os.path.join(d, name), **kw)

    put(0, 7, "part-nostats.parquet", [505, 502], write_statistics=False)
    put(1, 0, "part-empty.parquet", [])
    put(2, 0, "_hidden.parquet", [9999])
    put(3, 0, "part-empty.parquet", [])
    dirs = [chunks[max(chunks)] for chunks in _chunk_dirs(path).values()]
    want = {
        int(r["tier"]): int(r["m"])
        for r in spark.read.option("basePath", path).parquet(*dirs)
        .groupBy("tier").agg(F.max("window_idx").alias("m")).collect()
        if r["m"] is not None
    }
    assert want == {0: 505, 1: 31, 2: 1}
    assert tier_watermarks(spark, path) == want
