"""Chunk-lifecycle job: retention-then-compaction under the spark-submit
CLI contract, watermark derivation, and --retain spec parsing."""

import pathlib
import sys

from pyspark.sql import functions as F

from pyhctsa_spark.operators.retention import (
    read_tier_chunked,
    tier_watermarks,
    write_tier_chunked,
)

REPO = pathlib.Path(__file__).resolve().parents[1]


def _store(spark, path, n_docs=4, n_w0=256, n_parts=6):
    rows = []
    for d in range(n_docs):
        for t, ratio in ((0, 1), (1, 16)):
            for w in range(n_w0 // ratio):
                rows.append((f"doc{d}", t, w, float(w)))
    df = spark.createDataFrame(
        rows, "doc_id string, tier int, window_idx long, mean double"
    )
    # fragment deliberately: many parts per chunk dir
    (
        df.withColumn("chunk", (F.col("window_idx") / F.lit(64)).cast("long"))
        .repartition(n_parts)
        .write.mode("overwrite")
        .partitionBy("tier", "chunk")
        .parquet(path)
    )


def test_tier_watermarks_reads_only_newest_chunk(spark, tmp_path):
    path = str(tmp_path / "store")
    _store(spark, path)
    wm = tier_watermarks(spark, path)
    assert wm == {0: 255, 1: 15}


def test_parse_retain():
    sys.path.insert(0, str(REPO / "jobs"))
    from lifecycle_job import parse_retain

    assert parse_retain("0:168,1:2160,2:keep") == {0: 168, 1: 2160, 2: None}


def test_lifecycle_job_cli_end_to_end(spark, tmp_path, capsys):
    import json

    path = str(tmp_path / "store")
    _store(spark, path)
    sys.path.insert(0, str(REPO / "jobs"))
    import lifecycle_job

    # tier-0 horizon 128 windows, watermark 255 -> chunks 0,1 evicted;
    # the 2 surviving tier-0 chunks + tier-1 chunk 0 then compact
    rc = lifecycle_job.main([
        "--store", path,
        "--retain", "0:128,1:keep",
        "--chunk-windows", "64",
    ])
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["evicted_chunks"] == 2
    assert out["bytes_reclaimed"] > 0
    assert out["compacted_chunks"] == 3
    assert out["files_removed"] > 0
    survivors = read_tier_chunked(spark, path)
    assert survivors.where("tier = 0").agg(
        F.min("window_idx")).first()[0] == 128
    # second run: nothing to evict, nothing to compact
    rc = lifecycle_job.main([
        "--store", path, "--retain", "0:128,1:keep",
        "--chunk-windows", "64",
    ])
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["evicted_chunks"] == 0
    assert out["compacted_chunks"] == 0


def test_cagg_job_cli_full_lifecycle(spark, tmp_path, capsys):
    """materialize -> refresh -> expire through the spark-submit CLI."""
    import json

    from pyspark.sql import functions as F2

    sys.path.insert(0, str(REPO / "jobs"))
    import cagg_job

    root = str(tmp_path)
    ev = spark.range(2000).select(
        F2.col("id").alias("event_id"),
        F2.timestamp_micros(
            F2.lit(1_700_000_000_000_000) + F2.col("id") * 613_789_123
        ).alias("ts"),
        (F2.col("id") % 8).alias("user_id"),
        F2.col("id").cast("double").alias("value"),
    )
    ev.where("event_id < 1500").write.parquet(f"{root}/base")
    ev.where("event_id >= 1500").write.parquet(f"{root}/delta")
    store = f"{root}/store"
    assert cagg_job.main(["--events", f"{root}/base", "--store", store,
                          "--mode", "materialize",
                          "--chunk-windows", "16"]) == 0
    assert cagg_job.main(["--events", f"{root}/delta", "--store", store,
                          "--mode", "refresh", "--batch-id", "0",
                          "--chunk-windows", "16"]) == 0
    # replayed refresh is a no-op
    assert cagg_job.main(["--events", f"{root}/delta", "--store", store,
                          "--mode", "refresh", "--batch-id", "0",
                          "--chunk-windows", "16"]) == 0
    lines = [json.loads(ln) for ln in
             capsys.readouterr().out.strip().splitlines()]
    assert lines[1]["touched_chunks"]
    assert lines[2].get("skipped_committed_batch")
    assert cagg_job.main(["--store", store, "--mode", "expire",
                          "--keep-windows", "200",
                          "--chunk-windows", "16"]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["evicted_chunks"] > 0
    # surviving view equals full recompute over the kept range
    from pyhctsa_spark.operators.cagg import (
        CaggSnapshotStore,
        cagg_finalize,
        cagg_partial,
    )

    st = CaggSnapshotStore(store, chunk_windows=16)
    got = cagg_finalize(st.read(spark).drop("chunk"))
    keep_from = out["watermark_widx"] - 200 + 1
    min_chunk = min(int(c) for c in st.manifest()["chunks"])
    want = cagg_finalize(
        cagg_partial(ev).where(F2.col("widx") >= min_chunk * 16)
    )
    assert got.count() == want.count()
    assert keep_from // 16 <= min_chunk
