"""Compressed-store round-trip + resumable checkpointed job semantics."""

import glob
import os
import pathlib
import re

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from pyhctsa_spark.operators import checkpoint
from pyhctsa_spark.operators.checkpoint import RollupJob
from pyhctsa_spark.operators.rollup import FAMILIES, rollup_tiers, walk_tiers
from pyhctsa_spark.operators.store import (
    FEATURES,
    compression_report,
    read_compressed_store,
    write_compressed_store,
)
from pyhctsa_spark.sources.synthetic import gapped_sequences_df, sequences_df

REPO = pathlib.Path(__file__).resolve().parents[1]
SMALL = {"window": 16, "group": 4, "n_tiers": 2}


@pytest.fixture(scope="module")
def tier_df(spark):
    df = sequences_df(spark, 40, partitions=4)
    return rollup_tiers(df).cache()


def test_store_roundtrip_identity(spark, tier_df, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("store") / "tiers")
    write_compressed_store(tier_df, path)
    back = read_compressed_store(spark, path).toPandas()
    orig = tier_df.toPandas()
    key = ["doc_id", "tier", "window_idx"]
    a = orig.set_index(key).sort_index()
    b = back.set_index(key).sort_index()
    assert len(a) == len(b)
    for f in FEATURES + ["n"]:
        av = a[f].to_numpy(np.float64)
        bv = b[f].to_numpy(np.float64)
        # bit-exact: gorilla stores raw float64 bits
        np.testing.assert_array_equal(
            av.view(np.uint64)[~np.isnan(av)], bv.view(np.uint64)[~np.isnan(bv)],
            err_msg=f,
        )
        assert np.isnan(av).sum() == np.isnan(bv).sum()


def test_keyed_decode_filters_reach_the_scan(spark, tier_df,
                                             tmp_path_factory):
    """A doc_id and tier filter above read_compressed_store is pushed
    into the parquet scan, so a one-document decode decodes only that
    document's blocks; its rows are the full decode's rows."""
    path = str(tmp_path_factory.mktemp("store_keyed") / "tiers")
    write_compressed_store(tier_df, path)
    doc = tier_df.where("tier = 1").select("doc_id").first()[0]
    q = read_compressed_store(spark, path).where(
        (F.col("doc_id") == doc) & (F.col("tier") == 1))
    plan = q._jdf.queryExecution().executedPlan().toString()
    pushed = re.search(r"PushedFilters: \[([^\]]*)\]", plan).group(1)
    assert f"EqualTo(doc_id,{doc})" in pushed
    assert "EqualTo(tier,1)" in pushed
    key = ["window_idx"]
    got = q.toPandas().sort_values(key).reset_index(drop=True)
    full = read_compressed_store(spark, path).toPandas()
    want = (full[(full.doc_id == doc) & (full.tier == 1)]
            .sort_values(key).reset_index(drop=True))
    assert len(got) > 0
    pd.testing.assert_frame_equal(got, want)


def test_nan_feature_decodes_as_null(spark, tier_df, tmp_path_factory):
    """Gorilla stores a NaN's bits; the decode returns it as NULL, and
    every other value of the column unchanged."""
    path = str(tmp_path_factory.mktemp("store_nan") / "tiers")
    nanned = tier_df.withColumn(
        "ac1_td",
        F.when(F.col("window_idx") % 3 == 0, F.lit(float("nan")))
        .otherwise(F.col("ac1_td")),
    )
    write_compressed_store(nanned, path)
    back = read_compressed_store(spark, path)
    n_nan = nanned.where(F.isnan("ac1_td")).count()
    assert n_nan > 0
    assert back.where(F.isnan("ac1_td")).count() == 0
    assert back.where(F.col("ac1_td").isNull()).count() == n_nan
    kept = ["doc_id", "tier", "window_idx", "ac1_td"]
    assert sorted(back.where(F.col("ac1_td").isNotNull()).select(*kept)
                  .collect()) == sorted(nanned.where(~F.isnan("ac1_td"))
                                        .select(*kept).collect())


def test_store_compression_wins(spark, tier_df, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("store2") / "tiers")
    write_compressed_store(tier_df, path)
    rep = compression_report(spark, path)
    assert rep["windows"] == tier_df.count()
    assert rep["ratio"] > 1.3  # gorilla+dod beats raw doubles
    assert rep["raw_bytes"] > rep["comp_bytes"]


def test_checkpoint_resume_after_injected_crash(spark, tmp_path_factory):
    store_crash = str(tmp_path_factory.mktemp("job") / "store")
    store_clean = str(tmp_path_factory.mktemp("job2") / "store")
    seq = sequences_df(spark, 30, partitions=4)

    clean = RollupJob(store_clean, n_buckets=4)
    snap_clean = clean.run(spark, seq)
    assert snap_clean["complete"]

    job = RollupJob(store_crash, n_buckets=4)
    with pytest.raises(RuntimeError, match="injected failure"):
        job.run(spark, seq, fail_after_bucket=1)
    done = job.completed_buckets()
    assert len(done) == 2  # buckets 0 and 1 committed before the crash

    # restart: only pending buckets run; result equals the clean job
    snap = RollupJob(store_crash, n_buckets=4).run(spark, seq)
    assert snap["complete"]
    assert snap["windows_emitted"] == snap_clean["windows_emitted"]

    a = (
        RollupJob(store_crash, n_buckets=4).result(spark).toPandas()
        .sort_values(["doc_id", "tier", "window_idx"]).reset_index(drop=True)
        .drop(columns=["state_bin"])
    )
    b = (
        clean.result(spark).toPandas()
        .sort_values(["doc_id", "tier", "window_idx"]).reset_index(drop=True)
        .drop(columns=["state_bin"])
    )
    pd.testing.assert_frame_equal(a, b)
    # lineage present per bucket
    entry = job.completed_buckets()[0]
    for k in ("rows_read", "windows_emitted", "checksum_mismatches",
              "wall_sec", "output_bytes"):
        assert k in entry
    assert os.path.exists(os.path.join(store_crash, "_SNAPSHOT.json"))


def test_packaged_zip_imports_and_job_cli_runs(spark, tmp_path):
    """spark-submit packaging contract: the --py-files zip must be
    importable on its own, and jobs/rollup_job.py must run end-to-end
    (resumable store + snapshot) against a parquet sequences table."""
    import json
    import subprocess
    import sys

    sys.path.insert(0, str(REPO / "scripts"))
    from package import build

    zip_path = build(str(tmp_path / "pyhctsa_spark.zip"))
    # the zip alone must satisfy the import (pure-python package)
    probe = subprocess.run(
        [sys.executable, "-c",
         "import sys; sys.path.insert(0, sys.argv[1]); "
         "sys.path = [p for p in sys.path if p not in ('', sys.argv[2])]; "
         "import pyhctsa_spark.functions.kernels as K; import numpy as np; "
         "print(K.mean_(np.arange(10.0))); "
         # data resources must load from INSIDE the zip too
         # (importlib.resources, not a filesystem path)
         "from pyhctsa_spark.operators.bpe import load_merges; "
         "print(len(load_merges()) > 0)",
         zip_path, str(REPO)],
        capture_output=True, text=True, timeout=120, cwd=str(tmp_path),
    )
    assert probe.returncode == 0, probe.stderr[-500:]
    assert probe.stdout.split() == ["4.5", "True"]

    from pyhctsa_spark.sources.synthetic import sequences_df

    src = str(tmp_path / "seq")
    sequences_df(spark, 12, binary=True).write.parquet(src)
    store = str(tmp_path / "store")
    sys.path.insert(0, str(REPO / "jobs"))
    import rollup_job

    rc = rollup_job.main([
        "--input", src, "--store", store,
        "--window", "8", "--group", "4", "--tiers", "2", "--buckets", "2",
    ])
    assert rc == 0
    snap = json.load(open(store + "/_SNAPSHOT.json"))
    assert snap["buckets_done"] == 2 if "buckets_done" in snap else True
    out = spark.read.parquet(store + "/tier_data")
    assert out.count() > 0
    assert set(out.select("tier").distinct().toPandas()["tier"]) == {0, 1}


def test_rollup_job_families(spark, tmp_path):
    """Every tier family runs under the same bucket-manifest resume
    machinery; the bucketed result equals the direct single-pass
    operator."""
    from pyhctsa_spark.operators.checkpoint import RollupJob
    from pyhctsa_spark.operators.fused_rollup import rollup_fused_tiers
    from pyhctsa_spark.sources.synthetic import sequences_df

    seq = sequences_df(spark, 12, binary=True).cache()
    job = RollupJob(str(tmp_path / "fstore"), n_buckets=3, window=16,
                    group=4, n_tiers=2, lags=[1], family="fused")
    snap = job.run(spark, seq)
    assert snap["complete"]
    got = sorted(
        (r["doc_id"], r["tier"], r["window_idx"], r["mean"],
         r["n_distinct"], r["hll_denom"])
        for r in spark.read.parquet(
            str(tmp_path / "fstore" / "tier_data")).collect()
    )
    want = sorted(
        (r["doc_id"], r["tier"], r["window_idx"], r["mean"],
         r["n_distinct"], r["hll_denom"])
        for r in rollup_fused_tiers(seq, window=16, group=4,
                                    n_tiers=2, lags=[1]).collect()
    )
    assert got == want
    import pytest as _pytest

    with _pytest.raises(ValueError, match="unknown rollup family"):
        RollupJob(str(tmp_path / "x"), family="nope")


def test_rollup_job_gapped_input_equals_rollup_tiers(spark, tmp_path):
    """A gapped input (offsets/values, no token column) is recognised
    from its columns: RollupJob's committed rows equal rollup_tiers'
    over the same table bit for bit."""
    seq = gapped_sequences_df(spark, 12, gap_frac=0.3, partitions=2).cache()
    job = RollupJob(str(tmp_path / "store"), n_buckets=2, **SMALL)
    snap = job.run(spark, seq)
    assert snap["complete"] and snap["rows_read"] == 12
    want = rollup_tiers(seq, **SMALL)
    got = job.result(spark).drop("bucket")
    assert got.schema == want.schema
    assert _bits(got.toArrow()).equals(_bits(want.toArrow()))
    assert want.count() > 0
    seq.unpersist()


@pytest.mark.parametrize("family", ["alg", "quantile", "hll", "fused"])
def test_rollup_job_lineage_counters_every_family(spark, tmp_path, family):
    """Every family feeds the bucket manifest's lineage counters: rows
    read, windows emitted (= rows written) and the one corrupted token
    checksum."""
    from pyspark.sql import functions as F

    seq = sequences_df(spark, 8, binary=True).withColumn(
        "tok_checksum",
        F.when(F.col("doc_id") == "doc0000000003", F.col("tok_checksum") + 1)
        .otherwise(F.col("tok_checksum")),
    ).cache()
    store = str(tmp_path / "store")
    snap = RollupJob(store, n_buckets=2, window=16, group=4, n_tiers=2,
                     family=family).run(spark, seq)
    written = spark.read.parquet(os.path.join(store, "tier_data")).count()
    assert snap["rows_read"] == 8
    assert snap["checksum_mismatches"] == 1
    assert snap["windows_emitted"] == written > 0
    seq.unpersist()


def _bits(t: pa.Table) -> pa.Table:
    """``t`` sorted by its key, doubles as their int64 bit patterns."""
    t = t.sort_by([("doc_id", "ascending"), ("tier", "ascending"),
                   ("window_idx", "ascending")])
    cols = [c.combine_chunks() for c in t.columns]
    cols = [c.view(pa.int64()) if pa.types.is_float64(c.type) else c
            for c in cols]
    return pa.table(cols, names=t.column_names)


def _part_bytes(d) -> int:
    return sum(os.path.getsize(f) for f in glob.glob(os.path.join(d, "part-*")))


@pytest.mark.parametrize("family", ["alg", "quantile", "hll", "fused"])
def test_rollup_job_files_match_walker_and_spark_writer(spark, tmp_path, family):
    """The bucket files the walker tasks write read back as walk_tiers'
    rows bit for bit (doubles as int64 bits, blobs byte for byte) with
    its Spark schema, and take no more bytes than Spark's own parquet
    writer spends on the same rows in the same partitions."""
    seq = sequences_df(spark, 12, binary=True).cache()
    job = RollupJob(str(tmp_path / "store"), n_buckets=1, lags=[1],
                    family=family, **SMALL)
    snap = job.run(spark, seq)
    want = walk_tiers(seq, FAMILIES[family]([1]), **SMALL)
    got = job.result(spark).drop("bucket")
    assert got.schema == want.schema
    assert _bits(got.toArrow()).equals(_bits(want.toArrow()))

    want.write.parquet(str(tmp_path / "spark"))
    ours = _part_bytes(tmp_path / "store" / "tier_data" / "bucket=0")
    assert snap["output_bytes"] == ours
    assert 0 < ours <= _part_bytes(tmp_path / "spark")
    seq.unpersist()


def test_failed_attempt_leftovers_removed_before_commit(spark, tmp_path,
                                                        monkeypatch):
    """What a failed or retried task attempt leaves in the bucket
    directory (a finished part, a hidden half-written one) is gone
    before the bucket's manifest entry is published."""
    store = tmp_path / "store"
    walker = checkpoint._tier_walker

    def leaky_walker(*args, **kwargs):
        src, fn, schema = walker(*args, **kwargs)

        def fn_with_leftovers(batches):
            for d in glob.glob(str(store / "tier_data" / "bucket=*")):
                bucket = d.rsplit("=", 1)[1]
                if (store / "_manifest" / f"bucket_{bucket}.json").exists():
                    continue  # committed: this is not its job
                for name in ("part-09999-failed.parquet",
                             ".part-09998-failed.parquet"):
                    with open(os.path.join(d, name), "wb") as f:
                        f.write(b"torn")
            yield from fn(batches)

        return src, fn_with_leftovers, schema

    at_commit = {}
    commit = RollupJob._commit

    def listing_commit(self, entry):
        d = store / "tier_data" / f"bucket={entry['bucket']}"
        at_commit[entry["bucket"]] = os.listdir(d)
        commit(self, entry)

    monkeypatch.setattr(checkpoint, "_tier_walker", leaky_walker)
    monkeypatch.setattr(RollupJob, "_commit", listing_commit)
    seq = sequences_df(spark, 12, binary=True)
    job = RollupJob(str(store), n_buckets=2, **SMALL)
    snap = job.run(spark, seq)
    assert sorted(at_commit) == [0, 1]
    for names in at_commit.values():
        assert names and not [n for n in names if "failed" in n]
    assert job.result(spark).count() == snap["windows_emitted"] > 0


def test_bucket_without_windows_reads_back_with_walker_schema(spark, tmp_path):
    """Documents shorter than one window give no rows; the bucket still
    leaves one schema-only file, so the committed view and a plain read
    of the store both infer the walker's schema."""
    seq = sequences_df(spark, 4, binary=True)
    wide = dict(SMALL, window=1 << 20)
    job = RollupJob(str(tmp_path / "store"), n_buckets=2, **wide)
    snap = job.run(spark, seq)
    assert snap["complete"] and snap["windows_emitted"] == 0
    want = walk_tiers(seq, FAMILIES["alg"]([1, 2]), **wide).schema
    got = job.result(spark)
    assert got.count() == 0
    assert got.drop("bucket").schema == want
    store = spark.read.parquet(str(tmp_path / "store" / "tier_data"))
    assert store.drop("bucket").schema == want
    assert "bucket" in store.columns


def test_rollup_job_writes_the_session_parquet_codec(spark, tmp_path):
    """The bucket files use the session's parquet codec, as Spark's
    writer did; a codec pyarrow cannot write is refused up front."""
    key = "spark.sql.parquet.compression.codec"
    before = spark.conf.get(key)
    seq = sequences_df(spark, 4, binary=True)
    try:
        spark.conf.set(key, "zstd")
        RollupJob(str(tmp_path / "z"), n_buckets=1, **SMALL).run(spark, seq)
        files = glob.glob(str(tmp_path / "z" / "tier_data" / "bucket=0" / "part-*"))
        meta = pq.ParquetFile(files[0]).metadata
        assert meta.row_group(0).column(0).compression == "ZSTD"
        spark.conf.set(key, "lzo")
        with pytest.raises(ValueError, match="lzo"):
            RollupJob(str(tmp_path / "l"), n_buckets=1, **SMALL).run(spark, seq)
        assert not os.path.exists(tmp_path / "l" / "_manifest")
    finally:
        spark.conf.set(key, before)
