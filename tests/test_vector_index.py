"""Persistent IVF vector-index lifecycle (operators/similarity.py):
build -> delta-append -> pruned probe -> erasure/compaction, completing
the persistent-index triad (MinHash dedup_index, BM25 search_index,
this). The invariants pinned here:

- an appended index answers full-probe queries bit-identically to
  brute force over the UNION corpus (the same standard the knn_ivf
  driver oracle enforces for the ad-hoc path);
- append assigns the delta with the index's OWN centroids, bit-equal
  to what the build assignment would produce for the same vectors;
- replayed appends are repaired by compaction; drop_ids erases vectors
  from searchability (crashes at the commit are in
  tests/test_snapshot_table.py).

The value-level cross-engine check is the knn_ivf_index_delta catalog
entry (same DuckDB brute-force-cosine oracle as knn_ivf).
"""

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from pyhctsa_spark.operators.similarity import (
    append_to_ivf_index,
    compact_ivf_index,
    ivf_write_index,
    knn_bruteforce,
    knn_ivf_index,
    read_ivf_meta,
)
from pyhctsa_spark.operators.tablefs import SnapshotTable

SF = "/root/testdata/sf0.001"


def _read(spark, path, name):
    """Sub-table ``name`` of the index at ``path`` (None when empty)."""
    return SnapshotTable(path).read(spark, name)


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet").cache()


@pytest.fixture(scope="module")
def split(emb):
    """base = 80% of the corpus, delta = the 20% 'daily batch'."""
    base = emb.where(F.col("vec_id") % 5 != 0).cache()
    delta = emb.where(F.col("vec_id") % 5 == 0).cache()
    return base, delta


def _topk(df):
    p = df.toPandas().sort_values(["qid", "rank"]).reset_index(drop=True)
    return p


def test_meta_written_and_roundtrips(spark, emb, tmp_path):
    path = str(tmp_path / "ivf")
    ivf_write_index(emb, path, num_centroids=8)
    meta = read_ivf_meta(path)
    assert meta["nlist"] <= 8 and meta["metric"] == "cosine"
    assert meta["dim"] == len(emb.first()["embedding"])
    # round 6: salt is derived from the corpus/list ratio (small index
    # -> one file per list); explicit override still honored
    assert meta["write_salt"] == 1
    assert 0.0 < meta["build_assign_cos_mean"] <= 1.0


def test_append_then_full_probe_equals_bruteforce(spark, emb, split,
                                                  tmp_path):
    base, delta = split
    path = str(tmp_path / "ivf")
    ivf_write_index(base, path, num_centroids=8)
    counters = append_to_ivf_index(delta, path)
    assert counters["appended"] == delta.count()
    # drift counter: the delta comes from the same distribution, so its
    # assign cosine sits near the build baseline
    assert 0.0 < counters["assign_cos_mean"] <= 1.0
    assert counters["build_assign_cos_mean"] > 0.0

    # the delta lands in the append heap; the partition tree is untouched
    assert _read(spark, path, "lists").count() == base.count()
    assert _read(spark, path, "lists_delta").count() == delta.count()

    q = emb.where(F.col("vec_id") < 5)
    nlist = read_ivf_meta(path)["nlist"]
    exact = _topk(knn_bruteforce(emb, q, k=3))
    full = _topk(knn_ivf_index(spark, path, q, k=3, nprobe=nlist))
    assert (exact.qid.to_numpy() == full.qid.to_numpy()).all()
    assert (exact.nid.to_numpy() == full.nid.to_numpy()).all()
    np.testing.assert_allclose(exact.cosine, full.cosine, rtol=1e-12)


def test_append_assignment_matches_build_centroids(spark, emb, split,
                                                   tmp_path):
    """The delta's cid per vector == argmax cosine against the INDEX's
    centroid table (recomputed here in numpy) — the bit-equality that
    makes partial-probe behavior identical whether a vector arrived at
    build time or by append."""
    base, delta = split
    path = str(tmp_path / "ivf")
    ivf_write_index(base, path, num_centroids=8)
    append_to_ivf_index(delta, path)
    cents = _read(spark, path, "centroids").orderBy("cid").toPandas()
    C = np.stack(cents.centroid.to_numpy())
    got = (
        _read(spark, path, "lists_delta")
        .join(delta.select(F.col("vec_id").alias("nid")), "nid", "semi")
        .select("nid", "cv", "cid")
        .toPandas()
    )
    assert len(got) == delta.count()
    M = np.stack(got.cv.to_numpy())
    expect = np.argmax(M @ C.T, axis=1)
    assert (got.cid.to_numpy() == expect).all()


def test_compact_repairs_replayed_append(spark, emb, split, tmp_path):
    base, delta = split
    path = str(tmp_path / "ivf")
    ivf_write_index(base, path, num_centroids=8)
    append_to_ivf_index(delta, path)
    append_to_ivf_index(delta, path)  # replay (crash-retry semantics)
    n_dup = (
        _read(spark, path, "lists").count()
        + _read(spark, path, "lists_delta").count()
    )
    assert n_dup == base.count() + 2 * delta.count()
    stats = compact_ivf_index(spark, path)
    assert stats["lists"] == (n_dup, emb.count())
    # compaction folded the heap into the partition tree
    assert _read(spark, path, "lists_delta") is None
    assert _read(spark, path, "lists").count() == emb.count()
    # post-compact full probe still exact
    q = emb.where(F.col("vec_id") < 3)
    nlist = read_ivf_meta(path)["nlist"]
    exact = _topk(knn_bruteforce(emb, q, k=3))
    full = _topk(knn_ivf_index(spark, path, q, k=3, nprobe=nlist))
    assert (exact.nid.to_numpy() == full.nid.to_numpy()).all()


def test_compact_erases_vectors(spark, emb, split, tmp_path):
    """drop_ids is the right-to-be-forgotten path: erased vectors must
    vanish from every subsequent result, and the survivors' answers
    must equal brute force over the surviving corpus."""
    base, delta = split
    path = str(tmp_path / "ivf")
    ivf_write_index(base, path, num_centroids=8)
    append_to_ivf_index(delta, path)
    stats = compact_ivf_index(spark, path, drop_ids=delta.select("vec_id"))
    assert stats["lists"][1] == base.count()
    q = base.where(F.col("vec_id") < 7)
    nlist = read_ivf_meta(path)["nlist"]
    exact = _topk(knn_bruteforce(base, q, k=3))
    full = _topk(knn_ivf_index(spark, path, q, k=3, nprobe=nlist))
    assert (exact.nid.to_numpy() == full.nid.to_numpy()).all()
    dropped = set(r["vec_id"] for r in delta.select("vec_id").collect())
    assert not (set(full.nid) & dropped)


def test_append_heap_is_small_and_folds_away(spark, emb, split, tmp_path):
    """The LSM contract: an append writes O(delta-bytes) files into the
    heap — NEVER one file per touched list in the partition tree (the
    tiny-file rot that kills repeated appends at nlist in the
    thousands) — and compaction leaves the heap empty with every row
    in the cid= layout."""
    base, delta = split
    path = str(tmp_path / "ivf")
    ivf_write_index(base, path, num_centroids=8)
    table = SnapshotTable(path)
    lists_dir = os.path.join(path, "lists")
    tree_files0 = sum(len(fs) for _, _, fs in os.walk(lists_dir))

    append_to_ivf_index(delta, path)
    # partition tree untouched; heap holds O(delta/0.5GB) files -> 1 here
    assert sum(len(fs) for _, _, fs in os.walk(lists_dir)) == tree_files0
    (heap_gen,) = table.manifest()["tables"]["lists_delta"]
    heap_dir = os.path.join(path, "lists_delta", heap_gen)
    heap_files = [f for f in os.listdir(heap_dir) if f.endswith(".parquet")]
    assert len(heap_files) == 1
    # heap rows carry cid as a data column (probe-side filterable)
    heap = spark.read.parquet(heap_dir)
    assert heap.where(F.col("cid").isNull()).count() == 0

    compact_ivf_index(spark, path)
    assert table.manifest()["tables"]["lists_delta"] == []
    (lists_gen,) = table.manifest()["tables"]["lists"]
    lists = table.read(spark, "lists")
    assert lists.count() == emb.count()
    assert all(
        f.startswith("cid=") or not f.endswith(".parquet")
        for f in os.listdir(os.path.join(lists_dir, lists_gen))
    )


def test_probe_after_append_prunes_lists_on_cid(spark, emb, split,
                                                 tmp_path, monkeypatch):
    """With the build's lists and the append heap both live, the probe's
    lists scan still reads only the probed cid partitions."""
    from pyhctsa_spark.operators import similarity

    base, delta = split
    path = str(tmp_path / "ivf")
    ivf_write_index(base, path, num_centroids=8)
    append_to_ivf_index(delta, path)
    plans = []
    score = similarity._score_and_rank

    def recording(cand, k):
        plans.append(cand._jdf.queryExecution().executedPlan().toString())
        return score(cand, k)

    monkeypatch.setattr(similarity, "_score_and_rank", recording)
    knn_ivf_index(spark, path, emb.where(F.col("vec_id") < 2), k=3,
                  nprobe=1)
    (plan,) = plans
    lists_scan = [seg for seg in plan.split("FileScan")[1:]
                  if "PartitionFilters: [" in seg
                  and "PartitionFilters: []" not in seg]
    assert lists_scan and "cid" in \
        lists_scan[0].split("PartitionFilters:")[1][:200]
