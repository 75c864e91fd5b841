"""Incremental MinHash-LSH index (operators/dedup_index.py): the
persisted index + delta probe must be output-equivalent to running the
in-memory verified-pairs pipeline over the union corpus and keeping the
cross (base x delta) pairs — the invariant that makes "index once,
screen every new batch" safe to substitute for full recomputation.
The value-level cross-engine check is the minhash_index_delta_pairs
catalog entry; these tests pin equivalence, append semantics, meta
validation, and the no-index-shuffle plan shape.
"""

import pytest
from pyspark.sql import functions as F

from pyhctsa_spark.operators.dedup import minhash_verified_pairs
from pyhctsa_spark.operators.dedup_index import (
    append_to_minhash_index,
    build_minhash_index,
    compact_minhash_index,
    query_minhash_index,
    read_index_meta,
)
from pyhctsa_spark.operators.tablefs import SnapshotTable

WORDS = ["alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta"]


def _mk_docs(spark, ids, mutate=()):
    """Deterministic docs; ids in ``mutate`` get one word changed from
    the doc with id-1 so near-dup (not exact) pairs exist."""
    rows = []
    for i in ids:
        base = i - 1 if i in mutate else i
        w = [
            WORDS[(base + j) % len(WORDS)] + str((base * 7 + j) % 23)
            for j in range(12 + (base * 5) % 9)
        ]
        if i in mutate:
            w[3] = "CHANGED" + str(i)
        rows.append((i, " ".join(w), f"src{i % 3}"))
    return spark.createDataFrame(rows, "doc_id long, text string, source string")


@pytest.fixture(scope="module")
def corpus(spark):
    # base: 0..39; delta: 40..59 where 41,45,53 are near-copies of
    # 40,44,52... but those are IN the delta — also plant near-copies
    # of BASE docs: ids 50..55 mutate from 49..54 (mix of base/delta
    # ancestry via id-1 chain is not what we want) — keep it simple:
    # delta ids 40..59; 41,45,53 near-dup their id-1 neighbor (39,44,52:
    # one base doc, two delta docs), plus exact copies by construction
    # whenever (i % 8, i*7 % 23, i*5 % 9) collide.
    base = _mk_docs(spark, range(40)).persist()
    delta = _mk_docs(spark, range(40, 60), mutate={41, 45, 53}).persist()
    return base, delta


def _pairs_set(df):
    return {
        (r["d1"], r["d2"], r["jaccard"]) for r in df.collect()
    }


def test_index_probe_equals_full_recompute(spark, corpus, tmp_path):
    base, delta = corpus
    path = str(tmp_path / "idx")
    build_minhash_index(base, path, threshold=0.3)
    got = _pairs_set(query_minhash_index(delta, path, base))

    full = minhash_verified_pairs(
        base.unionByName(delta), threshold=0.3, collapse_exact=False
    )
    # keep cross pairs only, oriented (d1=base, d2=delta)
    want = set()
    for r in full.collect():
        lo, hi = r["d1"], r["d2"]
        if lo < 40 <= hi:
            want.add((lo, hi, r["jaccard"]))
    assert got == want
    assert len(got) >= 1  # the planted near-dups actually show up


def test_append_extends_the_searchable_corpus(spark, corpus, tmp_path):
    base, delta = corpus
    path = str(tmp_path / "idx")
    build_minhash_index(base, path, threshold=0.3)
    append_to_minhash_index(delta, path)

    # a second batch: exact copies of one base doc and one delta doc
    d1 = base.where("doc_id = 7").withColumn("doc_id", F.lit(100).cast("long"))
    d2 = delta.where("doc_id = 41").withColumn(
        "doc_id", F.lit(101).cast("long")
    )
    batch2 = d1.unionByName(d2)
    got = query_minhash_index(
        batch2, path, base.unionByName(delta)
    )
    hits = {(r["d1"], r["d2"]): r["jaccard"] for r in got.collect()}
    assert hits[(7, 100)] == 1.0   # found in the original index
    assert hits[(41, 101)] == 1.0  # found in the APPENDED batch


def test_meta_roundtrip_and_derived_banding(tmp_path, spark, corpus):
    base, _ = corpus
    path = str(tmp_path / "idx")
    meta = build_minhash_index(base, path, threshold=0.3)
    assert read_index_meta(path) == meta
    # threshold 0.3 with 64 hashes derives 32x2 banding (recall >= .95)
    assert (meta["bands"], meta["rows_per_band"]) == (32, 2)
    assert meta["bands"] * meta["rows_per_band"] == meta["num_hashes"]
    assert meta["id_type"] == "bigint"


def test_bad_explicit_banding_rejected(spark, corpus, tmp_path):
    base, _ = corpus
    with pytest.raises(ValueError, match="do not divide"):
        build_minhash_index(base, str(tmp_path / "x"), bands=7)


def test_compact_dedupes_replayed_appends_and_erases(spark, corpus, tmp_path):
    base, delta = corpus
    path = str(tmp_path / "idx")
    build_minhash_index(base, path, threshold=0.3)
    # a crash-replayed append: the same batch lands twice
    append_to_minhash_index(delta, path)
    append_to_minhash_index(delta, path)
    table = SnapshotTable(path)
    bands = table.read(spark, "bands")
    dup_rows = bands.count()
    stats = compact_minhash_index(spark, path)
    assert stats["bands"][0] == dup_rows
    assert stats["bands"][1] < dup_rows  # duplicates gone
    clean = table.read(spark, "bands")
    assert clean.count() == clean.dropDuplicates().count()
    # probe results unchanged by compaction
    got = _pairs_set(query_minhash_index(
        base.where("doc_id = 7")
        .withColumn("doc_id", F.lit(100).cast("long")),
        path, base.unionByName(delta),
    ))
    assert (7, 100, 1.0) in got
    # erasure: doc 7 dropped from the index stops matching
    drop = spark.createDataFrame([(7,)], "doc_id long")
    compact_minhash_index(spark, path, drop_ids=drop)
    got2 = _pairs_set(query_minhash_index(
        base.where("doc_id = 7")
        .withColumn("doc_id", F.lit(100).cast("long")),
        path, base.unionByName(delta),
    ))
    assert all(d1 != 7 for d1, _d2, _j in got2)
    assert table.read(spark, "sigs").where("doc_id = 7").count() == 0


def test_probe_plan_never_shuffles_the_index(spark, corpus, tmp_path):
    """The bands/ scan must reach its join through a BroadcastHashJoin
    (delta side broadcast) — no Exchange between the index parquet scan
    and the candidate join, so probe cost stays one map-side index pass
    at any index size."""
    base, delta = corpus
    path = str(tmp_path / "idx")
    build_minhash_index(base, path, threshold=0.3)
    plan = query_minhash_index(delta, path, base)._jdf.queryExecution(
    ).executedPlan().toString()
    lines = plan.splitlines()
    # match the bands table by its column list — the Location path is
    # truncated at spark.sql.maxMetadataStringLength and pytest tmp_path
    # names routinely push the ".../bands" suffix past the cut
    scan_idx = [
        i for i, ln in enumerate(lines)
        if "FileScan parquet [band_id" in ln
    ]
    assert scan_idx, f"no bands scan in plan:\n{plan}"
    # walk up from the bands scan: the first join above it must be a
    # broadcast join, with no shuffle Exchange in between
    for i in scan_idx:
        seen_exchange = False
        for ln in reversed(lines[:i]):
            if "Exchange" in ln and "Broadcast" not in ln:
                seen_exchange = True
            if "BroadcastHashJoin" in ln:
                assert not seen_exchange, (
                    "shuffle Exchange between bands scan and its join:\n"
                    + plan
                )
                break
