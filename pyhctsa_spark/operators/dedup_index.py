"""Persistent MinHash-LSH index for INCREMENTAL near-duplicate
detection — the "daily crawl delta" shape: index the corpus once, then
screen each new batch against it without re-shingling or re-shuffling
the indexed documents.

Layout under ``path`` (a ``tablefs.SnapshotTable``: every write adds
a ``gen=G`` directory and commits it by publishing the manifest):

    sigs/gen=G/    (doc_id, minhash_sig: array<bigint>)   one row per doc
    bands/gen=G/   (band_id: int, band_hash: bigint, doc_id)  bands x docs
    _MANIFEST.json live generations, props {num_hashes, bands,
                   rows_per_band, shingle_k, threshold, id_type},
                   last committed stream batch

Scale contract (what makes this the 100 TB shape):

- ``build_minhash_index`` is the one corpus-sized pass: shingle ->
  64 partial min-aggregates (identical to operators/dedup.py's
  signatures — the shuffle carries 64 longs per doc, never text).
- ``query_minhash_index`` never shuffles the index. The delta's band
  table is explicitly ``F.broadcast`` against the ``bands/`` scan
  (candidate generation is a map-side hash probe over the index), and
  candidate texts for the exact-Jaccard verify are fetched from the
  base table with a broadcast semi-join — so probe cost is one index
  scan + one base scan, both map-side, with shuffles bounded by the
  DELTA (its shingle table and the candidate pairs), never the corpus.
  A daily 0.1% delta against a 100 TB index probes at scan speed.
- ``append_to_minhash_index`` adds the delta's sigs/bands as a new
  generation — no read-modify-write of existing index files, so
  repeated appends are cheap; a crashed append commits nothing, and a
  stream's ``batch_id`` makes a replayed append a no-op.

Verification is EXACT shingle Jaccard (like dedup.minhash_verified_pairs):
the index prunes the pair space; every surviving candidate is verified
pair-locally against the true Jaccard of its distinct k-shingle sets,
so output values are estimator-free and oracle-able.

No reference counterpart: pyhctsa has no dedup surface (SURVEY §2.0);
this is training-data-pipeline infrastructure, the incremental sibling
of operators/dedup.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from pyhctsa_spark.operators import tablefs
from pyhctsa_spark.operators.dedup import (
    _rep_election,
    _shingle_df,
    derive_lsh_banding,
    minhash_signatures,
)


def _band_table(
    sig_df: DataFrame, id_col: str, bands: int, rows_per_band: int
) -> DataFrame:
    """(band_id, band_hash, id) LSH band tuples for a signature table —
    the same banding expression as dedup.minhash_lsh_candidates, kept
    bit-identical so an index built here and an ad-hoc in-memory LSH
    run agree bucket-for-bucket."""
    return sig_df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.struct(
                    b.cast("int").alias("band_id"),
                    F.xxhash64(
                        F.slice(
                            F.col("minhash_sig"),
                            b * rows_per_band + 1,
                            rows_per_band,
                        )
                    ).alias("band_hash"),
                ),
            )
        ).alias("band"),
    ).select("band.band_id", "band.band_hash", "doc_id")


def build_minhash_index(
    df: DataFrame,
    path: str,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int | None = None,
    shingle_k: int = 3,
    threshold: float = 0.3,
    target_recall: float = 0.95,
    collapse_exact: bool = True,
) -> dict:
    """Build the persistent index over ``df``; returns the meta dict.

    Banding is derived from ``threshold`` (recall >= ``target_recall``
    at the threshold, dedup.derive_lsh_banding) unless ``bands`` is
    passed explicitly. One corpus pass: the signature aggregation; the
    band table is a projection of it.

    ``collapse_exact`` (default on, same contract as
    minhash_verified_pairs): signatures depend only on content, so the
    shingle+signature aggregation runs over one REPRESENTATIVE per
    exact-duplicate content group and the per-doc signature rows are
    recovered by joining the member map back (optimization r6, guide
    §2.3 — on a crawl-shaped corpus the signature pipeline's explode
    volume drops by the duplicate multiplicity; the one extra shuffle
    is the md5-content window every exact-dedup already pays). The
    index layout is unchanged: one sigs row and band rows per document.
    Disable for corpora known duplicate-free to skip the collapse
    window.
    """
    if bands is None:
        bands, rpb = derive_lsh_banding(num_hashes, threshold, target_recall)
    else:
        if num_hashes % bands:
            raise ValueError(f"{bands} bands do not divide {num_hashes}")
        rpb = num_hashes // bands
    if collapse_exact:
        eligible = df.select(F.col(id_col), F.col(text_col)).where(
            F.size(F.split(F.col(text_col), " ")) >= shingle_k
        )
        with_rep = _rep_election(eligible, text_col, id_col)
        members = with_rep.select(F.col(id_col), F.col("_rep"))
        reps = with_rep.where(F.col(id_col) == F.col("_rep")).select(
            id_col, text_col
        )
        sh = _shingle_df(reps, text_col, id_col, shingle_k).persist()
        rep_sigs = (
            minhash_signatures(
                reps, text_col, id_col, num_hashes, shingle_k, shingles=sh
            )
            .withColumnRenamed(id_col, "_rep")
            # materialized so the planner sees the real (distinct-
            # content-sized) table and broadcasts it into the member
            # join when it fits — degrades to a shuffle join, never a
            # broadcast OOM, when the distinct corpus is genuinely huge
            .localCheckpoint(eager=True)
        )
        sigs = members.join(rep_sigs, "_rep").select(
            id_col, "minhash_sig"
        ).persist()
    else:
        # persist the shingle table before the signature explode:
        # without the cache boundary, InferFiltersFromGenerate pushes a
        # size(sh)>0 predicate into the scan and every shingle is BUILT
        # TWICE (measured 2x the whole build)
        sh = _shingle_df(df, text_col, id_col, shingle_k).persist()
        sigs = minhash_signatures(
            df, text_col, id_col, num_hashes, shingle_k, shingles=sh
        ).persist()
    meta = {
        "num_hashes": int(num_hashes),
        "bands": int(bands),
        "rows_per_band": int(rpb),
        "shingle_k": int(shingle_k),
        "threshold": float(threshold),
        "id_type": df.select(id_col).schema[0].dataType.simpleString(),
    }
    table = tablefs.SnapshotTable(path)
    with table.writer() as man:
        man.update(tables={}, props=meta)
        _write_sigs(table, man, sigs, id_col, replace=True)
        table.commit(man)
    sigs.unpersist()
    sh.unpersist()
    if collapse_exact:
        with_rep.unpersist()
    return meta


def _write_sigs(table, man: dict, sigs: DataFrame, id_col: str,
                replace: bool) -> None:
    """Write a signature batch and its band table as the pending
    generation of ``sigs`` and ``bands``."""
    meta = man["props"]
    for name, out in (
        ("sigs", sigs),
        ("bands", _band_table(sigs, id_col, meta["bands"],
                              meta["rows_per_band"])),
    ):
        table.write(man, name, out, replace=replace)


def read_index_meta(path: str) -> dict:
    return tablefs.SnapshotTable(path).manifest()["props"]


def compact_minhash_index(
    spark: SparkSession,
    path: str,
    drop_ids: DataFrame | None = None,
    id_col: str = "doc_id",
) -> dict:
    """Rewrite the index as one generation: de-duplicate rows left by
    appends of an id already present and, when ``drop_ids`` is given,
    ERASE those documents from the index — the right-to-be-forgotten
    path (operators/deletion.py removes the documents; this removes
    their searchability). Both tables commit in one snapshot; an erasure
    drops the index's history in that commit, so no file still holds
    an erased id once it returns.

    Returns {table: (rows_before, rows_after)} lineage counts, the
    rows after summed from the written parquet footers.
    """
    table = tablefs.SnapshotTable(path)
    stats: dict = {}
    drops = (
        F.broadcast(drop_ids.select(F.col(id_col).alias("doc_id")).distinct())
        if drop_ids is not None else None
    )
    with table.writer() as man:
        for name, key in (("sigs", ["doc_id"]),
                          ("bands", ["band_id", "band_hash", "doc_id"])):
            df = table.read(spark, name, man)
            # one signature per doc: re-appended ids duplicate whole
            # rows, so any representative per key is exact
            clean = df.dropDuplicates(key)
            if drops is not None:
                clean = clean.join(drops, "doc_id", "left_anti")
            d = table.write(man, name, clean)
            stats[name] = (int(df.count()), tablefs.footer_rows(d))
        table.commit(man, keep_history=drop_ids is None)
    return stats


def append_to_minhash_index(
    df: DataFrame,
    path: str,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    batch_id: int | None = None,
) -> None:
    """Append a batch's signatures + bands to an existing index using
    the INDEX's own parameters (read from its props — a mismatched
    banding would silently miss every cross-batch pair), as one new
    generation. A stream passes its ``batch_id``: it is committed with
    the data, and a batch already committed is skipped. Caller
    contract: ids not already present (re-appending a doc duplicates
    its band rows; query-time pair dedup keeps results correct but
    wastes probes — compact_minhash_index cleans them up)."""
    table = tablefs.SnapshotTable(path)
    with table.writer() as man:
        if table.committed(batch_id, man):
            return
        meta = man["props"]
        sh = _shingle_df(df, text_col, id_col, meta["shingle_k"]).persist()
        sigs = minhash_signatures(
            df, text_col, id_col, meta["num_hashes"], meta["shingle_k"],
            shingles=sh,
        ).persist()
        _write_sigs(table, man, sigs, id_col, replace=False)
        if batch_id is not None:
            man["last_batch"] = batch_id
        table.commit(man)
        sigs.unpersist()
        sh.unpersist()


def query_minhash_index(
    delta: DataFrame,
    path: str,
    base: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float | None = None,
    cleanup: list | None = None,
) -> DataFrame:
    """Near-dup pairs between ``delta`` docs and the indexed corpus:
    (d1 = indexed doc, d2 = delta doc, jaccard), exact shingle Jaccard
    >= ``threshold`` (defaults to the index's build threshold).

    ``base`` is the same table the index was built over (and appended
    from) — candidate texts for the exact verify are fetched from it by
    a broadcast semi-join on the candidate ids, so the index itself
    never stores text. Self-matches (a delta doc already present in the
    index under the same id) are excluded.

    Plan shape: index ``bands/`` scan joined map-side against the
    broadcast delta band table; every shuffle in the plan is bounded by
    the delta and its candidates.

    The delta shingle table and the candidate pair table are persisted
    (each feeds two consumers). One-shot callers can ignore that; a
    caller probing REPEATEDLY in one session (the streaming screen)
    passes ``cleanup=[]`` and unpersists the collected DataFrames once
    the result is materialized, so per-batch cache does not accumulate.
    """
    spark: SparkSession = delta.sparkSession
    table = tablefs.SnapshotTable(path)
    man = table.manifest()
    meta = man["props"]
    if threshold is None:
        threshold = float(meta["threshold"])
    k = int(meta["shingle_k"])

    # delta-side: shingle once (feeds signatures AND the verify join)
    d_sh = _shingle_df(delta, text_col, id_col, k).persist()
    d_sigs = minhash_signatures(
        delta, text_col, id_col, meta["num_hashes"], k, shingles=d_sh
    )
    d_bands = _band_table(
        d_sigs, id_col, meta["bands"], meta["rows_per_band"]
    ).withColumnsRenamed({"doc_id": "d2", "band_hash": "bh2"})

    idx_bands = table.read(spark, "bands", man)
    cands = (
        idx_bands.join(
            F.broadcast(d_bands),
            (idx_bands["band_id"] == d_bands["band_id"])
            & (idx_bands["band_hash"] == d_bands["bh2"])
            & (idx_bands["doc_id"] != d_bands["d2"]),
        )
        .select(idx_bands["doc_id"].alias("d1"), "d2")
        .dropDuplicates(["d1", "d2"])
    )
    # the candidate table (delta-bounded) feeds both the id fetch and
    # the verify join — persist it so the INDEX is scanned once, not
    # once per consumer
    cands = cands.persist()
    if cleanup is not None:
        cleanup.extend([d_sh, cands])

    # fetch candidate index-doc texts from the base table: broadcast
    # semi-join (candidates are delta-bounded), then shingle just those
    cand_ids = cands.select(F.col("d1").alias(id_col)).distinct()
    cand_docs = base.join(F.broadcast(cand_ids), id_col, "left_semi")
    b_sh = _shingle_df(cand_docs, text_col, id_col, k)

    a = b_sh.select(F.col(id_col).alias("d1"), F.col("sh").alias("sh_a"))
    b = d_sh.select(F.col(id_col).alias("d2"), F.col("sh").alias("sh_b"))
    ic = F.size(F.array_intersect("sh_a", "sh_b"))
    jac = ic / (F.size("sh_a") + F.size("sh_b") - ic).cast("double")
    return (
        cands.join(a, "d1")
        .join(b, "d2")
        .select("d1", "d2", jac.alias("_j"))
        .where(F.col("_j") >= float(threshold))
        .select("d1", "d2", F.round("_j", 6).alias("jaccard"))
    )
