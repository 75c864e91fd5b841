"""Targeted backfill of the materialized tier store: recompute and
replace the rollup rows of a SET of documents (an upstream fix — bad
tokenizer batch, corrected source data — without rebuilding the store).

Composition of the two store-surgery primitives the engine already
trusts:

1. ERASE the stale rows of the target docs (operators/deletion.
   delete_docs — audit-logged, touched-chunk-only stage-and-swap
   rewrite, each chunk its original or its rewrite after a crash);
2. RECOMPUTE their rollup from the corrected sequences (the normal
   shuffle-free tier pass over just those docs) and APPEND into the
   same (tier, chunk) partition layout — fresh part files land in the
   existing chunk directories, no live file is rewritten twice.

The defining contract, asserted in tests and by construction: after a
backfill the store is BIT-IDENTICAL to a from-scratch rebuild over the
corrected corpus — per-doc rows are independent at every tier, so
replacing a doc's rows is exact, never an approximation.

Appended small files are the compaction operator's job, same as
incremental ingest (retention.write_tier_chunked mode="append"). Cost
is O(touched chunks + recomputed docs) regardless of store size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from pyhctsa_spark.operators._local_df import key_set_filter
from pyhctsa_spark.operators.deletion import delete_docs
from pyhctsa_spark.operators.retention import write_tier_chunked


def backfill_docs(
    spark: SparkSession,
    path: str,
    corrected_seq: DataFrame,
    doc_ids: list[str],
    rollup_fn,
    chunk_windows: int = 64,
    id_col: str = "doc_id",
) -> dict:
    """Replace the store rows of ``doc_ids`` with rollups recomputed
    from ``corrected_seq`` (which must contain those docs' corrected
    sequences; extra docs are ignored). ``rollup_fn(seq_df) ->
    tier DataFrame`` is the same operator the store was built with
    (rollup_tiers / rollup_quantile_tiers / rollup_hll_tiers /
    rollup_fused_tiers — any (tier, window_idx) producer).

    Returns the deletion lineage plus the appended row count."""
    ids = sorted({str(d) for d in doc_ids})
    if not ids:
        return {"rows_deleted": 0, "rows_appended": 0,
                "touched_chunks": []}
    info = delete_docs(spark, path, ids, id_col=id_col)
    target = key_set_filter(
        spark, corrected_seq, F.col(id_col).cast("string"), ids
    )
    # localCheckpoint: the Arrow rollup scan over corrected_seq is the
    # dominant cost — count() then write would otherwise run it twice
    fresh = rollup_fn(target).localCheckpoint(eager=True)
    n_new = fresh.count()
    if n_new:
        write_tier_chunked(fresh, path, chunk_windows=chunk_windows,
                           mode="append")
    spark.catalog.refreshByPath(path)
    return {
        "rows_deleted": info["rows_deleted"],
        "rows_appended": int(n_new),
        "touched_chunks": info["touched_chunks"],
    }
