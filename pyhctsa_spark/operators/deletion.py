"""Deletion propagation over the materialized tier store: erase every
window of a set of documents (GDPR / right-to-be-forgotten) by
rewriting ONLY the (tier, chunk) partitions that contain them.

Why this is a first-class operator and not "just a filter": the rollup
store is the long-lived artifact — raw tokens age out under retention,
so erasure requests must be applied to the materialized aggregates
themselves. Because every store row is keyed by doc_id (windows of
different docs never mix, at any tier), deletion is EXACT on the
aggregate store: no partial states need re-aggregation.

Scale shape:

1. PROBE: find touched (tier, chunk) partitions with a column-pruned
   scan of doc_id (+ the partition columns) — parquet row-group
   statistics skip files whose doc_id range cannot contain a doomed id.
   The doomed set is a literal IN up to ``IN_LIST_MAX_KEYS`` ids and a
   broadcast join above (``_local_df.key_set_filter``).
2. AUDIT: one `_deletion_log` row per (doc, tier, chunk) is appended
   by ``tablefs.append_rows`` BEFORE any data is touched (same
   log-before-delete contract as retention.apply_retention) — a crash
   mid-run can leave a logged but incomplete erasure, never an unlogged
   one; re-running converges.
3. REWRITE through the chunk store's one rewrite, compaction's: STAGE
   (``retention._stage_chunks``) writes the touched chunks' surviving
   rows, read through the probe's own relation (partition pruning, no
   second listing or schema job), into the hidden ``_compact_stage/``;
   SWAP (``retention._swap_chunks``) moves each in with
   ``tablefs.replace_dir`` and removes a touched chunk left with no
   rows. Untouched chunks are never opened. A crash leaves each chunk
   its original or its rewrite; every run first repairs one caught
   between renames (``retention._recover_store``), so a re-run
   converges.

The whole operation touches O(|touched chunks|) data regardless of
store size.
"""

from __future__ import annotations

import glob
import os
import time

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.pandas.types import from_arrow_schema

from pyhctsa_spark.operators import tablefs
from pyhctsa_spark.operators._local_df import key_set_filter
from pyhctsa_spark.operators.retention import (
    _recover_store,
    _stage_chunks,
    _swap_chunks,
)

_LOG_SCHEMA = pa.schema([
    ("doc_id", pa.string()), ("tier", pa.int32()), ("chunk", pa.int64()),
    ("n_rows", pa.int64()), ("requested_at", pa.float64()),
])


def _store_has_data(path: str) -> bool:
    """True when any parquet data file remains under the store. A
    TOTAL erasure can sweep every chunk directory, and a bare
    spark.read.parquet on the emptied store raises
    UNABLE_TO_INFER_SCHEMA — the callers must treat that state as
    'zero rows', not crash."""
    for root, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        if any(f.endswith(".parquet") for f in files):
            return True
    return False


def delete_docs(
    spark: SparkSession,
    path: str,
    doc_ids: list[str],
    id_col: str = "doc_id",
) -> dict:
    """Erase all rows of ``doc_ids`` from the (tier, chunk)-partitioned
    store at ``path``. Returns {touched_chunks, rows_deleted,
    chunks_removed}. Idempotent: re-running with the same ids is a
    no-op (including on a store a prior total erasure fully emptied)."""
    ids = sorted({str(d) for d in doc_ids})
    nothing = {"touched_chunks": [], "rows_deleted": 0, "chunks_removed": []}
    if not ids:
        return nothing
    _recover_store(path)
    if not _store_has_data(path):
        return nothing
    store = spark.read.parquet(path)
    key = F.col(id_col).cast("string")
    doomed = key_set_filter(spark, store, key, ids)
    # PROBE: per-(doc, tier, chunk) row counts — doubles as the audit
    # payload. Column-pruned: only id + partition columns are read.
    probe = (
        doomed.groupBy(id_col, "tier", "chunk")
        .agg(F.count("*").alias("n_rows"))
        .collect()
    )
    if not probe:
        return nothing
    now = time.time()
    log_rows = [
        {"doc_id": str(r[id_col]), "tier": int(r["tier"]),
         "chunk": int(r["chunk"]), "n_rows": int(r["n_rows"]),
         "requested_at": now}
        for r in probe
    ]
    # AUDIT before any mutation
    tablefs.append_rows(os.path.join(path, "_deletion_log"), log_rows,
                        _LOG_SCHEMA)
    touched = sorted({(int(r["tier"]), int(r["chunk"])) for r in probe})
    in_touched = F.format_string("%d/%d", "tier", "chunk").isin(
        [f"{t}/{c}" for t, c in touched])
    _stage_chunks(
        key_set_filter(spark, store.where(in_touched), key, ids, keep=True),
        path)
    removed = _swap_chunks(path, touched)
    # same-session readers hold a cached file listing for this path;
    # the swap replaced directories under them
    spark.catalog.refreshByPath(path)
    return {
        "touched_chunks": touched,
        "rows_deleted": int(sum(r["n_rows"] for r in log_rows)),
        "chunks_removed": removed,
    }


def deletion_log(spark: SparkSession, path: str) -> DataFrame:
    """The erasure audit trail (may contain rows for re-run requests —
    duplicates are the idempotence record, not an error)."""
    return spark.read.schema(from_arrow_schema(_LOG_SCHEMA)).parquet(
        os.path.join(path, "_deletion_log")
    )


def verify_erased(
    spark: SparkSession, path: str, doc_ids: list[str],
    id_col: str = "doc_id",
) -> int:
    """Compliance check: remaining row count for the given ids (0 after
    a completed erasure). Column-pruned + stats-skipped scan; a store a
    total erasure fully emptied verifies as 0 instead of crashing the
    schema-less read. Read-only, so it may run beside a rewrite: a
    chunk caught between a swap's two renames counts from its hidden
    old copy (``tablefs.stranded``)."""
    ids = sorted({str(d) for d in doc_ids})
    stranded = [p for t in glob.glob(os.path.join(glob.escape(path), "tier=*"))
                for p in tablefs.stranded(t)]
    reads = [spark.read.parquet(path)] if _store_has_data(path) else []
    reads += [spark.read.parquet(*stranded)] if stranded else []
    key = F.col(id_col).cast("string")
    return sum(key_set_filter(spark, df, key, ids).count() for df in reads)
