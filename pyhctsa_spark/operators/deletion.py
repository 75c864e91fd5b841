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
3. REWRITE: the touched partitions are read back (basePath listing of
   just those directories), filtered, and written in the chunk store's
   one write shape (``retention._write_chunks``: one sorted file per
   chunk) with DYNAMIC partition overwrite — untouched chunks are never
   opened, and a crash mid-job leaves every original partition intact
   (job-commit atomicity of dynamic partition overwrite).
4. SWEEP: a chunk whose every row belonged to doomed docs produces no
   output rows, so dynamic overwrite cannot replace it — those now
   fully-dead directories are removed explicitly afterwards.

The whole operation touches O(|touched chunks|) data regardless of
store size.
"""

from __future__ import annotations

import os
import shutil
import time

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.pandas.types import from_arrow_schema

from pyhctsa_spark.operators import tablefs
from pyhctsa_spark.operators._local_df import key_set_filter
from pyhctsa_spark.operators.retention import _write_chunks

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
        dirs[:] = [d for d in dirs if not d.startswith("_")]
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
    if not ids or not _store_has_data(path):
        return {"touched_chunks": [], "rows_deleted": 0,
                "chunks_removed": []}
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
        return {"touched_chunks": [], "rows_deleted": 0,
                "chunks_removed": []}
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
    paths = [
        os.path.join(path, f"tier={t}", f"chunk={c}") for t, c in touched
    ]
    sub = spark.read.option("basePath", path).parquet(*paths)
    kept = key_set_filter(spark, sub, key, ids, keep=True)
    # chunks with survivors get rewritten; fully-dead ones are swept
    survivors = {
        (int(r["tier"]), int(r["chunk"]))
        for r in kept.select("tier", "chunk").distinct().collect()
    }
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode",
                          "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        if survivors:
            _write_chunks(kept, path)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    removed = []
    for t, c in touched:
        if (t, c) not in survivors:
            d = os.path.join(path, f"tier={t}", f"chunk={c}")
            shutil.rmtree(d, ignore_errors=True)
            removed.append((t, c))
    # same-session readers hold a cached file listing for this path;
    # the rewrite replaced files under them
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
    schema-less read."""
    ids = sorted({str(d) for d in doc_ids})
    if not _store_has_data(path):
        return 0
    store = spark.read.parquet(path)
    return key_set_filter(
        spark, store, F.col(id_col).cast("string"), ids
    ).count()
