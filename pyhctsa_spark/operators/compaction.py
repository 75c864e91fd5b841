"""Chunk compaction for the (tier, chunk)-partitioned rollup store.

The other half of the chunk lifecycle (retention.py drops expired
chunks; this merges fragmented live ones). At 10^12 sequences the
chunked store accretes small files — every micro-batch / salt-bucket /
restart appends its own parquet part — and small files are the classic
scan killer: a 100 TB store made of 4 MB parts costs ~25M file opens
per full scan and swamps the NameNode/object-store listing.

Design (mirrors TimescaleDB ``compress_chunk`` / Iceberg ``rewrite_data_files``):

- Compaction unit = one (tier, chunk) partition directory — the same
  unit retention evicts, so the two never race across units.
- Candidate selection is METADATA-ONLY: a chunk qualifies when it has
  more than ``target_files`` parts AND at least one part below
  ``small_bytes`` (few-but-large parts are healthy and left alone).
  No parquet file is opened to decide.
- One Spark write rewrites every candidate: one scan of all candidate
  chunks (``basePath``, so ``tier``/``chunk`` come back as partition
  columns) through the chunk store's one write shape,
  ``retention._write_chunks``: a shuffle on (tier, chunk) — plus
  ``pmod(xxhash64(doc_id), target_files)`` when ``target_files > 1`` —
  so each chunk's rows land in at most ``target_files`` tasks, a local
  sort on (tier, chunk, doc_id, window_idx) for run-clustered scans
  downstream, and one partitioned write into the HIDDEN
  ``<store>/_compact_stage/`` (underscore-prefixed, so Spark partition
  discovery and _chunk_dirs never see it). The number of Spark jobs
  does not grow with the candidate count, so a backlog of many small
  chunks costs one job's fixed overhead, not one per chunk.
  ``write_tier_chunked`` writes the same shape, so a freshly written
  store has no candidates and compacting it runs no Spark job.
- The driver then moves each staged chunk in through the per-chunk
  ``tablefs.replace_dir`` swap. A crash during the staged write or
  before a chunk's swap leaves that chunk's original intact; after it,
  the compacted version; in the brief two-rename window,
  ``tablefs.recover`` restores the original on the next invocation,
  and ``_recover_store`` drops a leftover stage.
- Every rewrite appends a lineage row (tier, chunk, files/bytes before
  and after, rows, wall) to ``_compaction_log`` under the store, the
  same audit contract as ``_retention_log``. ``rows`` is summed from
  the staged parts' parquet footers and the row is appended by
  ``tablefs.append_rows`` (no Spark job for either), and the log is
  written BEFORE any swap: a crash can leave a logged chunk that the
  next run compacts and logs again, never a swapped chunk with no
  audit row.
"""

from __future__ import annotations

import os
import shutil
import time

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession, functions as F

from pyhctsa_spark.operators import tablefs
from pyhctsa_spark.operators.retention import (
    _chunk_dirs,
    _parquet_parts,
    _part_stats,
    _write_chunks,
)

_LOG_SCHEMA = pa.schema([
    ("tier", pa.int32()), ("chunk", pa.int64()),
    ("files_before", pa.int64()), ("bytes_before", pa.int64()),
    ("files_after", pa.int64()), ("bytes_after", pa.int64()),
    ("rows", pa.int64()), ("compacted_at", pa.float64()),
])
_STAGE = "_compact_stage"


def _recover_store(path: str) -> None:
    """Drop a leftover stage and repair every tier directory's swap
    leftovers. The sweep is needed because a chunk that crashed between
    the two renames has NO live ``chunk=`` directory, so candidate
    listing alone would never find it. A staged chunk not yet swapped
    is discarded: its live original is still intact."""
    if not os.path.isdir(path):
        return
    if os.path.exists(os.path.join(path, _STAGE)):
        shutil.rmtree(os.path.join(path, _STAGE))
    for tdir in os.listdir(path):
        if tdir.startswith("tier="):
            tablefs.recover(os.path.join(path, tdir))


def compaction_candidates(
    path: str, target_files: int = 1, small_bytes: int = 8 * 1024 * 1024
) -> list[tuple[int, int, str]]:
    """(tier, chunk, dir) for every chunk that compaction can improve:
    more parts than ``target_files`` AND at least one part below
    ``small_bytes``. A chunk already at/under the target part count is
    never a candidate (merging cannot reduce it further), and a chunk
    of few-but-LARGE parts is deliberately left alone — rewriting
    healthy gigabyte files buys nothing and costs a full chunk rewrite.
    Decided from directory listings only — no data file is opened."""
    out = []
    for tier, chunks in sorted(_chunk_dirs(path).items()):
        for chunk, d in sorted(chunks.items()):
            parts = _parquet_parts(d)
            if len(parts) > target_files and any(
                os.path.getsize(p) < small_bytes for p in parts
            ):
                out.append((tier, chunk, d))
    return out


def compact_chunks(
    spark: SparkSession,
    path: str,
    target_files: int = 1,
    small_bytes: int = 8 * 1024 * 1024,
    sort_cols: tuple[str, ...] = ("doc_id", "window_idx"),
) -> list[dict]:
    """Rewrite every fragmented (tier, chunk) partition into at most
    ``target_files`` sorted parquet parts; append lineage to
    ``<path>/_compaction_log``. Returns the lineage rows.

    One Spark write covers every candidate, however many there are.
    Idempotent: a second invocation finds no candidates and is a no-op.
    """
    _recover_store(path)
    cands = compaction_candidates(path, target_files, small_bytes)
    if not cands:
        return []
    stage = os.path.join(path, _STAGE)
    # live chunk dir -> where the one write stages its rewrite
    staged = {
        d: os.path.join(stage, f"tier={t}", f"chunk={c}") for t, c, d in cands
    }
    keys = ((F.pmod(F.xxhash64("doc_id"), F.lit(target_files)),)
            if target_files > 1 else ())
    _write_chunks(spark.read.option("basePath", path).parquet(*staged),
                  stage, keys=keys, sort_cols=sort_cols)
    now = time.time()
    rows = []
    for tier, chunk, d in cands:
        files_before, bytes_before = _part_stats(d)
        files_after, bytes_after = _part_stats(staged[d])
        rows.append({
            "tier": tier,
            "chunk": chunk,
            "files_before": files_before,
            "bytes_before": bytes_before,
            "files_after": files_after,
            "bytes_after": bytes_after,
            "rows": sum(
                pq.read_metadata(f).num_rows for f in _parquet_parts(staged[d])
            ),
            "compacted_at": now,
        })
    tablefs.append_rows(os.path.join(path, "_compaction_log"), rows,
                        _LOG_SCHEMA)
    for d, src in staged.items():
        tablefs.replace_dir(src, d)
    shutil.rmtree(stage)
    return rows


def compaction_log(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(os.path.join(path, "_compaction_log"))
