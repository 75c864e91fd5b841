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
- One Spark write rewrites every candidate, through the chunk store's
  one rewrite that ``deletion.delete_docs`` also runs. STAGE
  (``retention._stage_chunks``): one scan of all candidate chunks
  (``basePath``, so ``tier``/``chunk`` come back as partition columns)
  in the store's write shape, ``retention._write_chunks`` — a shuffle
  on (tier, chunk), plus ``pmod(xxhash64(doc_id), target_files)`` when
  ``target_files > 1``, and a local sort on (tier, chunk, doc_id,
  window_idx) — into the hidden ``<store>/_compact_stage/``. The Spark
  job count does not grow with the candidate count; a fresh
  ``write_tier_chunked`` store has no candidates and runs no job.
- SWAP (``retention._swap_chunks``): the driver moves each staged chunk
  in with the ``tablefs`` directory swap. A crash leaves each chunk its
  original or its compacted version; one caught between the two
  renames is restored, and a leftover stage dropped, by
  ``_recover_store``, which the next invocation runs first.
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
import time

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession, functions as F

from pyhctsa_spark.operators import tablefs
from pyhctsa_spark.operators.retention import (
    _chunk_dirs,
    _parquet_parts,
    _part_stats,
    _recover_store,
    _stage_chunks,
    _swap_chunks,
)

_LOG_SCHEMA = pa.schema([
    ("tier", pa.int32()), ("chunk", pa.int64()),
    ("files_before", pa.int64()), ("bytes_before", pa.int64()),
    ("files_after", pa.int64()), ("bytes_after", pa.int64()),
    ("rows", pa.int64()), ("compacted_at", pa.float64()),
])
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
    keys = ((F.pmod(F.xxhash64("doc_id"), F.lit(target_files)),)
            if target_files > 1 else ())
    stage = _stage_chunks(
        spark.read.option("basePath", path).parquet(*(d for *_, d in cands)),
        path, keys=keys)
    now = time.time()
    rows = []
    for tier, chunk, d in cands:
        staged = os.path.join(stage, f"tier={tier}", f"chunk={chunk}")
        files_before, bytes_before = _part_stats(d)
        files_after, bytes_after = _part_stats(staged)
        rows.append({
            "tier": tier,
            "chunk": chunk,
            "files_before": files_before,
            "bytes_before": bytes_before,
            "files_after": files_after,
            "bytes_after": bytes_after,
            "rows": sum(
                pq.read_metadata(f).num_rows for f in _parquet_parts(staged)
            ),
            "compacted_at": now,
        })
    tablefs.append_rows(os.path.join(path, "_compaction_log"), rows,
                        _LOG_SCHEMA)
    _swap_chunks(path, [(t, c) for t, c, _ in cands])
    return rows


def compaction_log(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(os.path.join(path, "_compaction_log"))
