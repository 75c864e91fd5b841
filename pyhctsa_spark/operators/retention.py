"""Retention-policy executor over time-chunked rollup tiers.

The missing third of "rollup + downsample + retention": actually aging
data OUT. The design constraint at 10^12 sequences is that eviction
must be a METADATA operation — dropping whole time-chunks — never a
row-level rewrite (a DELETE that rewrites 100 TB of parquet to expire
1% of it is a non-starter). This is the same chunk-drop model as
TimescaleDB's `drop_chunks` / Iceberg's partition-level delete:

- ``write_tier_chunked`` materializes a rollup tier partitioned by
  ``(tier, chunk)`` where ``chunk = window_idx // chunk_windows``.
  Directory-level partitioning gives readers free partition pruning
  (a window_idx range filter never opens expired-adjacent chunks) and
  gives retention a whole-directory unit of deletion. Each chunk is
  written by one task as one file sorted by (doc_id, window_idx), the
  same write shape compaction uses, so a fresh store has nothing to
  compact.
- ``tier_watermarks`` reads each tier's newest-chunk maximum from the
  ``window_idx`` statistics in the parquet footers, read with pyarrow
  in the calling process.
- ``apply_retention`` evicts every chunk strictly older than the
  per-tier horizon. Expiry is decided from partition VALUES (directory
  names) — no data files are opened. Each eviction appends a lineage
  row (tier, chunk, files, bytes, watermark, horizon, wall time) to a
  ``_retention_log`` parquet under the store, so an auditor can
  reconstruct what was dropped when. The row is one parquet part
  written by ``tablefs.append_rows``; the whole maintenance step runs
  no Spark job.
- Cascade-before-evict guard: tier k chunks may only be dropped if the
  coarser tier k+1 already COVERS their window range (the
  cascade_from_store output exists) — otherwise the summary of that
  period would be lost forever. ``force=True`` overrides (terminal
  tier / deliberate data deletion).

On a real warehouse the same executor maps 1:1 onto Iceberg
``DROP PARTITION`` / snapshot expiry; plain parquet directories are the
sandbox stand-in. Policy horizons are expressed in WINDOWS of the
tier's own resolution, so one policy object covers every tier: e.g.
{0: 7 * 24, 1: 90 * 24, 2: None} keeps 7 days of raw hourly windows,
90 days of 16x windows, and the 256x tier forever.
"""

from __future__ import annotations

import glob
import os
import shutil
import time
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession, functions as F

from pyhctsa_spark.operators import tablefs

_LOG_SCHEMA = pa.schema([
    ("tier", pa.int32()), ("chunk", pa.int64()), ("n_files", pa.int64()),
    ("bytes", pa.int64()), ("watermark_widx", pa.int64()),
    ("horizon_windows", pa.int64()), ("evicted_at", pa.float64()),
])


@dataclass
class RetentionPolicy:
    """Per-tier horizons in windows of that tier's own resolution.

    ``horizons[tier] = None`` (or a missing tier) means keep forever.
    ``chunk_windows`` must match the layout written by
    ``write_tier_chunked``.
    """

    horizons: dict[int, int | None] = field(default_factory=dict)
    chunk_windows: int = 64
    tier_ratio: int = 16  # windows per parent window (1x -> 16x -> 256x)

    def cutoff_chunk(self, tier: int, watermark_widx: int) -> int | None:
        """First chunk that must be KEPT for ``tier`` given the current
        high-watermark window index; chunks strictly below it expire.
        None = nothing expires."""
        horizon = self.horizons.get(tier)
        if horizon is None:
            return None
        keep_from_widx = watermark_widx - int(horizon) + 1
        if keep_from_widx <= 0:
            return None
        # a chunk expires only when EVERY window in it is older than the
        # horizon: chunk_end = (c+1)*cw - 1 < keep_from_widx, i.e.
        # c < keep_from_widx // cw. (ceil here would over-evict the
        # boundary chunk when the horizon lands mid-chunk — its tail
        # windows are still live.)
        return keep_from_widx // self.chunk_windows


# Row order inside each chunk file: tight row-group statistics on doc_id
_SORT_COLS = ("doc_id", "window_idx")


def _write_chunks(
    df: DataFrame, path: str, mode: str = "overwrite", keys: tuple = (),
) -> None:
    """The one write shape of the chunk store: a shuffle on (tier,
    chunk) plus ``keys``, so each chunk's rows land in one task per
    distinct ``keys`` value, a local sort on (tier, chunk, *_SORT_COLS)
    and a write partitioned by (tier, chunk). (tier, chunk) lead the
    sort so the partitioned writer's required ordering is already met:
    it adds no second sort that could undo the ``_SORT_COLS`` order
    inside each file."""
    present = [c for c in _SORT_COLS if c in df.columns]
    (
        df.repartition("tier", "chunk", *keys)
        .sortWithinPartitions("tier", "chunk", *present)
        .write.mode(mode)
        .partitionBy("tier", "chunk")
        .parquet(path)
    )


_STAGE = "_compact_stage"


def _recover_store(path: str) -> None:
    """Drop a leftover stage (its live originals are intact) and repair
    every tier directory's swap leftovers: a chunk that crashed between
    the two renames has NO live ``chunk=`` directory, so no listing or
    read of the store would find it. Compaction and deletion run this
    before they list or read the store."""
    stage = os.path.join(path, _STAGE)
    if os.path.isdir(stage):
        shutil.rmtree(stage)
    for tdir in glob.glob(os.path.join(glob.escape(path), "tier=*")):
        tablefs.recover(tdir)


def _stage_chunks(df: DataFrame, path: str, keys: tuple = ()) -> str:
    """Stage step of the chunk store's one rewrite: write the new rows
    of the chunks being rewritten in the store's write shape into the
    hidden ``<path>/_compact_stage/`` (no ``=`` in the name, so Spark
    and ``_chunk_dirs`` never see it). Returns the stage directory."""
    stage = os.path.join(path, _STAGE)
    _write_chunks(df, stage, keys=keys)
    return stage


def _swap_chunks(path: str, chunks: list[tuple[int, int]]) -> list:
    """Swap step: move each staged chunk of ``chunks`` in over its live
    directory with ``tablefs.replace_dir``, remove each one that staged
    no rows, then drop the stage; returns the removed (tier, chunk)s.
    A crash leaves each chunk its original or its rewrite (a chunk that
    staged no rows may be part removed: all its rows were dropped
    rows); ``_recover_store`` puts back an original caught between
    the two renames."""
    stage = os.path.join(path, _STAGE)
    removed = []
    for t, c in chunks:
        part = os.path.join(f"tier={t}", f"chunk={c}")
        live = os.path.join(path, part)
        if os.path.isdir(os.path.join(stage, part)):
            tablefs.replace_dir(os.path.join(stage, part), live)
        else:
            shutil.rmtree(live)
            removed.append((t, c))
    shutil.rmtree(stage)
    return removed


def write_tier_chunked(
    tier_df: DataFrame, path: str, chunk_windows: int = 64,
    mode: str = "overwrite",
) -> None:
    """Materialize rollup tiers partitioned by (tier, chunk).

    ``chunk = window_idx // chunk_windows`` — the retention unit AND the
    pruning unit. Size it so one chunk is O(100 MB-1 GB) per tier at
    cluster scale (bigger chunks = fewer partitions to track, coarser
    eviction granularity).

    Each chunk is written by one task as one parquet file, its rows
    sorted by (doc_id, window_idx), so parquet row-group min/max
    statistics on doc_id are TIGHT — a doc-targeted read
    (deletion.delete_docs probe, per-doc backfill) then skips most row
    groups instead of scanning every chunk. This is compaction's write
    shape (``_write_chunks``), so a fresh store has no compaction
    candidates.

    ``mode="append"`` is the incremental-ingest path: fresh windows land
    in fresh chunk directories (time moves forward), so appends never
    rewrite history; each append adds one file per chunk it touches,
    which the compaction operator merges, and retention ages them out
    chunk-wise like any other data."""
    _write_chunks(
        tier_df.withColumn(
            "chunk",
            (F.col("window_idx") / F.lit(int(chunk_windows))).cast("long"),
        ),
        path, mode,
    )


def read_tier_chunked(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def _chunk_dirs(path: str) -> dict[int, dict[int, str]]:
    """{tier: {chunk: dir}} from the partition directory names only —
    no parquet file is opened."""
    out: dict[int, dict[int, str]] = {}
    for tdir in os.listdir(path):
        if not tdir.startswith("tier="):
            continue
        tier = int(tdir.split("=", 1)[1])
        tpath = os.path.join(path, tdir)
        for cdir in os.listdir(tpath):
            if not cdir.startswith("chunk="):
                continue
            chunk = int(cdir.split("=", 1)[1])
            out.setdefault(tier, {})[chunk] = os.path.join(tpath, cdir)
    return out


def _parquet_parts(d: str) -> list[str]:
    return [
        os.path.join(d, f)
        for f in os.listdir(d)
        if f.endswith(".parquet") and not f.startswith(("_", "."))
    ]


def _part_stats(d: str) -> tuple[int, int]:
    """(n_parts, bytes) over DATA files only — checksum side files and
    markers like _SUCCESS are excluded, so the retention and compaction
    logs count like with like."""
    parts = _parquet_parts(d)
    return len(parts), sum(os.path.getsize(p) for p in parts)


def _file_max_window_idx(f: str) -> int | None:
    """max(window_idx) of one parquet file from its footer's row-group
    statistics; a row group without min/max makes it read the column.
    None for a zero-row file or one without the column."""
    md = pq.read_metadata(f)
    names = [md.schema.column(i).path for i in range(md.num_columns)]
    if "window_idx" not in names:
        return None
    col = names.index("window_idx")
    maxes = []
    for g in range(md.num_row_groups):
        st = md.row_group(g).column(col).statistics
        if st is not None and st.has_min_max:
            maxes.append(st.max)
        elif md.row_group(g).num_rows:
            widx = pq.ParquetFile(f).read(columns=["window_idx"]).column(0)
            return pc.max(widx).as_py()
    return max(maxes, default=None)


def tier_watermarks(spark: SparkSession, path: str) -> dict[int, int]:
    """{tier: max window_idx} of the NEWEST chunk of each tier, read
    from the parquet footers of that chunk's files with pyarrow (see
    ``_file_max_window_idx``; files Spark skips, names starting with
    ``_`` or ``.``, are skipped too). No Spark job runs, and the cost
    stays O(one chunk's footers) per tier however large the store is.
    A tier whose newest chunk holds no rows is left out."""
    out = {}
    for tier, chunks in _chunk_dirs(path).items():
        d = chunks[max(chunks)]
        maxes = [_file_max_window_idx(os.path.join(d, f))
                 for f in os.listdir(d)
                 if not f.startswith(("_", "."))
                 and os.path.isfile(os.path.join(d, f))]
        maxes = [m for m in maxes if m is not None]
        if maxes:
            out[tier] = max(maxes)
    return out


def apply_retention(
    spark: SparkSession,
    path: str,
    policy: RetentionPolicy,
    watermark_widx: dict[int, int],
    force: bool = False,
) -> list[dict]:
    """Evict expired chunks; append lineage to ``<path>/_retention_log``.

    ``watermark_widx[tier]`` is the tier's current high-watermark window
    index (normally max(window_idx) of fresh ingest — passed in, not
    scanned, so the executor itself touches only directory metadata).

    Guard: a tier's chunks are dropped only when the NEXT tier's chunks
    cover the same window range (its last chunk index, scaled by the
    16x tier ratio, reaches past the evicted range) — the
    cascade-before-evict invariant. ``force=True`` skips the check.

    The lineage rows go to the log through ``tablefs.append_rows``, so
    the whole call runs no Spark job. Returns the lineage rows for this
    invocation.
    """
    layout = _chunk_dirs(path)
    now = time.time()
    # PLAN phase: evaluate every tier's cutoff AND its cascade guard
    # before deleting anything — a guard failure on a later tier must
    # abort the whole run with zero directories removed (otherwise the
    # earlier tiers' data would be gone before the log is written, and
    # the audit contract breaks)
    plan: list[tuple[int, int, list[int]]] = []
    for tier, chunks in sorted(layout.items()):
        wm = watermark_widx.get(tier)
        if wm is None:
            continue
        cut = policy.cutoff_chunk(tier, wm)
        if cut is None:
            continue
        doomed = sorted(c for c in chunks if c < cut)
        if not doomed:
            continue
        if not force:
            nxt = layout.get(tier + 1)
            if nxt is None:
                raise ValueError(
                    f"retention would drop tier {tier} chunks {doomed} but "
                    f"no coarser tier {tier + 1} exists to cover them — "
                    "run the cascade first or pass force=True"
                )
            # tier t+1 windows are tier_ratio x coarser: evicting tier-t
            # windows [0, W) needs tier t+1 coverage up to (W-1)//ratio.
            # Coverage is judged from partition VALUES (a present chunk
            # directory), a deliberately coarse metadata-only check.
            r = policy.tier_ratio
            need_widx = (cut * policy.chunk_windows - 1) // r
            have_widx = (max(nxt) + 1) * policy.chunk_windows - 1
            if have_widx < need_widx:
                raise ValueError(
                    f"retention would drop tier {tier} windows up to "
                    f"{cut * policy.chunk_windows - 1} but tier {tier + 1} "
                    f"only covers window_idx <= {have_widx} "
                    f"(need >= {need_widx}) — cascade before evicting"
                )
        plan.append((tier, wm, doomed))
    # EXECUTE phase: every guard passed. The audit row for each chunk
    # is written BEFORE its directory is removed — a crash mid-run can
    # leave a logged-but-still-present chunk (harmless: re-running the
    # policy evicts it again, and apply_retention tolerates duplicate
    # log rows), but never a deleted chunk with no audit record.
    evicted: list[dict] = []
    for tier, wm, doomed in plan:
        for c in doomed:
            d = layout[tier][c]
            n_files, n_bytes = _part_stats(d)
            evicted.append({
                "tier": tier,
                "chunk": c,
                "n_files": n_files,
                "bytes": n_bytes,
                "watermark_widx": wm,
                "horizon_windows": int(policy.horizons[tier]),
                "evicted_at": now,
            })
    tablefs.append_rows(os.path.join(path, "_retention_log"), evicted,
                        _LOG_SCHEMA)
    for tier, _wm, doomed in plan:
        for c in doomed:
            shutil.rmtree(layout[tier][c])
    return evicted


def retention_log(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(os.path.join(path, "_retention_log"))
