"""Streaming full-text indexing: continuous maintenance of the
persistent inverted index (operators/search_index) over an ingest
stream, so retrieval stays current without ever re-indexing the corpus.

Per micro-batch (``foreachBatch``):

  1. sink append — the batch's documents land in the sink partitioned
     by ``batch`` with dynamic partition overwrite (exactly-once under
     replays: a redelivered batch rewrites its own ``batch=N``
     directory);
  2. index append — ``append_to_search_index`` (delta-proportional:
     postings append, df/stats merge through crash-recoverable swaps).

Exactly-once contract. Unlike the MinHash index (where a replayed
append only duplicates band rows, harmless to probes), a replayed
SEARCH-index append is NOT harmless: duplicated postings double df_t
and the corpus stats for that batch, which skews every BM25 score. So
the batch body brackets the index append with two markers:

    _stream_pending/<batch>   written BEFORE the index append
    _stream_commits/<batch>   written after everything succeeded

- commit marker present  -> the batch is done; a redelivery is a no-op.
- pending marker present without its commit -> a previous attempt
  crashed somewhere inside the index append; the body SELF-HEALS by
  running ``compact_search_index`` (drops duplicate (term, doc) rows
  and recomputes df/stats from the surviving postings) before
  re-appending — restoring exactness without operator intervention.
- neither -> first delivery, normal path.

The sink append itself is idempotent (partition overwrite), so it sits
safely before the pending marker.

The reference has no streaming or search surface (SURVEY.md §2.0); this
extends the engine-native streaming family (rollup, exact dedup,
near-dup screen, cagg) with continuous retrieval-index maintenance.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.streaming import StreamingQuery

from pyhctsa_spark.operators import tablefs
from pyhctsa_spark.operators.search_index import (
    append_to_search_index,
    compact_search_index,
)

DOC_STREAM_SCHEMA = "doc_id long, text string, source string"


def _marker(index_path: str, kind: str, batch_id: int) -> str:
    return os.path.join(index_path, kind, str(int(batch_id)))


def process_index_batch(
    batch_df: DataFrame,
    batch_id: int,
    *,
    index_path: str,
    sink_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> None:
    """The foreachBatch body, callable directly for batch-mode replays
    and tests. Idempotent per ``batch_id``; self-heals a crash-window
    replay by compacting before re-appending (see module docstring)."""
    _marked_index_batch(
        batch_df, batch_id, index_path, sink_dir,
        append=lambda b: append_to_search_index(
            b, index_path, text_col=text_col, id_col=id_col
        ),
        drop_batch=lambda b: compact_search_index(
            b.sparkSession, index_path,
            drop_ids=b.select(F.col(id_col).alias("doc_id")),
        ),
    )


def _marked_index_batch(
    batch_df: DataFrame,
    batch_id: int,
    index_path: str,
    sink_dir: str,
    append,
    drop_batch,
) -> None:
    """The exactly-once batch body shared by the search and vector
    streams: sink the batch, then ``append(batch)`` to the index between
    the pending and commit markers. ``drop_batch(batch)`` compacts the
    batch's own ids out of the index; it runs only on a replay of a
    batch whose earlier attempt crashed inside its append."""
    commit = _marker(index_path, "_stream_commits", batch_id)
    if os.path.exists(commit):
        return
    pending = _marker(index_path, "_stream_pending", batch_id)
    batch_df = batch_df.persist()

    # 1. sink, exactly-once via batch-partition overwrite
    (
        batch_df.withColumn("batch", F.lit(int(batch_id)))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch")
        .parquet(sink_dir)
    )

    # 2. index append, bracketed by the pending/commit markers
    if os.path.exists(pending):
        # a previous attempt died inside its append — some of the
        # batch's rows (and, for the search index, possibly its df/stats
        # merge) may already be in the index. One compact that DROPS the
        # batch's own ids erases whatever the crashed attempt landed, so
        # the re-append below starts exact.
        drop_batch(batch_df)
    tablefs.publish(pending, "x")
    if batch_df.limit(1).count():
        append(batch_df)
    tablefs.publish(commit, "x")
    batch_df.unpersist()


def stream_search_indexing(
    spark: SparkSession,
    source_dir: str,
    sink_dir: str,
    checkpoint_dir: str,
    index_path: str,
    *,
    schema: str = DOC_STREAM_SCHEMA,
    text_col: str = "text",
    id_col: str = "doc_id",
    available_now: bool = False,
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Start continuous indexing; returns the handle.

    ``index_path`` must hold an index built by ``build_search_index``
    — over the pre-existing corpus when bootstrapping a live pipeline,
    or over an empty DataFrame to start from nothing."""
    def _body(bdf: DataFrame, bid: int) -> None:
        process_index_batch(
            bdf, bid,
            index_path=index_path, sink_dir=sink_dir,
            text_col=text_col, id_col=id_col,
        )

    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    docs = reader.parquet(source_dir)
    writer = (
        docs.writeStream.foreachBatch(_body)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
