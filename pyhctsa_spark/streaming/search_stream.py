"""Streaming full-text indexing: continuous maintenance of the
persistent inverted index (operators/search_index) over an ingest
stream, so retrieval stays current without ever re-indexing the corpus.

Per micro-batch (``foreachBatch``):

  1. sink append — the batch's documents land in the sink partitioned
     by ``batch`` with dynamic partition overwrite (exactly-once under
     replays: a redelivered batch rewrites its own ``batch=N``
     directory);
  2. index append — ``append_to_search_index`` with the stream's
     ``batch_id`` (delta-proportional: postings and df partials are
     added, stats merged, all in one commit).

Exactly-once contract. Unlike the MinHash index (where a replayed
append only duplicates band rows, harmless to probes), a replayed
SEARCH-index append is NOT harmless: duplicated postings double df_t
and the corpus stats for that batch, which skews every BM25 score. The
index's snapshot table closes that gap: the batch id is committed in
the same manifest publish as the batch's rows, so a crash before the
publish leaves nothing of the batch in the index, and a redelivery of
a committed batch is skipped before it touches the sink.

The reference has no streaming or search surface (SURVEY.md §2.0); this
extends the engine-native streaming family (rollup, exact dedup,
near-dup screen, cagg) with continuous retrieval-index maintenance.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.streaming import StreamingQuery

from pyhctsa_spark.operators import tablefs
from pyhctsa_spark.operators.search_index import append_to_search_index

DOC_STREAM_SCHEMA = "doc_id long, text string, source string"


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
    and tests. Idempotent per ``batch_id`` (see module docstring)."""
    _sink_and_append(
        batch_df, batch_id, index_path, sink_dir,
        append=lambda b: append_to_search_index(
            b, index_path, text_col=text_col, id_col=id_col,
            batch_id=batch_id,
        ),
    )


def _sink_and_append(
    batch_df: DataFrame,
    batch_id: int,
    index_path: str,
    sink_dir: str,
    append,
) -> None:
    """The batch body shared by the search and vector streams: skip a
    batch the index already committed, sink the batch, then
    ``append(batch)`` to the index (which commits ``batch_id`` with the
    rows)."""
    if tablefs.SnapshotTable(index_path).committed(batch_id):
        return
    batch_df = batch_df.persist()
    # sink, exactly-once via batch-partition overwrite
    (
        batch_df.withColumn("batch", F.lit(int(batch_id)))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch")
        .parquet(sink_dir)
    )
    if batch_df.limit(1).count():
        append(batch_df)
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
