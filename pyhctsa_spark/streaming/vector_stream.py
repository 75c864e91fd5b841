"""Streaming vector indexing: continuous maintenance of the persistent
IVF index (operators/similarity) over an embedding ingest stream, so
ANN retrieval stays current without ever re-indexing the corpus.

Per micro-batch (``foreachBatch``):

  1. sink append — the batch's vectors land in the sink partitioned by
     ``batch`` with dynamic partition overwrite (exactly-once under
     replays: a redelivered batch rewrites its own ``batch=N``
     directory);
  2. index append — ``append_to_ivf_index`` (delta-proportional:
     map-side assignment against the index's own centroids, written to
     the cid-sorted LSM append heap).

Exactly-once contract, the search stream's batch body: a replayed IVF
append would duplicate (cid, nid) rows, and a duplicated neighbor
occupies two top-k slots — wrong results, not just waste. The append
commits the stream's ``batch_id`` in the same manifest publish as the
batch's heap rows, so a crash before the publish leaves nothing of the
batch in the index, and a redelivery of a committed batch is skipped.

Unlike the search index, the IVF index cannot bootstrap from an empty
corpus: the coarse quantizer needs training vectors. ``index_path``
must hold an index built by ``ivf_write_index`` over a representative
bootstrap corpus (the faiss train-then-add shape); the stream then
keeps it current. Quantizer drift across the stream is visible in the
append counters (assign_cos_mean vs the build baseline) — when it
falls, rebuild with fresh centroids and restart the stream.

The reference has no streaming or ANN surface (SURVEY.md §2.0); this
extends the engine-native streaming family (rollup, exact dedup,
near-dup screen, cagg, search) with continuous vector-index
maintenance.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from pyhctsa_spark.operators.similarity import append_to_ivf_index
from pyhctsa_spark.streaming.search_stream import _sink_and_append

VEC_STREAM_SCHEMA = "vec_id long, embedding array<double>"


def process_vector_batch(
    batch_df: DataFrame,
    batch_id: int,
    *,
    index_path: str,
    sink_dir: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> None:
    """The foreachBatch body, callable directly for batch-mode replays
    and tests. Idempotent per ``batch_id`` (see module docstring)."""
    _sink_and_append(
        batch_df, batch_id, index_path, sink_dir,
        append=lambda b: append_to_ivf_index(
            b, index_path, vec_col=vec_col, id_col=id_col,
            batch_id=batch_id,
        ),
    )


def stream_vector_indexing(
    spark: SparkSession,
    source_dir: str,
    sink_dir: str,
    checkpoint_dir: str,
    index_path: str,
    *,
    schema: str = VEC_STREAM_SCHEMA,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    available_now: bool = False,
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Start continuous vector indexing; returns the handle.

    ``index_path`` must hold an index built by ``ivf_write_index`` over
    a representative bootstrap corpus — the coarse quantizer trains at
    build time and every streamed batch is assigned against it."""
    def _body(bdf: DataFrame, bid: int) -> None:
        process_vector_batch(
            bdf, bid,
            index_path=index_path, sink_dir=sink_dir,
            vec_col=vec_col, id_col=id_col,
        )

    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    vecs = reader.parquet(source_dir)
    writer = (
        vecs.writeStream.foreachBatch(_body)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
