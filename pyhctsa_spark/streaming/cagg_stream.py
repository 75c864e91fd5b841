"""Streaming continuous aggregates: per-micro-batch snapshot-committed
incremental refresh.

``readStream`` on an events directory -> ``foreachBatch`` ->
``operators/cagg.CaggSnapshotStore.refresh``. Each micro-batch
partial-aggregates its own rows and merges them into the store's
touched chunks, committing the result as a new immutable generation
behind an atomically-published manifest. LATE events need no watermark
bookkeeping: a late row is just a touched chunk further back, merged by
the same associative state algebra
(merge(partial(A), partial(B)) == partial(A ∪ B)).

This is deliberately different from Spark's built-in stateful windowed
aggregation: the state lives in the STORE (readable by any batch query
mid-stream, survives the stream, retention/compaction-managed like any
chunked tier), not in the streaming state store; there is nothing to
expire, so no watermark-forced completeness/latency tradeoff. The
tradeoff accepted in exchange: per-batch refresh is read-merge-rewrite
of touched chunks, so batches should be seconds-to-minutes, not
per-record (exactly the continuous-aggregate cadence every TSDB uses).

Exactly-once: foreachBatch gives at-least-once delivery on retries; the
snapshot store closes the gap on BOTH sides of the commit —
- a batch id already in the committed manifest is skipped (redelivery
  after a successful commit);
- a crash BEFORE the manifest publish leaves the previous manifest (and
  the chunk versions it references) untouched, so the replay recomputes
  from unchanged inputs; the orphaned generation directory is deleted
  when the next writer takes the lease. The search, vector and
  near-dup streams commit their batch ids through the same snapshot
  table (``tablefs.SnapshotTable``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from pyhctsa_spark.operators.cagg import CaggSnapshotStore


def stream_cagg(
    spark: SparkSession,
    source_dir: str,
    store_path: str,
    checkpoint_dir: str,
    schema: str = "event_id long, ts timestamp, user_id long, value double",
    on: str = "ts",
    by: list[str] | None = None,
    value_col: str = "value",
    window_micros: int = 30 * 60 * 1_000_000,
    chunk_windows: int = 48,
    available_now: bool = False,
    max_files_per_trigger: int | None = None,
    partial_fn=None,
    merge_fn=None,
) -> StreamingQuery:
    """Start the streaming refresh; returns the StreamingQuery handle.

    The store is created by the first batch; an existing snapshot store
    at ``store_path`` is resumed (its committed batch ids survive even
    a wiped streaming checkpoint). ``partial_fn``/``merge_fn`` plug any
    mergeable aggregate pair (default OHLC/moments; hist bins and HLL
    registers both stream through the same lifecycle — tested)."""
    store = CaggSnapshotStore(
        store_path, by=by, on=on, value_col=value_col,
        window_micros=window_micros, chunk_windows=chunk_windows,
        partial_fn=partial_fn, merge_fn=merge_fn,
    )

    def _refresh_batch(batch_df: DataFrame, batch_id: int) -> None:
        store.refresh(spark, batch_df, batch_id=int(batch_id))

    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    events = reader.parquet(source_dir)
    writer = (
        events.writeStream.foreachBatch(_refresh_batch)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
