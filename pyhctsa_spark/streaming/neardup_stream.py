"""Streaming NEAR-duplicate dedup: continuous MinHash screening of an
ingest stream against the persistent LSH index (operators/dedup_index),
with survivors feeding both the sink and the index.

Per micro-batch (``foreachBatch``):

  1. intra-batch collapse — ``near_dup_clusters`` over the batch, keep
     the min-id representative per cluster (exact copies and in-batch
     near-dups never reach the index);
  2. index probe — ``query_minhash_index`` of the representatives
     against the stream's index; candidate texts come from the
     SURVIVING CORPUS SO FAR (the sink itself, plus the optional
     bootstrap corpus the index was pre-built over), so the verify is
     exact Jaccard, same semantics as the batch operator;
  3. survivors (no match >= threshold) are appended to the sink AND
     appended to the index, so later batches dedup against them.

Exactly-once contract under foreachBatch's at-least-once replays:

- The DECISION is replay-stable: intra-batch collapse is deterministic,
  a replayed batch's own earlier index appends can only produce
  id-equal self-matches (excluded by the probe) — cross-survivor
  matches within a batch cannot exist because connected components
  already collapsed them — so a replay computes the same survivor set.
- The SINK is exactly-once: survivors are written partitioned by
  ``batch`` with dynamic partition overwrite, so a replay rewrites the
  same ``batch=N`` directory instead of duplicating rows.
- The INDEX is exactly-once: the append commits the stream's
  ``batch_id`` in the same manifest publish as the batch's signature
  and band rows, so a crash before the publish leaves nothing of the
  batch in the index, and a committed batch id is skipped outright
  (redelivery after a successful commit). A batch with no survivors
  appends nothing and is simply recomputed on redelivery.

The reference has no streaming surface (SURVEY.md §2.0); this extends
the engine-native streaming family (rollup, exact dedup, cagg) with the
near-dup case — the screen a crawl pipeline runs continuously.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.streaming import StreamingQuery

from pyhctsa_spark.operators import tablefs
from pyhctsa_spark.operators.dedup import near_dup_clusters
from pyhctsa_spark.operators.dedup_index import (
    append_to_minhash_index,
    query_minhash_index,
    read_index_meta,
)

DOC_STREAM_SCHEMA = "doc_id long, text string, source string"


def process_neardup_batch(
    batch_df: DataFrame,
    batch_id: int,
    *,
    index_path: str,
    sink_dir: str,
    bootstrap: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float | None = None,
) -> None:
    """The foreachBatch body, callable directly for batch-mode replays
    and tests. Idempotent per ``batch_id`` (see module docstring)."""
    table = tablefs.SnapshotTable(index_path)
    if table.committed(batch_id):
        return
    spark = batch_df.sparkSession
    meta = read_index_meta(index_path)
    if threshold is None:
        threshold = float(meta["threshold"])

    # 1. intra-batch collapse: one representative per near-dup cluster;
    # every frame the chain persists is collected for post-commit
    # unpersist so a long-running stream's cache stays flat per batch
    probe_cache: list = []
    clusters = near_dup_clusters(
        batch_df, text_col=text_col, id_col=id_col,
        threshold=threshold, shingle_k=meta["shingle_k"],
        cleanup=probe_cache,
    )
    rep_ids = clusters.groupBy("cluster_id").agg(
        F.min(id_col).alias(id_col)
    )
    reps = batch_df.join(rep_ids, id_col, "left_semi").persist()

    # 2. probe against the indexed corpus; the surviving corpus so far
    # (sink + bootstrap) is the verify text source
    corpus: DataFrame | None = bootstrap
    try:
        sunk = spark.read.parquet(sink_dir).select(
            id_col, text_col
        )
        corpus = sunk if corpus is None else (
            corpus.select(id_col, text_col).unionByName(sunk)
        )
    except Exception as e:  # first batch: no sink yet
        if "PATH_NOT_FOUND" not in str(e) and "Path does not exist" not in str(e):
            raise
    if corpus is None:
        # no verify corpus — only legal when the index is still empty
        # (a prebuilt index REQUIRES its corpus via ``bootstrap``; a
        # silent skip here would pass every duplicate straight through)
        idx_bands = table.read(spark, "bands")
        if idx_bands is not None and idx_bands.limit(1).count():
            raise ValueError(
                "index at %r is non-empty but no bootstrap corpus was "
                "given and the sink is empty — probes cannot "
                "exact-verify; pass the indexed corpus as bootstrap="
                % index_path
            )
    if corpus is not None:
        matched = (
            query_minhash_index(
                reps, index_path, corpus,
                text_col=text_col, id_col=id_col, threshold=threshold,
                cleanup=probe_cache,
            )
            .select(F.col("d2").alias(id_col))
            .distinct()
        )
        survivors = reps.join(matched, id_col, "left_anti")
    else:
        survivors = reps
    survivors = survivors.persist()

    # 3. sink (exactly-once: batch-partition overwrite), then index
    (
        survivors.withColumn("batch", F.lit(int(batch_id)))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch")
        .parquet(sink_dir)
    )
    if survivors.limit(1).count():
        append_to_minhash_index(
            survivors, index_path, text_col=text_col, id_col=id_col,
            batch_id=batch_id,
        )
    reps.unpersist()
    survivors.unpersist()
    for df in probe_cache:  # per-batch probe caches must not accumulate
        df.unpersist()


def stream_neardup_dedup(
    spark: SparkSession,
    source_dir: str,
    sink_dir: str,
    checkpoint_dir: str,
    index_path: str,
    *,
    bootstrap: DataFrame | None = None,
    schema: str = DOC_STREAM_SCHEMA,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float | None = None,
    available_now: bool = False,
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Start the streaming near-dup screen; returns the handle.

    ``index_path`` must hold an index built by
    ``build_minhash_index`` — over the pre-existing corpus when
    bootstrapping a live pipeline (pass that corpus as ``bootstrap``
    so probes can exact-verify against its texts), or over an empty
    DataFrame to start from nothing."""
    def _body(bdf: DataFrame, bid: int) -> None:
        process_neardup_batch(
            bdf, bid,
            index_path=index_path, sink_dir=sink_dir,
            bootstrap=bootstrap, text_col=text_col, id_col=id_col,
            threshold=threshold,
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
