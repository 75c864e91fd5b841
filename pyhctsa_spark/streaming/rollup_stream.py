"""Structured-streaming rollup: continuous ingestion of sequence files.

The tier rollup is stateless per input row (every window of a doc lives
in its row), so the same Arrow-native tier walker (``rollup.walk_tiers``,
any family) runs unchanged under Structured Streaming: ``readStream`` on
a parquet directory of sequences -> ``walk_tiers`` -> ``writeStream``
with exactly-once file sink + checkpoint. New docs appearing in the
source directory flow into new tier rows; combined with
``cascade_from_store`` this gives a continuously-maintained continuous
aggregate (the streaming analogue of a TSDB's refresh policy).

Documents that arrive in chunks (``stream_rollup_chunks``) need
per-document state, so they run under ``applyInPandasWithState``; each
trigger's tier-0 rows still come from the walker's ALG family and
Arrow assembly, converted to pandas only at that operator's boundary.

The reference has no streaming surface (SURVEY.md §2.0); this is the
engine-native extension mandated by the Spark-first design.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import from_arrow_schema
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from pyhctsa_spark.functions import kernels as K
from pyhctsa_spark.operators.rollup import (
    DEFAULT_LAGS,
    FAMILIES,
    alg_family,
    family_run,
    family_schema,
    walk_tiers,
)
from pyhctsa_spark.sources.synthetic import (
    CHUNK_SCHEMA,
    SEQ_BIN_SCHEMA,
    SEQ_SCHEMA,
)


def _sink(df: DataFrame, sink_dir: str, checkpoint_dir: str,
          available_now: bool) -> StreamingQuery:
    """Start an append-mode parquet ``writeStream`` with exactly-once file
    sink + checkpoint; ``available_now`` drains what is there and stops."""
    writer = (
        df.writeStream.format("parquet")
        .option("path", sink_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_rollup(
    spark: SparkSession,
    source_dir: str,
    sink_dir: str,
    checkpoint_dir: str,
    window: int = 32,
    group: int = 16,
    n_tiers: int = 3,
    lags: list[int] | None = None,
    binary: bool = True,
    available_now: bool = False,
    family: str = "alg",
) -> StreamingQuery:
    """Start the streaming rollup of one tier family (``rollup.FAMILIES``:
    alg, quantile, hll or fused); returns the StreamingQuery handle.

    The state-carrying families keep late store cascades exact: the
    ``hist_bin`` histograms never degrade order statistics to NULL, and
    HLL register max is idempotent, so even a replayed batch merged into
    downstream state is harmless. ``available_now=True`` drains the
    current directory contents and stops (used for catch-up runs and
    tests); otherwise the query keeps following the directory.
    """
    schema = SEQ_BIN_SCHEMA if binary else SEQ_SCHEMA
    seq = spark.readStream.schema(schema).parquet(source_dir)
    tiers = walk_tiers(seq, FAMILIES[family](lags), window=window,
                       group=group, n_tiers=n_tiers)
    return _sink(tiers, sink_dir, checkpoint_dir, available_now)


def stream_rollup_chunks(
    spark: SparkSession,
    source_dir: str,
    sink_dir: str,
    checkpoint_dir: str,
    window: int = 32,
    lags: list[int] | None = None,
    available_now: bool = False,
) -> StreamingQuery:
    """Stateful streaming tier-0 rollup over CHUNKED sequences.

    Rows ``(doc_id, source, chunk_idx, tokens_bin)`` arrive over time —
    a document's token stream split across files/micro-batches. Windows
    that span chunk boundaries need carried state, so this uses
    ``applyInPandasWithState``: per-doc GroupState = (next expected
    chunk, emitted-window base index, carry bytes of the incomplete
    window, PENDING out-of-order chunks). Each trigger emits exactly
    the windows completed by the newly arrived chunks; the checkpoint
    makes the whole pipeline exactly-once across restarts. Out-of-order
    chunks (file listing order is not chunk order across triggers) are
    BUFFERED in state until the gap fills; duplicates (same chunk_idx
    redelivered, in- or cross-trigger) keep the first copy; stale
    chunks below the consumed watermark are dropped.

    The completed windows become rows through the walker's own ALG
    family (``rollup.alg_family``, ``rollup.family_run``), so the
    sink has exactly the columns and values of ``rollup_tiers(...,
    n_tiers=1)``, merge states included: ``cascade_from_store`` runs on
    it. The stateless variant (whole docs per row) is ``stream_rollup``
    above.
    """
    family = alg_family(lags or DEFAULT_LAGS)
    state_schema = ("next_chunk int, win_base long, carry binary, "
                    "pending_idx array<int>, pending_bin array<binary>")

    def fn(key, pdfs, state: GroupState):
        if state.exists:
            next_chunk, win_base, carry, p_idx, p_bin = state.get
            carry = bytes(carry or b"")
            pending = dict(zip(map(int, p_idx or []), map(bytes, p_bin or [])))
        else:
            next_chunk, win_base, carry, pending = 0, 0, b"", {}
        # stage arrivals: future chunks buffer, duplicates keep the
        # first copy, stale (< next_chunk, already consumed) drop
        source = None
        for pdf in pdfs:
            for ci, src, blob in zip(pdf["chunk_idx"], pdf["source"],
                                     pdf["tokens_bin"]):
                source = src if source is None else source
                if ci >= next_chunk:
                    pending.setdefault(int(ci), bytes(blob))
        # assemble the contiguous prefix now available
        parts = [carry]
        while next_chunk in pending:
            parts.append(pending.pop(next_chunk))
            next_chunk += 1
        buf = b"".join(parts)
        Y = K.make_buffer(np.frombuffer(buf, dtype="<i4").astype(np.float64),
                          window)
        nwin = len(Y)
        if nwin:
            yield family_run(
                family, family.from_windows(Y), key[0], source, 0,
                win_base + np.arange(nwin, dtype=np.int64), lambda _: Y,
            ).to_pandas()
        keys = sorted(pending)
        state.update((
            next_chunk, win_base + nwin, buf[nwin * window * 4:],
            keys, [pending[k] for k in keys],
        ))

    reader = spark.readStream.schema(CHUNK_SCHEMA).parquet(source_dir)
    rolled = reader.groupBy("doc_id").applyInPandasWithState(
        fn, from_arrow_schema(family_schema(family)), state_schema, "append",
        GroupStateTimeout.NoTimeout,
    )
    return _sink(rolled, sink_dir, checkpoint_dir, available_now)


def stream_features(
    spark: SparkSession,
    source_dir: str,
    sink_dir: str,
    checkpoint_dir: str,
    feature_set,
    window: int | None = None,
    binary: bool = True,
    available_now: bool = False,
) -> StreamingQuery:
    """hctsa-style feature extraction under Structured Streaming: new
    sequence files flowing into ``source_dir`` get their feature rows
    appended exactly-once — the registry kernel is stateless per row,
    so the batch extractor runs unchanged (same argument as
    stream_rollup). Returns the StreamingQuery handle."""
    from pyhctsa_spark.operators.features import extract_features

    schema = SEQ_BIN_SCHEMA if binary else SEQ_SCHEMA
    seq = spark.readStream.schema(schema).parquet(source_dir)
    feats = extract_features(seq, feature_set, window=window)
    return _sink(feats, sink_dir, checkpoint_dir, available_now)
