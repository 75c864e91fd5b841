"""Structured-streaming rollup: continuous ingestion of sequence files.

The tier rollup is stateless per input row (every window of a doc lives
in its row), so the same Arrow-native tier walker (``rollup.walk_tiers``,
any family) runs unchanged under Structured Streaming: ``readStream`` on
a parquet directory of sequences -> ``walk_tiers`` -> ``writeStream``
with exactly-once file sink + checkpoint. New docs appearing in the
source directory flow into new tier rows; combined with
``cascade_from_store`` this gives a continuously-maintained continuous
aggregate (the streaming analogue of a TSDB's refresh policy).

The reference has no streaming surface (SURVEY.md §2.0); this is the
engine-native extension mandated by the Spark-first design.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from pyhctsa_spark.operators.rollup import FAMILIES, walk_tiers
from pyhctsa_spark.sources.synthetic import SEQ_BIN_SCHEMA, SEQ_SCHEMA


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

    This is the engine's ``applyInPandasWithState`` surface (SURVEY §2.0
    streaming mandate); the stateless variant (whole docs per row) is
    ``stream_rollup`` above.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from pyhctsa_spark.functions import kernels as K
    from pyhctsa_spark.functions import stats_state as S
    from pyhctsa_spark.sources.synthetic import CHUNK_SCHEMA

    lags = lags or [1, 2]
    out_schema = (
        "doc_id string, source string, tier int, window_idx long, n long, "
        "mean double, variance double, spread_std double, "
        "spread_iqr double, ac1_td double, ac2_td double, "
        "ac1_fourier double, burst_b double, burst_b_kim double"
    )
    state_schema = (
        "next_chunk int, win_base long, carry binary, "
        "pending_idx array<int>, pending_bin array<binary>"
    )

    def fn(key, pdfs, state: "GroupState"):
        doc_id = key[0]
        chunks = pd.concat(list(pdfs), ignore_index=True)
        if state.exists:
            next_chunk, win_base, carry, p_idx, p_bin = state.get
            carry = bytes(carry) if carry is not None else b""
            pending = {
                int(i): bytes(b)
                for i, b in zip(p_idx or [], p_bin or [])
            }
        else:
            next_chunk, win_base, carry, pending = 0, 0, b"", {}
        # stage arrivals: future chunks buffer, duplicates keep the
        # first copy, stale (< next_chunk, already consumed) drop
        for _, row in chunks.iterrows():
            ci = int(row["chunk_idx"])
            if ci >= next_chunk:
                pending.setdefault(ci, bytes(row["tokens_bin"]))
        # assemble the contiguous prefix now available
        parts = [carry]
        while next_chunk in pending:
            parts.append(pending.pop(next_chunk))
            next_chunk += 1
        buf = b"".join(parts)
        toks = np.frombuffer(buf, dtype="<i4")
        nwin = len(toks) // window
        if nwin:
            Y = toks[: nwin * window].reshape(nwin, window).astype(np.float64)
            st = S.states_from_windows(Y, lags)
            fin = S.finalize(st, lags)
            out = pd.DataFrame(
                {
                    "doc_id": [doc_id] * nwin,
                    "source": chunks["source"].iloc[0]
                    if len(chunks)
                    else None,
                    "tier": np.zeros(nwin, dtype=np.int32),
                    "window_idx": win_base + np.arange(nwin, dtype=np.int64),
                    "n": st["n"],
                    "mean": fin["mean"],
                    "variance": fin["variance"],
                    "spread_std": fin["spread_std"],
                    "spread_iqr": K.iqr_hazen_2d(Y),
                    "ac1_td": fin.get("ac1_td", np.full(nwin, np.nan)),
                    "ac2_td": fin.get("ac2_td", np.full(nwin, np.nan)),
                    "ac1_fourier": fin.get(
                        "ac1_fourier", np.full(nwin, np.nan)
                    ),
                    "burst_b": fin["burst_b"],
                    "burst_b_kim": fin["burst_b_kim"],
                }
            )
            yield out
        keys = sorted(pending)
        state.update((
            next_chunk, win_base + nwin, buf[nwin * window * 4:],
            keys, [pending[k] for k in keys],
        ))

    reader = spark.readStream.schema(CHUNK_SCHEMA).parquet(source_dir)
    rolled = reader.groupBy("doc_id").applyInPandasWithState(
        fn, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
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
