"""Deterministic synthetic pre-tokenized sequence tables (FIXTURES.md F1/F2).

Schema (BASELINE.json input_hint):
    doc_id string, tokens array<int32>, n_tok int32, source string,
    tok_checksum long   (engine-added row-integrity column)

Generation is a pure function of (seed, doc_index): every executor — and
the in-kernel row-invariant check — can regenerate any doc's tokens
independently. Cohorts:

  - AR(1)-shaped integer process (per-source phi), so
    autocorrelation-at-lag is non-trivial; lengths log-uniform [64, 16384] (so the 256x tier is populated);
  - a sinusoidal cohort (999 samples, mirroring the reference's
    data/sinusoid.txt smoke series);
  - a gaussian-noise cohort (mirroring data/noise_gaussian.txt).

``source`` is Zipf-skewed over 20 labels to exercise salting.

Scale-out: generation itself runs distributed via ``spark.range(n).
mapInPandas`` — no driver-side loops, no collected data.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd

GLOBAL_SEED = 42
VOCAB = 50257
N_SOURCES = 20
ZIPF_A = 1.2
# AR(1) kernel truncation: phi^64 < 1e-9 for phi <= 0.72 — the truncated
# convolution IS the process definition (deterministic, vectorized).
AR_KERNEL_LEN = 64

SEQ_SCHEMA = (
    "doc_id string, tokens array<int>, n_tok int, source string, tok_checksum long"
)
# Primary storage layout at scale: tokens packed as little-endian int32
# bytes. Parquet BYTE_ARRAY decode and the JVM->Arrow->Python transfer
# are memcpys (measured ~6x faster end-to-end than array<int>); kernels
# reconstruct via np.frombuffer with zero copies.
SEQ_BIN_SCHEMA = (
    "doc_id string, tokens_bin binary, n_tok int, source string, tok_checksum long"
)
GAPPED_SCHEMA = (
    "doc_id string, offsets array<int>, values array<int>, n_tok int, "
    "source string, tok_checksum long"
)

_SOURCE_PROBS = (1.0 / np.arange(1, N_SOURCES + 1) ** ZIPF_A)
_SOURCE_PROBS = _SOURCE_PROBS / _SOURCE_PROBS.sum()
_SOURCE_CDF = np.cumsum(_SOURCE_PROBS)


def token_checksum(tokens: np.ndarray) -> int:
    """Order-sensitive 64-bit mix checksum, numpy-vectorized (wrapping
    uint64 arithmetic), for the per-row token-array-equality invariant."""
    t = np.asarray(tokens, dtype=np.uint64)
    j = np.arange(t.size, dtype=np.uint64)
    with np.errstate(over="ignore"):
        mix = (t + np.uint64(0x9E3779B97F4A7C15)) * (
            j * np.uint64(0xBF58476D1CE4E5B9) + np.uint64(0x94D049BB133111EB)
        )
        mix ^= mix >> np.uint64(31)
    h = np.bitwise_xor.reduce(mix) if mix.size else np.uint64(0)
    return int(np.int64(h.astype(np.uint64)))


def _doc_rng(doc_index: int) -> np.random.Generator:
    return np.random.default_rng(
        np.random.SeedSequence(entropy=GLOBAL_SEED, spawn_key=(int(doc_index),))
    )


def make_doc(doc_index: int) -> tuple[str, np.ndarray, str]:
    """Deterministically generate (doc_id, tokens int32, source)."""
    rng = _doc_rng(doc_index)
    doc_id = f"doc{doc_index:010d}"
    u = rng.random()
    src_idx = int(np.searchsorted(_SOURCE_CDF, u))
    source = f"src{src_idx:02d}"

    cohort = doc_index % 97
    if cohort == 0:
        # sinusoid cohort: 999 samples of sin on [0, 10*pi), scaled to ints
        t = np.linspace(0.0, 10.0 * np.pi, 999, endpoint=False)
        x = np.sin(t)
        tokens = np.clip(
            np.round(VOCAB / 2 + (VOCAB / 4) * x), 0, VOCAB - 1
        ).astype(np.int32)
    elif cohort == 1:
        # gaussian-noise cohort: 1000 samples
        x = rng.standard_normal(1000)
        tokens = np.clip(
            np.round(VOCAB / 2 + (VOCAB / 16) * x), 0, VOCAB - 1
        ).astype(np.int32)
    else:
        # AR(1)-shaped integer process; phi depends on source
        n_tok = int(np.exp(rng.uniform(np.log(64.0), np.log(16384.0))))
        phi = 0.35 + 0.02 * src_idx  # 0.35 .. 0.73
        eps = rng.standard_normal(n_tok + AR_KERNEL_LEN)
        kernel = phi ** np.arange(AR_KERNEL_LEN)
        x = np.convolve(eps, kernel)[AR_KERNEL_LEN : AR_KERNEL_LEN + n_tok]
        scale = (VOCAB / 16) * np.sqrt(1.0 - phi * phi)
        tokens = np.clip(np.round(VOCAB / 2 + scale * x), 0, VOCAB - 1).astype(
            np.int32
        )
    return doc_id, tokens, source


def _gen_batches(binary: bool):
    def gen(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for i in pdf["id"].to_numpy():
                doc_id, tokens, source = make_doc(int(i))
                tok = tokens.astype("<i4").tobytes() if binary else tokens
                rows.append(
                    (doc_id, tok, len(tokens), source, token_checksum(tokens))
                )
            col = "tokens_bin" if binary else "tokens"
            yield pd.DataFrame(
                rows, columns=["doc_id", col, "n_tok", "source", "tok_checksum"]
            )

    return gen


def sequences_df(spark, n_docs: int, partitions: int | None = None, binary: bool = False):
    """Distributed deterministic sequences DataFrame.

    ``binary=True`` emits the packed-int32 ``tokens_bin`` layout (the
    performance path); ``binary=False`` the input_hint ``array<int>``.
    """
    parts = partitions or max(8, spark.sparkContext.defaultParallelism)
    base = spark.range(0, n_docs, 1, parts)
    schema = SEQ_BIN_SCHEMA if binary else SEQ_SCHEMA
    return base.mapInPandas(_gen_batches(binary), schema=schema)


def _gen_gapped_batches(gap_frac: float):
    from pyhctsa_spark.functions.gapfill import drop_offsets

    def gen(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for i in pdf["id"].to_numpy():
                doc_id, tokens, source = make_doc(int(i))
                rng = np.random.default_rng(
                    np.random.SeedSequence(
                        entropy=GLOBAL_SEED, spawn_key=(int(i), 1)
                    )
                )
                keep = drop_offsets(rng, len(tokens), gap_frac)
                rows.append(
                    (
                        doc_id,
                        keep.astype(np.int32),
                        tokens[keep],
                        len(tokens),
                        source,
                        token_checksum(tokens),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id",
                    "offsets",
                    "values",
                    "n_tok",
                    "source",
                    "tok_checksum",
                ],
            )

    return gen


def gapped_sequences_df(spark, n_docs: int, gap_frac: float = 0.03, partitions: int | None = None):
    """F2 fixture: sequences with 0-5%% of offsets deleted (seeded)."""
    parts = partitions or max(8, spark.sparkContext.defaultParallelism)
    base = spark.range(0, n_docs, 1, parts)
    return base.mapInPandas(_gen_gapped_batches(gap_frac), schema=GAPPED_SCHEMA)


CHUNK_SCHEMA = (
    "doc_id string, source string, chunk_idx int, tokens_bin binary"
)


def chunked_sequences_df(spark, n_docs: int, chunk_tokens: int = 100,
                         partitions: int | None = None):
    """The same deterministic sequences split into fixed-size chunks of
    ``chunk_tokens`` int32 tokens (last chunk partial) — the arrival
    unit for the stateful streaming rollup (streaming/rollup_stream.
    stream_rollup_chunks)."""
    parts = partitions or max(8, spark.sparkContext.defaultParallelism)
    base = spark.range(0, n_docs, 1, parts)

    def gen(it):
        for pdf in it:
            rows = []
            for i in pdf["id"].to_numpy():
                doc_id, tokens, source = make_doc(int(i))
                raw = np.asarray(tokens, dtype="<i4").tobytes()
                step = chunk_tokens * 4
                for ci, off in enumerate(range(0, len(raw), step)):
                    rows.append((doc_id, source, ci, raw[off:off + step]))
            yield pd.DataFrame(
                rows, columns=["doc_id", "source", "chunk_idx", "tokens_bin"]
            )

    return base.mapInPandas(gen, schema=CHUNK_SCHEMA)
