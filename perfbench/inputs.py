"""Seeded input generation for the rollup-engine benchmark.

The program under test only ever sees the parquet written here. Every
input is a pure function of the workload seed: the same seed writes the
same table, byte for byte.

The sequences table has the engine's packed layout
(``doc_id string, tokens_bin binary, n_tok int, source string,
tok_checksum long``). Document lengths follow a log-uniform grid over
[64, 16384] tokens, ``source`` is Zipf-skewed over 20 labels, and the
tokens are an AR(1)-shaped integer process so autocorrelation is
non-trivial. The checksum is computed here, independently of the
package, so the kernel's checksum counter checks real data.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = 50257
N_SOURCES = 20
ZIPF_A = 1.2
MIN_TOK, MAX_TOK = 64, 16384
AR_KERNEL_LEN = 64
ID_SEED = 0

_M1 = np.uint64(0x9E3779B97F4A7C15)
_M2 = np.uint64(0xBF58476D1CE4E5B9)
_M3 = np.uint64(0x94D049BB133111EB)


def checksum(tokens: np.ndarray) -> int:
    """Order-sensitive 64-bit mix of an int32 token array (the row
    invariant the rollup kernel verifies)."""
    t = tokens.astype(np.uint64)
    j = np.arange(t.size, dtype=np.uint64)
    with np.errstate(over="ignore"):
        mix = (t + _M1) * (j * _M2 + _M3)
        mix ^= mix >> np.uint64(31)
    h = np.bitwise_xor.reduce(mix) if mix.size else np.uint64(0)
    return int(np.int64(h.astype(np.uint64)))


def make_sequences(seed: int, n_docs: int) -> dict:
    """Generate the seeded table in memory: per-doc token arrays plus
    the scalar columns, rows in file order (see ``write_sequences``).

    The seed draws the token values, the sources and the row order.
    Lengths are the fixed log-uniform grid (one per equal-width stratum
    of log length) and each length keeps the same doc id on every seed,
    so every seed gives the workload the same shape: the same windows
    per tier, parent groups and chunks, and the same docs in each hash
    partition and salt bucket (both are hashed from ``doc_id``).
    """
    rng = np.random.default_rng(seed)
    u = (np.arange(n_docs) + 0.5) / n_docs
    lengths = np.exp(
        np.log(MIN_TOK) + u * (np.log(MAX_TOK) - np.log(MIN_TOK))
    ).astype(np.int64)
    probs = 1.0 / np.arange(1, N_SOURCES + 1) ** ZIPF_A
    src_idx = rng.choice(N_SOURCES, size=n_docs, p=probs / probs.sum())
    # one AR(1) stream cut into documents: the truncated convolution is
    # the process definition
    offsets = np.concatenate([[0], np.cumsum(lengths)])
    eps = rng.standard_normal(int(offsets[-1]) + AR_KERNEL_LEN)
    phi = 0.35 + 0.02 * src_idx
    tokens = []
    for i in range(n_docs):
        seg = eps[offsets[i] : offsets[i + 1] + AR_KERNEL_LEN]
        kern = phi[i] ** np.arange(AR_KERNEL_LEN)
        x = np.convolve(seg, kern)[AR_KERNEL_LEN : AR_KERNEL_LEN + lengths[i]]
        scale = (VOCAB / 16) * np.sqrt(1.0 - phi[i] ** 2)
        tokens.append(
            np.clip(np.round(VOCAB / 2 + scale * x), 0, VOCAB - 1).astype("<i4")
        )
    ids = np.random.default_rng(ID_SEED).permutation(n_docs)
    return {
        "doc_id": [f"d{int(k):06d}" for k in ids],
        "tokens": tokens,
        "n_tok": lengths,
        "source": [f"src{int(s):02d}" for s in src_idx],
        "order": rng.permutation(n_docs),
    }


def write_sequences(table: dict, path: str, n_files: int) -> int:
    """Write the table as ``n_files`` parquet files (one scan split
    each). Docs are dealt to files by length rank, so every file holds
    the same length mix; within a file the seeded order applies.
    Returns the on-disk byte count of the data files."""
    os.makedirs(path, exist_ok=True)
    total = 0
    for f in range(n_files):
        rows = [int(i) for i in table["order"] if i % n_files == f]
        toks = [table["tokens"][i] for i in rows]
        batch = pa.table({
            "doc_id": pa.array([table["doc_id"][i] for i in rows], pa.string()),
            "tokens_bin": pa.array([t.tobytes() for t in toks], pa.binary()),
            "n_tok": pa.array(table["n_tok"][rows].astype(np.int32)),
            "source": pa.array([table["source"][i] for i in rows], pa.string()),
            "tok_checksum": pa.array([checksum(t) for t in toks], pa.int64()),
        })
        fp = os.path.join(path, f"part-{f:04d}.parquet")
        pq.write_table(batch, fp)
        total += os.path.getsize(fp)
    return total


def describe(table: dict, seed: int) -> dict:
    """Seed, size and skew of a generated table, for the run record."""
    n_tok = np.asarray(table["n_tok"])
    _, counts = np.unique(table["source"], return_counts=True)
    q1, q2, q3 = np.quantile(n_tok, [0.25, 0.5, 0.75])
    return {
        "seed": seed,
        "docs": int(len(n_tok)),
        "points": int(n_tok.sum()),
        "doc_len_quartiles": [float(q1), float(q2), float(q3)],
        "source_max_over_mean": round(float(counts.max() / counts.mean()), 3),
    }
