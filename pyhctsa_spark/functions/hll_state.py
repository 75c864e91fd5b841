"""Mergeable HyperLogLog register state for distinct-token rollups.

Flajolet et al. 2007 "HyperLogLog: the analysis of a near-optimal
cardinality estimation algorithm", with the 64-bit-hash variant of
Heule et al. 2013 (HLL++ without the empirical bias table — the
small-range regime uses linear counting, the same correction both
papers share).

The exact sparse histogram (functions/hist_state.py) answers distinct
counts EXACTLY but its state grows with min(n, |vocab|) per window —
the right trade for a bounded integer token domain, the wrong one for
an open domain (hashed byte n-grams, user ids, url tokens) where a
coarse tier's blob would grow without bound. This state is the other
point on the curve: FIXED 2^p bytes per window (p=8 -> 256 B) with
~1.04/sqrt(2^p) relative error (~6.5% at p=8), and — the property the
tier cascade is built on — the merge of two register arrays is their
elementwise MAX, which is exact, associative and commutative, so a
coarse tier merged from stored fine-tier state is BIT-IDENTICAL to the
same tier computed from raw tokens (stronger than the histogram's adds:
max is idempotent too, so even replayed/duplicated merges are safe).

Every derived quantity is kept integer-exact so the DuckDB value oracle
can replay it with no float boundary:

- hash = splitmix64 (Steele et al., SplitMix / java.util.SplittableRandom
  finalizer) — pure uint64 wraparound arithmetic, vectorized in numpy
  here and replayed in SQL via 32-bit-half HUGEINT modular multiplies;
- register j (of m=2^p) takes max over items of rho = (64-p) + 1 -
  bit_length(h mod 2^(64-p)) — bit_length computed by exact integer
  binary search (log2 on a double is wrong for values above 2^53);
- the harmonic denominator is the INTEGER sum_j 2^(RSCALE - min(M_j,
  RSCALE)) at RSCALE=48 (max 2^56, fits int64 both engines); capping a
  register's contribution at 2^-48 perturbs the estimate by < m*2^-48
  relative — the classic 5-bit-register HLL caps far harder.

Only the final estimate is a double, computed with one shared operation
order — alpha_m * m^2 * 2^RSCALE / denom, linear counting m*ln(m/V)
when E <= 2.5m and V > 0 — and rounded in-query on both sides.

No reference counterpart: pyhctsa has no sketching surface (SURVEY
§2.0); this is engine-native scale machinery next to the exact
histogram state, per the training-data-pipeline inventory.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

P = 8                      # register-index bits
M = 1 << P                 # 256 registers
Q = 64 - P                 # 56 hash bits feeding rho
RSCALE = 48                # integer-denominator scale (2^RSCALE == rho 0)
ALPHA = 0.7213 / (1.0 + 1.079 / M)   # alpha_m for m >= 128

_C1 = np.uint64(0x9E3779B97F4A7C15)
_C2 = np.uint64(0xBF58476D1CE4E5B9)
_C3 = np.uint64(0x94D049BB133111EB)

# linear-counting values m*ln(m/V) for every possible V (1..m), computed
# with scalar libm (math.log): numpy's SIMD log and the JVM's Math.log
# both differ from libm in the last ulp on dozens of these inputs
# (measured), and DuckDB — the value oracle — uses libm. 256 doubles
# buys bit-exactness across all three engines.
import math as _math

LC_TABLE = np.array(
    [0.0] + [M * _math.log(M / v) for v in range(1, M + 1)],
    dtype=np.float64,
)


def splitmix64(x: np.ndarray) -> np.ndarray:
    """Vectorized splitmix64 finalizer over uint64 (wraparound mul/add).
    Negative int inputs wrap to 2^64 + x, matching the SQL replay's
    ``(tok + C + 2^64) % 2^64`` normalization."""
    z = np.asarray(x).astype(np.int64).view(np.uint64) + _C1
    z = (z ^ (z >> np.uint64(30))) * _C2
    z = (z ^ (z >> np.uint64(27))) * _C3
    return z ^ (z >> np.uint64(31))


def bit_length_u64(w: np.ndarray) -> np.ndarray:
    """Exact int.bit_length for uint64 arrays (0 -> 0) by binary search
    — float log2 misrounds above 2^53, which would flip rho on ~2^-53
    of hashes: rare enough to pass a test, common enough to split a
    100 TB run from its oracle."""
    w = np.asarray(w, dtype=np.uint64).copy()
    bl = np.zeros(w.shape, dtype=np.int64)
    for k in (32, 16, 8, 4, 2, 1):
        m = w >= (np.uint64(1) << np.uint64(k))
        bl[m] += k
        w[m] >>= np.uint64(k)
    bl += (w > 0)
    return bl


def registers_from_windows(wins: np.ndarray) -> np.ndarray:
    """(k, wlen) int tokens -> (k, M) uint8 registers: per window,
    register[bucket] = max rho. One hash pass + one C-level scatter-max
    (np.maximum.at) over all windows at once — O(points), no per-window
    Python loop."""
    k = wins.shape[0]
    regs = np.zeros((k, M), dtype=np.uint8)
    if k == 0 or wins.shape[1] == 0:
        return regs
    h = splitmix64(wins.reshape(-1))
    bucket = (h >> np.uint64(Q)).astype(np.int64)
    wlow = h & np.uint64((1 << Q) - 1)
    rho = (Q + 1 - bit_length_u64(wlow)).astype(np.uint8)
    rows = np.repeat(np.arange(k, dtype=np.int64), wins.shape[1])
    flat = regs.reshape(-1)
    np.maximum.at(flat, rows * M + bucket, rho)
    return regs


def registers_from_tokens(toks: np.ndarray) -> np.ndarray:
    """All tokens as ONE register array (M,) — the unwindowed union."""
    return registers_from_windows(
        np.asarray(toks).reshape(1, -1)
    )[0]


def merge_groups(regs: np.ndarray, group: int) -> np.ndarray:
    """(k, M) -> (k // group, M): elementwise max over each run of
    ``group`` consecutive windows — the tier k+1 state. Exact (max)."""
    k2 = regs.shape[0] // group
    if k2 == 0:
        return np.zeros((0, M), dtype=np.uint8)
    return regs[: k2 * group].reshape(k2, group, M).max(axis=1)


def finalize(regs: np.ndarray) -> dict[str, np.ndarray]:
    """(k, M) registers -> integer-exact summary + the estimate.

    hll_zeros: count of empty registers (V); hll_denom: the integer
    harmonic denominator sum_j 2^(RSCALE - min(M_j, RSCALE)); est: the
    HLL estimate with linear-counting small-range correction, same
    operation order as the SQL replay (round in-query, not here)."""
    r = np.minimum(regs.astype(np.int64), RSCALE)
    denom = (np.int64(1) << (RSCALE - r)).sum(axis=1, dtype=np.int64)
    zeros = (regs == 0).sum(axis=1).astype(np.int64)
    est = ALPHA * (M * M) * (2.0 ** RSCALE) / denom
    small = (est <= 2.5 * M) & (zeros > 0)
    est = np.where(small, LC_TABLE[zeros], est)
    return {"hll_zeros": zeros, "hll_denom": denom, "est": est}


def pack_arrow(regs: np.ndarray) -> pa.Array:
    """(k, M) registers -> Arrow binary column (one M-byte blob per
    window), zero-copy from the contiguous buffer."""
    k = regs.shape[0]
    offs = (np.arange(k + 1, dtype=np.int32) * M)
    return pa.Array.from_buffers(
        pa.binary(), k,
        [None, pa.py_buffer(offs),
         pa.py_buffer(np.ascontiguousarray(regs))],
    )


def unpack_blobs(blobs: list[bytes]) -> np.ndarray:
    """M-byte blobs -> (k, M) uint8 registers."""
    if not blobs:
        return np.zeros((0, M), dtype=np.uint8)
    bad = [i for i, b in enumerate(blobs) if b is None or len(b) != M]
    if bad:
        raise ValueError(
            f"hll_bin blob rows {bad[:3]} are not {M}-byte register "
            "arrays — the store is corrupt or was written with a "
            "different precision p"
        )
    return np.frombuffer(b"".join(blobs), dtype=np.uint8).reshape(-1, M)
