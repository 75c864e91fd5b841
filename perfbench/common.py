"""Shared pieces of the workloads: run context, timing summaries and the
comparisons the correctness checks use."""

from __future__ import annotations

import os
import shutil
import statistics
from dataclasses import dataclass, field

import numpy as np

WINDOW, GROUP, N_TIERS, LAGS = 32, 16, 3, [1, 2]
FEATURES = [
    "mean", "variance", "spread_std", "spread_iqr",
    "ac1_td", "ac2_td", "ac1_fourier", "burst_b", "burst_b_kim",
]
ALG_COLS = [
    "n", "s1", "s2", "mean", "variance", "spread_std",
    "ac1_td", "ac2_td", "burst_b", "burst_b_kim",
]


@dataclass
class Ctx:
    seed: int
    work: str
    tracer: object
    spark: object = None
    record: dict = field(default_factory=dict)
    problems: list = field(default_factory=list)

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def fail(self, what: str) -> None:
        """Record a failed correctness check (printed with the run)."""
        self.problems.append(what)


@dataclass
class Measured:
    """What one measurement phase produced."""
    op_ms: list = field(default_factory=list)     # per-operation latency
    op_walls: list = field(default_factory=list)  # per-operation wall (s) for throughput
    points: float = 0.0                           # points served by the ops
    store_bytes: float = 0.0
    store_points: float = 0.0
    attempted: int = 0
    failed: int = 0
    extra: dict = field(default_factory=dict)


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def quantile(xs, q: float) -> float:
    """Interpolated quantile (``statistics.quantiles`` inclusive method)."""
    if not xs:
        return 0.0
    if len(xs) == 1:
        return float(xs[0])
    cuts = statistics.quantiles(xs, n=100, method="inclusive")
    return cuts[int(round(q * 100)) - 1]


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    return path


def dir_bytes(path: str) -> int:
    """Bytes of the parquet data files under ``path`` (logs and markers
    under ``_``/``.`` names excluded)."""
    total = 0
    for root, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        for f in files:
            if f.endswith(".parquet") and not f.startswith(("_", ".")):
                total += os.path.getsize(os.path.join(root, f))
    return total


def expected_windows(n_tok: np.ndarray) -> list[int]:
    """Per-tier window counts: sum over docs of floor(n_tok / (W * G^t))."""
    n_tok = np.asarray(n_tok, dtype=np.int64)
    return [int((n_tok // (WINDOW * GROUP**t)).sum()) for t in range(N_TIERS)]


def same_values(a, b, rtol: float = 0.0) -> bool:
    """Equal float arrays, NaN matching NaN; ``rtol=0`` means bit-exact
    on every non-NaN value."""
    a = np.asarray(a, dtype=np.float64)
    b = np.asarray(b, dtype=np.float64)
    if a.shape != b.shape:
        return False
    na, nb = np.isnan(a), np.isnan(b)
    if not np.array_equal(na, nb):
        return False
    if rtol == 0.0:
        return np.array_equal(a[~na].view(np.uint64), b[~nb].view(np.uint64))
    return bool(np.allclose(a[~na], b[~nb], rtol=rtol, atol=0.0))
