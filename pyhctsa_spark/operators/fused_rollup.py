"""Fused tier rollup: THREE mergeable aggregate families — ALG moment
states, exact sparse token histograms, HyperLogLog registers — computed
in ONE shuffle-free scan.

Why fuse: at 100 TB the dominant cost of any tier rollup is the scan
itself (parquet decode + the JVM→Arrow hop + the token reshape); the
per-family math on the windows in hand is cheap by comparison. Running
the ALG, quantile and HLL rollups separately re-pays the scan three
times for three outputs over identical windows. The fused pass pays it
once — bench.py records fused wall vs the three-pass sum (the ratio IS
the scan-dominance measurement). It is the tier walker
(``rollup.walk_tiers``) given all three families (``rollup.FAMILIES
["fused"]``), so the plan stays ``Scan → Project → MapInArrow → Sink``
with zero Exchange, identical to the flagship (pytest-enforced).

Exactness contract: every family's tier k+1 is a pure state merge
(moment sums add, histogram counts add, registers max), so each fused
column is BIT-IDENTICAL to the corresponding specialized operator's
output — asserted against rollup_tiers / rollup_quantile_tiers /
rollup_hll_tiers in tests, and value-oracled end-to-end
(rollup_fused: one DuckDB query recomputes all three families per
window from raw events).

The fused output carries finalized columns only (no IQR, no state
blobs): the single-family rollups, whose outputs carry the state
blobs, feed the store cascades; this is the one-pass ANSWER surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from pyhctsa_spark.operators.rollup import FAMILIES, walk_tiers


def rollup_fused_tiers(
    df: DataFrame,
    window: int = 32,
    group: int = 16,
    n_tiers: int = 3,
    lags: list[int] | None = None,
) -> DataFrame:
    """Single-pass fused tier rollup (module docstring)."""
    return walk_tiers(df, FAMILIES["fused"](lags), window, group, n_tiers)
