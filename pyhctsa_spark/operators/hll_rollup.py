"""Approximate-distinct tier rollup: HyperLogLog register state per
window, carried through the retention cascade.

The family itself (``rollup.HLL_FAMILY``) lives next to the tier walker
and the store cascade it runs on, in operators/rollup.py, like the ALG
and exact-quantile families. Its logical column is an approximate
distinct-token count whose per-window state is FIXED-SIZE (2^p bytes)
regardless of window length or vocabulary — the state to carry when the
token domain is open (hashed n-grams, ids, urls) and the exact
histogram's min(n, |vocab|) blobs would grow without bound at coarse
tiers.

1. ``rollup_hll_tiers``: the tier walker (``rollup.walk_tiers``), ONE
   shuffle-free ``mapInArrow`` pass. Tier 0 registers come from the
   tokens in hand; tier k+1 is the elementwise MAX of tier-k registers —
   exact, associative, idempotent — so the plan stays Scan -> Project ->
   MapInArrow -> Sink with zero Exchange.

2. ``hll_cascade_from_store``: the retention path
   (``rollup.store_cascade``) — raw tokens are gone, only the
   materialized tier table with its ``hll_bin`` column remains. Register
   max makes the cascaded tier BIT-IDENTICAL to the direct computation
   (asserted in tests), the defining property of the sketch: a 100 TB
   store can be re-tiered forever without raw revisit.

3. ``hll_distinct_by_source``: a cross-document union — registers are
   unioned per source key by ``rollup._group_fold``, the per-group
   token fold KMV and CMS share. Map-side each task emits at most
   |sources| x 2^p sparse (source, register j, value) rows (non-zero
   registers only), the ONE shuffle is those partial rows, and the
   reduce is groupBy(source, j).max — Catalyst's partial aggregation
   makes this the textbook combiner-friendly distributed sketch union:
   shuffle bytes are O(sources x 256) per task, independent of corpus
   size.

Window semantics match the flagship: non-overlapping windows, trailing
partial dropped (make_buffer, reference Utilities/utils.py:292-319),
tier t window length = window * group**t.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, functions as F

from pyhctsa_spark.functions import hll_state as HLL
from pyhctsa_spark.operators.rollup import (
    HLL_FAMILY,
    _group_fold,
    _serving_tier,
    store_cascade,
    walk_tiers,
)

def rollup_hll_tiers(
    df: DataFrame,
    window: int = 32,
    group: int = 16,
    n_tiers: int = 3,
) -> DataFrame:
    """Single-pass approximate-distinct tier rollup (module docstring)."""
    return walk_tiers(df, [HLL_FAMILY], window, group, n_tiers)


def hll_cascade_from_store(tier_df: DataFrame, group: int = 16) -> DataFrame:
    """Tier k+1 from a materialized tier-k HLL table alone — register
    max, BIT-IDENTICAL to the direct computation, no raw revisit.

    Physical shape: rollup.store_cascade, the one shape of every
    store-side cascade — one ``applyInArrow`` call per (doc, tier)
    merges every complete parent of the run in one register-max
    ``merge_groups``; a parent with a missing or duplicated child
    emits nothing, matching the direct path's trailing-partial drop."""

    return store_cascade(tier_df, HLL_FAMILY, group)


def _hash_struct_udf():
    """Arrow-batched (token -> struct(j, r)): register index and rank
    from one splitmix64 pass. The hash cannot be a JVM expression under
    ANSI mode (64-bit wraparound multiply raises), so this is the one
    vectorized Python hop; everything downstream is JVM aggregation."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def jr(tok):
        t = tok.to_numpy(dtype=np.int64, na_value=0)
        h = HLL.splitmix64(t)
        j = (h >> np.uint64(HLL.Q)).astype(np.int32)
        wlow = h & np.uint64((1 << HLL.Q) - 1)
        rho = (HLL.Q + 1 - HLL.bit_length_u64(wlow)).astype(np.int32)
        return pd.DataFrame({"j": j, "r": rho})

    # real annotation objects: `from __future__ import annotations`
    # stringifies inline hints, which pandas_udf cannot resolve
    jr.__annotations__ = {"tok": pd.Series, "return": pd.DataFrame}
    return pandas_udf(jr, "j int, r int")


def hll_partial(
    events: DataFrame,
    on: str = "ts",
    by: list[str] | None = None,
    value_col: str = "value",
    window_micros: int = 30 * 60 * 1_000_000,
) -> DataFrame:
    """(by, widx, j, r) occupied-register rows — the relational HLL
    state, one hash-aggregate per batch (same sparse-state shape as
    hist_percentile.hist_partial). Tokens are round(value) as BIGINT.
    merge(partial(A) ∪ partial(B)) == partial(A ∪ B) because max is
    associative, commutative and idempotent — the snapshot store's
    plug contract, and the reason duplicate replays are harmless."""
    by = list(by or ["user_id"])
    tus = F.unix_micros(F.col(on))
    tok = F.round(F.col(value_col).cast("double")).cast("long")
    events = events.where(F.col(value_col).isNotNull())
    hashed = events.select(
        *by,
        F.floor(tus / F.lit(int(window_micros))).alias("widx"),
        _hash_struct_udf()(tok).alias("_jr"),
    )
    return (
        hashed.select(*by, "widx", F.col("_jr.j").alias("j"),
                      F.col("_jr.r").alias("r"))
        .groupBy(*by, "widx", "j")
        .agg(F.max("r").alias("r"))
    )


def hll_merge(states: DataFrame, by: list[str] | None = None) -> DataFrame:
    by = list(by or ["user_id"])
    return states.groupBy(*by, "widx", "j").agg(F.max("r").alias("r"))


def hll_estimates(states: DataFrame, by: list[str] | None = None) -> DataFrame:
    """Per (by, widx): integer register summary + the distinct estimate
    from the relational state rows (``_estimate``)."""
    return _estimate(states, [*(by or ["user_id"]), "widx"])


def _estimate(regs: DataFrame, keys: list[str], *extra) -> DataFrame:
    """The one HLL estimator over occupied (keys…, j, r) register rows,
    all-JVM: one grouped fold per ``keys`` (``extra`` aggregates ride
    along) to the integer denominator and zero count, then the estimate.

    The float constant is pre-multiplied in Python with the same
    operation order as hll_state.finalize, so both engines divide the
    identical double by the identical integer. The linear-counting
    branch joins a broadcast 256-row libm lookup table instead of
    calling the JVM's Math.log, which differs from libm (and so from the
    DuckDB oracle) in the last ulp on dozens of the 256 possible inputs
    — measured, not hypothetical."""
    # pyspark's shiftleft() wrapper only takes a literal int shift;
    # the SQL function accepts an expression
    denom_expr = (
        F.sum(F.expr(
            f"shiftleft(CAST(1 AS BIGINT), {HLL.RSCALE} - least(r, {HLL.RSCALE}))"
        ))
        + (F.lit(HLL.M) - F.count("*")).cast("long")
        * F.lit(int(1) << HLL.RSCALE).cast("long")
    )
    out = regs.groupBy(*keys).agg(
        *extra,
        denom_expr.cast("long").alias("hll_denom"),
        (F.lit(HLL.M) - F.count("*")).cast("int").alias("hll_zeros"),
    )
    from pyhctsa_spark.operators._local_df import one_slice_df

    lut = one_slice_df(
        regs.sparkSession,
        [(v, float(HLL.LC_TABLE[v])) for v in range(1, HLL.M + 1)],
        "hll_zeros int, lc double",
    )
    alpha_num = F.lit(HLL.ALPHA * (HLL.M * HLL.M) * (2.0 ** HLL.RSCALE))
    raw_est = alpha_num / F.col("hll_denom").cast("double")
    est = F.when(
        (raw_est <= F.lit(2.5 * HLL.M)) & (F.col("hll_zeros") > 0),
        F.col("lc"),
    ).otherwise(raw_est)
    return (
        out.join(F.broadcast(lut), "hll_zeros", "left")
        .withColumn("est_distinct", est)
        .drop("lc")
    )


def hll_at_resolution(
    tiers: DataFrame,
    bucket_windows: int,
    group: int = 16,
    n_tiers: int = 3,
) -> DataFrame:
    """Distinct-count buckets of B base windows served from the
    COARSEST stored tier that divides B — the continuous-aggregate
    router (operators/rollup.rollup_at_resolution) applied to HLL
    state. Unlike the ALG router, EVERY output column stays exact
    after the residual merge (register max loses nothing), so any
    resolution a tier divides is answered with full fidelity from
    1/group**t of the tier-0 rows.

    Output rows carry ``tier`` = the SERVING tier and ``window_idx`` =
    bucket index at resolution B."""
    sel, t, residual = _serving_tier(tiers, bucket_windows, group, n_tiers)
    if residual == 1:
        return sel
    return hll_cascade_from_store(sel, group=residual).withColumn(
        "tier", F.lit(t).cast("int")
    )


_SRC_SCHEMA = pa.schema([("source", pa.string()), ("n", pa.int64()),
                         ("j", pa.int32()), ("r", pa.int32())])


def _register_rows(regs: np.ndarray, n: int) -> tuple:
    """(n, j, r) arrays of the non-zero registers of one union. The
    task-local token count rides on the FIRST register row only (0
    elsewhere), so the reduce-side per-source total is a plain sum over
    rows — exact, no replication."""
    nz = np.flatnonzero(regs)
    return (np.r_[n, np.zeros(len(nz) - 1, dtype=np.int64)],
            nz.astype(np.int32), regs[nz].astype(np.int32))


def hll_distinct_by_source(df: DataFrame) -> DataFrame:
    """Approximate distinct tokens per source across ALL documents.

    Map side (``rollup._group_fold``): each task unions registers per
    source locally and emits only NON-ZERO (source, register j, value r)
    rows plus the local token count — at most |sources| x 2^p rows per
    task. Reduce side: groupBy(source, j).max(r) with Catalyst partial
    aggregation (map-side combine), then ``_estimate`` rebuilds the
    integer denominator. Shuffle volume is independent of corpus size —
    the sketch-union shape that makes distinct-count feasible at 100 TB
    (exact distinct would shuffle every unique token).
    """
    partial = _group_fold(df, "source", HLL.registers_from_tokens,
                          np.maximum, _register_rows, _SRC_SCHEMA)
    # register value is max'd per (source, j); the piggybacked local
    # counts are summed. Both are combiner-friendly, so the real
    # shuffle is tasks x sources x <=256 pre-combined rows.
    regs = partial.groupBy("source", "j").agg(
        F.max("r").alias("r"), F.sum("n").alias("n_j")
    )
    return _estimate(regs, ["source"], F.sum("n_j").cast("long").alias("n"))
