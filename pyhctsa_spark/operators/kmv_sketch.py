"""KMV (bottom-k / k-minimum-values) sketches: distinct counts AND set
operations between sketches — the capability HLL lacks.

Bar-Yossef et al. 2002 (counting distinct elements in streams), Beyer
et al. 2007 "On synopses for distinct-value estimation under multiset
operations" (the KMV union/intersection/Jaccard algebra used here).

The sketch of a token multiset is the k smallest DISTINCT hash values.
Properties the engine exploits:

- merge(union) == bottom-k(sketch(A) ∪ sketch(B)) — exact, associative,
  commutative, idempotent, so partial sketches combine map-side and the
  shuffle moves at most tasks x groups x k rows regardless of corpus
  size (the same combiner-friendly shape as the HLL register union).
  The map side is ``rollup._group_fold``, the per-group token fold the
  CMS and the per-source HLL union share; this module supplies only
  the bottom-k sketch, its merge and its output rows;
- UNSATURATED sketches (fewer than k distinct hashes) are EXACT: the
  estimator degrades gracefully to a precise distinct count, and the
  oracle replays the same regime split;
- two sketches support set algebra: with U = bottom-k of the union and
  m = |{h in U present in both}|, Jaccard ~ m/k and |A ∩ B| ~ (m/k) *
  D_union — per-pair vocabulary overlap between sources without ever
  joining the corpora.

Hashes are splitmix64 >> 1 — 63 bits, so every value fits a SIGNED
BIGINT in both Spark and DuckDB with its unsigned order preserved (the
dropped bit doubles the collision rate to a still-irrelevant 2^-63).
Every compared quantity is an integer (sketch size, k-th smallest hash,
match count); the only doubles are one exact power-of-two-scaled
constant (k-1)*2^63 and IEEE divisions — no transcendentals at all, so
the DuckDB oracle is bit-exact with no rounding escape hatch needed.

No reference counterpart: pyhctsa has no sketching surface (SURVEY
§2.0); engine-native scale machinery alongside hist_state (exact) and
hll_state (fixed-size approximate).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, Window, functions as F

from pyhctsa_spark.functions.hll_state import splitmix64
from pyhctsa_spark.operators.rollup import _group_fold

K_DEFAULT = 256


def kmv_hashes(toks: np.ndarray, k: int) -> np.ndarray:
    """Bottom-k distinct 63-bit hashes of a token array (int64, sorted
    ascending). Unsaturated result length < k is meaningful (exact)."""
    if len(toks) == 0:
        return np.zeros(0, dtype=np.int64)
    h = (splitmix64(np.asarray(toks)) >> np.uint64(1)).astype(np.int64)
    return np.unique(h)[:k]


_PARTIAL_SCHEMA = pa.schema([("grp", pa.string()), ("n", pa.int64()),
                             ("h", pa.int64())])


def _kmv_partial(df: DataFrame, k: int, group_col: str) -> DataFrame:
    """Map pass (``rollup._group_fold``): per (task, group) bottom-k
    distinct hashes, token count piggybacked on the first emitted row (0
    elsewhere) so the reduce side recovers exact per-group totals with a
    plain sum."""

    return _group_fold(
        df, group_col, lambda toks: kmv_hashes(toks, k),
        lambda acc, hs: np.unique(np.concatenate([acc, hs]))[:k],
        lambda hs, n: (np.r_[n, np.zeros(len(hs) - 1, dtype=np.int64)], hs),
        _PARTIAL_SCHEMA,
    )


def kmv_sketch_by(df: DataFrame, k: int = K_DEFAULT,
                  group_col: str = "source") -> DataFrame:
    """Sketch rows per group: (source, h, rn) with rn <= k over distinct
    hashes ascending, plus the exact token count. The shuffle moves at
    most tasks x groups x k pre-combined rows."""
    partial = _kmv_partial(df, k, group_col)
    dedup = partial.groupBy("grp", "h").agg(F.sum("n").alias("n"))
    # the per-group token total must be folded BEFORE the rank filter:
    # the piggybacked task counts ride on arbitrary hash rows, some of
    # which rank beyond k
    dedup = dedup.withColumn(
        "_n_part", F.sum("n").over(Window.partitionBy("grp"))
    )
    w = Window.partitionBy("grp").orderBy("h")
    return (
        dedup.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select(F.col("grp").alias(group_col), "h", "rn", "_n_part")
    )


def _est_expr(k: int, size_col: str, kth_col: str):
    """Distinct estimate: exact when unsaturated, else (k-1)*2^63/tau.
    The constant is an exact power-of-two scaling of k-1, so the single
    rounding either engine performs is the final IEEE division."""
    const = float((k - 1) * (2 ** 63))
    return F.when(
        F.col(size_col) < k, F.col(size_col).cast("double")
    ).otherwise(F.lit(const) / F.col(kth_col).cast("double"))


def kmv_distinct_by(df: DataFrame, k: int = K_DEFAULT,
                    group_col: str = "source") -> DataFrame:
    """Per group: exact n, sketch occupancy, k-th smallest hash, and the
    distinct estimate (exact below saturation)."""
    sk = kmv_sketch_by(df, k, group_col)
    agg = sk.groupBy(group_col).agg(
        F.max("_n_part").alias("n"),
        F.count("*").cast("long").alias("kmv_size"),
        F.max("h").alias("kmv_kth"),
    )
    # _n_part is the same per-group total on every row (window sum of
    # the piggybacked task counts), so max() just reads it off
    return agg.withColumn(
        "est_distinct", _est_expr(k, "kmv_size", "kmv_kth")
    )


def kmv_group_overlap(df: DataFrame, k: int = K_DEFAULT,
                      group_col: str = "source") -> DataFrame:
    """Pairwise set algebra between group vocabularies, from the
    sketches alone (the corpora are never joined):

    per unordered pair (a < b): the union sketch U = bottom-k of
    sketch(a) ∪ sketch(b); m = |{h in U seen by both}|;
    union_est = exact |U| if unsaturated else (k-1)*2^63/tau(U);
    jaccard_est = m / |U|-or-k; inter_est = jaccard_est * union_est.

    Work after the sketch pass is O(groups^2 x k) rows — independent of
    corpus size, the whole point of sketch-level set operations."""
    # the sketch feeds BOTH sides of the pair construction —
    # materialize it (localCheckpoint: blocks are released when the
    # result drops) or the whole corpus map pass runs twice
    sk = kmv_sketch_by(df, k, group_col).select(
        F.col(group_col).alias("g"), "h"
    ).localCheckpoint()
    tagged = (
        sk.alias("x")
        .join(sk.select(F.col("g").alias("g2")).distinct(), F.col("x.g") < F.col("g2"))
        .select(F.col("x.g").alias("a"), F.col("g2").alias("b"), "h",
                F.lit("a").alias("side"))
        .unionByName(
            sk.alias("y")
            .join(sk.select(F.col("g").alias("g1")).distinct(),
                  F.col("g1") < F.col("y.g"))
            .select(F.col("g1").alias("a"), F.col("y.g").alias("b"), "h",
                    F.lit("b").alias("side"))
        )
    )
    both = tagged.groupBy("a", "b", "h").agg(
        (F.count_distinct("side") == 2).cast("int").alias("in_both")
    )
    w = Window.partitionBy("a", "b").orderBy("h")
    u = both.withColumn("rn", F.row_number().over(w)).where(F.col("rn") <= k)
    agg = u.groupBy("a", "b").agg(
        F.count("*").cast("long").alias("union_size"),
        F.max("h").alias("union_kth"),
        F.sum("in_both").cast("long").alias("inter_matches"),
    )
    union_est = _est_expr(k, "union_size", "union_kth")
    # union_size is already min(k, |distinct union|) after the rank cap
    jacc = (F.col("inter_matches").cast("double")
            / F.col("union_size").cast("double"))
    out = agg.withColumn("union_est", union_est)
    out = out.withColumn("jaccard_est", jacc)
    return out.withColumn(
        "inter_est", F.col("jaccard_est") * F.col("union_est")
    )
