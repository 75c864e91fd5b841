"""Count-min sketch: fixed-size approximate token-frequency state for
open domains (Cormode & Muthukrishnan 2005).

The exact sparse histogram (functions/hist_state.py) answers counts
exactly but its state grows with the number of distinct tokens; the CMS
is the fixed-footprint alternative for open domains (hashed n-grams,
urls, ids): d x w integer counters with the one-sided guarantee
est >= true and est <= true + eps*N with probability 1 - delta
(w = ceil(e/eps), d = ceil(ln(1/delta))).

Engine shape, mirroring the HLL/KMV families:

- the d row hashes are the low bytes of ONE splitmix64 pass
  (row i uses bits [8i, 8i+8) for w = 256) — one strong 64-bit mix
  yields d near-independent byte hashes, and the SQL oracle replays
  them with the same shared hash CTE chain;
- the distributed state is RELATIONAL: non-zero (group, i, col, cnt)
  rows, merged by plain SUM — associative and combiner-friendly, so
  the shuffle moves at most tasks x groups x d*w pre-combined rows
  regardless of corpus size. The map side is ``rollup._group_fold``,
  the per-group token fold KMV and the per-source HLL union share;
  this module supplies only the counter matrix, its sum and its
  non-zero rows;
- point queries join a broadcast probe table against the state and
  take min over the d rows (absent counters are exact zeros).

Every quantity is an integer end-to-end: the DuckDB value oracle is
bit-exact with no float anywhere.

No reference counterpart: pyhctsa has no sketching surface (SURVEY
§2.0); engine-native scale machinery alongside hist_state (exact),
hll_state (distinct) and kmv_sketch (set algebra).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, functions as F

from pyhctsa_spark.functions.hll_state import splitmix64
from pyhctsa_spark.operators.rollup import _group_fold

D = 4          # hash rows
W = 256        # counters per row (one byte of the hash each)


def cms_cols(toks: np.ndarray) -> np.ndarray:
    """(len(toks), D) int32 column indices: byte i of splitmix64."""
    h = splitmix64(np.asarray(toks))
    return np.stack(
        [((h >> np.uint64(8 * i)) & np.uint64(W - 1)).astype(np.int32)
         for i in range(D)],
        axis=1,
    )


def cms_from_tokens(toks: np.ndarray) -> np.ndarray:
    """(D, W) int64 counter matrix for a token array."""
    out = np.zeros((D, W), dtype=np.int64)
    if len(toks) == 0:
        return out
    cols = cms_cols(toks)
    for i in range(D):
        np.add.at(out[i], cols[:, i], 1)
    return out


def cms_estimate(cms: np.ndarray, toks: np.ndarray) -> np.ndarray:
    """Point estimates: min over the D rows (>= true count always)."""
    if len(toks) == 0:
        return np.zeros(0, dtype=np.int64)
    cols = cms_cols(toks)
    ests = np.stack([cms[i, cols[:, i]] for i in range(D)], axis=1)
    return ests.min(axis=1)


_PARTIAL_SCHEMA = pa.schema([("grp", pa.string()), ("i", pa.int32()),
                             ("col", pa.int32()), ("cnt", pa.int64())])


def _nonzero_rows(m: np.ndarray, _n: int) -> tuple:
    """(i, col, cnt) arrays of the non-zero counters of one matrix."""
    ii, cc = np.nonzero(m)
    return ii.astype(np.int32), cc.astype(np.int32), m[ii, cc]


def cms_sketch_by(df: DataFrame, group_col: str = "source") -> DataFrame:
    """Relational CMS state per group: non-zero (group, i, col, cnt)
    rows. Map tasks pre-fold their partition into local counter
    matrices (``rollup._group_fold``), so the one shuffle moves at most
    tasks x groups x d*w rows; the reduce is a plain combiner-friendly
    SUM."""
    partial = _group_fold(df, group_col, cms_from_tokens, np.add,
                          _nonzero_rows, _PARTIAL_SCHEMA)
    return (
        partial.groupBy("grp", "i", "col")
        .agg(F.sum("cnt").alias("cnt"))
        .select(F.col("grp").alias(group_col), "i", "col", "cnt")
    )


def cms_merge(states: DataFrame, group_col: str = "source") -> DataFrame:
    """merge(partial(A) ∪ partial(B)) == partial(A ∪ B): plain sum."""
    return states.groupBy(group_col, "i", "col").agg(
        F.sum("cnt").alias("cnt")
    )


def cms_point_estimates(
    states: DataFrame,
    probe_tokens: list[int],
    group_col: str = "source",
) -> DataFrame:
    """Estimated count of each probe token per group: broadcast the
    (token, i, col) probe routing table, left-join the state (absent
    counters are exact zeros), min over the d rows. Output is
    groups x probes rows."""
    spark = states.sparkSession
    toks = np.asarray(sorted(set(int(t) for t in probe_tokens)),
                      dtype=np.int64)
    cols = cms_cols(toks)
    from pyhctsa_spark.operators._local_df import one_slice_df

    probe = one_slice_df(
        spark,
        [(int(t), int(i), int(cols[j, i]))
         for j, t in enumerate(toks) for i in range(D)],
        "token long, i int, col int",
    )
    groups = states.select(group_col).distinct()
    routed = groups.crossJoin(F.broadcast(probe))
    est = (
        routed.join(states, [group_col, "i", "col"], "left")
        .withColumn("cnt", F.coalesce(F.col("cnt"), F.lit(0)))
        .groupBy(group_col, "token")
        .agg(F.min("cnt").cast("long").alias("est_count"))
    )
    return est
