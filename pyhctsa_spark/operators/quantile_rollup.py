"""Exact-quantile tier rollup over integer token sequences.

Per-window EXACT order statistics (inverted-CDF quantiles, mode,
distinct count) from a sparse token-histogram state
(functions/hist_state.py). The family itself (``rollup.HIST_FAMILY``)
lives next to the tier walker and the store cascade it runs on, in
operators/rollup.py; this module holds its entry points.

1. ``rollup_quantile_tiers``: the tier walker (``rollup.walk_tiers``),
   ONE shuffle-free ``mapInArrow`` pass. Tier 0 histograms are built
   from the tokens in hand; tier k+1 is a pure histogram MERGE of tier-k
   state (integer adds — exact and associative), so the plan stays
   Scan -> Project -> MapInArrow -> Sink with zero Exchange,
   embarrassingly parallel at any scale.

2. ``quantile_cascade_from_store``: the retention path
   (``rollup.store_cascade``) — raw tokens are gone, only a materialized
   tier table with its ``hist_bin`` column remains. Unlike the ALG
   cascade (whose HOL columns go NULL), EVERY column here is exact after
   the merge: this is the reason to carry a histogram state in the store
   at all. State per window is bounded by min(n, |vocab|), so a coarse
   tier's blob saturates at the vocabulary size regardless of how many
   points it summarizes.

Window semantics match the flagship: non-overlapping windows, trailing
partial dropped (make_buffer, reference Utilities/utils.py:292-319),
tier t window length = window * group**t.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame

from pyhctsa_spark.functions import hist_state as H
from pyhctsa_spark.operators.rollup import (
    HIST_FAMILY,
    store_cascade,
    walk_tiers,
)

def rollup_quantile_tiers(
    df: DataFrame,
    window: int = 32,
    group: int = 16,
    n_tiers: int = 3,
) -> DataFrame:
    """Single-pass exact-quantile tier rollup (see module docstring)."""
    return walk_tiers(df, [HIST_FAMILY], window, group, n_tiers)


TOPK_SCHEMA = (
    "doc_id string, source string, tier int, window_idx long, "
    "rank long, token int, tok_count long"
)

_TOPK_PA = pa.schema([
    ("doc_id", pa.string()), ("source", pa.string()), ("tier", pa.int32()),
    ("window_idx", pa.int64()), ("rank", pa.int64()),
    ("token", pa.int32()), ("tok_count", pa.int64()),
])


def topk_tokens_from_store(tier_df: DataFrame, k: int = 3) -> DataFrame:
    """Ad-hoc heavy hitters from the materialized hist store: top-k
    tokens per stored window (count desc, token asc on ties), with NO
    raw-token revisit and NO shuffle — a map-side unpack of ``hist_bin``.
    This is the point of carrying the histogram state: the store answers
    order-statistics questions that were never precomputed, exactly
    (SpaceSaving/Count-Min heavy hitters would carry an error bound)."""

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for rb in batches:
            names = rb.schema.names
            doc_ids = rb.column(names.index("doc_id")).to_pylist()
            sources = rb.column(names.index("source")).to_pylist()
            tiers = rb.column(names.index("tier")).to_numpy()
            widx = rb.column(names.index("window_idx")).to_numpy()
            blobs = [row.as_py() for row in rb.column(names.index("hist_bin"))]
            if any(b is None for b in blobs):
                bad = [i for i, b in enumerate(blobs) if b is None][:3]
                raise ValueError(
                    "NULL hist_bin blob in hist store (e.g. rows "
                    f"doc_id={[doc_ids[i] for i in bad]} "
                    f"window_idx={[int(widx[i]) for i in bad]}) — the "
                    "store is corrupt or was written by a non-hist rollup"
                )
            state = H.unpack_blobs(blobs)
            t = H.topk(state, k)
            r = t["row"]
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array([doc_ids[i] for i in r], type=pa.string()),
                    pa.array([sources[i] for i in r], type=pa.string()),
                    pa.array(tiers[r].astype(np.int32)),
                    pa.array(widx[r].astype(np.int64)),
                    pa.array(t["rank"]),
                    pa.array(t["token"].astype(np.int32)),
                    pa.array(t["count"].astype(np.int64)),
                ],
                schema=_TOPK_PA,
            )

    cols = ["doc_id", "source", "tier", "window_idx", "hist_bin"]
    return tier_df.select(*cols).mapInArrow(fn, schema=TOPK_SCHEMA)


# ---------------------------------------------------------------------------
# Retention-path cascade: tier k+1 from the materialized hist store
# ---------------------------------------------------------------------------

def quantile_cascade_from_store(
    tier_df: DataFrame, group: int = 16
) -> DataFrame:
    """Tier k+1 from a materialized tier-k hist table alone — EXACT for
    every output column (quantiles, mode, distinct), no raw revisit.

    Physical shape: rollup.store_cascade, the one shape of every
    store-side cascade — one ``applyInArrow`` call per (doc, tier)
    merges every complete parent of the run in one histogram
    ``merge_groups``; a parent with a missing or duplicated child
    emits nothing (the direct path's trailing-partial drop)."""

    return store_cascade(tier_df, HIST_FAMILY, group)
