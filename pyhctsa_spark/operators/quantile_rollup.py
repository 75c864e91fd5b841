"""Exact-quantile tier rollup over integer token sequences.

Same physical strategies as the flagship ALG rollup (operators/rollup.py)
— the logical computation is different: per-window EXACT order
statistics (inverted-CDF quantiles, mode, distinct count) from a sparse
token-histogram state (functions/hist_state.py).

1. ``rollup_quantile_tiers``: ONE shuffle-free ``mapInArrow`` pass.
   Tier 0 histograms are built from the tokens in hand; tier k+1 is a
   pure histogram MERGE of tier-k state (integer adds — exact and
   associative), so the plan stays Scan -> Project -> MapInArrow ->
   Sink with zero Exchange, embarrassingly parallel at any scale.

2. ``quantile_cascade_from_store``: the retention path — raw tokens are
   gone, only a materialized tier table with its ``hist_bin`` column
   remains. Unlike the ALG cascade (whose HOL columns go NULL), EVERY
   column here is exact after the merge: this is the reason to carry a
   histogram state in the store at all. State per window is bounded by
   min(n, |vocab|), so a coarse tier's blob saturates at the vocabulary
   size regardless of how many points it summarizes.

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
from pyhctsa_spark.operators.rollup import _var_width_view, store_cascade

QROLLUP_SCHEMA = (
    "doc_id string, source string, tier int, window_idx long, n long, "
    "n_distinct long, mode_tok int, mode_count long, "
    "p25 int, p50 int, p75 int, p90 int, hist_bin binary"
)

_INT32_COLS = ("mode_tok", "p25", "p50", "p75", "p90")

_PA_SCHEMA = pa.schema([
    ("doc_id", pa.string()), ("source", pa.string()), ("tier", pa.int32()),
    ("window_idx", pa.int64()), ("n", pa.int64()),
    ("n_distinct", pa.int64()), ("mode_tok", pa.int32()),
    ("mode_count", pa.int64()),
    ("p25", pa.int32()), ("p50", pa.int32()),
    ("p75", pa.int32()), ("p90", pa.int32()),
    ("hist_bin", pa.binary()),
])

_OUT_COLS = [f.name for f in _PA_SCHEMA]


def _tier_block(doc_id: str, source: str, tier: int,
                state: H.HistState) -> dict:
    fin = H.finalize(state)
    k = len(fin["n"])
    return {
        "doc_id": [doc_id] * k,
        "source": [source] * k,
        "tier": np.full(k, tier, dtype=np.int32),
        "window_idx": np.arange(k, dtype=np.int64),
        "n": fin["n"].astype(np.int64),
        "n_distinct": fin["n_distinct"].astype(np.int64),
        "mode_tok": fin["mode_tok"].astype(np.int32),
        "mode_count": fin["mode_count"].astype(np.int64),
        "p25": fin["p25"].astype(np.int32),
        "p50": fin["p50"].astype(np.int32),
        "p75": fin["p75"].astype(np.int32),
        "p90": fin["p90"].astype(np.int32),
        "_state": state,
    }


def _assemble(blocks: list[dict]) -> pa.RecordBatch:
    cols = []
    for c in _OUT_COLS:
        if c in ("doc_id", "source"):
            vals: list = []
            for b in blocks:
                vals.extend(b[c])
            cols.append(pa.array(vals, type=pa.string()))
        elif c == "hist_bin":
            merged = H.merge_stack([b["_state"] for b in blocks])
            cols.append(H.pack_arrow(merged))
        else:
            cols.append(pa.array(np.concatenate([b[c] for b in blocks])))
    return pa.RecordBatch.from_arrays(cols, schema=_PA_SCHEMA)


def _make_fn(window: int, group: int, n_tiers: int):
    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for rb in batches:
            names = rb.schema.names
            doc_ids = rb.column(names.index("doc_id")).to_pylist()
            sources = rb.column(names.index("source")).to_pylist()
            tok_name = "tokens_bin" if "tokens_bin" in names else "tokens"
            flat, offs, is_bin = _var_width_view(rb.column(names.index(tok_name)))
            FLUSH_ROWS = 1 << 16
            blocks: list[dict] = []
            n_acc = 0
            for r in range(rb.num_rows):
                raw = flat[offs[r]: offs[r + 1]]
                toks = (raw.view("<i4") if is_bin else raw).astype(np.int64)
                if len(toks) < window:
                    continue
                k0 = len(toks) // window
                state = H.hist_from_windows(
                    toks[: k0 * window].reshape(k0, window)
                )
                blocks.append(_tier_block(doc_ids[r], sources[r], 0, state))
                n_acc += k0
                for tier in range(1, n_tiers):
                    state = H.merge_groups(state, group)
                    if len(state["offs"]) - 1 == 0:
                        break
                    blocks.append(
                        _tier_block(doc_ids[r], sources[r], tier, state)
                    )
                    n_acc += len(state["offs"]) - 1
                if n_acc >= FLUSH_ROWS:
                    yield _assemble(blocks)
                    blocks = []
                    n_acc = 0
            if blocks:
                yield _assemble(blocks)

    return fn


def rollup_quantile_tiers(
    df: DataFrame,
    window: int = 32,
    group: int = 16,
    n_tiers: int = 3,
) -> DataFrame:
    """Single-pass exact-quantile tier rollup (see module docstring)."""
    needed = [c for c in ("doc_id", "source", "tokens_bin", "tokens")
              if c in df.columns]
    return df.select(*needed).mapInArrow(
        _make_fn(window, group, n_tiers), schema=QROLLUP_SCHEMA
    )


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

    def merge(kept, parents, doc_id, source, tier):
        merged = H.merge_groups(
            H.unpack_blobs(kept.column("hist_bin").to_pylist()), group
        )
        block = _tier_block(doc_id, source, tier, merged)
        block["window_idx"] = parents
        return pa.Table.from_batches([_assemble([block])])

    return store_cascade(tier_df, _OUT_COLS, group, merge, _PA_SCHEMA)
