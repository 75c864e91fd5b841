"""Tiered rollup of pre-tokenized sequences — the engine's flagship.

Two physical strategies for the same logical computation:

1. ``rollup_tiers``: ONE shuffle-free Arrow-native ``mapInArrow`` pass
   computes tier 0 AND the 16x / 256x tiers. Every window of a doc lives
   inside its input row, so the tier cascade needs no shuffle at all:
   tier k+1 is produced by MERGING tier-k ALG states
   (functions/stats_state.py) in-kernel. HOL features (hazen IQR,
   Fourier ACF) are recomputed per tier from the raw values, which are
   still in hand. At 100 TB this plan is embarrassingly parallel:
   scan -> python worker -> write, with partition balance set by input
   splits + optional salted repartition.

   The worker boundary is deliberately pandas-free: token payloads are
   sliced zero-copy out of Arrow list/binary buffers, and output
   RecordBatches are built directly from the kernel's numpy arrays
   (profiled: pandas block assembly cost ~4x the actual feature math).

2. ``cascade_from_store``: the retention path — raw is gone, only a
   materialized tier table remains. Tier k+1 = groupBy(doc_id, tier) +
   ONE ``applyInArrow`` call per (doc, tier) that merges every complete
   parent window's stored states at once (``store_cascade``, the shape
   the quantile and HLL store cascades share). ALG features
   (mean/variance/spread_std/ac*_td/burstiness) are exact; HOL features
   are NULL (documented engine semantics for late cascades).

Feature semantics (reference parity, see functions/kernels.py):
  mean (Distribution.py:240), variance/spread_std ddof=1
  (Distribution.py:87), hazen IQR (Distribution.py:88-91), burstiness
  B/B_Kim (Distribution.py:398-438), ac 'TimeDomain'
  (Correlation.py:1271-1289), ac 'Fourier' (Correlation.py:1241-1259).
Window semantics: non-overlapping, trailing partial dropped
(make_buffer, Utilities/utils.py:292-319); tier t window length =
window * group**t.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.pandas.types import from_arrow_schema

from pyhctsa_spark.functions import kernels as K
from pyhctsa_spark.functions import stats_state as S
from pyhctsa_spark.functions.gapfill import gap_fill
from pyhctsa_spark.sources.synthetic import token_checksum

DEFAULT_WINDOW = 32
DEFAULT_GROUP = 16
DEFAULT_LAGS = [1, 2]
# Per-row segment bound (tokens): a giant document is processed in
# coarsest-tier-aligned segments of at most this many tokens, so one
# pathological row can't blow worker memory (see _make_rollup_fn).
_SEG_TOKENS = 1 << 22

ROLLUP_SCHEMA = (
    "doc_id string, source string, tier int, window_idx long, n long, "
    "mean double, variance double, spread_std double, spread_iqr double, "
    "ac1_td double, ac2_td double, ac1_fourier double, "
    "burst_b double, burst_b_kim double, "
    "s1 double, s2 double, state_bin binary"
)

_OUT_COLS = [
    "doc_id", "source", "tier", "window_idx", "n",
    "mean", "variance", "spread_std", "spread_iqr",
    "ac1_td", "ac2_td", "ac1_fourier", "burst_b", "burst_b_kim",
    "s1", "s2", "state_bin",
]


def _tier_cols(
    doc_id: str,
    source: str,
    tier: int,
    state: S.State,
    lags: list[int],
    Y_raw: np.ndarray | None,
    feature_set=None,
    widx0: int = 0,
) -> dict:
    """One tier's output columns for one doc as numpy arrays (no pandas
    objects in the hot loop). ``Y_raw`` present -> HOL features computed;
    else NULL (store-cascade path). A compiled FeatureSet (plans/registry)
    contributes one extra double column per label, computed per raw
    window — the registry generates the tier struct schema (SURVEY §1.2).
    """
    fin = S.finalize(state, lags)
    k = len(state["n"])
    iqr = K.iqr_hazen_2d(Y_raw) if Y_raw is not None else np.full(k, np.nan)
    # ac1_fourier comes from the merge state (see stats_state.finalize) —
    # exact algebra, no FFT pass over raw values
    ac1_f = fin.get("ac1_fourier", np.full(k, np.nan))
    out = {
        "doc_id": [doc_id] * k,
        "source": [source] * k,
        "tier": np.full(k, tier, dtype=np.int32),
        "window_idx": np.arange(widx0, widx0 + k, dtype=np.int64),
        "n": state["n"],
        "mean": fin["mean"],
        "variance": fin["variance"],
        "spread_std": fin["spread_std"],
        "spread_iqr": iqr,
        "ac1_td": fin.get("ac1_td", np.full(k, np.nan)),
        "ac2_td": fin.get("ac2_td", np.full(k, np.nan)),
        "ac1_fourier": ac1_f,
        "burst_b": fin["burst_b"],
        "burst_b_kim": fin["burst_b_kim"],
        "s1": state["s1"],
        "s2": state["s2"],
        # packed merge state: [sxy(len(lags)) | head(tau_max) | tail(tau_max)]
        # float64s per row -> ONE binary column (parquet/Arrow handle it
        # as a memcpy; list<double> columns measured ~8x slower to write)
        "state_bin": np.hstack([state["sxy"], state["head"], state["tail"]]),
    }
    if feature_set is not None:
        if Y_raw is not None:
            M, _ = feature_set.compute_matrix(Y_raw)
        else:
            M = np.full((k, len(feature_set.columns)), np.nan)
        out["_featmat"] = M
    return out


def unpack_states(blobs, lags: list[int]) -> S.State | None:
    """Inverse of the state_bin packing (cascade/restore path)."""
    tau_max = max(lags)
    width = len(lags) + 2 * tau_max
    mat = np.frombuffer(b"".join(blobs), dtype=np.float64).reshape(-1, width)
    ln = len(lags)
    return {
        "sxy": mat[:, :ln].copy(),
        "head": mat[:, ln : ln + tau_max].copy(),
        "tail": mat[:, ln + tau_max :].copy(),
    }


_LIST_COLS = ("doc_id", "source")
_STATE_COL = "state_bin"

_PA_BASE_FIELDS = [
    ("doc_id", pa.string()), ("source", pa.string()), ("tier", pa.int32()),
    ("window_idx", pa.int64()), ("n", pa.int64()), ("mean", pa.float64()),
    ("variance", pa.float64()), ("spread_std", pa.float64()),
    ("spread_iqr", pa.float64()), ("ac1_td", pa.float64()),
    ("ac2_td", pa.float64()), ("ac1_fourier", pa.float64()),
    ("burst_b", pa.float64()), ("burst_b_kim", pa.float64()),
    ("s1", pa.float64()), ("s2", pa.float64()),
    ("state_bin", pa.binary()),
]
_PA_SCHEMA = pa.schema(_PA_BASE_FIELDS)


def _schemas_for(feature_set):
    """(ddl, arrow schema, feature column list) for an optional
    registry FeatureSet extending the tier struct."""
    if feature_set is None:
        return ROLLUP_SCHEMA, _PA_SCHEMA, []
    cols = list(feature_set.columns)
    ddl = ROLLUP_SCHEMA + ", " + ", ".join(f"`{c}` double" for c in cols)
    schema = pa.schema(_PA_BASE_FIELDS + [(c, pa.float64()) for c in cols])
    return ddl, schema, cols


def _binary_array(mat: np.ndarray) -> pa.Array:
    """(k, w) float64 matrix -> Arrow binary column of w*8-byte rows,
    built from raw buffers (no per-row bytes objects)."""
    k, w = mat.shape
    row_bytes = w * 8
    offs = np.arange(0, (k + 1) * row_bytes, row_bytes, dtype=np.int32)
    data = np.ascontiguousarray(mat)
    return pa.Array.from_buffers(
        pa.binary(), k, [None, pa.py_buffer(offs), pa.py_buffer(data)]
    )


def _assemble_arrow(blocks: list[dict], schema: pa.Schema = _PA_SCHEMA,
                    n_feat: int = 0, nan_as_null: bool = False
                    ) -> pa.RecordBatch:
    """Concatenate per-doc-tier column blocks into ONE RecordBatch built
    straight from numpy — no pandas block manager in the hot path.
    ``nan_as_null`` writes NaN doubles as NULL."""
    cols = []
    for c in _OUT_COLS:
        parts = [b[c] for b in blocks]
        if c in _LIST_COLS:
            vals: list = []
            for p in parts:
                vals.extend(p)
            cols.append(pa.array(vals, type=pa.string()))
        elif c == _STATE_COL:
            cols.append(_binary_array(np.concatenate(parts, axis=0)))
        else:
            cols.append(pa.array(np.concatenate(parts),
                                 from_pandas=nan_as_null))
    if n_feat:
        M = np.concatenate([b["_featmat"] for b in blocks], axis=0)
        for j in range(n_feat):
            cols.append(pa.array(np.ascontiguousarray(M[:, j])))
    return pa.RecordBatch.from_arrays(cols, schema=schema)


def _var_width_view(col: pa.Array) -> tuple[np.ndarray, np.ndarray, bool]:
    """Zero-copy (flat_values, offsets, is_binary) view of a list<int> or
    binary Arrow column. Row i's payload is flat[offs[i]:offs[i+1]]
    (bytes for binary — view as '<i4'; ints for list)."""
    if pa.types.is_binary(col.type):
        offs = np.frombuffer(col.buffers()[1], dtype=np.int32)[
            col.offset : col.offset + len(col) + 1
        ]
        data = np.frombuffer(col.buffers()[2], dtype=np.uint8)
        return data, offs, True
    if pa.types.is_large_binary(col.type):
        offs = np.frombuffer(col.buffers()[1], dtype=np.int64)[
            col.offset : col.offset + len(col) + 1
        ]
        data = np.frombuffer(col.buffers()[2], dtype=np.uint8)
        return data, offs, True
    if pa.types.is_list(col.type) or pa.types.is_large_list(col.type):
        dt = np.int64 if pa.types.is_large_list(col.type) else np.int32
        offs = np.frombuffer(col.buffers()[1], dtype=dt)[
            col.offset : col.offset + len(col) + 1
        ]
        flat = col.values.to_numpy(zero_copy_only=False)
        return flat, offs, False
    raise TypeError(f"unsupported token column type {col.type}")


def _make_rollup_fn(
    window: int,
    group: int,
    n_tiers: int,
    lags: list[int],
    gapped: bool,
    counters: dict | None,
    feature_set=None,
    seg_tokens: int = _SEG_TOKENS,
):
    _, pa_schema, feat_cols = _schemas_for(feature_set)
    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for rb in batches:
            names = rb.schema.names
            doc_ids = rb.column(names.index("doc_id")).to_pylist()
            sources = rb.column(names.index("source")).to_pylist()
            n_rows = rb.num_rows
            if gapped:
                off_flat, off_offs, _ = _var_width_view(
                    rb.column(names.index("offsets"))
                )
                val_flat, val_offs, _ = _var_width_view(
                    rb.column(names.index("values"))
                )
                n_toks = rb.column(names.index("n_tok")).to_numpy()
            else:
                tok_name = "tokens_bin" if "tokens_bin" in names else "tokens"
                flat, offs, is_bin = _var_width_view(rb.column(names.index(tok_name)))
                if "tok_checksum" in names:
                    cks = rb.column(names.index("tok_checksum"))
                    cksums = None if cks.null_count == n_rows else cks.to_pylist()
                else:
                    cksums = None

            # Output-side memory bound: flush a RecordBatch whenever the
            # accumulated window count passes the threshold, instead of
            # materializing the whole input batch's output at once. A
            # 10k-row Arrow batch of long docs can expand to >10M output
            # rows (GBs per worker x 32 workers = OOM, observed); the
            # input batch stays bounded by the scan's partition bytes.
            FLUSH_ROWS = 1 << 16
            blocks: list[dict] = []
            n_acc = 0
            n_windows = 0
            n_bad = 0
            for r in range(n_rows):
                if gapped:
                    o = off_flat[off_offs[r] : off_offs[r + 1]]
                    v = val_flat[val_offs[r] : val_offs[r + 1]]
                    vals = gap_fill(
                        np.asarray(o, dtype=np.int64),
                        np.asarray(v, dtype=np.float64),
                        int(n_toks[r]),
                    )
                else:
                    raw = flat[offs[r] : offs[r + 1]]
                    toks = raw.view("<i4") if is_bin else raw
                    # per-row token-array integrity invariant
                    if cksums is not None and cksums[r] is not None:
                        if token_checksum(toks) != int(cksums[r]):
                            n_bad += 1
                    vals = toks.astype(np.float64)
                if len(vals) < window:
                    continue
                # Pathological-row bound: a single giant document is
                # processed in SEGMENTS aligned to the coarsest tier
                # length, so peak memory and the flush cadence scale
                # with the segment, not the row. Exact: every tier's
                # window length divides the segment, so window
                # boundaries, cascade groups, and leftover-window
                # handling are identical to the unchunked sweep —
                # window_idx just carries the segment's offset.
                coarse = window * group ** (n_tiers - 1)
                seg = max(coarse, (seg_tokens // coarse) * coarse)
                for s0 in range(0, len(vals) - window + 1, seg):
                    sv = vals[s0 : s0 + seg]
                    if len(sv) < window:
                        break
                    Y0 = K.make_buffer(sv, window)
                    state = S.states_from_windows(Y0, lags)
                    blocks.append(
                        _tier_cols(doc_ids[r], sources[r], 0, state, lags,
                                   Y0, feature_set, widx0=s0 // window)
                    )
                    n_windows += len(state["n"])
                    n_acc += len(state["n"])
                    for tier in range(1, n_tiers):
                        state = S.merge_groups(state, group, lags)
                        if len(state["n"]) == 0:
                            break
                        wlen = window * group**tier
                        Yt = K.make_buffer(sv, wlen)
                        blocks.append(
                            _tier_cols(doc_ids[r], sources[r], tier, state,
                                       lags, Yt, feature_set,
                                       widx0=s0 // wlen)
                        )
                        n_windows += len(state["n"])
                        n_acc += len(state["n"])
                    if n_acc >= FLUSH_ROWS:
                        yield _assemble_arrow(blocks, pa_schema,
                                              len(feat_cols))
                        blocks = []
                        n_acc = 0
            if counters is not None:
                counters["rows_read"].add(n_rows)
                counters["windows_emitted"].add(n_windows)
                counters["checksum_mismatches"].add(n_bad)
            if blocks:
                yield _assemble_arrow(blocks, pa_schema, len(feat_cols))

    return fn


def make_counters(spark) -> dict:
    """Lineage accumulators (flushed per task by Spark; surfaced into the
    job snapshot by operators/checkpoint.py)."""
    sc = spark.sparkContext
    return {
        "rows_read": sc.accumulator(0),
        "windows_emitted": sc.accumulator(0),
        "checksum_mismatches": sc.accumulator(0),
    }


def rollup_tiers(
    df: DataFrame,
    window: int = DEFAULT_WINDOW,
    group: int = DEFAULT_GROUP,
    n_tiers: int = 3,
    lags: list[int] | None = None,
    gapped: bool = False,
    counters: dict | None = None,
    feature_set=None,
    seg_tokens: int = _SEG_TOKENS,
) -> DataFrame:
    """Single-pass 3-tier rollup (see module docstring).

    Input: sequences table (dense: doc_id/tokens|tokens_bin/n_tok/source
    [/tok_checksum]; gapped=True: doc_id/offsets/values/n_tok/source).
    Only the needed columns cross the Arrow boundary (explicit pruning —
    mapInArrow ships every column of its input otherwise).
    """
    lags = lags or DEFAULT_LAGS
    needed = [
        c
        for c in ("doc_id", "source", "n_tok", "tokens_bin", "tokens",
                  "offsets", "values", "tok_checksum")
        if c in df.columns
    ]
    ddl, _, _ = _schemas_for(feature_set)
    fn = _make_rollup_fn(window, group, n_tiers, lags, gapped, counters,
                         feature_set, seg_tokens)
    return df.select(*needed).mapInArrow(fn, schema=ddl)


# ---------------------------------------------------------------------------
# Retention-path cascade over the materialized store (no raw values)
# ---------------------------------------------------------------------------

def complete_parents(
    widx: np.ndarray, group: int
) -> tuple[np.ndarray, np.ndarray]:
    """Complete parent windows of one (doc, tier) run of child
    ``window_idx`` values sorted ascending.

    Parent p is complete iff its children are exactly
    ``p*group … p*group+group-1``, each present once; a parent with a
    missing or duplicated child emits nothing (the direct path's
    trailing-partial drop). Returns (parent indices, row mask selecting
    the children of complete parents, ``group`` consecutive rows each).
    """
    parent = widx // group
    cut = np.flatnonzero(np.r_[True, parent[1:] != parent[:-1]])
    seg_len = np.diff(np.r_[cut, len(widx)])
    dup = np.r_[False, widx[1:] == widx[:-1]]
    full = (seg_len == group) & ~np.logical_or.reduceat(dup, cut)
    return parent[cut][full], np.repeat(full, seg_len)


def store_cascade(
    tier_df: DataFrame,
    cols: list[str],
    group: int,
    merge,
    schema: pa.Schema,
) -> DataFrame:
    """The physical shape every store-side cascade shares:
    ``groupBy(doc_id, tier).applyInArrow`` — one Arrow call per (doc,
    tier), never one per parent window. Tier is part of the key, so
    multi-tier input cascades each tier independently. A store bucketed
    by doc_id (store.write_tier_bucketed) satisfies the grouping with no
    Exchange; any other input pays one hashpartitioning on the doc keys.

    Each call sorts its run by ``window_idx``, keeps the children of the
    complete parents (``complete_parents``) and hands them to
    ``merge(kept, parents, doc_id, source, tier + 1)``, which returns
    the tier k+1 rows as a ``pa.Table`` matching ``schema``.
    """
    empty = schema.empty_table()

    def run(tbl):
        tbl = tbl.sort_by("window_idx")
        parents, keep = complete_parents(
            tbl.column("window_idx").to_numpy(), group
        )
        if not len(parents):
            return empty
        return merge(
            tbl.filter(keep), parents,
            tbl.column("doc_id")[0].as_py(),
            tbl.column("source")[0].as_py(),
            tbl.column("tier")[0].as_py() + 1,
        )

    return (
        tier_df.select(*cols)
        .groupBy("doc_id", "tier")
        .applyInArrow(run, schema=from_arrow_schema(schema))
    )


def cascade_from_store(
    tier_df: DataFrame, group: int = DEFAULT_GROUP, lags: list[int] | None = None
) -> DataFrame:
    """Compute tier k+1 from a materialized tier-k table alone.

    Exact for ALG features; HOL columns (spread_iqr, ac1_fourier) are
    NULL. This is the continuous-aggregate/retention path: one
    ``store_cascade`` pass keyed on (doc_id, tier) — fine-grained doc
    ids, so no source-level skew — whose per-(doc, tier) call merges
    all complete parents in one ``merge_groups``.
    """
    lags = lags or DEFAULT_LAGS

    def merge(kept, parents, doc_id, source, tier):
        state: S.State = {
            "n": kept.column("n").to_numpy(),
            "s1": kept.column("s1").to_numpy(),
            "s2": kept.column("s2").to_numpy(),
            **unpack_states(kept.column("state_bin").to_pylist(), lags),
        }
        block = _tier_cols(doc_id, source, tier,
                           S.merge_groups(state, group, lags), lags, None)
        block["window_idx"] = parents
        # NaN -> NULL: the documented NULL HOL columns of a late cascade
        return pa.Table.from_batches(
            [_assemble_arrow([block], nan_as_null=True)]
        )

    cols = ["doc_id", "source", "tier", "window_idx", "n", "s1", "s2",
            "state_bin"]
    return store_cascade(tier_df, cols, group, merge, _PA_SCHEMA)


def rollup_at_resolution(
    tiers: DataFrame,
    bucket_windows: int,
    group: int = DEFAULT_GROUP,
    n_tiers: int = 3,
    lags: list[int] | None = None,
) -> DataFrame:
    """Answer a "give me buckets of B base windows" query from the
    COARSEST tier that can serve it — the continuous-aggregate router
    every TSDB applies at query time. Tier t rows each summarize
    ``group**t`` base windows, so the coarsest usable tier is the
    largest t with ``group**t`` dividing B; the residual regrouping
    (B / group**t tier-t rows per output bucket) runs through the exact
    ALG state merge (cascade_from_store). At B=256 with the default
    16x ratio this reads 1/256th of the tier-0 rows and merges nothing.

    Output: ROLLUP_SCHEMA rows with ``window_idx`` = bucket index at
    resolution B. Exact for ALG features always; HOL columns
    (spread_iqr, ac1_fourier) are NULL whenever a residual merge
    happens (same contract as cascade_from_store), and intact when a
    tier serves the resolution directly.
    """
    if bucket_windows < 1:
        raise ValueError("bucket_windows must be >= 1")
    t = max(
        k for k in range(n_tiers) if bucket_windows % (group ** k) == 0
    )
    residual = bucket_windows // group ** t
    sel = tiers.where(F.col("tier") == t)
    if residual == 1:
        return sel
    return cascade_from_store(sel, group=residual, lags=lags)
