"""Tiered rollup of pre-tokenized sequences — the engine's flagship.

Two physical strategies for the same logical computation:

1. ``rollup_tiers``: ONE shuffle-free Arrow-native ``mapInArrow`` pass
   computes tier 0 AND the 16x / 256x tiers. It runs on ``walk_tiers``,
   the one tier walker of every family (ALG, exact quantile, HLL,
   fused): the walker decodes tokens, bounds giant documents, loops the
   tiers, flushes, counts lineage and assembles Arrow; a ``Family``
   supplies only its state functions and columns (``FAMILIES`` by name).
   Every window of a doc lives inside its input row, so the tier cascade
   needs no shuffle at all: tier k+1 is produced by MERGING tier-k ALG
   states (functions/stats_state.py) in-kernel. HOL features (hazen IQR,
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
   and row assembly the quantile and HLL store cascades share). ALG features
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

from collections.abc import Callable, Iterator
from functools import partial
from typing import NamedTuple

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.pandas.types import from_arrow_schema

from pyhctsa_spark.functions import hist_state as H
from pyhctsa_spark.functions import hll_state as HLL
from pyhctsa_spark.functions import kernels as K
from pyhctsa_spark.functions import stats_state as S
from pyhctsa_spark.functions.gapfill import gap_fill
from pyhctsa_spark.sources.synthetic import token_checksum

DEFAULT_WINDOW = 32
DEFAULT_GROUP = 16
DEFAULT_LAGS = [1, 2]
# Per-row segment bound (tokens): a giant document is processed in
# coarsest-tier-aligned segments of at most this many tokens, so one
# pathological row can't blow worker memory (see walk_tiers).
_SEG_TOKENS = 1 << 22
# Output-side memory bound: the walker flushes a RecordBatch whenever
# the accumulated window count passes this, instead of materializing a
# whole input batch's output at once. A 10k-row Arrow batch of long docs
# can expand to >10M output rows (GBs per worker x 32 workers = OOM,
# observed); the input batch stays bounded by the scan's partition bytes.
_FLUSH_ROWS = 1 << 16

_KEY_FIELDS = [("doc_id", pa.string()), ("source", pa.string()),
               ("tier", pa.int32()), ("window_idx", pa.int64())]


class Family(NamedTuple):
    """One mergeable aggregate family, as the tier walker and the store
    cascade see it.

    - ``dtype``: element type of the windows ``from_windows`` reads.
    - ``fields``: every output column the family supplies, in order.
    - ``from_windows``: (k, window) matrix -> per-window states.
    - ``merge_groups``: (states, group) -> one state per ``group``
      consecutive windows; a trailing partial group is dropped.
    - ``columns``: (states, names, raw) -> dict covering ``names``;
      ``raw()`` returns the tier's raw windows and is None on the store
      path, where no raw values remain.
    - ``store_cols`` / ``from_store``: the stored columns and the
      pa.Table -> states rebuild of the store cascade.
    - ``pack``: blob column -> (per-block parts -> Arrow array); every
      other column is concatenated.
    """

    dtype: type
    fields: list
    from_windows: Callable
    merge_groups: Callable
    columns: Callable
    store_cols: tuple
    from_store: Callable
    pack: dict


def _only(family: Family, names: str) -> Family:
    """``family`` restricted to the space-separated output columns."""
    keep = names.split()
    return family._replace(fields=[f for f in family.fields if f[0] in keep])


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


_ALG_FIELDS = [
    ("n", pa.int64()), ("mean", pa.float64()), ("variance", pa.float64()),
    ("spread_std", pa.float64()), ("spread_iqr", pa.float64()),
    ("ac1_td", pa.float64()), ("ac2_td", pa.float64()),
    ("ac1_fourier", pa.float64()), ("burst_b", pa.float64()),
    ("burst_b_kim", pa.float64()), ("s1", pa.float64()),
    ("s2", pa.float64()), ("state_bin", pa.binary()),
]


def alg_family(lags: list[int], feature_set=None) -> Family:
    """ALG moment states (functions/stats_state.py). The HOL columns —
    hazen IQR and, for a compiled registry FeatureSet (plans/registry),
    one double column per label — are computed per tier from the raw
    windows, still in hand in the walker; the store path, which has no
    raw windows, writes a NaN IQR."""
    feat = list(feature_set.columns) if feature_set is not None else []

    def columns(state, names, raw):
        fin = S.finalize(state, lags)
        nan = np.full(len(state["n"]), np.nan)
        Y = raw() if raw is not None and ("spread_iqr" in names or feat) else None
        out = {
            "n": state["n"],
            "mean": fin["mean"],
            "variance": fin["variance"],
            "spread_std": fin["spread_std"],
            "ac1_td": fin.get("ac1_td", nan),
            "ac2_td": fin.get("ac2_td", nan),
            # ac1_fourier comes from the merge state (see
            # stats_state.finalize) — exact algebra, no FFT pass
            "ac1_fourier": fin.get("ac1_fourier", nan),
            "burst_b": fin["burst_b"],
            "burst_b_kim": fin["burst_b_kim"],
            "s1": state["s1"],
            "s2": state["s2"],
        }
        if "spread_iqr" in names:
            out["spread_iqr"] = nan if Y is None else K.iqr_hazen_2d(Y)
        if "state_bin" in names:
            # packed merge state: [sxy(len(lags)) | head(tau_max) |
            # tail(tau_max)] float64s per row -> ONE binary column
            # (parquet/Arrow handle it as a memcpy; list<double> columns
            # measured ~8x slower to write)
            out["state_bin"] = np.hstack(
                [state["sxy"], state["head"], state["tail"]])
        if feat:
            out.update(zip(feat, feature_set.compute_matrix(Y)[0].T))
        return out

    def from_store(t):
        return {
            "n": t.column("n").to_numpy(),
            "s1": t.column("s1").to_numpy(),
            "s2": t.column("s2").to_numpy(),
            **unpack_states(t.column("state_bin").to_pylist(), lags),
        }

    return Family(
        np.float64, _ALG_FIELDS + [(c, pa.float64()) for c in feat],
        lambda Y: S.states_from_windows(Y, lags),
        lambda state, group: S.merge_groups(state, group, lags),
        columns, ("n", "s1", "s2", "state_bin"), from_store,
        {"state_bin": lambda parts: _binary_array(np.concatenate(parts))},
    )


_HIST_INT32 = {"mode_tok", "p25", "p50", "p75", "p90"}


def _hist_columns(state, names, raw):
    fin = H.finalize(state)
    out = {c: fin[c].astype(np.int32 if c in _HIST_INT32 else np.int64)
           for c in names if c != "hist_bin"}
    out["hist_bin"] = state
    return out


# Exact token histograms (functions/hist_state.py): inverted-CDF
# quantiles, mode and distinct count, every column exact after a merge.
HIST_FAMILY = Family(
    np.int64,
    [("n", pa.int64()), ("n_distinct", pa.int64()), ("mode_tok", pa.int32()),
     ("mode_count", pa.int64()), ("p25", pa.int32()), ("p50", pa.int32()),
     ("p75", pa.int32()), ("p90", pa.int32()), ("hist_bin", pa.binary())],
    H.hist_from_windows, H.merge_groups, _hist_columns, ("hist_bin",),
    lambda t: H.unpack_blobs(t.column("hist_bin").to_pylist()),
    {"hist_bin": lambda parts: H.pack_arrow(H.merge_stack(parts))},
)


def _hll_merge(state, group):
    regs = HLL.merge_groups(state["regs"], group)
    n = state["n"][: len(regs) * group].reshape(-1, group).sum(1)
    return {"regs": regs, "n": n}


def _hll_columns(state, names, raw):
    fin = HLL.finalize(state["regs"])
    return {"n": state["n"], "hll_zeros": fin["hll_zeros"].astype(np.int32),
            "hll_denom": fin["hll_denom"], "est_distinct": fin["est"],
            "hll_bin": state["regs"]}


# HyperLogLog registers (functions/hll_state.py): fixed 2^p bytes per
# window, merged by elementwise max; the state also carries n.
HLL_FAMILY = Family(
    np.int64,
    [("n", pa.int64()), ("hll_zeros", pa.int32()), ("hll_denom", pa.int64()),
     ("est_distinct", pa.float64()), ("hll_bin", pa.binary())],
    lambda Y: {"regs": HLL.registers_from_windows(Y),
               "n": np.full(len(Y), Y.shape[1], dtype=np.int64)},
    _hll_merge, _hll_columns, ("n", "hll_bin"),
    lambda t: {"regs": HLL.unpack_blobs(t.column("hll_bin").to_pylist()),
               "n": t.column("n").to_numpy()},
    {"hll_bin": lambda parts: HLL.pack_arrow(np.concatenate(parts))},
)

# Family name -> (lags -> the walker's family list). The fused entry is
# the one-pass answer surface: finalized columns of all three families
# over one scan, no IQR and no state blobs.
FAMILIES = {
    "alg": lambda lags=None: [alg_family(lags or DEFAULT_LAGS)],
    "quantile": lambda lags=None: [HIST_FAMILY],
    "hll": lambda lags=None: [HLL_FAMILY],
    "fused": lambda lags=None: [
        _only(alg_family(lags or [1]),
              "n mean variance spread_std ac1_td burst_b burst_b_kim"),
        _only(HIST_FAMILY, "n_distinct mode_tok p50"),
        _only(HLL_FAMILY, "hll_zeros hll_denom est_distinct"),
    ],
}


def _layout(families: list[Family]) -> tuple[pa.Schema, list[list[str]]]:
    """Output schema (key columns, then each family's fields in order)
    and, per family, the columns it is asked for: a column two families
    supply comes from the first."""
    fields = dict(_KEY_FIELDS)
    wanted = []
    for f in families:
        mine = [(name, t) for name, t in f.fields if name not in fields]
        fields.update(mine)
        wanted.append([name for name, _ in mine])
    return pa.schema(list(fields.items())), wanted


def _block(families, wanted, states, doc_id, source, tier, widx, raw):
    """One (doc, tier) run of output rows as numpy columns. ``raw(dtype)``
    returns the run's raw windows; None on the store path."""
    block = {"doc_id": doc_id, "source": source, "window_idx": widx,
             "tier": np.full(len(widx), tier, dtype=np.int32)}
    for f, state, names in zip(families, states, wanted):
        cols = f.columns(state, names,
                         None if raw is None else partial(raw, f.dtype))
        block.update((c, cols[c]) for c in names)
    return block


def _assemble(blocks: list[dict], schema: pa.Schema, pack: dict,
              nan_as_null: bool = False) -> pa.RecordBatch:
    """Concatenate per-(doc, tier) blocks into ONE RecordBatch built
    straight from numpy — no pandas block manager in the hot path.
    ``nan_as_null`` writes NaN doubles as NULL."""
    cols = []
    for c in schema.names:
        if c in ("doc_id", "source"):
            vals: list = []
            for b in blocks:
                vals.extend([b[c]] * len(b["window_idx"]))
            cols.append(pa.array(vals, type=pa.string()))
        elif c in pack:
            cols.append(pack[c]([b[c] for b in blocks]))
        else:
            cols.append(pa.array(np.concatenate([b[c] for b in blocks]),
                                 from_pandas=nan_as_null))
    return pa.RecordBatch.from_arrays(cols, schema=schema)


def family_schema(family: Family) -> pa.Schema:
    """Output schema of one family's rows: key columns, then its fields."""
    return _layout([family])[0]


def family_run(family: Family, state, doc_id, source, tier, widx,
               raw=None, nan_as_null=False) -> pa.RecordBatch:
    """One (doc, tier) run of ``family``'s rows as one RecordBatch of
    ``family_schema(family)``: a store cascade group's output, and the
    chunked stream's tier-0 rows. ``raw`` as in ``_block``."""
    schema, wanted = _layout([family])
    block = _block([family], wanted, [state], doc_id, source, tier, widx, raw)
    return _assemble([block], schema, family.pack, nan_as_null)


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


def _token_col(columns: list[str]) -> str:
    """The one token column a dense input ships to Python: ``tokens_bin``
    when present, else ``tokens``."""
    return "tokens_bin" if "tokens_bin" in columns else "tokens"


def _token_rows(rb: pa.RecordBatch) -> Iterator[np.ndarray]:
    """Each row's tokens of ``rb``'s token column (``_token_col``),
    zero-copy: packed ``tokens_bin`` bytes viewed as '<i4', ``tokens``
    list values as they are."""
    flat, offs, is_bin = _var_width_view(rb.column(_token_col(rb.schema.names)))
    for r in range(rb.num_rows):
        raw = flat[offs[r] : offs[r + 1]]
        yield raw.view("<i4") if is_bin else raw


def _group_fold(
    df: DataFrame,
    group_col: str,
    sketch: Callable,
    merge: Callable,
    rows: Callable,
    schema: pa.Schema,
) -> DataFrame:
    """The one map-side fold of the per-group source sketches (KMV, CMS,
    HLL by source): ONE ``mapInArrow`` pass over ``group_col`` and the
    token column. Per task, each non-empty row's int64 tokens become
    ``sketch(toks)``, folded into its group's state by ``merge(acc,
    state)`` while the group's token count is summed. At the end the task
    emits one RecordBatch of ``schema``: per group, the group value
    repeated beside the arrays ``rows(state, n_tokens)`` returns, so the
    shuffle above moves at most tasks x groups x (rows per state)."""

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        acc: dict = {}  # group -> (state, n_tokens)
        for rb in batches:
            grps = rb.column(group_col).to_pylist()
            for g, toks in zip(grps, _token_rows(rb)):
                if len(toks) == 0:
                    continue
                state = sketch(toks.astype(np.int64))
                if g in acc:
                    prev, n = acc[g]
                    acc[g] = merge(prev, state), n + len(toks)
                else:
                    acc[g] = state, len(toks)
        if acc:
            parts = [rows(*sn) for sn in acc.values()]
            g_col: list = []
            for g, cols in zip(acc, parts):
                g_col.extend([g] * len(cols[0]))
            yield pa.RecordBatch.from_arrays(
                [pa.array(g_col, type=pa.string())]
                + [pa.array(np.concatenate(c)) for c in zip(*parts)],
                schema=schema,
            )

    return df.select(group_col, _token_col(df.columns)).mapInArrow(
        fn, schema=from_arrow_schema(schema))


def walk_tiers(
    df: DataFrame,
    families: list[Family],
    window: int = DEFAULT_WINDOW,
    group: int = DEFAULT_GROUP,
    n_tiers: int = 3,
    counters: dict | None = None,
    seg_tokens: int = _SEG_TOKENS,
) -> DataFrame:
    """The one tier walker behind every rollup family: ONE shuffle-free
    ``mapInArrow`` pass over documents -> windows -> tiers.

    Per document it decodes the tokens (dense ``tokens_bin``/``tokens``,
    or, when the input has ``offsets`` and no token column, gapped
    ``offsets``/``values``/``n_tok`` through gap_fill), builds every
    family's tier-0 states from the same windows and merges them tier by
    tier; each family adds only its output columns. ``counters``
    (make_counters) receive rows read, windows emitted and — when the
    input carries ``tok_checksum`` — token checksum mismatches.
    """
    src, fn, schema = _tier_walker(df, families, window, group, n_tiers,
                                   counters, seg_tokens)
    return src.mapInArrow(fn, schema=from_arrow_schema(schema))


def _tier_walker(
    df: DataFrame,
    families: list[Family],
    window: int,
    group: int,
    n_tiers: int,
    counters: dict | None = None,
    seg_tokens: int = _SEG_TOKENS,
) -> tuple[DataFrame, Callable, pa.Schema]:
    """``walk_tiers`` in parts: (the projected input, the per-partition
    RecordBatch function, its output Arrow schema), for a caller that
    consumes the batches inside the task (``checkpoint.RollupJob``
    writes them to parquet there)."""
    gapped = "offsets" in df.columns and not (
        {"tokens", "tokens_bin"} & set(df.columns))
    if gapped and any(f.dtype is not np.float64 for f in families):
        raise ValueError("gap-filled values only feed float families")
    schema, wanted = _layout(families)
    pack = {c: p for f in families for c, p in f.pack.items()}
    dtypes = {f.dtype for f in families}
    if gapped:
        needed = ["offsets", "values", "n_tok"]
    else:
        needed = [_token_col(df.columns)]
        if counters is not None and "tok_checksum" in df.columns:
            needed.append("tok_checksum")
    # Pathological-row bound: a single giant document is processed in
    # SEGMENTS aligned to the coarsest tier length, so peak memory and
    # the flush cadence scale with the segment, not the row. Exact: every
    # tier's window length divides the segment, so window boundaries,
    # cascade groups, and leftover-window handling are identical to the
    # unchunked sweep — window_idx just carries the segment's offset.
    coarse = window * group ** (n_tiers - 1)
    seg = max(coarse, (seg_tokens // coarse) * coarse)

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for rb in batches:
            col = dict(zip(rb.schema.names, rb.columns))
            doc_ids = col["doc_id"].to_pylist()
            sources = col["source"].to_pylist()
            cksums = None
            if gapped:
                off_flat, off_offs, _ = _var_width_view(col["offsets"])
                val_flat, val_offs, _ = _var_width_view(col["values"])
                n_toks = col["n_tok"].to_numpy()
            else:
                flat, offs, is_bin = _var_width_view(col[needed[0]])
                cks = col.get("tok_checksum")
                if cks is not None and cks.null_count < len(cks):
                    cksums = cks.to_pylist()
            blocks: list[dict] = []
            n_acc = n_windows = n_bad = 0
            for r in range(rb.num_rows):
                if gapped:
                    x = gap_fill(
                        np.asarray(off_flat[off_offs[r] : off_offs[r + 1]],
                                   dtype=np.int64),
                        np.asarray(val_flat[val_offs[r] : val_offs[r + 1]],
                                   dtype=np.float64),
                        int(n_toks[r]),
                    )
                else:
                    raw = flat[offs[r] : offs[r + 1]]
                    x = raw.view("<i4") if is_bin else raw
                    # per-row token-array integrity invariant
                    if cksums is not None and cksums[r] is not None:
                        if token_checksum(x) != int(cksums[r]):
                            n_bad += 1
                if len(x) < window:
                    continue
                for s0 in range(0, len(x) - window + 1, seg):
                    sx = {dt: x[s0 : s0 + seg].astype(dt, copy=False)
                          for dt in dtypes}
                    k = min(seg, len(x) - s0) // window
                    states = [f.from_windows(K.make_buffer(sx[f.dtype], window))
                              for f in families]
                    for tier in range(n_tiers):
                        if tier:
                            k //= group
                            if k == 0:
                                break
                            states = [f.merge_groups(st, group)
                                      for f, st in zip(families, states)]
                        wlen = window * group**tier
                        blocks.append(_block(
                            families, wanted, states, doc_ids[r], sources[r],
                            tier, np.arange(s0 // wlen, s0 // wlen + k,
                                            dtype=np.int64),
                            lambda dt, wlen=wlen: K.make_buffer(sx[dt], wlen),
                        ))
                        n_windows += k
                        n_acc += k
                    if n_acc >= _FLUSH_ROWS:
                        yield _assemble(blocks, schema, pack)
                        blocks = []
                        n_acc = 0
            if counters is not None:
                counters["rows_read"].add(rb.num_rows)
                counters["windows_emitted"].add(n_windows)
                counters["checksum_mismatches"].add(n_bad)
            if blocks:
                yield _assemble(blocks, schema, pack)

    return df.select("doc_id", "source", *needed), fn, schema


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
    counters: dict | None = None,
    feature_set=None,
    seg_tokens: int = _SEG_TOKENS,
) -> DataFrame:
    """Single-pass 3-tier ALG rollup (see module docstring).

    Input: sequences table (dense: doc_id/tokens|tokens_bin/source
    [/tok_checksum]; gapped, with no token column:
    doc_id/offsets/values/n_tok/source).
    Only the needed columns cross the Arrow boundary (explicit pruning —
    mapInArrow ships every column of its input otherwise). A compiled
    FeatureSet (plans/registry) adds one double column per label.
    """
    return walk_tiers(df, [alg_family(lags or DEFAULT_LAGS, feature_set)],
                      window, group, n_tiers, counters, seg_tokens)


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
    family: Family,
    group: int,
    nan_as_null: bool = False,
) -> DataFrame:
    """The physical shape every store-side cascade shares:
    ``groupBy(doc_id, tier).applyInArrow`` — one Arrow call per (doc,
    tier), never one per parent window. Tier is part of the key, so
    multi-tier input cascades each tier independently. A store bucketed
    by doc_id (store.write_tier_bucketed) satisfies the grouping with no
    Exchange; any other input pays one hashpartitioning on the doc keys.

    Each call sorts its run by ``window_idx``, keeps the children of the
    complete parents (``complete_parents``), rebuilds the family's
    states from the stored columns, merges them in one
    ``merge_groups`` and emits the tier k+1 rows through the walker's
    column functions and assembler.
    """
    schema = family_schema(family)
    empty = schema.empty_table()

    def run(tbl):
        tbl = tbl.sort_by("window_idx")
        parents, keep = complete_parents(
            tbl.column("window_idx").to_numpy(), group
        )
        if not len(parents):
            return empty
        state = family.merge_groups(family.from_store(tbl.filter(keep)), group)
        return pa.Table.from_batches([family_run(
            family, state, tbl.column("doc_id")[0].as_py(),
            tbl.column("source")[0].as_py(),
            tbl.column("tier")[0].as_py() + 1, parents,
            nan_as_null=nan_as_null,
        )])

    return (
        tier_df.select("doc_id", "source", "tier", "window_idx",
                       *family.store_cols)
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
    # NaN -> NULL: the documented NULL HOL columns of a late cascade
    return store_cascade(tier_df, alg_family(lags or DEFAULT_LAGS), group,
                         nan_as_null=True)


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
    sel, _t, residual = _serving_tier(tiers, bucket_windows, group, n_tiers)
    if residual == 1:
        return sel
    return cascade_from_store(sel, group=residual, lags=lags)


def _serving_tier(
    tiers: DataFrame, bucket_windows: int, group: int, n_tiers: int
) -> tuple[DataFrame, int, int]:
    """The router's tier choice, shared by every ``*_at_resolution``:
    (rows of the coarsest tier t whose ``group**t`` divides B, t, the
    residual B / group**t tier-t rows per output bucket)."""
    if bucket_windows < 1:
        raise ValueError("bucket_windows must be >= 1")
    t = max(
        k for k in range(n_tiers) if bucket_windows % (group ** k) == 0
    )
    return (tiers.where(F.col("tier") == t), t,
            bucket_windows // group ** t)
