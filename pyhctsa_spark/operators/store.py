"""Compressed rollup store: Gorilla values + delta-of-delta offsets.

The materialized store holds one row per (doc_id, tier) BLOCK rather than
per window: window indices are delta-of-delta encoded and each feature
stream is Gorilla-XOR encoded into a BINARY column (functions/codec.py),
with per-block checksums and raw/compressed byte counters. This is the
retention-tier layout — long-lived tiers compress ~5-20x vs plain
doubles while staying random-accessible per doc.

``write_compressed_store`` groups by (doc_id, tier) — fine-grained keys,
so the shuffle has no source-level skew — and encodes each group in one
``applyInArrow`` call. ``read_compressed_store`` restores the plain
per-window table (ALG + HOL feature columns): a scalar Arrow UDF turns
each block into a list of window structs that ``inline`` expands, so the
key columns stay plain scan columns and a ``doc_id``/``source``/``tier``
filter above the read is pushed into the parquet scan — a one-document
read decodes that document's blocks only. No pandas on either path.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.pandas.types import from_arrow_schema, from_arrow_type

from pyhctsa_spark.functions.codec import (
    dod_decode,
    dod_encode,
    gorilla_decode,
    gorilla_encode,
)

FEATURES = [
    "mean", "variance", "spread_std", "spread_iqr",
    "ac1_td", "ac2_td", "ac1_fourier", "burst_b", "burst_b_kim",
]

_BLOCK_SCHEMA = pa.schema(
    [("doc_id", pa.string()), ("source", pa.string()), ("tier", pa.int32()),
     ("n_windows", pa.int32()), ("n", pa.int64()), ("widx_bin", pa.binary())]
    + [(f"{f}_bin", pa.binary()) for f in FEATURES]
    + [("raw_bytes", pa.int64()), ("comp_bytes", pa.int64())]
)


def _encode_block(tbl: pa.Table) -> pa.Table:
    """One (doc_id, tier) group -> one encoded block row."""
    tbl = tbl.sort_by("window_idx")
    widx = tbl.column("window_idx").to_numpy()
    blobs = {"widx_bin": dod_encode(widx)}
    raw = widx.nbytes
    for f in FEATURES:
        vals = tbl.column(f).to_numpy()  # NULL -> NaN
        blobs[f"{f}_bin"] = gorilla_encode(vals)
        raw += vals.nbytes
    comp = sum(len(b) for b in blobs.values())
    return pa.Table.from_pylist(
        [{
            "doc_id": tbl.column("doc_id")[0].as_py(),
            "source": tbl.column("source")[0].as_py(),
            "tier": tbl.column("tier")[0].as_py(),
            "n_windows": tbl.num_rows,
            "n": tbl.column("n")[0].as_py(),
            **blobs,
            "raw_bytes": raw,
            "comp_bytes": comp,
        }],
        schema=_BLOCK_SCHEMA,
    )


def write_compressed_store(tier_df: DataFrame, path: str) -> None:
    cols = ["doc_id", "source", "tier", "window_idx", "n", *FEATURES]
    (
        tier_df.select(*cols)
        .groupBy("doc_id", "tier")
        .applyInArrow(_encode_block, schema=from_arrow_schema(_BLOCK_SCHEMA))
        .write.mode("overwrite")
        .parquet(path)
    )


def write_tier_bucketed(
    tier_df: DataFrame, table: str, path: str, num_buckets: int = 256,
) -> None:
    """Materialize a rollup tier bucketed by doc_id.

    HashPartitioning(doc_id) satisfies the clustered distribution of
    every downstream per-doc operation, so reads from this table feed
    the store cascades (``rollup.store_cascade``: groupBy doc_id, tier)
    and any per-doc rollup/aggregation with ZERO shuffle — the Exchange
    disappears from the plan (pytest-enforced). This is the
    continuous-aggregate layout at warehouse scale: each retention
    cascade is a bucket-local map-side aggregation; size num_buckets to
    the cluster (e.g. 2-4x executor count).
    """
    (
        tier_df.write.mode("overwrite")
        .format("parquet")
        .bucketBy(num_buckets, "doc_id")
        .sortBy("doc_id")
        .option("path", path)
        .saveAsTable(table)
    )


def read_tier_table(spark: SparkSession, table: str) -> DataFrame:
    """Read a bucketed tier table (bucket metadata preserved, so
    downstream per-doc groupings stay exchange-free)."""
    return spark.table(table)


_ROWS_TYPE = pa.list_(pa.struct(
    [("window_idx", pa.int64())] + [(f, pa.float64()) for f in FEATURES]))


def _decode_rows(widx_bin: pa.Array, *feature_bins: pa.Array) -> pa.Array:
    """Each block's windows as one list of (window_idx, *FEATURES)
    structs, built from numpy; a NaN feature comes back NULL."""
    widx = [dod_decode(b) for b in widx_bin.to_pylist()]
    cols = [np.concatenate([np.empty(0, np.int64), *widx])] + [
        np.concatenate([np.empty(0), *map(gorilla_decode, c.to_pylist())])
        for c in feature_bins
    ]
    rows = pa.StructArray.from_arrays(
        [pa.array(c, from_pandas=True) for c in cols],
        fields=list(_ROWS_TYPE.value_type))
    offsets = np.cumsum([0] + [len(w) for w in widx], dtype=np.int32)
    return pa.ListArray.from_arrays(pa.array(offsets), rows)


_decode = F.arrow_udf(_decode_rows, from_arrow_type(_ROWS_TYPE))


def read_compressed_store(spark: SparkSession, path: str) -> DataFrame:
    """The plain per-window table of a compressed store. The decode is
    a scalar Arrow UDF expanded by ``inline``, so a caller's filter on
    ``doc_id``, ``source`` or ``tier`` reaches the parquet scan and
    only the blocks it names are decoded."""
    rows = _decode("widx_bin", *(f"{f}_bin" for f in FEATURES))
    return (
        spark.read.parquet(path)
        .select("doc_id", "source", "tier", "n", F.inline(rows))
        .select("doc_id", "source", "tier", "window_idx", "n", *FEATURES)
    )


def compression_report(spark: SparkSession, path: str) -> dict:
    row = (
        spark.read.parquet(path)
        .selectExpr(
            "sum(raw_bytes) AS raw",
            "sum(comp_bytes) AS comp",
            "count(*) AS blocks",
            "sum(n_windows) AS windows",
        )
        .first()
    )
    return {
        "raw_bytes": row["raw"],
        "comp_bytes": row["comp"],
        "blocks": row["blocks"],
        "windows": row["windows"],
        "ratio": round(row["raw"] / row["comp"], 2) if row["comp"] else None,
    }
