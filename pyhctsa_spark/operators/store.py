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
per-window table (ALG + HOL feature columns).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import from_arrow_schema

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


_DECODED_SCHEMA = (
    "doc_id string, source string, tier int, window_idx long, n long, "
    + ", ".join(f"{f} double" for f in FEATURES)
)


def _decode_blocks(batches):
    for pdf in batches:
        outs = []
        for row in pdf.itertuples(index=False):
            widx = dod_decode(row.widx_bin)
            cols = {
                "doc_id": [row.doc_id] * len(widx),
                "source": [row.source] * len(widx),
                "tier": np.full(len(widx), row.tier, dtype=np.int32),
                "window_idx": widx,
                "n": np.full(len(widx), row.n, dtype=np.int64),
            }
            for f in FEATURES:
                cols[f] = gorilla_decode(getattr(row, f"{f}_bin"))
            outs.append(pd.DataFrame(cols))
        if outs:
            yield pd.concat(outs, ignore_index=True)


def read_compressed_store(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path).mapInPandas(
        _decode_blocks, schema=_DECODED_SCHEMA
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
