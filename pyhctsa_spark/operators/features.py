"""Generic feature extraction over sequences — the full hctsa-style
operator surface, distributed.

``extract_features`` runs a compiled FeatureSet (plans/registry.py)
over every doc (whole-series, like the reference's
``FeatureCalculator.extract``) or over every non-overlapping window
(``window=``). One Arrow-native pass, schema fixed at plan time,
per-feature error isolation -> NaN + an ``extract_errors`` counter
(mirroring the reference's per-feature try/except strings,
calculator.py:97-105).

The reference computes series x features sequentially in one process
(calculator.py:116-117); here docs are the unit of parallelism, so the
same feature math runs at cluster width with zero shuffles.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame

from pyhctsa_spark.functions import kernels as K
from pyhctsa_spark.operators.rollup import _token_col, _token_rows
from pyhctsa_spark.plans.registry import FeatureSet


def extract_features(
    df: DataFrame,
    fs: FeatureSet,
    window: int | None = None,
    counters: dict | None = None,
) -> DataFrame:
    """Input: sequences table (tokens or tokens_bin). Output: one row per
    doc (window=None) or per (doc, window_idx), with one double column
    per feature label."""
    cols = fs.columns
    schema = pa.schema(
        [("doc_id", pa.string()), ("source", pa.string()),
         ("window_idx", pa.int64())]
        + [(c, pa.float64()) for c in cols]
    )
    ddl = (
        "doc_id string, source string, window_idx long, "
        + ", ".join(f"`{c}` double" for c in cols)
    )

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        # output-side memory bound (see operators/rollup.py): flush a
        # RecordBatch every ~64k output rows instead of materializing a
        # whole input batch's feature matrix at once
        FLUSH_ROWS = 1 << 16

        def _emit(out_ids, out_src, out_widx, mats):
            M = np.concatenate(mats, axis=0)
            arrays = [
                pa.array(out_ids, type=pa.string()),
                pa.array(out_src, type=pa.string()),
                pa.array(np.concatenate(out_widx)),
            ] + [pa.array(np.ascontiguousarray(M[:, j])) for j in range(M.shape[1])]
            return pa.RecordBatch.from_arrays(arrays, schema=schema)

        for rb in batches:
            doc_ids = rb.column("doc_id").to_pylist()
            sources = rb.column("source").to_pylist()
            out_ids: list[str] = []
            out_src: list[str] = []
            out_widx: list[np.ndarray] = []
            mats: list[np.ndarray] = []
            n_acc = 0
            n_err = 0
            for doc, src, toks in zip(doc_ids, sources, _token_rows(rb)):
                y = toks.astype(np.float64)
                if window is None:
                    vals, ne = fs.compute(y)
                    mats.append(np.asarray([vals]))
                    out_widx.append(np.zeros(1, dtype=np.int64))
                    k = 1
                else:
                    if len(y) < window:
                        continue
                    Y = K.make_buffer(y, window)
                    m, ne = fs.compute_matrix(Y)
                    mats.append(m)
                    out_widx.append(np.arange(Y.shape[0], dtype=np.int64))
                    k = Y.shape[0]
                n_err += ne
                out_ids.extend([doc] * k)
                out_src.extend([src] * k)
                n_acc += k
                if n_acc >= FLUSH_ROWS:
                    yield _emit(out_ids, out_src, out_widx, mats)
                    out_ids, out_src, out_widx, mats = [], [], [], []
                    n_acc = 0
            if counters is not None:
                counters["rows_read"].add(rb.num_rows)
                counters["extract_errors"].add(n_err)
            if mats:
                yield _emit(out_ids, out_src, out_widx, mats)

    return df.select("doc_id", "source", _token_col(df.columns)).mapInArrow(
        fn, schema=ddl)


def make_feature_counters(spark) -> dict:
    sc = spark.sparkContext
    return {"rows_read": sc.accumulator(0), "extract_errors": sc.accumulator(0)}
