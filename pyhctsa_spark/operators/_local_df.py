"""One-slice local-collection DataFrames for tiny local row lists, and
the key-set filter built on them.

``spark.createDataFrame(list)`` parallelizes the rows into
defaultParallelism slices, and the conventional ``.coalesce(1)`` before
a log append then drains ALL of those slices serially through
per-slice Python runners inside the single task — ~90 ms apiece, a
measured ~2.8 s fixed cost per tiny write at local[32] (and a
per-core-count tax on a real cluster). Building the RDD with ONE slice
up front writes the same single file for ~0.4 s: same rows, same
schema, same one-file layout, an order of magnitude less overhead
(optimization round 6; guide §1.2 "per-task work")."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, functions as F
from pyspark.sql.types import StructField, StructType

# A literal IN keeps parquet row-group pruning, but Catalyst's planning
# cost grows with the expression tree (a 100k-key IN cost about a
# minute of planning in pq._exact_rerank); above this many keys the
# filter is a broadcast join instead.
IN_LIST_MAX_KEYS = 2048


def one_slice_df(spark: SparkSession, rows, schema) -> DataFrame:
    return spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1), schema=schema
    )


def key_set_filter(
    spark: SparkSession, df: DataFrame, key: Column, keys: list,
    keep: bool = False,
) -> DataFrame:
    """Rows of ``df`` whose ``key`` is in ``keys`` or, with ``keep``,
    every other row. The kept side includes rows whose key is NULL: a
    NULL key is in no key set, and erasure must not drop it. ``keys``
    must already be of ``key``'s type."""
    if len(keys) <= IN_LIST_MAX_KEYS:
        hit = key.isin(keys)
        return df.where(~hit | key.isNull()) if keep else df.where(hit)
    dtype = df.select(key).schema.fields[0].dataType
    ks = one_slice_df(spark, [(k,) for k in keys],
                      StructType([StructField("_set_key", dtype)]))
    return df.join(F.broadcast(ks), key == F.col("_set_key"),
                   "left_anti" if keep else "left_semi")
