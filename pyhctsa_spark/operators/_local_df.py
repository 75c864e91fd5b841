"""One-slice local-collection DataFrames for tiny local row lists.

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

from pyspark.sql import DataFrame, SparkSession


def one_slice_df(spark: SparkSession, rows, schema) -> DataFrame:
    return spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1), schema=schema
    )
