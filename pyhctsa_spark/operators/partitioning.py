"""Partitioning & skew control.

The sequences table is skewed two ways at 10^12-sequence scale:
  - ``source`` is Zipf-distributed (one corpus can be ~35% of rows);
  - doc lengths are log-uniform over two orders of magnitude.

The rollup kernel itself is per-row, so the unit of work is the token
count, not the row count. ``salted_repartition`` hash-distributes rows by
the full-width ``xxhash64(doc_id)`` — fine-grained, deterministic, and
independent of ``source`` — so every task gets an iid sample of doc
lengths and no source hotspot survives. On a real cluster the same
helper is what you'd run before writing Iceberg partitions
``(source, bucket(N, doc_id))``.

It also fixes the local-bench failure mode where a small cached parquet
collapses into 1-2 input splits (maxPartitionBytes >> file sizes) and
starves the cores.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def salted_repartition(
    df: DataFrame,
    num_partitions: int | None = None,
    salt_on: str = "doc_id",
) -> DataFrame:
    """Deterministic skew-defusing repartition by full-width
    hash(doc_id).

    ``num_partitions`` defaults to 2x default parallelism. The salt
    column is dropped after the exchange.

    The salt is the FULL 64-bit xxhash64, not a bounded
    ``pmod(hash, k*partitions)`` bucket: a low-cardinality salt
    re-introduces balls-into-bins skew at the partitioner (measured 2.0x
    max/mean with 32 salt values into 8 partitions — each partition
    receives a whole number of salt buckets, and bucket counts are
    Poisson). Full-width salting hashes every row independently, giving
    multinomial balance (max/mean -> 1 as rows/partition grows).
    """
    spark = df.sparkSession
    if num_partitions is None:
        num_partitions = spark.sparkContext.defaultParallelism * 2
    return (
        df.withColumn("_salt", F.xxhash64(F.col(salt_on)))
        .repartition(num_partitions, F.col("_salt"))
        .drop("_salt")
    )


def rebalance_degenerate(df: DataFrame, min_bytes: int = 8 << 20) -> DataFrame:
    """Round-robin repartition an input whose scan collapsed to fewer
    partitions than cores — the unsplittable-file / single-row-group
    case of guide §2.5 ("input skew: one huge unsplittable file …
    repartition immediately after the read"). A well-partitioned
    production input (>= defaultParallelism scan partitions, the
    100 TB shape) is returned UNCHANGED, so the scan-side-only plans
    keep their shape at scale; only degenerate local layouts pay the
    one extra pass over the raw bytes, and they buy full-cluster
    parallelism for every downstream map stage with it (optimization
    round 6: the sf/bench parquet inputs are single-row-group, so
    every scan stage otherwise runs ONE task)."""
    import os

    try:
        files = df.inputFiles()
        size = sum(
            os.path.getsize(f[7:] if f.startswith("file:") else f)
            for f in files
        )
    except Exception:
        return df  # non-file-backed source: leave the plan alone
    if not files or size < min_bytes:
        # fixture-scale input: the repartition's fixed cost (~0.3 s of
        # exchange + plan->RDD conversion) outweighs any parallelism
        return df
    par = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < par:
        return df.repartition(par)
    return df
