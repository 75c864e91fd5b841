"""Snapshot-checkpointed, resumable rollup jobs with per-bucket lineage.

The unit of restartable work is a SALT BUCKET: ``pmod(xxhash64(doc_id),
n_buckets)``. The buckets run one after another, each as one Spark job
whose ``mapInArrow`` tasks walk the tiers (``rollup.walk_tiers``'s
parts) and write their own RecordBatches with pyarrow: one parquet file
per task under ``store/tier_data/bucket=<k>/``, written under a hidden
``.part-*`` name and moved into place. No window crosses back to the
JVM and no Hadoop output committer runs. The driver collects each
task's (file, bytes), deletes every other file in the bucket directory
(what a failed or retried task attempt left) and only then publishes
the manifest entry ``_manifest/bucket_<k>.json`` with rows read,
windows emitted, checksum mismatches, wall time and output bytes.

That entry is the only commit. ``result()`` reads committed buckets
only; a restart skips them and rewrites every other bucket from an
emptied directory; a final ``_SNAPSHOT.json`` aggregates the counters.

The store must be a POSIX path that the driver and every executor can
write to: a local directory under a local master, a shared mount on a
cluster. Tasks write the files, and the driver lists, prunes and
commits them with ``os`` calls.

The files follow Spark's own parquet writer: the session's
``spark.sql.parquet.compression.codec``, a dictionary only on the
columns where parquet-mr would keep one, column statistics for
readers' key filters, no embedded Arrow schema.

This mirrors an Iceberg snapshot-per-stage commit protocol (SURVEY.md
§4.2) without requiring the Iceberg runtime in this sandbox: manifest
entries <-> snapshot manifests, bucket dirs <-> partition file groups.
Doc-hash bucketing keeps every bucket an iid sample of sources and doc
lengths, so no bucket is a skew hotspot.
"""

from __future__ import annotations

import itertools
import json
import os
import shutil
import time
import uuid
from collections.abc import Callable, Iterable, Iterator

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark import TaskContext
from pyspark.sql import DataFrame, SparkSession, functions as F

from pyhctsa_spark.operators import tablefs
from pyhctsa_spark.operators.rollup import FAMILIES, _tier_walker, make_counters

# Spark's parquet codec names -> pyarrow's. The others Spark accepts
# (lzo, Hadoop-framed lz4) pyarrow cannot write.
_CODECS = {"none": "none", "uncompressed": "none", "snappy": "snappy",
           "gzip": "gzip", "zstd": "zstd", "brotli": "brotli",
           "lz4_raw": "lz4"}

# parquet-mr keeps or drops a column's dictionary after its first page,
# which holds at most this many rows
_FIRST_PAGE_ROWS = 20_000


def _parquet_options(spark: SparkSession, schema: pa.Schema) -> dict:
    """``pq.ParquetWriter`` options that give the files Spark's parquet
    writer would: its codec, statistics on every column a reader can
    filter on (not the state blobs), no embedded Arrow schema. Rejects a
    codec pyarrow cannot write."""
    name = spark.conf.get("spark.sql.parquet.compression.codec", "snappy").lower()
    codec = _CODECS.get(name)
    if codec is None or (codec != "none" and not pa.Codec.is_available(codec)):
        raise ValueError(f"parquet codec {name!r} cannot be written by pyarrow")
    return {
        "compression": codec,
        "write_statistics": [f.name for f in schema
                             if not pa.types.is_binary(f.type)],
        "store_schema": False,
    }


def _dictionary_columns(rb: pa.RecordBatch) -> list[str]:
    """The columns whose dictionary pays on the first page of ``rb``,
    by parquet-mr's test: the distinct values plus the bit-packed
    indices must take fewer bytes than the plain values. Per-window
    doubles and blobs fail it; keys, counts and small-range estimates
    pass. pyarrow would otherwise dictionary-encode every column."""
    keep = []
    page = rb.slice(0, _FIRST_PAGE_ROWS)
    for name, col in zip(page.schema.names, page.columns):
        if pa.types.is_binary(col.type):
            continue
        distinct = len(pc.unique(col))
        plain = col.nbytes
        index_bytes = len(col) * max(distinct - 1, 1).bit_length() / 8
        if plain * distinct / len(col) + index_bytes < plain:
            keep.append(name)
    return keep


def _write_file(path: str, schema: pa.Schema, opts: dict,
                batches: Iterable[pa.RecordBatch]) -> int:
    """Write ``batches`` to the parquet file ``path`` through a hidden
    ``.<name>`` sibling; returns the file's size."""
    d, name = os.path.split(path)
    with tablefs.staged(os.path.join(d, "." + name), path) as tmp, \
            pq.ParquetWriter(tmp, schema, **opts) as w:
        for rb in batches:
            w.write_batch(rb)
    return os.path.getsize(path)


def _part_writer(fn: Callable, schema: pa.Schema, opts: dict, dest: str):
    """The bucket job's ``mapInArrow`` body: the task's walker batches go
    to one new parquet file in ``dest``; it yields that file's (file,
    bytes) row, or nothing when the task emitted no windows."""

    def write(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        out = fn(batches)
        first = next(out, None)
        if first is None:
            return
        name = (f"part-{TaskContext.get().partitionId():05d}-"
                f"{uuid.uuid4().hex}.parquet")
        size = _write_file(
            os.path.join(dest, name), schema,
            dict(opts, use_dictionary=_dictionary_columns(first)),
            itertools.chain([first], out),
        )
        yield pa.RecordBatch.from_pydict({"file": [name], "bytes": [size]})

    return write


class RollupJob:
    def __init__(
        self,
        store_path: str,
        n_buckets: int = 8,
        window: int = 32,
        group: int = 16,
        n_tiers: int = 3,
        lags: list[int] | None = None,
        family: str = "alg",
    ) -> None:
        if family not in FAMILIES:
            raise ValueError(f"unknown rollup family {family!r}")
        self.store_path = store_path
        self.n_buckets = n_buckets
        self.window = window
        self.group = group
        self.n_tiers = n_tiers
        self.lags = lags or [1, 2]
        self.family = family
        self.manifest_dir = os.path.join(store_path, "_manifest")

    # -- manifest ----------------------------------------------------------
    def _entry_path(self, bucket: int) -> str:
        return os.path.join(self.manifest_dir, f"bucket_{bucket}.json")

    def completed_buckets(self) -> dict[int, dict]:
        out = {}
        if os.path.isdir(self.manifest_dir):
            for name in os.listdir(self.manifest_dir):
                if name.startswith("bucket_") and name.endswith(".json"):
                    with open(os.path.join(self.manifest_dir, name)) as f:
                        e = json.load(f)
                    out[e["bucket"]] = e
        return out

    def _commit(self, entry: dict) -> None:
        tablefs.publish(self._entry_path(entry["bucket"]), json.dumps(entry))

    # -- execution ---------------------------------------------------------
    def run(
        self,
        spark: SparkSession,
        sequences: DataFrame,
        fail_after_bucket: int | None = None,
    ) -> dict:
        """Process all pending buckets; returns the snapshot summary.

        ``fail_after_bucket`` injects a crash (for resume tests).
        """
        bucketed = sequences.withColumn(
            "_bucket", F.pmod(F.xxhash64(F.col("doc_id")), F.lit(self.n_buckets))
        )
        done = self.completed_buckets()
        for b in range(self.n_buckets):
            if b in done:
                continue
            counters = make_counters(spark)
            t0 = time.perf_counter()
            part = bucketed.where(F.col("_bucket") == b).drop("_bucket")
            out_bytes = self._write_bucket(spark, part, b, counters)
            wall = time.perf_counter() - t0
            self._commit(
                {
                    "bucket": b,
                    "family": self.family,
                    "rows_read": counters["rows_read"].value,
                    "windows_emitted": counters["windows_emitted"].value,
                    "checksum_mismatches": counters["checksum_mismatches"].value,
                    "wall_sec": round(wall, 3),
                    "output_bytes": out_bytes,
                    "committed_at": time.time(),
                }
            )
            if fail_after_bucket is not None and b >= fail_after_bucket:
                raise RuntimeError(f"injected failure after bucket {b}")
        return self.snapshot()

    def _write_bucket(self, spark: SparkSession, part: DataFrame, bucket: int,
                      counters: dict) -> int:
        """Rewrite ``tier_data/bucket=<bucket>/`` from ``part`` in one
        Spark job; returns the bytes written. When it returns, the
        directory holds exactly the files the job's tasks reported, so
        the caller may commit it."""
        src, fn, schema = _tier_walker(
            part, FAMILIES[self.family](self.lags), self.window, self.group,
            self.n_tiers, counters=counters,
        )
        opts = _parquet_options(spark, schema)
        dest = os.path.join(self.store_path, "tier_data", f"bucket={bucket}")
        if os.path.isdir(dest):
            shutil.rmtree(dest)
        os.makedirs(dest)
        files = dict(src.mapInArrow(_part_writer(fn, schema, opts, dest),
                                    "file string, bytes long").collect())
        if not files:
            # a bucket without windows keeps one schema-only file, as
            # Spark's writer does: readers infer the schema from it
            name = f"part-00000-{uuid.uuid4().hex}.parquet"
            files[name] = _write_file(os.path.join(dest, name), schema, opts, [])
        for name in os.listdir(dest):
            if name not in files:
                os.remove(os.path.join(dest, name))
        return sum(files.values())

    def snapshot(self) -> dict:
        entries = list(self.completed_buckets().values())
        snap = {
            "buckets_done": len(entries),
            "n_buckets": self.n_buckets,
            "complete": len(entries) == self.n_buckets,
            "rows_read": sum(e["rows_read"] for e in entries),
            "windows_emitted": sum(e["windows_emitted"] for e in entries),
            "checksum_mismatches": sum(e["checksum_mismatches"] for e in entries),
            "output_bytes": sum(e["output_bytes"] for e in entries),
        }
        tablefs.publish(
            os.path.join(self.store_path, "_SNAPSHOT.json"),
            json.dumps(snap, indent=2),
        )
        return snap

    def result(self, spark: SparkSession) -> DataFrame:
        """The COMMITTED view: only buckets with a manifest entry are
        read. A crashed run's partially-written bucket directory (data
        landed, _commit never ran) is invisible here — the manifest IS
        the checkpoint, for reads as much as for resume."""
        done = sorted(self.completed_buckets())
        if not done:
            raise ValueError("no committed buckets in the manifest yet")
        root = os.path.join(self.store_path, "tier_data")
        return spark.read.option("basePath", root).parquet(
            *[os.path.join(root, f"bucket={b}") for b in done]
        )

    def lineage(self, spark: SparkSession) -> DataFrame:
        """Per-bucket lineage as a queryable DataFrame (rows read,
        windows emitted, checksum mismatches, wall, bytes, commit time)."""
        schema = (
            "bucket int, rows_read long, windows_emitted long, "
            "checksum_mismatches long, wall_sec double, "
            "output_bytes long, committed_at double"
        )
        entries = list(self.completed_buckets().values())
        rows = [
            (e["bucket"], e["rows_read"], e["windows_emitted"],
             e["checksum_mismatches"], e["wall_sec"], e["output_bytes"],
             e["committed_at"])
            for e in entries
        ]
        # the SAME explicit schema either way: the inferred-from-dicts
        # path used to flip bucket to bigint and reorder columns,
        # breaking unions with the empty-manifest shape
        from pyhctsa_spark.operators._local_df import one_slice_df

        return one_slice_df(spark, rows, schema)
