"""Snapshot-checkpointed, resumable rollup jobs with per-bucket lineage.

The unit of restartable work is a SALT BUCKET: ``pmod(xxhash64(doc_id),
n_buckets)``. Each bucket is one parallel Spark job writing
``store/tier_data/bucket=<k>/`` plus an atomic manifest entry
``_manifest/bucket_<k>.json`` recording rows read, windows emitted,
checksum mismatches, wall time, and output bytes. On restart, completed
buckets are skipped (the manifest IS the checkpoint); a final
``_SNAPSHOT.json`` aggregates counters.

This mirrors an Iceberg snapshot-per-stage commit protocol (SURVEY.md
§4.2) without requiring the Iceberg runtime in this sandbox: manifest
entries <-> snapshot manifests, bucket dirs <-> partition file groups.
Doc-hash bucketing keeps every bucket an iid sample of sources and doc
lengths, so no bucket is a skew hotspot.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession, functions as F

from pyhctsa_spark.operators import tablefs
from pyhctsa_spark.operators.rollup import FAMILIES, make_counters, walk_tiers


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
            out = walk_tiers(
                part, FAMILIES[self.family](self.lags), window=self.window,
                group=self.group, n_tiers=self.n_tiers, counters=counters,
            )
            dest = os.path.join(self.store_path, "tier_data", f"bucket={b}")
            out.write.mode("overwrite").parquet(dest)
            wall = time.perf_counter() - t0
            out_bytes = sum(
                os.path.getsize(os.path.join(dp, fn))
                for dp, _, fns in os.walk(dest)
                for fn in fns
            )
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
