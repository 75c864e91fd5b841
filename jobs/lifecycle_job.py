"""spark-submit entrypoint for the chunk-lifecycle maintenance job:
compaction + retention over a (tier, chunk)-partitioned rollup store.

Usage (cluster; run on a schedule — hourly/daily — like TimescaleDB's
background jobs or an Iceberg maintenance pipeline):

    scripts/package.py                       # builds dist/pyhctsa_spark.zip
    spark-submit --py-files dist/pyhctsa_spark.zip \\
        jobs/lifecycle_job.py \\
        --store s3://bucket/rollup_chunked/ \\
        --retain 0:168,1:2160,2:keep \\
        --chunk-windows 64 --compact-target-files 1

Order of operations is retention FIRST, then compaction — never pay to
rewrite a chunk that is about to be dropped. Both phases choose their
chunks from directory metadata; only compaction rewrites live data: the
fragmented chunks it selected, all in one Spark job, each then swapped
in through the crash-recoverable tablefs swap. Watermarks are derived
from the parquet footers of the newest chunk per tier, read with
pyarrow and no Spark job (O(one chunk) per tier regardless of store
size), unless --watermark overrides are given.

Prints one JSON line: evicted chunks, compacted chunks, bytes
reclaimed/rewritten — the job's lineage counters (full per-chunk audit
rows live in the store's _retention_log / _compaction_log parquets).
"""

from __future__ import annotations

import argparse
import json
import sys


def parse_retain(spec: str) -> dict[int, int | None]:
    out: dict[int, int | None] = {}
    for part in spec.split(","):
        tier_s, hor_s = part.split(":")
        out[int(tier_s)] = None if hor_s == "keep" else int(hor_s)
    return out


def parse_args(argv):
    p = argparse.ArgumentParser(description="pyhctsa_spark chunk lifecycle job")
    p.add_argument("--store", required=True,
                   help="(tier, chunk)-partitioned rollup store root")
    p.add_argument("--retain", default=None,
                   help="per-tier horizons in windows of that tier's own "
                        "resolution, e.g. 0:168,1:2160,2:keep; omit to skip "
                        "retention")
    p.add_argument("--chunk-windows", type=int, default=64)
    p.add_argument("--tier-ratio", type=int, default=16)
    p.add_argument("--watermark", default=None,
                   help="override watermarks as tier:widx,... (default: "
                        "derived from the newest chunk per tier)")
    p.add_argument("--force", action="store_true",
                   help="skip the cascade-before-evict guard")
    p.add_argument("--compact-target-files", type=int, default=1)
    p.add_argument("--compact-small-bytes", type=int, default=8 * 1024 * 1024)
    p.add_argument("--no-compact", action="store_true")
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv if argv is not None else sys.argv[1:])
    from pyhctsa_spark.operators.compaction import compact_chunks
    from pyhctsa_spark.operators.retention import (
        RetentionPolicy,
        apply_retention,
        tier_watermarks,
    )
    from pyhctsa_spark.session import get_spark

    spark = get_spark("lifecycle-job", master="from-submit")
    evicted: list[dict] = []
    if args.retain:
        policy = RetentionPolicy(
            horizons=parse_retain(args.retain),
            chunk_windows=args.chunk_windows,
            tier_ratio=args.tier_ratio,
        )
        if args.watermark:
            wm = {
                int(t): int(w)
                for t, w in (kv.split(":") for kv in args.watermark.split(","))
            }
        else:
            wm = tier_watermarks(spark, args.store)
        evicted = apply_retention(
            spark, args.store, policy, wm, force=args.force
        )
    compacted: list[dict] = []
    if not args.no_compact:
        compacted = compact_chunks(
            spark,
            args.store,
            target_files=args.compact_target_files,
            small_bytes=args.compact_small_bytes,
        )
    print(json.dumps({
        "evicted_chunks": len(evicted),
        "bytes_reclaimed": sum(e["bytes"] for e in evicted),
        "compacted_chunks": len(compacted),
        "files_removed": sum(
            c["files_before"] - c["files_after"] for c in compacted
        ),
        "bytes_rewritten": sum(c["bytes_before"] for c in compacted),
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
