"""spark-submit entrypoint for the tiered-rollup production job.

Usage (cluster):

    scripts/package.py                       # builds dist/pyhctsa_spark.zip
    spark-submit --py-files dist/pyhctsa_spark.zip \\
        jobs/rollup_job.py \\
        --input  s3://bucket/sequences/      \\
        --store  /mnt/shared/rollup_store/   \\
        --window 32 --group 16 --tiers 3 --lags 1,2 --buckets 256

The job is resumable: each salt bucket commits an atomic manifest entry
with per-partition lineage counters (rows read, windows emitted,
checksum mismatches, wall, bytes); on restart, completed buckets are
skipped (operators/checkpoint.RollupJob). The executors write the
bucket files themselves, so ``--store`` must be a POSIX path that the
driver and every executor can write to (a shared mount). No
``--master`` is set here — spark-submit / the cluster manager decides.
"""

from __future__ import annotations

import argparse
import json
import sys


def parse_args(argv):
    from pyhctsa_spark.operators.rollup import FAMILIES

    p = argparse.ArgumentParser(description="pyhctsa_spark tiered rollup job")
    p.add_argument("--input", required=True,
                   help="parquet directory of sequences (doc_id, tokens|tokens_bin, n_tok, source[, tok_checksum]), "
                        "or of gapped sequences (doc_id, offsets, values, n_tok, source)")
    p.add_argument("--store", required=True,
                   help="output store root (tier_data/ + _manifest/ + _SNAPSHOT.json)")
    p.add_argument("--window", type=int, default=32)
    p.add_argument("--group", type=int, default=16)
    p.add_argument("--tiers", type=int, default=3)
    p.add_argument("--lags", default="1,2",
                   help="comma-separated autocorrelation lags")
    p.add_argument("--buckets", type=int, default=8,
                   help="salt buckets = units of restartable work")
    p.add_argument("--family", default="alg",
                   choices=list(FAMILIES),
                   help="tier aggregate family (moments / exact order "
                        "statistics / HLL distinct / all three fused)")
    p.add_argument("--stream-chunks", action="store_true",
                   help="input is a growing directory of CHUNKED sequences "
                        "(doc_id, source, chunk_idx, tokens_bin): run the "
                        "stateful Structured-Streaming tier-0 rollup "
                        "(applyInPandasWithState) instead of the batch job")
    p.add_argument("--checkpoint", default=None,
                   help="streaming checkpoint dir (required with "
                        "--stream-chunks; state + exactly-once progress)")
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv if argv is not None else sys.argv[1:])
    from pyhctsa_spark.operators.checkpoint import RollupJob
    from pyhctsa_spark.session import get_spark

    # leave the master to spark-submit / the cluster manager; under an
    # already-running session (tests) getOrCreate reuses it
    spark = get_spark("rollup-job", master="from-submit")
    if args.stream_chunks:
        if not args.checkpoint:
            print("--stream-chunks requires --checkpoint", file=sys.stderr)
            return 2
        from pyhctsa_spark.streaming.rollup_stream import stream_rollup_chunks

        q = stream_rollup_chunks(
            spark, args.input, args.store, args.checkpoint,
            window=args.window,
            lags=[int(v) for v in args.lags.split(",")],
        )
        q.awaitTermination()
        return 0
    seq = spark.read.parquet(args.input)
    job = RollupJob(
        store_path=args.store,
        n_buckets=args.buckets,
        window=args.window,
        group=args.group,
        n_tiers=args.tiers,
        lags=[int(v) for v in args.lags.split(",")],
        family=args.family,
    )
    snapshot = job.run(spark, seq)
    print(json.dumps(snapshot))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
