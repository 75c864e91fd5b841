"""spark-submit entrypoint for deletion propagation (GDPR /
right-to-be-forgotten) over the materialized stores.

Usage (cluster; run per erasure batch):

    scripts/package.py                       # builds dist/pyhctsa_spark.zip
    spark-submit --py-files dist/pyhctsa_spark.zip \\
        jobs/erasure_job.py \\
        --store s3://bucket/rollup_chunked/ \\
        --ids-file requests.txt              # one doc_id per line
    # or: --ids doc1,doc2,doc3
    # cagg snapshot store instead: --cagg-store path --key-col user_id
    # index searchability: --minhash-index | --search-index |
    #                      --ivf-index | --ivfpq-index

Tier-store semantics (operators/deletion.delete_docs): audit rows land
in `_deletion_log` BEFORE any data is touched; only chunks containing
the doomed ids are rewritten (dynamic partition overwrite, job-commit
atomic); fully-dead chunks are swept; the run ends with a
`verify_erased` compliance check and FAILS (non-zero exit) if any row
survives. Re-running a partially-applied batch converges.

Cagg-store semantics (CaggSnapshotStore.delete_keys): the erasure is a
snapshot COMMIT; by default the time-travel history is purged so no
retained snapshot still resolves the erased bytes (--keep-history
preserves the read_at window for audit workflows instead).

Prints one JSON line of lineage counters.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def parse_args(argv):
    p = argparse.ArgumentParser()
    p.add_argument("--store", default=None,
                   help="(tier, chunk)-partitioned rollup store path")
    p.add_argument("--cagg-store", default=None,
                   help="CaggSnapshotStore path (mutually exclusive)")
    p.add_argument("--minhash-index", default=None,
                   help="dedup_index path: erase the ids' searchability "
                        "(compact_minhash_index drop rewrite)")
    p.add_argument("--search-index", default=None,
                   help="search_index path: erase the ids from full-text "
                        "retrieval (compact_search_index drop rewrite; "
                        "df/stats recomputed from surviving postings)")
    p.add_argument("--ivf-index", default=None,
                   help="IVF vector-index path: erase the ids from ANN "
                        "retrieval (compact_ivf_index drop rewrite of "
                        "the inverted lists; centroids untouched)")
    p.add_argument("--ivfpq-index", default=None,
                   help="IVFPQ code-index path: erase the ids' PQ codes "
                        "from ANN retrieval (compact_ivfpq_index drop "
                        "rewrite; centroids/codebooks untouched)")
    p.add_argument("--ids", default=None, help="comma-separated ids")
    p.add_argument("--ids-file", default=None, help="one id per line")
    p.add_argument("--id-col", default="doc_id")
    p.add_argument("--key-col", default="user_id",
                   help="state key column for --cagg-store")
    p.add_argument("--keep-history", action="store_true",
                   help="cagg store: keep time-travel snapshots (audit "
                        "mode) instead of purging them")
    args = p.parse_args(argv)
    n_targets = sum(
        1
        for t in (
            args.store, args.cagg_store, args.minhash_index,
            args.search_index, args.ivf_index, args.ivfpq_index,
        )
        if t
    )
    if n_targets != 1:
        p.error("exactly one of --store / --cagg-store / --minhash-index "
                "/ --search-index / --ivf-index / --ivfpq-index is "
                "required")
    if bool(args.ids) == bool(args.ids_file):
        p.error("exactly one of --ids / --ids-file is required")
    return args


def main(argv=None) -> int:
    args = parse_args(argv if argv is not None else sys.argv[1:])
    if args.ids:
        ids = [s for s in args.ids.split(",") if s]
    else:
        with open(args.ids_file) as f:
            ids = [line.strip() for line in f if line.strip()]
    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("pyhctsa-erasure").getOrCreate()
    t0 = time.perf_counter()
    if args.store:
        from pyhctsa_spark.operators.deletion import delete_docs, verify_erased

        info = delete_docs(spark, args.store, ids, id_col=args.id_col)
        left = verify_erased(spark, args.store, ids, id_col=args.id_col)
        out = {
            "store": args.store,
            "n_ids": len(ids),
            "rows_deleted": info["rows_deleted"],
            "touched_chunks": len(info["touched_chunks"]),
            "chunks_removed": len(info["chunks_removed"]),
            "rows_remaining": int(left),
            "wall_sec": round(time.perf_counter() - t0, 3),
        }
        print(json.dumps(out))
        return 0 if left == 0 else 2
    if args.minhash_index:
        from pyspark.sql import functions as F

        from pyhctsa_spark.operators.dedup_index import (
            compact_minhash_index,
            read_index_meta,
        )

        # ids coerced to the index's recorded id type (same rationale
        # as the cagg key coercion below)
        if read_index_meta(args.minhash_index)["id_type"] in (
            "tinyint", "smallint", "int", "bigint"
        ):
            typed_ids: list = [int(i) for i in ids]
        else:
            typed_ids = list(ids)
        drop = spark.createDataFrame(
            [(i,) for i in typed_ids],
            f"doc_id {'long' if isinstance(typed_ids[0], int) else 'string'}",
        )
        stats = compact_minhash_index(
            spark, args.minhash_index, drop_ids=drop, id_col="doc_id"
        )
        left = sum(
            spark.read.parquet(f"{args.minhash_index}/{t}")
            .where(F.col("doc_id").cast("string").isin(
                [str(i) for i in typed_ids]))
            .count()
            for t in ("sigs", "bands")
        )
        out = {
            "minhash_index": args.minhash_index,
            "n_ids": len(ids),
            "sigs": stats["sigs"], "bands": stats["bands"],
            "rows_remaining": int(left),
            "wall_sec": round(time.perf_counter() - t0, 3),
        }
        print(json.dumps(out))
        return 0 if left == 0 else 2
    if args.search_index:
        from pyspark.sql import functions as F

        from pyhctsa_spark.operators.search_index import (
            compact_search_index,
            read_index_meta,
        )

        if read_index_meta(args.search_index)["id_type"] in (
            "tinyint", "smallint", "int", "bigint"
        ):
            typed_ids = [int(i) for i in ids]
        else:
            typed_ids = list(ids)
        drop = spark.createDataFrame(
            [(i,) for i in typed_ids],
            f"doc_id {'long' if isinstance(typed_ids[0], int) else 'string'}",
        )
        stats = compact_search_index(
            spark, args.search_index, drop_ids=drop, id_col="doc_id"
        )
        left = (
            spark.read.parquet(f"{args.search_index}/postings")
            .where(F.col("doc_id").cast("string").isin(
                [str(i) for i in typed_ids]))
            .count()
        )
        out = {
            "search_index": args.search_index,
            "n_ids": len(ids),
            "postings": stats["postings"],
            "rows_remaining": int(left),
            "wall_sec": round(time.perf_counter() - t0, 3),
        }
        print(json.dumps(out))
        return 0 if left == 0 else 2
    if args.ivf_index:
        from pyspark.sql import functions as F

        from pyhctsa_spark.operators.similarity import (
            compact_ivf_index,
            read_ivf_meta,
        )

        if read_ivf_meta(args.ivf_index)["id_type"] in (
            "tinyint", "smallint", "int", "bigint"
        ):
            typed_ids = [int(i) for i in ids]
        else:
            typed_ids = list(ids)
        drop = spark.createDataFrame(
            [(i,) for i in typed_ids],
            f"vec_id {'long' if isinstance(typed_ids[0], int) else 'string'}",
        )
        stats = compact_ivf_index(
            spark, args.ivf_index, drop_ids=drop, id_col="vec_id"
        )
        left = (
            spark.read.parquet(f"{args.ivf_index}/lists")
            .where(F.col("nid").cast("string").isin(
                [str(i) for i in typed_ids]))
            .count()
        )
        out = {
            "ivf_index": args.ivf_index,
            "n_ids": len(ids),
            "lists": stats["lists"],
            "rows_remaining": int(left),
            "wall_sec": round(time.perf_counter() - t0, 3),
        }
        print(json.dumps(out))
        return 0 if left == 0 else 2
    if args.ivfpq_index:
        from pyspark.sql import functions as F

        from pyhctsa_spark.operators.pq import (
            compact_ivfpq_index,
            read_pq_meta,
        )

        if read_pq_meta(args.ivfpq_index)["id_type"] in (
            "tinyint", "smallint", "int", "bigint"
        ):
            typed_ids = [int(i) for i in ids]
        else:
            typed_ids = list(ids)
        drop = spark.createDataFrame(
            [(i,) for i in typed_ids],
            f"vec_id {'long' if isinstance(typed_ids[0], int) else 'string'}",
        )
        stats = compact_ivfpq_index(
            spark, args.ivfpq_index, drop_ids=drop, id_col="vec_id"
        )
        left = (
            spark.read.parquet(f"{args.ivfpq_index}/lists")
            .where(F.col("nid").cast("string").isin(
                [str(i) for i in typed_ids]))
            .count()
        )
        out = {
            "ivfpq_index": args.ivfpq_index,
            "n_ids": len(ids),
            "lists": stats["lists"],
            "rows_remaining": int(left),
            "wall_sec": round(time.perf_counter() - t0, 3),
        }
        print(json.dumps(out))
        return 0 if left == 0 else 2
    from pyhctsa_spark.operators.cagg import CaggSnapshotStore

    # open the store in the layout it was materialized with: writes
    # through any other layout are refused
    layout = CaggSnapshotStore(args.cagg_store).manifest().get("layout", {})
    store = CaggSnapshotStore(args.cagg_store,
                              **{"by": [args.key_col], **layout})
    # coerce ALL ids to the STORE's key-column type (per-id best-effort
    # coercion built mixed int/str batches that crashed sorting and
    # compared int literals against string columns): numeric key column
    # -> every id must parse as int (a clear error beats a silent
    # non-match); string key column -> ids stay strings verbatim
    kdt = store.read(spark).schema[args.key_col].dataType.simpleString()
    if kdt in ("tinyint", "smallint", "int", "bigint"):
        typed: list = [int(i) for i in ids]
    else:
        typed = list(ids)
    info = store.delete_keys(
        spark, typed, key_col=args.key_col,
        purge_history=not args.keep_history,
    )
    from pyspark.sql import functions as F

    left = (
        store.read(spark)
        .where(F.col(args.key_col).cast("string").isin(
            [str(k) for k in typed]))
        .count()
    )
    out = {
        "cagg_store": args.cagg_store,
        "n_ids": len(ids),
        "states_deleted": info["states_deleted"],
        "touched_chunks": len(info["touched_chunks"]),
        "history_purged": not args.keep_history,
        "states_remaining": int(left),
        "wall_sec": round(time.perf_counter() - t0, 3),
    }
    print(json.dumps(out))
    return 0 if left == 0 else 2


if __name__ == "__main__":
    sys.exit(main())
