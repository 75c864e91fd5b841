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
the doomed ids are rewritten, staged beside the store and swapped in
chunk by chunk (a crash leaves each chunk its original or its rewrite,
and the next run repairs a half-swapped chunk before it reads); chunks
left with no rows are removed; the run ends with a `verify_erased`
compliance check and FAILS (non-zero exit) if any row survives.
Re-running a partially-applied batch converges.

Cagg-store semantics (CaggSnapshotStore.delete_keys): the erasure is a
snapshot COMMIT; by default the time-travel history is purged so no
retained snapshot still resolves the erased bytes (--keep-history
preserves the read_at window for audit workflows instead).

Every target runs the same sequence from one table (``_TARGETS``):
coerce the ids to the target's id type, erase, count the rows that
still hold an erased id, and print one JSON line of lineage counters
(exit 2 when any remain).
"""

from __future__ import annotations

import argparse
import functools
import importlib
import json
import sys
import time
from typing import Callable, NamedTuple

_INT_TYPES = ("tinyint", "smallint", "int", "bigint")


def _typed_ids(ids: list[str], type_name: str) -> list:
    """``ids`` coerced to a target's id type, all of them the same way
    (per-id best-effort coercion built mixed int/str batches that
    crashed sorting and compared int literals against string columns):
    a numeric column -> every id must parse as int (a clear error beats
    a silent non-match); a string column -> ids stay strings verbatim."""
    return [int(i) for i in ids] if type_name in _INT_TYPES else list(ids)


def _count_ids(dfs, col: str, typed: list) -> int:
    """Rows of ``dfs`` whose ``col`` is one of the ids ``typed``."""
    from pyspark.sql import functions as F

    keys = [str(i) for i in typed]
    return int(sum(
        df.where(F.col(col).cast("string").isin(keys)).count() for df in dfs
    ))


def _erase_tier_store(spark, path, ids, args) -> dict:
    from pyhctsa_spark.operators.deletion import delete_docs, verify_erased

    info = delete_docs(spark, path, ids, id_col=args.id_col)
    left = verify_erased(spark, path, ids, id_col=args.id_col)
    return {
        "rows_deleted": info["rows_deleted"],
        "touched_chunks": len(info["touched_chunks"]),
        "chunks_removed": len(info["chunks_removed"]),
        "rows_remaining": int(left),
    }


def _erase_cagg_store(spark, path, ids, args) -> dict:
    from pyhctsa_spark.operators.cagg import CaggSnapshotStore

    # open the store in the layout it was materialized with: writes
    # through any other layout are refused
    man = CaggSnapshotStore(path).manifest()
    store = CaggSnapshotStore(path, **{"by": [args.key_col],
                                       **man.get("layout", {})})
    # the key column's type from one chunk: no listing of the store
    one = store.read(spark, chunks=list(man["chunks"])[:1])
    typed = _typed_ids(
        ids, one.schema[args.key_col].dataType.simpleString())
    info = store.delete_keys(
        spark, typed, key_col=args.key_col,
        purge_history=not args.keep_history,
    )
    return {
        "states_deleted": info["states_deleted"],
        "touched_chunks": len(info["touched_chunks"]),
        "history_purged": not args.keep_history,
        "states_remaining": _count_ids([store.read(spark)], args.key_col,
                                       typed),
    }


def _erase_index(spark, path, ids, args, *, module, compact, drop_col,
                 tables, id_col, stats) -> dict:
    """Erase ``ids`` from a persistent index through its compaction's
    drop rewrite, with the ids typed by the index's recorded id type,
    and count what is left through the index's snapshot table over
    every sub-table that holds ids."""
    from pyhctsa_spark.operators.tablefs import SnapshotTable

    table = SnapshotTable(path)
    typed = _typed_ids(ids, table.manifest()["props"]["id_type"])
    drop = spark.createDataFrame(
        [(i,) for i in typed],
        f"{drop_col} {'long' if isinstance(typed[0], int) else 'string'}",
    )
    mod = importlib.import_module(f"pyhctsa_spark.operators.{module}")
    info = getattr(mod, compact)(spark, path, drop_ids=drop, id_col=drop_col)
    left = _count_ids(
        [df for df in (table.read(spark, t) for t in tables)
         if df is not None], id_col, typed)
    return {**{k: info[k] for k in stats}, "rows_remaining": left}


class _Target(NamedTuple):
    help: str
    erase: Callable[..., dict]
    remaining: str = "rows_remaining"


_TARGETS = {
    "store": _Target(
        "(tier, chunk)-partitioned rollup store path", _erase_tier_store),
    "cagg_store": _Target(
        "CaggSnapshotStore path (mutually exclusive)", _erase_cagg_store,
        "states_remaining"),
    "minhash_index": _Target(
        "dedup_index path: erase the ids' searchability "
        "(compact_minhash_index drop rewrite)",
        functools.partial(
            _erase_index, module="dedup_index",
            compact="compact_minhash_index", drop_col="doc_id",
            tables=("sigs", "bands"), id_col="doc_id",
            stats=("sigs", "bands"))),
    "search_index": _Target(
        "search_index path: erase the ids from full-text retrieval "
        "(compact_search_index drop rewrite; df/stats recomputed from "
        "surviving postings)",
        functools.partial(
            _erase_index, module="search_index",
            compact="compact_search_index", drop_col="doc_id",
            tables=("postings",), id_col="doc_id", stats=("postings",))),
    "ivf_index": _Target(
        "IVF vector-index path: erase the ids from ANN retrieval "
        "(compact_ivf_index drop rewrite of the inverted lists; "
        "centroids untouched)",
        functools.partial(
            _erase_index, module="similarity",
            compact="compact_ivf_index", drop_col="vec_id",
            tables=("lists", "lists_delta"), id_col="nid",
            stats=("lists",))),
    "ivfpq_index": _Target(
        "IVFPQ code-index path: erase the ids' PQ codes from ANN "
        "retrieval (compact_ivfpq_index drop rewrite; centroids/codebooks "
        "untouched)",
        functools.partial(
            _erase_index, module="pq",
            compact="compact_ivfpq_index", drop_col="vec_id",
            tables=("lists", "lists_delta"), id_col="nid",
            stats=("lists",))),
}


def _flag(target: str) -> str:
    return "--" + target.replace("_", "-")


def parse_args(argv):
    p = argparse.ArgumentParser()
    for target, t in _TARGETS.items():
        p.add_argument(_flag(target), default=None, help=t.help)
    p.add_argument("--ids", default=None, help="comma-separated ids")
    p.add_argument("--ids-file", default=None, help="one id per line")
    p.add_argument("--id-col", default="doc_id")
    p.add_argument("--key-col", default="user_id",
                   help="state key column for --cagg-store")
    p.add_argument("--keep-history", action="store_true",
                   help="cagg store: keep time-travel snapshots (audit "
                        "mode) instead of purging them")
    args = p.parse_args(argv)
    if sum(1 for target in _TARGETS if getattr(args, target)) != 1:
        p.error("exactly one of " + " / ".join(map(_flag, _TARGETS))
                + " is required")
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
    target = next(target for target in _TARGETS if getattr(args, target))
    path = getattr(args, target)
    fields = _TARGETS[target].erase(spark, path, ids, args)
    left = fields[_TARGETS[target].remaining]
    out = {target: path, "n_ids": len(ids), **fields,
           "wall_sec": round(time.perf_counter() - t0, 3)}
    print(json.dumps(out))
    return 0 if left == 0 else 2


if __name__ == "__main__":
    sys.exit(main())
