"""``ingest``: the checkpointed rollup job over a seeded sequences table.

One operation is one ``RollupJob(...).run`` with the defaults of
``jobs/rollup_job.py`` (8 salt buckets, window 32, group 16, 3 tiers,
lags 1,2, family ``alg``) into a fresh store, up to a complete
snapshot. Latency samples are the bucket commits: the gap between
consecutive manifest commits (the first measured from the job start).

Loads scan, kernel, checkpoint and sink; bypasses cascade, codec and
retention.
"""

from __future__ import annotations

import json
import os
import time

import inputs
from common import LAGS, Ctx, Measured, dir_bytes, expected_windows, fresh_dir, median

N_DOCS = 600
MIN_OPS = 3
WARM_OPS = 1
SPLIT_REPS = 3


def _job(store: str):
    from pyhctsa_spark.operators.checkpoint import RollupJob

    return RollupJob(store, n_buckets=8, window=32, group=16, n_tiers=3,
                     lags=list(LAGS), family="alg")


def build(ctx: Ctx, d: str) -> dict:
    table = inputs.make_sequences(ctx.seed, N_DOCS)
    seq = os.path.join(d, "seq")
    nbytes = inputs.write_sequences(table, seq, n_files=8)
    return {
        "seq": seq,
        "bytes": nbytes,
        "docs": N_DOCS,
        "points": int(table["n_tok"].sum()),
        "expected": expected_windows(table["n_tok"]),
        "describe": inputs.describe(table, ctx.seed),
    }


def _commit_times(store: str) -> list[float]:
    mdir = os.path.join(store, "_manifest")
    out = []
    for name in os.listdir(mdir):
        if name.startswith("bucket_") and name.endswith(".json"):
            with open(os.path.join(mdir, name)) as f:
                out.append(json.load(f)["committed_at"])
    return sorted(out)


def _check_snapshot(ctx: Ctx, b: dict, snap: dict) -> bool:
    ok = (
        snap["complete"]
        and snap["checksum_mismatches"] == 0
        and snap["rows_read"] == b["docs"]
        and snap["windows_emitted"] == sum(b["expected"])
    )
    if not ok:
        ctx.fail(f"ingest snapshot {snap} != expected windows {b['expected']}")
    return ok


def measure(ctx: Ctx, b: dict, seconds: float, min_ops: int = MIN_OPS) -> Measured:
    from pyspark.sql import functions as F

    m = Measured()
    deadline = time.perf_counter() + seconds
    store = None
    while m.attempted < min_ops or time.perf_counter() < deadline:
        store = fresh_dir(ctx.path("ingest_store"))
        m.attempted += 1
        try:
            with ctx.tracer.span("ingest.job") as sp:
                t_wall = time.time()
                snap = _job(store).run(ctx.spark, ctx.spark.read.parquet(b["seq"]))
            wall = sp["end"] - sp["start"]
        except Exception as e:  # an operation that errors is counted, not fatal
            ctx.fail(f"ingest job raised {e!r}")
            m.failed += 1
            continue
        if not _check_snapshot(ctx, b, snap):
            m.failed += 1
        prev = t_wall
        for c in _commit_times(store):
            m.op_ms.append((c - prev) * 1e3)
            prev = c
        m.op_walls.append(wall)
        m.points += b["points"]
        m.extra["snapshot"] = snap
    # per-tier window counts of the last store, checked outside the timing
    counts = {
        r["tier"]: r["count"]
        for r in _job(store).result(ctx.spark).groupBy("tier").count()
        .select(F.col("tier"), F.col("count")).collect()
    }
    if [counts.get(t, 0) for t in range(3)] != b["expected"]:
        ctx.fail(f"ingest tier counts {counts} != {b['expected']}")
        m.failed += 1
    m.store_bytes = dir_bytes(os.path.join(store, "tier_data"))
    m.store_points = b["points"]
    m.extra["last_store"] = store
    return m


def splits(ctx: Ctx, b: dict) -> dict:
    """Stage-split runs of the same plan: scan -> noop, scan + kernel ->
    noop, then the full parquet sink (traced run only)."""
    from pyhctsa_spark.operators.rollup import rollup_tiers

    spark, tr = ctx.spark, ctx.tracer
    out = {"scan": [], "noop": [], "sink": [], "noop_spans": []}
    for _ in range(SPLIT_REPS):
        with tr.span("scan.noop") as sp:
            spark.read.parquet(b["seq"]).write.format("noop").mode("overwrite").save()
        out["scan"].append(sp["end"] - sp["start"])
        with tr.span("kernel.noop") as sp:
            rollup_tiers(spark.read.parquet(b["seq"])).write.format("noop").mode("overwrite").save()
        out["noop"].append(sp["end"] - sp["start"])
        out["noop_spans"].append(sp["id"])
        with tr.span("sink.parquet") as sp:
            rollup_tiers(spark.read.parquet(b["seq"])).write.mode("overwrite").parquet(
                ctx.path("split_out"))
        out["sink"].append(sp["end"] - sp["start"])
    return out


def layer_metrics(ctx: Ctx, b: dict, m: Measured, rows: dict) -> dict:
    import eventlog

    tr = ctx.tracer
    sp = m.extra["splits"]
    first_job = eventlog.sum_rows(rows, tr.subtree(tr.named("ingest.job")[0]["id"]))
    kern = first_job["python"].get("MapInArrow", {"run_s": 0.0, "bytes_in": 0.0, "bytes_out": 0.0})
    split = eventlog.sum_rows(rows, [sp["noop_spans"][0]])
    snap = m.extra["snapshot"]
    scan, noop, sink = median(sp["scan"]), median(sp["noop"]), median(sp["sink"])
    return {
        "scan.ingest_s": scan,
        # task input metrics miss reads made on the Python feeder thread,
        # so the scan node's own "size of files read" is the count used
        "scan.bytes_read_per_input_byte": first_job["file_bytes_read"] / b["bytes"],
        "kernel.ingest_s": noop - scan,
        "kernel.python_worker_s": kern["run_s"],
        "kernel.arrow_bytes_in": kern["bytes_in"],
        "kernel.arrow_bytes_out": kern["bytes_out"],
        "kernel.task_skew": (split["task_max_s"] / split["task_median_s"]
                             if split["task_median_s"] else 0.0),
        "sink.ingest_s": sink - noop,
        "checkpoint.ingest_s": median(m.op_walls) - sink,
        "checkpoint.commits": len(_commit_times(m.extra["last_store"])),
        "ingest.rows_read": snap["rows_read"],
        "ingest.windows_emitted": snap["windows_emitted"],
        "ingest.checksum_mismatches": snap["checksum_mismatches"],
    }
