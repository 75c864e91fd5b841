"""``query``: a closed loop with one client over the stores a
maintenance pass leaves behind.

Set-up builds a store the way the lifecycle workload does, from
``N_DOCS`` docs, and runs one maintenance pass over it. The store is
smaller than lifecycle's: a request's latency is mostly fixed per-job
cost, and a full-size store would put a second full pass into every
query set-up.
The client then sends a seeded mix, cycling through the twelve slots
of ``SLOTS`` so every class keeps its share on every seed (each slot
names a doc by length rank, and a timed loop ends on a whole period):

- ``range``: a per-doc window-range read of the chunked tier-0 store,
  filtered on the partition columns so only the chunks in range open;
- ``direct``: ``rollup_at_resolution`` at B = 16 or 256 (a tier serves
  it as stored);
- ``residual``: ``rollup_at_resolution`` at B = 32 or 64 (a residual
  cascade merge on top of tier 1);
- ``decode``: one document from ``read_compressed_store``.

Range and direct reads take about a third of the time of residual
merges and decodes. With the four classes in equal shares the median
request fell in the gap between the two groups, and moved by a quarter
from run to run; residual merges and decodes are therefore two thirds
of the mix, which puts the median inside the slower group.

Each distinct request's answer is checked after the loop against a
recompute from the plain tier-0 table. Loads the read side of codec and
cascade; bypasses the kernel, checkpoint, sink and retention.
"""

from __future__ import annotations

import time

import numpy as np

import lifecycle
from common import FEATURES, GROUP, Ctx, Measured, fresh_dir, same_values

N_DOCS = 24
# (kind, B, length rank of the doc among those long enough for it)
SLOTS = [("range", 0, 0.25), ("residual", 32, 0.25), ("decode", 0, 0.25),
         ("direct", 16, 0.25), ("residual", 64, 0.25), ("decode", 0, 0.75),
         ("range", 0, 0.75), ("residual", 32, 0.75), ("decode", 0, 0.25),
         ("direct", 256, 0.75), ("residual", 64, 0.75), ("decode", 0, 0.75)]
PERIOD = len(SLOTS)
WARM_OPS = PERIOD // 2  # every class once
MIN_OPS = PERIOD
RANGE_WINDOWS = 32


def build(ctx: Ctx, d: str) -> dict:
    return lifecycle.build_store(ctx, d, N_DOCS)


def prepare(ctx: Ctx, b: dict) -> None:
    """Once per run, after the builds: the maintenance pass whose
    output stores the client reads."""
    r = lifecycle.run_pass(ctx, b, fresh_dir(b["dir"] + "/pass"))
    b["chunked"], b["comp"] = r["paths"]["chunked"], r["paths"]["comp"]
    b["store_bytes"] = r["store_bytes"]
    ref = b["ref"]
    t0 = ref[ref["tier"] == 0]
    b["t0"] = {doc: g.sort_values("window_idx").reset_index(drop=True)
               for doc, g in t0.groupby("doc_id")}
    # first tier-0 window still stored after retention
    evicted0 = [c for t, c in b["expected_evicted"] if t == 0]
    b["keep_from"] = (max(evicted0) + 1) * lifecycle.CHUNK_WINDOWS if evicted0 else 0


def _requests(ctx: Ctx, b: dict):
    """Endless request stream: (kind, doc, a, z, B).

    Each slot names a doc by a fixed length rank (the first or third
    quartile of the docs long enough for it), so every seed asks for
    the same amount of work in every period of ``PERIOD`` requests; the
    seed decides the values behind those ranks and where each range
    starts."""
    rng = np.random.default_rng(ctx.seed + 7)
    counts = {doc: len(g) for doc, g in b["t0"].items()}
    by_len = sorted(counts, key=lambda d: (counts[d], d))
    picks = {}
    for kind, B, q in SLOTS:
        need = b["keep_from"] + RANGE_WINDOWS if kind == "range" else B
        ok = [d for d in by_len if counts[d] >= need]
        picks[kind, B, q] = ok[int(q * len(ok))]
    i = 0
    while True:
        kind, B, q = SLOTS[i % PERIOD]
        doc = picks[kind, B, q]
        i += 1
        if kind == "range":
            a = int(rng.integers(b["keep_from"], counts[doc] - RANGE_WINDOWS + 1))
            yield kind, doc, a, a + RANGE_WINDOWS - 1, 0
        else:
            yield kind, doc, 0, 0, B


def _run(ctx: Ctx, b: dict, req) -> list:
    from pyspark.sql import functions as F

    from pyhctsa_spark.operators.rollup import rollup_at_resolution
    from pyhctsa_spark.operators.store import read_compressed_store

    spark = ctx.spark
    kind, doc, a, z, B = req
    if kind == "range":
        cw = lifecycle.CHUNK_WINDOWS
        q = spark.read.parquet(b["chunked"]).where(
            (F.col("tier") == 0) & F.col("chunk").between(a // cw, z // cw)
            & (F.col("doc_id") == doc) & F.col("window_idx").between(a, z))
        return q.select("window_idx", "n", *FEATURES).collect()
    if kind == "decode":
        q = read_compressed_store(spark, b["comp"]).where(F.col("doc_id") == doc)
        return q.select("tier", "window_idx", "n", *FEATURES).collect()
    tiers = spark.read.parquet(b["chunked"]).where(F.col("doc_id") == doc).drop("chunk")
    q = rollup_at_resolution(tiers, B, group=GROUP)
    return q.select("window_idx", "n", "mean", "variance").collect()


def _recompute(t0, B: int):
    """Buckets of B tier-0 windows: (n, mean, variance) from sums."""
    k = (len(t0) // B) * B
    n = t0["n"].to_numpy()[:k].reshape(-1, B).sum(axis=1).astype(np.float64)
    s1 = t0["s1"].to_numpy()[:k].reshape(-1, B).sum(axis=1)
    s2 = t0["s2"].to_numpy()[:k].reshape(-1, B).sum(axis=1)
    mean = s1 / n
    return n, mean, (s2 - n * mean**2) / (n - 1.0)


def _check(b: dict, req, rows: list) -> bool:
    kind, doc, a, z, B = req
    t0 = b["t0"][doc]
    if kind == "range":
        want = t0[(t0["window_idx"] >= a) & (t0["window_idx"] <= z)]
        rows = sorted(rows, key=lambda r: r["window_idx"])
        return len(rows) == len(want) and all(
            same_values([r[f] for r in rows], want[f]) for f in ["window_idx", "n", *FEATURES])
    if kind == "decode":
        ok = True
        for tier in range(3):
            got = sorted((r for r in rows if r["tier"] == tier), key=lambda r: r["window_idx"])
            if tier == 0:
                want = t0[t0["window_idx"] >= b["keep_from"]]
                ok &= len(got) == len(want) and all(
                    same_values([r[f] for r in got], want[f]) for f in ["window_idx", *FEATURES])
            else:
                n, mean, var = _recompute(t0, GROUP**tier)
                ok &= len(got) == len(n) and same_values([r["n"] for r in got], n) and \
                    same_values([r["mean"] for r in got], mean, rtol=1e-9) and \
                    same_values([r["variance"] for r in got], var, rtol=1e-7)
        return bool(ok)
    rows = sorted(rows, key=lambda r: r["window_idx"])
    n, mean, var = _recompute(t0, B)
    return len(rows) == len(n) and \
        [r["window_idx"] for r in rows] == list(range(len(n))) and \
        same_values([r["n"] for r in rows], n) and \
        same_values([r["mean"] for r in rows], mean, rtol=1e-9) and \
        same_values([r["variance"] for r in rows], var, rtol=1e-7)


def measure(ctx: Ctx, b: dict, seconds: float, min_ops: int = MIN_OPS) -> Measured:
    m = Measured()
    answers: dict = {}
    m.extra["kinds"] = {k: [] for k, _, _ in SLOTS}
    m.extra["spans"] = {k: [] for k, _, _ in SLOTS}
    stream = _requests(ctx, b)
    deadline = time.perf_counter() + seconds
    # a timed loop stops on a whole period, so every run serves the same
    # request mix
    while m.attempted < min_ops or (
            seconds > 0 and (time.perf_counter() < deadline or m.attempted % PERIOD)):
        req = next(stream)
        m.attempted += 1
        try:
            with ctx.tracer.span(f"query.{req[0]}") as sp:
                rows = _run(ctx, b, req)
        except Exception as e:  # an operation that errors is counted, not fatal
            ctx.fail(f"query {req} raised {e!r}")
            m.failed += 1
            continue
        wall = sp["end"] - sp["start"]
        m.op_ms.append(wall * 1e3)
        m.op_walls.append(wall)
        m.points += sum(r["n"] for r in rows)
        m.extra["kinds"][req[0]].append(wall * 1e3)
        m.extra["spans"][req[0]].append((sp["id"], len(rows)))
        answers.setdefault(req, []).append(rows)
    # every distinct request, checked once outside the timed loop; a
    # wrong answer fails every time that request was sent
    for req, results in answers.items():
        if not _check(b, req, results[0]):
            ctx.fail(f"query {req} answer differs from the tier-0 recompute")
            m.failed += len(results)
    m.extra["distinct"] = len(answers)
    m.store_bytes = b["store_bytes"]
    m.store_points = b["points"]
    return m


def layer_metrics(ctx: Ctx, b: dict, m: Measured, rows: dict) -> dict:
    import eventlog
    from common import median

    kinds = m.extra["kinds"]
    decoded = returned = 0.0
    for sid, n_rows in m.extra["spans"]["decode"]:
        r = eventlog.sum_rows(rows, ctx.tracer.subtree(sid))
        decoded += r["rows_out"].get("MapInPandas", 0)
        returned += n_rows
    files = [eventlog.sum_rows(rows, ctx.tracer.subtree(sid))["files_read"]
             for k in m.extra["spans"] for sid, _ in m.extra["spans"][k]]
    return {
        "query.range_p50_ms": median(kinds["range"]),
        "query.direct_p50_ms": median(kinds["direct"]),
        "query.residual_p50_ms": median(kinds["residual"]),
        "query.decode_p50_ms": median(kinds["decode"]),
        "query.rows_decoded_per_row_returned": decoded / returned if returned else 0.0,
        "scan.query_files_read": sum(files) / len(files) if files else 0.0,
    }
