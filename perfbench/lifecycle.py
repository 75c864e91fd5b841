"""``lifecycle``: one maintenance pass over a fresh copy of a seeded
tier-0 store.

Set-up rolls a seeded sequences table up once (``rollup_tiers``) and
keeps its tier-0 rows as the store; the in-kernel tiers 1 and 2 are
kept aside as the reference the cascade must reproduce. One operation
is one pass over a fresh copy of that store:

1. ``cascade_from_store`` tier 0 -> 1, then 1 -> 2 (parquet each);
2. ``write_tier_chunked`` of all three tiers;
3. ``tier_watermarks`` + ``apply_retention`` with fixed horizons;
4. ``compact_chunks``;
5. ``write_compressed_store`` of the retained chunks.

The store is 120 docs on the log-uniform grid: 838 parent windows over
both cascade steps, one ``applyInPandas`` call each, and the cascade is
more than half of a pass. Larger stores (300 and 420 docs; 420 give
2,935 parents, about the 2,943 the roadmap timed at 21 s) kept that
share about the same and made the pass 40-50 % longer; see LAYERS.md. The warm-up pass runs on
a small store of ``WARM_DOCS`` docs built once per run, so a run does
not pay for a second full pass.

Loads cascade, sink, retention and codec encode; bypasses the raw-token
kernel and the checkpoint manifest.
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np

import inputs
from common import ALG_COLS, FEATURES, GROUP, LAGS, Ctx, Measured, dir_bytes, fresh_dir, median, same_values

N_DOCS = 120
WARM_DOCS = 8
MIN_OPS = 1
WARM_OPS = 1
CHUNK_WINDOWS = 64
HORIZONS = {0: 256, 1: 128, 2: None}


def build(ctx: Ctx, d: str) -> dict:
    return build_store(ctx, d, N_DOCS)


def prepare(ctx: Ctx, b: dict) -> None:
    """Once per run, after the builds: the small store the warm-up pass
    runs on."""
    b["warm"] = build_store(ctx, fresh_dir(b["dir"] + "/warm"), WARM_DOCS)


def build_store(ctx: Ctx, d: str, n_docs: int) -> dict:
    """Seeded sequences -> in-kernel tiers -> tier-0 store, plus the
    pandas copies the checks compare against and the retention outcome
    the policy implies, computed here without the package."""
    from pyhctsa_spark.operators.rollup import rollup_tiers

    spark = ctx.spark
    table = inputs.make_sequences(ctx.seed, n_docs)
    seq = os.path.join(d, "seq")
    inputs.write_sequences(table, seq, n_files=4)
    tiers = os.path.join(d, "tiers_all")
    rollup_tiers(spark.read.parquet(seq)).write.mode("overwrite").parquet(tiers)
    tier0 = os.path.join(d, "tier0")
    spark.read.parquet(tiers).where("tier = 0").write.mode("overwrite").parquet(tier0)
    b = {
        "dir": d,
        "tier0": tier0,
        "tiers": tiers,
        "points": int(table["n_tok"].sum()),
        "describe": inputs.describe(table, ctx.seed),
    }
    pdf = spark.read.parquet(tiers).toPandas()
    b["ref"] = pdf
    expected = set()
    for tier, horizon in HORIZONS.items():
        widx = pdf.loc[pdf["tier"] == tier, "window_idx"].to_numpy()
        if horizon is None or len(widx) == 0:
            continue
        keep_from = int(widx.max()) - horizon + 1
        if keep_from <= 0:
            continue
        cut = keep_from // CHUNK_WINDOWS
        expected |= {(tier, int(c)) for c in np.unique(widx // CHUNK_WINDOWS) if c < cut}
    b["expected_evicted"] = expected
    t0 = pdf[pdf["tier"] == 0]
    # parent groups each cascade step forms: (doc, widx // GROUP) pairs
    # of its input tier (= applyInPandas calls)
    n1 = t0.assign(p=t0["window_idx"] // GROUP)[["doc_id", "p"]].drop_duplicates()
    t1 = pdf[pdf["tier"] == 1]
    n2 = t1.assign(p=t1["window_idx"] // GROUP)[["doc_id", "p"]].drop_duplicates()
    b["cascade_groups"] = len(n1) + len(n2)
    b["cascade_windows_in"] = len(t0) + len(t1)
    return b


def _policy():
    from pyhctsa_spark.operators.retention import RetentionPolicy

    return RetentionPolicy(horizons=dict(HORIZONS), chunk_windows=CHUNK_WINDOWS,
                           tier_ratio=GROUP)


def run_pass(ctx: Ctx, b: dict, d: str) -> dict:
    """One maintenance pass on a fresh copy of the tier-0 store."""
    from pyhctsa_spark.operators.compaction import compact_chunks
    from pyhctsa_spark.operators.retention import (
        apply_retention,
        tier_watermarks,
        write_tier_chunked,
    )
    from pyhctsa_spark.operators.rollup import cascade_from_store
    from pyhctsa_spark.operators.store import write_compressed_store

    spark, tr = ctx.spark, ctx.tracer
    fresh_dir(d)
    shutil.copytree(b["tier0"], os.path.join(d, "tier0"))
    p = {k: os.path.join(d, k) for k in ("tier0", "tier1", "tier2", "chunked", "comp")}
    with tr.span("lifecycle.pass") as whole:
        with tr.span("cascade.tier1"):
            cascade_from_store(spark.read.parquet(p["tier0"]), group=GROUP, lags=LAGS) \
                .write.mode("overwrite").parquet(p["tier1"])
        with tr.span("cascade.tier2"):
            cascade_from_store(spark.read.parquet(p["tier1"]), group=GROUP, lags=LAGS) \
                .write.mode("overwrite").parquet(p["tier2"])
        with tr.span("sink.chunked_write"):
            parts = [spark.read.parquet(p[t]) for t in ("tier0", "tier1", "tier2")]
            union = parts[0].unionByName(parts[1]).unionByName(parts[2])
            write_tier_chunked(union, p["chunked"], chunk_windows=CHUNK_WINDOWS)
        with tr.span("retention.evict"):
            wm = tier_watermarks(spark, p["chunked"])
            evicted = apply_retention(spark, p["chunked"], _policy(), wm)
        with tr.span("retention.compact"):
            compacted = compact_chunks(spark, p["chunked"], target_files=1)
        with tr.span("codec.encode"):
            write_compressed_store(spark.read.parquet(p["chunked"]), p["comp"])
    return {
        "paths": p,
        "wall": whole["end"] - whole["start"],
        "evicted": evicted,
        "compacted": compacted,
        "store_bytes": dir_bytes(p["chunked"]) + dir_bytes(p["comp"]),
    }


def check_pass(ctx: Ctx, b: dict, r: dict, full: bool) -> bool:
    """Retention outcome always; with ``full``, also the cascade against
    the in-kernel tiers and the compressed store's round trip."""
    ok = True
    got = {(e["tier"], e["chunk"]) for e in r["evicted"]}
    if got != b["expected_evicted"]:
        ctx.fail(f"retention evicted {sorted(got)} != policy {sorted(b['expected_evicted'])}")
        ok = False
    if not full:
        return ok
    spark, ref = ctx.spark, b["ref"]
    for tier in (1, 2):
        got_t = spark.read.parquet(r["paths"][f"tier{tier}"]).toPandas()
        want = ref[ref["tier"] == tier]
        got_t = got_t.sort_values(["doc_id", "window_idx"]).reset_index(drop=True)
        want = want.sort_values(["doc_id", "window_idx"]).reset_index(drop=True)
        same = len(got_t) == len(want) and (got_t["doc_id"] == want["doc_id"]).all() and \
            (got_t["window_idx"] == want["window_idx"]).all() and \
            all(same_values(got_t[c], want[c], rtol=1e-12) for c in ALG_COLS)
        if not same:
            ctx.fail(f"cascaded tier {tier} differs from the in-kernel tier")
            ok = False
    from pyhctsa_spark.operators.store import read_compressed_store

    keys = ["doc_id", "tier", "window_idx"]
    src = spark.read.parquet(r["paths"]["chunked"]).toPandas().sort_values(keys).reset_index(drop=True)
    dec = read_compressed_store(spark, r["paths"]["comp"]).toPandas().sort_values(keys).reset_index(drop=True)
    exact = len(src) == len(dec) and all((src[k] == dec[k]).all() for k in keys) and \
        (src["n"] == dec["n"]).all() and all(same_values(src[f], dec[f]) for f in FEATURES)
    if not exact:
        ctx.fail("compressed store did not round-trip bit-exactly")
        ok = False
    return ok


def compression(ctx: Ctx, comp: str) -> float:
    from pyhctsa_spark.operators.store import compression_report

    rep = compression_report(ctx.spark, comp)
    return rep["raw_bytes"] / rep["comp_bytes"]


def measure(ctx: Ctx, b: dict, seconds: float, min_ops: int = MIN_OPS) -> Measured:
    m = Measured()
    deadline = time.perf_counter() + seconds
    while m.attempted < min_ops or time.perf_counter() < deadline:
        m.attempted += 1
        try:
            r = run_pass(ctx, b, ctx.path("lifecycle_pass"))
        except Exception as e:  # an operation that errors is counted, not fatal
            ctx.fail(f"lifecycle pass raised {e!r}")
            m.failed += 1
            continue
        if not check_pass(ctx, b, r, full=m.attempted == 1):
            m.failed += 1
        m.op_ms.append(r["wall"] * 1e3)
        m.op_walls.append(r["wall"])
        m.points += b["points"]
        m.store_bytes = r["store_bytes"]
        m.extra["last"] = r
    m.store_points = b["points"]
    m.extra["compression_ratio"] = compression(ctx, m.extra["last"]["paths"]["comp"])
    return m


def layer_metrics(ctx: Ctx, b: dict, m: Measured, rows: dict) -> dict:
    import eventlog

    tr = ctx.tracer
    t1, t2 = tr.durations("cascade.tier1"), tr.durations("cascade.tier2")
    first = [tr.named("cascade.tier1")[0]["id"], tr.named("cascade.tier2")[0]["id"]]
    shuffle = eventlog.sum_rows(rows, set().union(*(tr.subtree(i) for i in first)))
    last = m.extra["last"]
    return {
        "cascade.tier1_s": median(t1),
        "cascade.tier2_s": median(t2),
        "cascade.groups": b["cascade_groups"],
        "cascade.windows_per_s": b["cascade_windows_in"] / (median(t1) + median(t2)),
        "cascade.shuffle_bytes": shuffle["shuffle_write_bytes"],
        "sink.chunked_write_s": median(tr.durations("sink.chunked_write")),
        "retention.evict_s": median(tr.durations("retention.evict")),
        "retention.chunks_evicted": len(last["evicted"]),
        "retention.compact_s": median(tr.durations("retention.compact")),
        "retention.files_before": sum(c["files_before"] for c in last["compacted"]),
        "retention.files_after": sum(c["files_after"] for c in last["compacted"]),
        "codec.encode_s": median(tr.durations("codec.encode")),
        "codec.compression_ratio": m.extra["compression_ratio"],
    }
