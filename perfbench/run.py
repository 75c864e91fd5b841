"""Rollup-engine benchmark: ``ingest``, ``lifecycle`` and ``query``.

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 10 --trace 0

Run from the root of a checkout of the repository. The workload's
inputs are generated from ``--seed`` and written as parquet; the engine
(``pyhctsa_spark``) only ever sees those files. The run

1. set-up: starts a host-fitted Spark session, builds the inputs and
   fresh stores ``BUILD_REPS`` times, runs any one-off preparation (the
   query workload's maintenance pass) and warms up with the workload's
   own first operations (checked, not timed; lifecycle warms up on a
   small store made in preparation). ``setup_s`` = session
   start + median build + preparation + warm-up;
2. runs the workload's operation in a closed loop for ``--seconds``
   (at least the workload's ``MIN_OPS`` operations);
3. checks every operation's output; a failed check or an error counts
   the operation as failed;
4. with ``--trace 1``, the session has an uncompressed event log and
   every measured call is wrapped in a span; the workload's stage-split
   runs and the driver-side kernel and codec probes follow, and the
   per-layer metrics are derived from all of them (see LAYERS.md). A
   last phase restarts the Spark context with the event log turned off
   and measures again, which gives the tracing overhead.

The last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics`` (end-to-end metrics without
tracing, per-layer metrics with it). The line before it is the run
record: inputs, effective Spark conf, checks and raw samples. Spans
and the record are also written under ``.perfbench_work/``.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
BUILD_REPS = 3

END_TO_END = {
    "setup_s": "s",
    "points_per_s": "points/s",
    "op_p50_ms": "ms",
    "op_p90_ms": "ms",
    "store_bytes_per_point": "B/point",
    "peak_rss_mb": "MB",
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=["ingest", "lifecycle", "query"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def per_layer_units() -> dict[str, str]:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


def end_to_end(m, setup_s: float, peak_mb: float) -> dict:
    from common import median, quantile

    vals = {
        "setup_s": setup_s,
        "points_per_s": m.points / sum(m.op_walls) if m.op_walls else 0.0,
        "op_p50_ms": median(m.op_ms),
        "op_p90_ms": quantile(m.op_ms, 0.9),
        "store_bytes_per_point": m.store_bytes / m.store_points if m.store_points else 0.0,
        "peak_rss_mb": peak_mb,
    }
    return {k: {"value": v, "unit": END_TO_END[k]} for k, v in vals.items()}


def main(argv=None) -> int:
    args = parse_args(argv if argv is not None else sys.argv[1:])
    repo = os.getcwd()
    if not os.path.isfile(os.path.join(repo, "pyhctsa_spark", "__init__.py")):
        print("run from the root of a checkout: pyhctsa_spark/ not found",
              file=sys.stderr)
        return 2
    sys.path.insert(0, repo)

    import common
    import harness
    import probes
    from spans import Tracer

    wl = importlib.import_module(args.workload)
    base = os.path.join(repo, ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    harness.prepare_env(work, repo)
    ctx = common.Ctx(seed=args.seed, work=work, tracer=Tracer())
    try:
        # -- set-up -------------------------------------------------------
        log_dir = ctx.path("eventlog") if args.trace else None
        t0 = time.perf_counter()
        ctx.spark = harness.start_spark("perfbench", harness.host_conf(work, log_dir))
        session_s = time.perf_counter() - t0
        builds = []
        for i in range(BUILD_REPS):
            t0 = time.perf_counter()
            b = wl.build(ctx, common.fresh_dir(ctx.path(f"build{i}")))
            builds.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        if hasattr(wl, "prepare"):
            wl.prepare(ctx, b)
        prepare_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        warm = wl.measure(ctx, b.get("warm", b), 0, min_ops=wl.WARM_OPS)
        warmup_s = time.perf_counter() - t0
        setup_s = session_s + common.median(builds) + prepare_s + warmup_s
        ctx.record.update({
            "workload": args.workload, "inputs": b["describe"],
            "conf": harness.effective_conf(ctx.spark),
            "setup": {"session_s": session_s, "build_s": builds,
                      "prepare_s": prepare_s, "warmup_s": warmup_s},
        })
        # -- measurement ----------------------------------------------------
        ctx.tracer = Tracer()
        if args.trace:
            ctx.tracer.attach(ctx.spark.sparkContext)
        with harness.RssSampler() as rss:
            m = wl.measure(ctx, b, args.seconds)
        e2e = end_to_end(m, setup_s, rss.peak_mb)
        attempted, failed = warm.attempted + m.attempted, warm.failed + m.failed
        ctx.record["samples"] = {"op_ms": m.op_ms, "op_walls": m.op_walls}
        metrics = e2e
        if args.trace:
            metrics, t_att, t_fail = traced(ctx, wl, b, m, e2e, args, probes, harness)
            attempted += t_att
            failed += t_fail
    finally:
        harness.shutdown(ctx.spark)
        shutil.rmtree(work, ignore_errors=True)
    ctx.record["problems"] = ctx.problems
    ctx.tracer.write(os.path.join(base, "traces", f"{args.workload}-{args.seed}-t{args.trace}.json"))
    with open(os.path.join(base, "traces", f"{args.workload}-{args.seed}-t{args.trace}.record.json"), "w") as f:
        json.dump(ctx.record, f, indent=1, default=str)
    brief = {k: v for k, v in ctx.record.items() if k != "trace"}
    if "trace" in ctx.record:
        brief["trace"] = {k: ctx.record["trace"][k] for k in ("untraced", "untraced_conf", "traced")}
    print(json.dumps({"record": brief}, default=str))
    print(json.dumps({
        "correct": failed == 0 and not ctx.problems,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


def traced(ctx, wl, b, m, e2e_traced, args, probes, harness):
    """After the traced measurement: stage splits, probes, the event log,
    then an untraced phase for the overhead; returns (per-layer metrics,
    attempted, failed)."""
    import eventlog
    from spans import Tracer

    log_dir = ctx.path("eventlog")
    tracer = ctx.tracer
    if hasattr(wl, "splits"):
        m.extra["splits"] = wl.splits(ctx, b)
    kern, blocks = probes.kernel_probe(args.seed)
    codec, exact = probes.codec_probe(blocks)
    if not exact:
        ctx.fail("codec probe did not round-trip bit-exactly")
    ctx.spark.stop()  # flushes and closes the event log
    rows = eventlog.read_rows(log_dir)
    layers = wl.layer_metrics(ctx, b, m, rows)
    layers.update(kern)
    layers.update(codec)
    # untraced side of the overhead: a fresh context, warmed up the same
    # way; it runs on a JVM at least as warm as the traced phase had
    ctx.spark = harness.start_spark("perfbench", harness.host_conf(ctx.work))
    ctx.tracer = Tracer()
    warm = wl.measure(ctx, b.get("warm", b), 0, min_ops=wl.WARM_OPS)
    with harness.RssSampler() as rss:
        plain = wl.measure(ctx, b, 0)
    e2e_plain = end_to_end(plain, e2e_traced["setup_s"]["value"], rss.peak_mb)
    key = "op_p50_ms"
    layers["trace.overhead_frac"] = e2e_traced[key]["value"] / e2e_plain[key]["value"] - 1.0
    ctx.tracer = tracer
    ctx.record["trace"] = {
        "untraced": {k: v["value"] for k, v in e2e_plain.items()},
        "untraced_conf": harness.effective_conf(ctx.spark),
        "traced": {k: v["value"] for k, v in e2e_traced.items()},
        "eventlog_rows": list(rows.values()),
    }
    units = per_layer_units()
    metrics = {k: {"value": float(layers.get(k, 0.0)), "unit": u} for k, u in units.items()}
    ctx.record["layers_missing"] = sorted(set(units) - set(layers))
    attempted = 1 + warm.attempted + plain.attempted
    failed = (0 if exact else 1) + warm.failed + plain.failed
    return metrics, attempted, failed


if __name__ == "__main__":
    sys.exit(main())
