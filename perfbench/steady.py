"""Run-to-run spread of the end-to-end metrics.

    python3 perfbench/steady.py --workload query --seeds 1-10

Runs the benchmark once per seed (tracing off, ``run_seconds`` from
BENCHMARK.json), then prints, per
metric, the median, the quartiles and the spread: the distance between
the first and third quartile (``statistics.quantiles(values, n=4)``)
as a share of the median, next to the metric's bound from
BENCHMARK.json. Run it from the root of a checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", default="1-10")
    args = p.parse_args()
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    values: dict[str, list[float]] = {}
    for s in seeds(args.seeds):
        out = subprocess.run(
            [sys.executable, os.path.join("perfbench", "run.py"), "--workload", args.workload,
             "--seed", str(s), "--seconds", str(bench["run_seconds"]), "--trace", "0"],
            capture_output=True, text=True, check=True,
        ).stdout.strip().splitlines()[-1]
        res = json.loads(out)
        print(json.dumps({"seed": s, "correct": res["correct"],
                          **{k: v["value"] for k, v in res["metrics"].items()}}), flush=True)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    for m in bench["end_to_end"]:
        xs = values[m["name"]]
        q1, q2, q3 = statistics.quantiles(xs, n=4)
        print(f"{m['name']:24s} median {q2:14.4f}  q1 {q1:14.4f}  q3 {q3:14.4f}  "
              f"spread {(q3 - q1) / q2:.3f}  bound {m['bound']}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
