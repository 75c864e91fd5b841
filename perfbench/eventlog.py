"""Reader for an uncompressed Spark event log.

Turns the log of a traced run into one row per span, or per job
description when several spans share one (the benchmark sets
a ``perfbench.span`` local property and the job description on every
call it makes, see spans.py). Each row sums, over the jobs of that span:

- parquet ``scan time``, input bytes and files read;
- Python worker run time and Arrow bytes to and from the workers, per
  plan node (MapInArrow, FlatMapGroupsInPandas, MapInPandas, ...);
- shuffle read/write bytes, spill bytes, GC time, executor CPU time;
- output rows per plan node;
- the max and median task run time of the span's heaviest stage.

SQL metrics are matched to plan nodes through the accumulator ids in
each execution's plan (including adaptive re-plans), and summed from
the per-task updates, so a metric is never counted twice.

Run as a script to print the rows of a log directory:
``python3 perfbench/eventlog.py <event-log-dir>``.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
from collections import defaultdict

from spans import SPAN_PROPERTY  # perfbench/ is on sys.path

_SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
_SQL_ADAPTIVE = "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"
_DRIVER_ACCUM = "org.apache.spark.sql.execution.ui.SparkListenerDriverAccumUpdates"

# (plan node prefix, metric name) -> (row column, scale to base unit)
_NODE_METRICS = {
    ("Scan", "scan time"): ("scan_time_s", 1e-3),
    ("Scan", "number of files read"): ("files_read", 1),
    ("Scan", "size of files read"): ("file_bytes_read", 1),
}
_PY_METRICS = {
    "time to run Python workers": ("run_s", 1e-3),
    "data sent to Python workers": ("bytes_in", 1),
    "data returned from Python workers": ("bytes_out", 1),
}


def _event_files(log_dir: str) -> list[str]:
    """The log file of each application (the benchmark turns rolling
    off, so there is one file per context)."""
    return sorted(
        os.path.join(log_dir, f) for f in os.listdir(log_dir)
        if not f.startswith(".")  # Hadoop's .crc side files
    )


def _walk_plan(node: dict, acc_map: dict) -> None:
    name = node.get("nodeName", "")
    for m in node.get("metrics", []):
        acc_map[m["accumulatorId"]] = (name, m["name"])
    for c in node.get("children", []):
        _walk_plan(c, acc_map)


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def read_rows(log_dir: str) -> dict[int, dict]:
    """{span id: row} for every span that started at least one job."""
    acc_map: dict[int, tuple[str, str]] = {}
    job_span: dict[int, int] = {}
    stage_span: dict[int, int] = {}
    exec_span: dict[int, int] = {}
    acc_updates: dict[int, dict[int, float]] = defaultdict(lambda: defaultdict(float))
    driver_updates: dict[int, dict[int, float]] = defaultdict(lambda: defaultdict(float))
    tasks: dict[int, list[dict]] = defaultdict(list)
    descriptions: dict[int, str] = {}
    for path in _event_files(log_dir):
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                kind = e["Event"]
                if kind in (_SQL_START, _SQL_ADAPTIVE):
                    _walk_plan(e["sparkPlanInfo"], acc_map)
                elif kind == "SparkListenerJobStart":
                    props = e.get("Properties") or {}
                    sid = props.get(SPAN_PROPERTY)
                    if sid is None:
                        continue
                    sid = int(sid)
                    job_span[e["Job ID"]] = sid
                    descriptions[sid] = props.get("spark.job.description", "")
                    for st in e.get("Stage IDs", []):
                        stage_span[st] = sid
                    if props.get("spark.sql.execution.id") is not None:
                        exec_span[int(props["spark.sql.execution.id"])] = sid
                elif kind == "SparkListenerTaskEnd":
                    sid = stage_span.get(e["Stage ID"])
                    if sid is None:
                        continue
                    tm = e.get("Task Metrics") or {}
                    sr = tm.get("Shuffle Read Metrics") or {}
                    sw = tm.get("Shuffle Write Metrics") or {}
                    tasks[sid].append({
                        "stage": e["Stage ID"],
                        "run_ms": tm.get("Executor Run Time", 0),
                        "cpu_ns": tm.get("Executor CPU Time", 0),
                        "gc_ms": tm.get("JVM GC Time", 0),
                        "input_bytes": (tm.get("Input Metrics") or {}).get("Bytes Read", 0),
                        "shuffle_read": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                        "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                        "spill": tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0),
                    })
                    for a in (e.get("Task Info") or {}).get("Accumulables", []):
                        if "Update" in a:
                            acc_updates[sid][a["ID"]] += _num(a["Update"])
                elif kind == _DRIVER_ACCUM:
                    for acc_id, val in e.get("accumUpdates", []):
                        driver_updates[e["executionId"]][acc_id] += _num(val)
    for ex, ups in driver_updates.items():
        sid = exec_span.get(ex)
        if sid is not None:
            for acc_id, val in ups.items():
                acc_updates[sid][acc_id] += val

    rows: dict[int, dict] = {}
    for sid in set(tasks) | set(acc_updates):
        ts = tasks.get(sid, [])
        row = {
            "span": sid,
            "description": descriptions.get(sid, ""),
            "jobs": sum(1 for s in job_span.values() if s == sid),
            "tasks": len(ts),
            "input_bytes": sum(t["input_bytes"] for t in ts),
            "shuffle_read_bytes": sum(t["shuffle_read"] for t in ts),
            "shuffle_write_bytes": sum(t["shuffle_write"] for t in ts),
            "spill_bytes": sum(t["spill"] for t in ts),
            "gc_s": sum(t["gc_ms"] for t in ts) / 1e3,
            "executor_cpu_s": sum(t["cpu_ns"] for t in ts) / 1e9,
            "executor_run_s": sum(t["run_ms"] for t in ts) / 1e3,
            "scan_time_s": 0.0,
            "files_read": 0.0,
            "file_bytes_read": 0.0,
            "python": {},
            "rows_out": {},
        }
        by_stage: dict[int, list[float]] = defaultdict(list)
        for t in ts:
            by_stage[t["stage"]].append(t["run_ms"] / 1e3)
        if by_stage:
            heavy = max(by_stage.values(), key=sum)
            row["task_max_s"] = max(heavy)
            row["task_median_s"] = statistics.median(heavy)
        for acc_id, val in acc_updates[sid].items():
            node, metric = acc_map.get(acc_id, ("", ""))
            node_kind = node.split(" ")[0]
            hit = _NODE_METRICS.get((node_kind, metric))
            if hit:
                row[hit[0]] += val * hit[1]
            elif metric in _PY_METRICS:
                col, scale = _PY_METRICS[metric]
                py = row["python"].setdefault(node_kind, {"run_s": 0.0, "bytes_in": 0.0, "bytes_out": 0.0})
                py[col] += val * scale
            elif metric == "number of output rows":
                row["rows_out"][node_kind] = row["rows_out"].get(node_kind, 0) + val
        rows[sid] = row
    return rows


def sum_rows(rows: dict[int, dict], span_ids) -> dict:
    """Add up the rows of several spans (e.g. a span and its subtree)."""
    out = {"jobs": 0, "tasks": 0, "input_bytes": 0, "shuffle_read_bytes": 0,
           "shuffle_write_bytes": 0, "spill_bytes": 0, "gc_s": 0.0,
           "executor_cpu_s": 0.0, "executor_run_s": 0.0, "scan_time_s": 0.0,
           "files_read": 0.0, "file_bytes_read": 0.0, "python": {}, "rows_out": {},
           "task_max_s": 0.0, "task_median_s": 0.0}
    for sid in span_ids:
        r = rows.get(sid)
        if r is None:
            continue
        for k, v in r.items():
            if k == "python":
                for node, m in v.items():
                    d = out["python"].setdefault(node, {"run_s": 0.0, "bytes_in": 0.0, "bytes_out": 0.0})
                    for mk, mv in m.items():
                        d[mk] += mv
            elif k == "rows_out":
                for node, n in v.items():
                    out["rows_out"][node] = out["rows_out"].get(node, 0) + n
            elif k in ("task_max_s", "task_median_s"):
                # keep the heaviest stage's pair
                if k == "task_max_s" and v > out["task_max_s"]:
                    out["task_max_s"], out["task_median_s"] = v, r["task_median_s"]
            elif isinstance(v, (int, float)) and k != "span":
                out[k] += v
    return out


if __name__ == "__main__":
    if len(sys.argv) != 2:
        print("usage: eventlog.py <event-log-dir>", file=sys.stderr)
        raise SystemExit(2)
    rows = read_rows(sys.argv[1])
    for desc in sorted({r["description"] for r in rows.values()}):
        ids = [sid for sid, r in rows.items() if r["description"] == desc]
        print(json.dumps({"description": desc, "spans": len(ids), **sum_rows(rows, ids)}))
