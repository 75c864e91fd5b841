"""Host-fitted Spark session, process-tree RSS sampling and shutdown.

The session is built through the package's own ``get_spark`` with
``extra_conf`` only: ``local[nproc]``, a driver heap sized from this
machine's memory instead of the package default, and every scratch
directory (Spark local dirs, warehouse, JVM and Python temp files,
event log) inside the benchmark's work directory.
"""

from __future__ import annotations

import os
import signal
import subprocess
import threading
import time

RSS_INTERVAL_S = 0.2


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def host_conf(work: str, event_log: str | None = None) -> dict[str, str]:
    """Spark settings fitted to this host; ``event_log`` turns on an
    uncompressed, unrolled event log in that directory. Without it the
    log is turned off explicitly: a context restarted in the same JVM
    would otherwise inherit the first context's setting."""
    heap_mb = max(1024, min(4096, mem_total_mb() // 8))
    conf = {
        "spark.driver.memory": f"{heap_mb}m",
        # a fixed-size heap: the JVM's share of RSS then depends on the
        # work, not on when the collector chose to grow the heap
        "spark.driver.extraJavaOptions": f"-Xms{heap_mb}m",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_log,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    else:
        conf["spark.eventLog.enabled"] = "false"
    return conf


def prepare_env(work: str, repo: str) -> None:
    """Environment the JVM and Python workers inherit: scratch dirs in
    the work directory and the package on the workers' path."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # every JVM (the launcher too): temp files here, no /tmp/hsperfdata
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (repo, os.environ.get("PYTHONPATH")) if p
    )


def start_spark(app: str, conf: dict[str, str]):
    from pyhctsa_spark import get_spark

    spark = get_spark(app, master=f"local[{nproc()}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def effective_conf(spark) -> dict[str, str]:
    keys = (
        "spark.master", "spark.driver.memory", "spark.sql.shuffle.partitions",
        "spark.sql.adaptive.enabled", "spark.sql.execution.arrow.maxRecordsPerBatch",
        "spark.sql.files.maxPartitionBytes", "spark.local.dir",
        "spark.eventLog.enabled",
    )
    sc = spark.sparkContext.getConf()
    return {k: sc.get(k, None) for k in keys}


# -- process tree -----------------------------------------------------------

def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, []):
            out.append(c)
            todo.append(c)
    return out


def _pss_kb(pid: int) -> int:
    """Proportional set size: pages shared by the forked Python workers
    are split between them instead of counted once per worker."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Peak resident memory of this process and all its descendants (the
    driver JVM and its Python workers), sampled from /proc as the sum of
    their proportional set sizes."""

    def __init__(self) -> None:
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            total = sum(_pss_kb(p) for p in [me, *descendants(me)])
            self.peak_kb = max(self.peak_kb, total)
            self._stop.wait(RSS_INTERVAL_S)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def shutdown(spark) -> None:
    """Stop Spark, end the gateway JVM and wait until every process this
    run started (the JVM and the Python workers it forked) has exited."""
    from pyspark import SparkContext

    started = descendants(os.getpid())
    gateway = SparkContext._gateway
    if spark is not None:
        spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            # the gateway server exits when its stdin closes
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    # workers outlive the JVM briefly; they exit on their own when their
    # pipe closes, and are signalled if they do not
    t0 = time.time()
    left = [p for p in started if _alive(p)]
    while left:
        waited = time.time() - t0
        if waited > 10:
            for p in left:
                try:
                    os.kill(p, signal.SIGKILL if waited > 20 else signal.SIGTERM)
                except ProcessLookupError:
                    pass
        time.sleep(0.1)
        left = [p for p in left if _alive(p)]
