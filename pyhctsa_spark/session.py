"""SparkSession factory with the engine's scale-oriented defaults.

The same settings we would ship in spark-defaults.conf for a 1000-executor
cluster, expressed here for local[N] testing: AQE on (skew-join splitting,
partition coalescing), Arrow on (every dataplane kernel is an Arrow-batched
pandas UDF), bounded Arrow batches so one long token array never forces a
giant batch. Shuffle partitions follow a local master's core count and
the driver heap the host's memory.

For a local master the Python workers run under the package's own daemon,
``pyhctsa_spark._daemon``: it keeps PySpark's per-task
``importlib.invalidate_caches()`` from re-reading the directories of
``pyspark.zip``, py4j and the Spark core jar, a fixed cost of about a
quarter of a second per task. The daemon is named only when a worker can
import it: the workers inherit the driver's cwd and ``PYTHONPATH``, so the
package must be reachable from there or from site-packages. Every other
master, ``"from-submit"`` included, keeps PySpark's stock daemon.
"""

from __future__ import annotations

import os
import re
import site

from pyspark.sql import SparkSession

_LOCAL = re.compile(r"local(?:\[(\*|\d+)(?:,\d+)?\])?")


def default_driver_memory() -> str:
    """Half of the host's physical memory, at most 24g."""
    total_mb = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") // 2**20
    return f"{min(24 * 1024, total_mb // 2)}m"


def _workers_can_import_package() -> bool:
    """Whether a Python worker started with this process's cwd and
    ``PYTHONPATH`` finds this package on its ``sys.path``."""
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    roots = [os.getcwd(), *os.environ.get("PYTHONPATH", "").split(os.pathsep),
             *site.getsitepackages(), site.getusersitepackages()]
    return os.path.realpath(here) in {os.path.realpath(p or os.getcwd()) for p in roots}


def get_spark(
    app_name: str = "pyhctsa_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (all cores if the
    env var is unset). Pass ``master="from-submit"`` to leave the master
    unset so spark-submit / the cluster manager decides (the production
    jobs/ entrypoints do this). ``shuffle_partitions`` defaults to a
    local master's core count, at least 8; on other masters spark-submit
    or Spark's default decides. The driver heap is
    ``$SPARK_DRIVER_MEM``, else half the host's memory capped at 24g.

    A local master whose workers can import this package runs them under
    ``pyhctsa_spark._daemon`` (see the module docstring); other masters
    keep the stock daemon, because their workers do not share this
    process's cwd and ``PYTHONPATH``, and the ``from-submit`` jobs ship
    the package with ``--py-files``, which reach the workers only after
    the daemon has started.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    local = _LOCAL.fullmatch(master)
    if shuffle_partitions is None and local:
        cores = local.group(1) or "1"
        shuffle_partitions = max(8, (os.cpu_count() or 8) if cores == "*" else int(cores))

    b = SparkSession.builder.appName(app_name)
    if master != "from-submit":
        b = b.master(master)
    if local and _workers_can_import_package():
        b = b.config("spark.python.daemon.module", "pyhctsa_spark._daemon")
    if shuffle_partitions is not None:
        b = b.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    b = (
        b
        # AQE: runtime coalescing + skew-join splitting; at 100 TB this is
        # what turns a bad static plan into a survivable one.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # All kernels are Arrow pandas UDFs.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Token arrays can be ~16k ints; 2048 rows/batch is ~32MB at the
        # TYPICAL ~4k-token doc and ~128MB worst-case if a batch were all
        # 16k-token docs (log-uniform lengths make that vanishingly rare;
        # the heap headroom below covers it). Output-side memory is
        # bounded separately: the kernels flush RecordBatches every ~64k
        # rows). 2048 measured ~15% faster than 512 on the rollup (fewer
        # Arrow roundtrips).
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        # 128 MiB parquet split — the default, stated explicitly because
        # partition sizing is part of the contract (BASELINE.md §3).
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # local[N] runs scan, kernel I/O and N concurrent parquet WRITERS
        # in one JVM: 32 writer tasks x (row-group buffers + dictionary
        # pages + the binary state column) overflow an 8g heap (observed
        # java.lang.OutOfMemoryError in ColumnChunkPageWriteStore on the
        # 240k-doc/0.7B-point run). On a real cluster this is per-executor
        # sizing; locally the heap is as large as the host allows, up to
        # the 24g that 32 writers need.
        .config("spark.driver.memory",
                os.environ.get("SPARK_DRIVER_MEM") or default_driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
