"""The session factory: the package's worker daemon, where it is named,
that shipped py-files still import under it, and the host-fitted heap."""

import os
import subprocess
import sys
import textwrap
import uuid
import zipfile

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DAEMON_CONF = "spark.python.daemon.module"


def _run_driver(code: str, cwd, **env) -> list[str]:
    """Run ``code`` as a fresh driver process in ``cwd`` without the
    caller's PYTHONPATH; returns the last line of its stdout, split."""
    script = os.path.join(str(cwd), "driver.py")
    with open(script, "w") as f:
        f.write(textwrap.dedent(code))
    full_env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    full_env.update(SPARK_DRIVER_MEM="1g", **env)
    r = subprocess.run([sys.executable, script], cwd=str(cwd), env=full_env,
                       capture_output=True, text=True, timeout=300)
    assert r.returncode == 0, r.stderr[-3000:]
    return r.stdout.strip().splitlines()[-1].split()


def _task_values(spark, fn, n=4):
    return spark.sparkContext.parallelize(range(n), n).mapPartitions(fn).collect()


def test_tasks_run_with_the_package_daemon(spark):
    assert spark.sparkContext.getConf().get(DAEMON_CONF) == "pyhctsa_spark._daemon"

    def replaced(_):
        import importlib

        yield importlib.invalidate_caches.__qualname__

    assert set(_task_values(spark, replaced)) == {
        "keep_archive_caches.<locals>.invalidate_caches"}


def test_py_file_shipped_after_first_task_imports(spark, tmp_path):
    name = f"late_module_{uuid.uuid4().hex}"
    _task_values(spark, lambda it: [sum(1 for _ in it)])
    (tmp_path / f"{name}.py").write_text("VALUE = 41\n")
    spark.sparkContext.addPyFile(str(tmp_path / f"{name}.py"))

    def load(_):
        import importlib

        yield importlib.import_module(name).VALUE

    assert _task_values(spark, load) == [41] * 4


def test_zip_py_file_shipped_after_first_task_imports(spark, tmp_path):
    name = f"late_zip_{uuid.uuid4().hex}"
    _task_values(spark, lambda it: [sum(1 for _ in it)])
    archive = str(tmp_path / f"{name}.zip")
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr(f"{name}/__init__.py", "VALUE = 43\n")
    spark.sparkContext.addPyFile(archive)

    def load(_):
        import importlib

        yield importlib.import_module(name).VALUE

    assert _task_values(spark, load) == [43] * 4


def test_driver_with_package_only_on_sys_path_keeps_stock_daemon(tmp_path):
    """Workers start in the driver's cwd with its PYTHONPATH; a package
    the driver put on ``sys.path`` itself is out of their reach, so the
    session must not name the package daemon."""
    out = _run_driver(f"""
        import sys
        sys.path.insert(0, {REPO!r})
        from pyhctsa_spark import get_spark

        def ident(batches):
            yield from batches

        spark = get_spark("outside-driver", master="local[1]")
        df = spark.range(5)
        rows = df.mapInArrow(ident, df.schema).count()
        print(rows, spark.sparkContext.getConf().get({DAEMON_CONF!r}, "stock"))
        spark.stop()
    """, tmp_path)
    assert out == ["5", "stock"]


def test_from_submit_session_keeps_stock_daemon(tmp_path):
    (tmp_path / "run").mkdir()
    out = _run_driver(f"""
        from pyhctsa_spark import get_spark

        spark = get_spark("submitted", master="from-submit")
        print(spark.sparkContext.master,
              spark.sparkContext.getConf().get({DAEMON_CONF!r}, "stock"))
        spark.stop()
    """, tmp_path / "run", PYTHONPATH=REPO,
        PYSPARK_SUBMIT_ARGS="--master local[1] pyspark-shell")
    assert out == ["local[1]", "stock"]


def test_default_driver_heap_fits_the_host():
    from pyhctsa_spark.session import default_driver_memory

    if not os.path.exists("/proc/meminfo"):
        pytest.skip("no /proc/meminfo on this platform")
    with open("/proc/meminfo") as f:
        mem_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    heap = default_driver_memory()
    assert heap.endswith("m")
    assert 0 < int(heap[:-1]) * 1024 <= mem_kb
    assert int(heap[:-1]) <= 24 * 1024
