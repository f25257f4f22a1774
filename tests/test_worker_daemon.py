"""The engine's Python worker daemon (`encodesrv_spark.worker_daemon`):
tasks stop re-reading Spark's own archives, zips added later still
import, and a session built from any working directory can start it."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap
import uuid
import zipfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _warm(spark) -> None:
    sc = spark.sparkContext
    sc.parallelize(range(sc.defaultParallelism), sc.defaultParallelism).map(
        lambda x: x
    ).collect()


def test_task_keeps_pyspark_zip_directory(spark):
    """A task's `importlib.invalidate_caches()` (which every task's
    set-up runs) leaves the cached directory of `pyspark.zip` in place
    instead of re-reading the archive."""
    _warm(spark)

    def probe(_):
        import importlib
        import sys
        import zipimport

        archive = next(p for p in sys.path if p.endswith("pyspark.zip"))
        before = zipimport._zip_directory_cache[archive]
        importlib.invalidate_caches()
        yield before is zipimport._zip_directory_cache[archive]

    kept = spark.sparkContext.parallelize([0], 1).mapPartitions(probe).collect()
    assert kept == [True]
    assert spark.sparkContext.getConf().get("spark.python.daemon.module") == (
        "encodesrv_spark.worker_daemon"
    )


def test_zip_added_after_warm_up_imports(spark, tmp_path):
    """The daemon skips only the archives on its path at start: a zip
    shipped with `addPyFile` once the workers are warm is importable in
    the next task."""
    _warm(spark)
    mod = f"late_mod_{uuid.uuid4().hex}"
    path = str(tmp_path / f"{mod}.zip")
    with zipfile.ZipFile(path, "w") as z:
        z.writestr(f"{mod}.py", "VALUE = 42\n")
    sc = spark.sparkContext
    sc.addPyFile(path)

    def use(_):
        import importlib

        yield importlib.import_module(mod).VALUE

    assert sc.parallelize([0], 1).mapPartitions(use).collect() == [42]


def test_session_from_any_directory_runs_python_udf(tmp_path):
    """`get_spark` puts the package on the workers' import path: from a
    working directory outside the repo and with no PYTHONPATH, the daemon
    starts and a Python UDF runs."""
    script = tmp_path / "udf.py"
    script.write_text(
        textwrap.dedent(
            f"""
            import sys
            sys.path.insert(0, {ROOT!r})
            from pyspark.sql import functions as F
            from encodesrv_spark.session import get_spark

            spark = get_spark("worker-daemon-cwd", cpus=1)
            plus_one = F.udf(lambda x: x + 1, "long")
            print(spark.range(3).select(plus_one("id").alias("y")).collect())
            spark.stop()
            """
        )
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    out = subprocess.run(
        [sys.executable, str(script)],
        cwd=str(tmp_path),
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert "[Row(y=1), Row(y=2), Row(y=3)]" in out.stdout
