"""SparkSession factory.

Local-mode defaults are tuned for the test harness (local[N], one JVM);
the conf is written so the same code runs unchanged on a real cluster:
AQE handles runtime re-planning (partition coalescing, skew-join
splitting, broadcast demotion), shuffle partitions are sized for the
local core count but would be overridden by cluster conf, and all
operators in this package express plans declaratively so Catalyst can
push filters/prune columns regardless of deployment.

Python workers run under ``encodesrv_spark.worker_daemon`` (set as
``spark.python.daemon.module``, a fixed launch-time setting, not an
option).  Every Python task calls ``importlib.invalidate_caches()``;
under the stock ``pyspark.daemon`` that makes each cached zipimporter
re-read the central directory of Spark's ``pyspark.zip`` (1,328
entries), a floor of about 0.25 s of worker CPU per task that dwarfs
a claimed job's own work.  The engine's daemon skips that re-read for
the archives that were on the daemon's path at start.  The daemon is
imported from the package, so the workers get the package's parent
directory on their ``PYTHONPATH`` and start from any working
directory.  Sessions built elsewhere -- the harness hands
``__spark_entry__`` its own session, which every registered query
normalizes with :func:`prep` -- keep the stock daemon and the floor:
the daemon is chosen when the context starts and cannot be changed on
a running session.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# the directory holding the package, for the Python workers' import path
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(app_name: str = "encodesrv_spark", cpus: int | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    ``cpus`` defaults to $SPARK_GRAFT_CPUS or 32 (the harness size).
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.python.daemon.module", "encodesrv_spark.worker_daemon")
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_PARENT)
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def prep(spark: SparkSession) -> SparkSession:
    """Normalize runtime conf on a session we did not create.

    The driver harness hands us its own SparkSession; the engine's
    semantics (timestamp rendering, adaptive exec) must not depend on
    who built the session.  ``plans.registry.register`` applies this
    to the session before every registered query builds its frame.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    return spark
