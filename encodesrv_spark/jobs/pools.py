"""FAIR-scheduler pool dispatch for claimed jobs — the ST8
generalization (SURVEY §2.9, VERDICT r05 #7).

The reference claims jobs in priority order
(`/root/reference/encodesrv/__init__.py:103` — ``ORDER BY priority
DESC LIMIT 1-qsize``) but then executes them through one
undifferentiated thread pool: a high-priority encode enqueued behind a
slow two-pass job still waits its full turn.  Its format dimension
carries ``ef_priority`` (`/root/reference/schema.sql`) for exactly this
distinction, unused beyond the schema.

Here the column maps onto Spark's native mechanism for weighted
resource sharing between CONCURRENT actions: FAIR scheduler pools.
Each claimed micro-batch splits into priority bands; each band's
execution runs as its own concurrent action from its own thread, pinned
to a weighted pool via the ``spark.scheduler.pool`` thread-local
property.  On a FAIR-mode cluster (``spark.scheduler.mode=FAIR`` plus
the allocation file this module generates) a high band receives a 4×
weighted share of executor slots and a ``minShare`` floor, so urgent
encodes start immediately even while a wide low-priority band is
running — at 1000 executors this is the difference between "priority"
meaning claim order only and meaning end-to-end latency.  Under the
default FIFO mode the pool property is simply ignored.  This is the
scheduler's only execution path; a single-band batch, the common case,
costs one action.

PySpark's pinned-thread mode (default since 3.2) maps each Python
thread to its own JVM thread, so per-thread ``setLocalProperty`` is
exactly the per-action isolation the FAIR scheduler expects.  Bands
run in :class:`pyspark.InheritableThread` so they keep the caller's
local properties, its job group included.
"""

from __future__ import annotations

import logging
from collections.abc import Callable
from functools import reduce

from pyspark import InheritableThread
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from encodesrv_spark.jobs import state
from encodesrv_spark.jobs.process import ProcessConfig, run_claimed_jobs

log = logging.getLogger(__name__)

# pool name -> (weight, minShare): weights set the steady-state slot
# ratio between non-empty pools; minShare guarantees the high band a
# foothold even when a wide lower band is already running.
POOLS: dict[str, tuple[int, int]] = {
    "ef-high": (4, 2),
    "ef-normal": (2, 1),
    "ef-low": (1, 0),
}


def pool_for(ef_priority: int | None) -> str:
    """Band an ``ef_priority`` value into a scheduler pool name:
    >= 2 high, 1 normal, anything else low.  NULL (formats predating
    the column) lands in the low band, matching the reference's
    behavior of giving unprioritized work no boost."""
    p = -1 if ef_priority is None else ef_priority
    return "ef-high" if p >= 2 else "ef-normal" if p >= 1 else "ef-low"


def allocation_xml() -> str:
    """The fairscheduler.xml matching :data:`POOLS` — point
    ``spark.scheduler.allocation.file`` at a file holding this and set
    ``spark.scheduler.mode=FAIR`` when building the session."""
    pools = "\n".join(
        f"  <pool name=\"{name}\">\n"
        f"    <schedulingMode>FAIR</schedulingMode>\n"
        f"    <weight>{weight}</weight>\n"
        f"    <minShare>{min_share}</minShare>\n"
        f"  </pool>"
        for name, (weight, min_share) in POOLS.items()
    )
    return f"<?xml version=\"1.0\"?>\n<allocations>\n{pools}\n</allocations>\n"


def write_allocation_file(path: str) -> str:
    """Write the allocation file; returns the path for builder configs:
    ``.config("spark.scheduler.mode", "FAIR")
    .config("spark.scheduler.allocation.file", path)``."""
    with open(path, "w") as fh:
        fh.write(allocation_xml())
    return path


def run_claimed_by_pool(
    claimed_with_format: DataFrame,
    cfg: ProcessConfig,
    tasks: int = 1,
    probe: Callable[[str, str | None, str | None], None] | None = None,
) -> DataFrame:
    """Execute a claimed batch with per-priority-band FAIR dispatch.

    The batch (<= max_concurrent rows) is held on the driver once
    (:func:`state.hold`) and banded there with :func:`pool_for`; only
    bands that hold rows are dispatched.  Each band's
    `run_claimed_jobs` action runs from its own
    :class:`pyspark.InheritableThread` with ``spark.scheduler.pool``
    set, so the FAIR scheduler arbitrates executor slots BETWEEN the
    bands while every band makes progress concurrently.  A band's input
    is repartitioned by ``id`` into `tasks` tasks so each job is its
    own task unit (the Spark analog of the reference's thread pool,
    ST8), and its output is held too: re-reading the returned frame
    never re-runs an encode.

    ``probe`` (tests): called in each band thread with ``(pool_name,
    sc.getLocalProperty("spark.scheduler.pool"),
    sc.getLocalProperty("spark.jobGroup.id"))`` right before the
    action, witnessing the thread-local wiring.

    A band whose ACTION dies (infra failure — per-job ffmpeg errors
    surface as 'Error' rows, not exceptions) aborts the cycle, and the
    watchdog / crash-reset path re-queues the in-flight jobs.  Every
    failed band's error is logged with its pool name before the first
    is re-raised, so a multi-band failure cannot hide its root cause."""
    src = state.hold(claimed_with_format)
    sc = src.sparkSession.sparkContext
    prio = "ef_priority" if "ef_priority" in src.columns else F.lit(None)
    bands: dict[str, list[int]] = {}
    for r in src.select("id", prio).collect():  # local: no Spark job
        bands.setdefault(pool_for(r[1]), []).append(r[0])

    results: dict[str, DataFrame] = {}
    errors: dict[str, BaseException] = {}

    def run_band(pool: str) -> None:
        sc.setLocalProperty("spark.scheduler.pool", pool)
        try:
            if probe is not None:
                probe(
                    pool,
                    sc.getLocalProperty("spark.scheduler.pool"),
                    sc.getLocalProperty("spark.jobGroup.id"),
                )
            band = src.filter(F.col("id").isin(bands[pool])).repartition(tasks, "id")
            # the ACTION must run in this thread for the pool to apply
            results[pool] = state.hold(run_claimed_jobs(band, cfg))
        except BaseException as exc:  # surfaced to the caller below
            errors[pool] = exc

    to_run = [pool for pool in POOLS if pool in bands]
    threads = [
        InheritableThread(run_band, args=(pool,), name=f"pool-{pool}")
        for pool in to_run
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    if errors:
        for pool, exc in errors.items():
            log.error("band %s failed: %s", pool, exc, exc_info=exc)
        raise next(iter(errors.values()))
    return reduce(DataFrame.unionAll, (results[pool] for pool in to_run))
