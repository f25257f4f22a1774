"""Query trace: time one frame builder, then explain the run from
Spark's status store.

:func:`trace` runs ``build()`` to the ``noop`` sink under a job group
of its own and times exactly the build plus the save.  After that it
reads what Spark recorded about the run (with the UI off too):

* the status tracker: the group's Spark jobs and their stages;
* the application status store (``lastStageAttempt``,
  ``taskSummary``): per-stage task count and task-time median and max
  (skew), shuffle-write and spill bytes;
* the SQL status store (``executionsList``, ``planGraph``,
  ``executionMetrics``): every SQL execution the run started, eager
  checkpoints during the build as well as the final save, each with
  its final (post-AQE) operators and their metrics.

The status store renders metric values as display strings;
:func:`parse_metric` turns them into numbers, so the record is plain
JSON that diffs cleanly.
"""

from __future__ import annotations

import time
import uuid

from py4j.protocol import Py4JJavaError

_BYTES = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40, "PiB": 1 << 50, "EiB": 1 << 60}
_MS = {"ms": 1, "s": 1000, "m": 60_000, "h": 3_600_000}

# operator metric -> field of the operator's row; timing metrics add to "time_ms"
_FIELDS = {
    "number of output rows": "rows",
    "shuffle records written": "rows",  # Exchange has no output-rows metric
    "spill size": "spill_bytes",
    "peak memory": "peak_memory_bytes",
    "shuffle bytes written": "shuffle_bytes",
}


def parse_metric(text: str) -> int:
    """A status-store metric value as an integer: a count ("32,496"), a
    size in bytes ("64.2 MiB") or a duration in ms ("8 ms", "1.2 s").
    A metric collected per task prints a header line and then
    "total (min, med, max (stage ...))"; its total is returned."""
    value = text.strip().splitlines()[-1].split(" (", 1)[0]
    num, _, unit = value.partition(" ")
    scale = _BYTES[unit] if unit in _BYTES else _MS[unit] if unit else 1
    return round(float(num.replace(",", "")) * scale)


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


def _executions_after(store, last_id: int) -> list:
    """The SQL executions with an id above `last_id`, oldest first.  The
    store keeps a bounded number and evicts the oldest, so this pages
    back from the newest instead of trusting an offset."""
    out: list = []
    end = store.executionsCount()
    while end > 0:
        start = max(0, end - 32)
        page = _seq(store.executionsList(start, end - start))
        newer = [e for e in page if e.executionId() > last_id]
        out[:0] = newer
        if len(newer) < len(page):
            break
        end = start
    return out


def _operator(node, values) -> dict:
    row: dict = {"name": node.name().strip()}
    for m in _seq(node.metrics()):
        field = _FIELDS.get(m.name())
        if field is None and m.metricType() in ("timing", "nsTiming"):
            field = "time_ms"
        if field is None:
            continue
        value = values.get(m.accumulatorId())
        if value.isDefined():
            row[field] = row.get(field, 0) + parse_metric(value.get())
    return row


def _execution(store, e) -> dict:
    eid = e.executionId()
    values = store.executionMetrics(eid)
    return {
        "ms": e.completionTime().get().getTime() - e.submissionTime(),
        "operators": [_operator(n, values) for n in _seq(store.planGraph(eid).allNodes())],
    }


def _stages(sc, group: str) -> dict:
    tracker = sc.statusTracker()
    job_ids = tracker.getJobIdsForGroup(group)
    stage_ids = sorted({s for j in job_ids if (info := tracker.getJobInfo(j)) for s in info.stageIds})
    store = sc._jsc.sc().statusStore()
    quantiles = sc._gateway.new_array(sc._gateway.jvm.double, 2)
    quantiles[0], quantiles[1] = 0.5, 1.0
    stages, task_ms, shuffle, spill = [], 0, 0, 0
    for sid in stage_ids:
        try:
            st = store.lastStageAttempt(sid)
        except Py4JJavaError:  # gone: the store keeps a bounded number of stages
            continue
        summary = store.taskSummary(sid, st.attemptId(), quantiles)
        if not summary.isDefined():  # skipped: it ran no task
            continue
        run = summary.get().executorRunTime()
        stages.append(
            {"tasks": st.numCompleteTasks(), "task_ms_med": round(run.apply(0)), "task_ms_max": round(run.apply(1))}
        )
        task_ms += st.executorRunTime()
        shuffle += st.shuffleWriteBytes()
        spill += st.memoryBytesSpilled() + st.diskBytesSpilled()
    return {
        "jobs": len(job_ids),
        "stages": stages,
        "task_s": round(task_ms / 1000.0, 3),
        "shuffle_write_bytes": shuffle,
        "spill_bytes": spill,
    }


def _trace_once(spark, build) -> dict:
    sc = spark.sparkContext
    bus = sc._jsc.sc().listenerBus()
    store = spark._jsparkSession.sharedState().statusStore()
    bus.waitUntilEmpty()
    n = store.executionsCount()
    last_id = store.executionsList(n - 1, 1).apply(0).executionId() if n else -1
    persisted = set(sc._jsc.getPersistentRDDs().keySet())
    group = f"trace-{uuid.uuid4().hex}"
    prev_group = sc.getLocalProperty("spark.jobGroup.id")
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        t0 = time.time()
        build().write.mode("overwrite").format("noop").save()
        wall = time.time() - t0
    finally:
        sc.setLocalProperty("spark.jobGroup.id", prev_group)
    bus.waitUntilEmpty()
    # an execution's final metrics are aggregated off the listener thread;
    # it is stored with its completion time once they are
    for _ in range(200):
        execs = _executions_after(store, last_id)
        if all(e.completionTime().isDefined() for e in execs):
            break
        time.sleep(0.05)
    return {
        "wall_s": wall,
        **_stages(sc, group),
        "persisted_rdds": len(set(sc._jsc.getPersistentRDDs().keySet()) - persisted),
        "executions": [_execution(store, e) for e in execs],
    }


def trace(spark, build, reps: int = 1) -> dict:
    """Run ``build()`` (a function returning a DataFrame) to the noop
    sink `reps` times and return the trace of the median run (the upper
    median for an even count).

    The record holds ``wall_s`` (the run's wall time in seconds), the
    Spark ``jobs`` count, one entry per ``stages`` that ran tasks (task
    count and task-time median and max), ``task_s``,
    ``shuffle_write_bytes``, ``spill_bytes``, ``persisted_rdds`` (RDDs
    the run persisted and left persisted) and one entry per SQL
    ``executions`` (its duration and its operators' rows, time, spill,
    peak memory and shuffle bytes, where the operator reports them)."""
    runs = sorted((_trace_once(spark, build) for _ in range(reps)), key=lambda r: r["wall_s"])
    median = runs[len(runs) // 2]
    return {**median, "wall_s": round(median["wall_s"], 3)}
