"""The control loop (§3.1): poll → claim → execute → publish, as
micro-batch cycles over a JobStore.

Maps the reference's daemon loop (encodesrv/__init__.py:54-141) onto
Spark:

* threads + queue.Queue      → Spark task scheduling over the claimed
                               batch: one action, one task per job, so
                               min(max_concurrent, defaultParallelism)
                               jobs run at once
* per-row UPDATE statements  → keyed upserts on the JobStore
* 60 s sleep / 300 s backoff → injectable clock+sleeper (testable);
                               the Structured Streaming twin uses
                               trigger(processingTime='60 seconds')
* >1 day watchdog            → driver-side staleness check (ST6)

Admission control (ST2): the reference claims `1 - qsize` jobs per
poll — at most one per minute.  That throttle is an artifact of its
single-queue design (SURVEY §7.3.3).  `run_cycle` is synchronous —
it finishes every job it claimed before the next poll, so nothing is
in flight when it polls — and the claim limit is `max_concurrent`,
preserving the backpressure *intent* (never over-claim) without the
accidental 1/min ceiling.

A cycle handles at most `max_concurrent` rows, so the frames it must
not recompute — the claimed batch and the results — are held on the
driver as local frames (`state.hold`): nothing to cache, checkpoint or
release, and nothing pinned to a snapshot that a racing commit's GC
may delete.
"""

from __future__ import annotations

import time
from collections.abc import Callable
from dataclasses import dataclass, field
from datetime import datetime, timedelta

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from encodesrv_spark.jobs import state
from encodesrv_spark.jobs.process import ProcessConfig, run_claimed_jobs
from encodesrv_spark.jobs.state import CommitConflict, JobStore


def _upsert_with_retry(
    store: JobStore, updates: DataFrame, cols: list[str], max_retries: int = 5
) -> None:
    """Re-read-and-retry around a keyed upsert, same protocol as
    `state.claim_jobs`: in the multi-server setup a racing commit
    raises CommitConflict; without the retry the loser's terminal
    Done/Error statuses are dropped and its jobs sit in
    '<server> - Waiting' until the next startup_reset re-encodes them.
    The upsert re-reads the current snapshot per attempt and publish
    is idempotent, so retrying is safe.

    `updates` is held on the driver once up front (`state.hold`): its
    lazy plan may be pinned to a snapshot version directory that the
    store's commit GC (retain=2) deletes under exactly the races that
    trigger retries — re-executing it on attempt 2 would then throw
    FileNotFoundError instead of retrying."""
    updates = state.hold(updates)
    for _ in range(max_retries):
        try:
            store.upsert(updates, cols)
            return
        except CommitConflict:
            continue
    raise CommitConflict(f"upsert of {cols} lost {max_retries} races")


@dataclass
class SchedulerConfig:
    server: str = "Encode Server"
    mount_prefix: str = ""
    max_concurrent: int = 4
    poll_interval_s: float = 60.0
    backoff_s: float = 300.0
    watchdog: timedelta = timedelta(days=1)


@dataclass
class Scheduler:
    spark: SparkSession
    jobs: JobStore
    formats: DataFrame
    video_files: JobStore | None = None
    process_cfg: ProcessConfig = field(default_factory=ProcessConfig)
    cfg: SchedulerConfig = field(default_factory=SchedulerConfig)
    clock: Callable[[], datetime] = datetime.utcnow
    sleeper: Callable[[float], None] = time.sleep

    def startup_reset(self) -> int:
        """ST5 crash recovery: my in-flight, non-Error rows →
        'Not Encoding'."""
        updates = state.hold(
            state.crash_reset_updates(self.jobs.read(), self.cfg.server)
        )
        n = len(updates.collect())  # held: no Spark job
        if n:
            _upsert_with_retry(self.jobs, updates, ["status"])
        return n

    def run_cycle(self) -> DataFrame | None:
        """One poll→claim→execute→publish micro-batch.  Returns the
        result frame, held on the driver (or None when nothing was
        claimed)."""
        limit = self.cfg.max_concurrent
        # exactly-once claim: conditional MERGE + optimistic CAS commit,
        # retried on conflict — safe even with multiple servers polling
        # the same store (ST3, SURVEY §7.3.1)
        claimed = state.claim_jobs(self.jobs, self.cfg.server, limit)
        if claimed.isEmpty():
            return None
        claimed = state.rewrite_mounts(claimed, self.cfg.mount_prefix)

        # J1: broadcast FK join to formats, NULL→'' coalesce done by the
        # argv layer.  The batch runs as ONE action (ST8).  The held
        # batch scans as one row per partition (up to
        # defaultParallelism) and the broadcast join keeps that, so each
        # job is its own task; a hash repartition by id would put
        # colliding ids in one task, one encode after another.  Held so
        # re-reading the results never re-runs an encode
        with_fmt = claimed.join(
            F.broadcast(self.formats), claimed.format_id == self.formats.id_fmt
        )
        results = state.hold(run_claimed_jobs(with_fmt, self.process_cfg))

        # terminal status upserts (S8 sink), conflict-retried: another
        # server's racing claim commit must not drop our Done/Error rows
        _upsert_with_retry(
            self.jobs,
            results.select("id", F.col("final_status").alias("status")),
            ["status"],
        )
        # video_files publish (J2/S11)
        if self.video_files is not None:
            vf_updates = state.video_files_updates(
                results.filter(F.col("final_status").isin("Done", "Encoded"))
            )
            if not vf_updates.isEmpty():
                _upsert_with_retry(self.video_files, vf_updates, ["is_enabled", "size"])
        return results

    def loop(self, max_cycles: int) -> None:
        """The daemon loop with backoff + watchdog (ST6).  `max_cycles`
        bounds the run (the reference loops forever)."""
        last_success = self.clock()
        for _ in range(max_cycles):
            try:
                self.run_cycle()
                last_success = self.clock()
                self.sleeper(self.cfg.poll_interval_s)
            except Exception:
                if self.clock() - last_success > self.cfg.watchdog:
                    raise  # reference: critical log + daemon exit
                self.sleeper(self.cfg.backoff_s)


def prepare_formats(formats: DataFrame) -> DataFrame:
    """Rename the dimension key so the FK join is unambiguous."""
    return formats.withColumnRenamed("id", "id_fmt")
