"""Job-queue state machine and storage.

The reference keeps all coordination state in one mutable Postgres
table, with the varchar `status` column serving as state-machine state,
ownership lease, and progress channel at once (SURVEY.md §1.1).  This
module reproduces those semantics on Spark:

* :class:`JobStore` — a versioned-parquet transactional table with
  single-writer micro-batch discipline (SURVEY.md §7.3.1: the simplest
  model that matches the reference's one-driver reality; swap in Delta
  MERGE for multi-writer).  Every mutation is a keyed upsert producing
  a new immutable version directory, committed afterwards by an atomic
  commit record, so readers never observe partial writes (same
  staging-commit idea as FileOutputCommitter).
* status vocabulary + transition helpers — exact strings preserved as
  the compatibility surface (reference encodesrv/job.py:78,136,199,230,
  283,304,309,330; encodesrv/__init__.py:78,112).
* claim / crash-reset / publish transforms — declarative DataFrame
  rewrites of the reference's UPDATE statements.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import uuid
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# --- status vocabulary (compatibility surface) ------------------------------

NOT_ENCODING = "Not Encoding"
DONE = "Done"
ENCODED = "Encoded"  # publish succeeded but scratch cleanup failed (job.py:330)


def waiting(server: str) -> str:
    return f"{server} - Waiting"


def error(server: str) -> str:
    return f"{server} - Error"


def copying(server: str, pct: int) -> str:
    return f"{server} - Copying Source {pct}%"


def encoding_pass(server: str, n: int) -> str:
    return f"{server} - Encoding Pass {n}"


def moving_file(server: str) -> str:
    return f"{server} - Moving File"


# --- storage ----------------------------------------------------------------


class CommitConflict(Exception):
    """Another writer committed first; re-read and retry (the Delta-
    style optimistic-concurrency signal, SURVEY §7.3.1)."""


class JobStore:
    """Versioned-parquet keyed table with atomic commits and optimistic
    concurrency.

    Layout:  <path>/v_{n:08d}_{id}/*.parquet  (data, one dir per attempt)
             +  <path>/_COMMIT_{n:08d}  (commit record n: its data dir)
             +  <path>/_CURRENT  (hint: a recently committed version).

    A commit first writes its data to a directory only this attempt
    uses, then creates commit record v+1 naming it, atomically and only
    if absent (``os.link``) -- a filesystem compare-and-swap, and the
    commit itself.  Two writers racing from the same snapshot both
    target v+1; exactly one creates the record, the other gets
    :class:`CommitConflict` and retries from the new snapshot.  This is
    the protocol of Delta Lake's log (its _delta_log/N.json creation is
    the CAS); on a real deployment swap this class for Delta MERGE and
    the calling code is unchanged.  Readers resolve the newest record
    whose data exists, so they only ever see fully written versions.

    A writer killed at any point leaves the store writable: before its
    record it leaves only a data directory that no record names, which
    the next commit sweeps; after its record it has committed, and
    `_CURRENT` is only where readers start looking.
    """

    def __init__(
        self, spark: SparkSession, path: str, key: str = "id", retain: int = 2
    ) -> None:
        self.spark = spark
        self.path = path
        self.key = key
        # versions kept, newest included: >=2 covers concurrent readers;
        # raise it for time-travel (`read_version`) / audit windows
        self.retain = max(2, retain)

    # -- version plumbing --

    def _pointer(self) -> str:
        return os.path.join(self.path, "_CURRENT")

    def _record(self, v: int) -> str:
        return os.path.join(self.path, f"_COMMIT_{v:08d}")

    def _last_record(self) -> int:
        """Number of the newest commit record (-1 if none): probe upward
        from the `_CURRENT` hint.  A missing or torn hint, or one a slow
        writer set back to a version GC has since removed, falls back to
        listing the records."""
        try:
            with open(self._pointer()) as f:
                v = int(f.read())
        except (FileNotFoundError, ValueError):
            v = -1
        if v < 0 or not os.path.exists(self._record(v)):
            try:
                names = os.listdir(self.path)
            except FileNotFoundError:
                return -1
            v = max(
                (int(n[len("_COMMIT_"):]) for n in names if n.startswith("_COMMIT_")),
                default=-1,
            )
        while os.path.exists(self._record(v + 1)):
            v += 1
        return v

    def _version_dir(self, v: int) -> str | None:
        """The data directory commit record `v` names, or None when the
        record is gone or names nothing (a bare reservation left by a
        reserve-then-write commit)."""
        try:
            with open(self._record(v)) as f:
                name = f.read()
        except FileNotFoundError:
            return None
        return os.path.join(self.path, name) if name else None

    def _has_data(self, v: int) -> bool:
        d = self._version_dir(v)
        return d is not None and os.path.isdir(d)

    def _committed_at_or_below(self, v: int) -> int:
        while v >= 0 and not self._has_data(v):
            v -= 1
        return v

    def current_version(self) -> int:
        """The newest committed version whose data exists (-1 if none)."""
        return self._committed_at_or_below(self._last_record())

    def read(self) -> DataFrame:
        v = self.current_version()
        if v < 0:
            raise FileNotFoundError(f"JobStore at {self.path} not initialized")
        return self.spark.read.parquet(self._version_dir(v))

    def read_version(self, v: int) -> DataFrame:
        """Time-travel: the table exactly as of commit `v` (must still
        be inside the retention window — the Delta `VERSION AS OF`
        analog; pair with a larger `retain` for audit trails)."""
        if not self._has_data(v):
            raise FileNotFoundError(
                f"version {v} not retained (retain={self.retain}, "
                f"current={self.current_version()})"
            )
        return self.spark.read.parquet(self._version_dir(v))

    def history(self) -> list[int]:
        """Retained, readable version numbers, oldest first."""
        cur = self.current_version()
        return [
            v
            for v in range(max(0, cur - self.retain + 1), cur + 1)
            if self._has_data(v)
        ]

    def changes(self, from_v: int, to_v: int) -> DataFrame:
        """Change-data-feed between two retained versions (the Delta
        CDF `table_changes` analog): each row tagged `_change_type` in
        {'insert', 'delete', 'update_preimage', 'update_postimage'}.

        Computed as keyed diffs of the two snapshots — insert = key
        only in `to`, delete = key only in `from`, update = key in both
        with any non-key column changed (struct inequality, no
        per-column plumbing).  Downstream incremental consumers (e.g.
        `operators/incremental.py` partials) apply the feed instead of
        re-reading the table."""
        old = self.read_version(from_v)
        new = self.read_version(to_v)
        key = self.key
        cols = old.columns
        non_key = [c for c in cols if c != key]
        o = old.alias("o")
        n = new.alias("n")
        ins = new.join(old.select(key), key, "left_anti").select(
            *cols, F.lit("insert").alias("_change_type")
        )
        dele = old.join(new.select(key), key, "left_anti").select(
            *cols, F.lit("delete").alias("_change_type")
        )
        changed = (
            o.join(n, F.col(f"o.{key}") == F.col(f"n.{key}"))
            .filter(
                F.struct(*[F.col(f"o.{c}") for c in non_key])
                != F.struct(*[F.col(f"n.{c}") for c in non_key])
            )
        )
        pre = changed.select(
            *[F.col(f"o.{c}").alias(c) for c in cols],
            F.lit("update_preimage").alias("_change_type"),
        )
        post = changed.select(
            *[F.col(f"n.{c}").alias(c) for c in cols],
            F.lit("update_postimage").alias("_change_type"),
        )
        return ins.unionByName(dele).unionByName(pre).unionByName(post)

    def _read_snapshot(self, v: int) -> DataFrame:
        """Read a pinned version for an optimistic write.  If the dir
        was already GC'd by a newer writer's retention sweep the
        snapshot is stale beyond repair — surface that as
        :class:`CommitConflict` (re-read and retry), not as a raw
        path-not-found error that would abort the caller's retry
        loop."""
        d = self._version_dir(v)
        try:
            if d is None:
                raise FileNotFoundError(self._record(v))
            return self.spark.read.parquet(d)
        except Exception as exc:
            if d is None or not os.path.isdir(d):
                raise CommitConflict(
                    f"version {v} GC'd by a newer commit "
                    f"(current={self.current_version()})"
                ) from exc
            raise

    def _commit(self, df: DataFrame, expected_version: int | None = None) -> None:
        os.makedirs(self.path, exist_ok=True)
        last = self._last_record()
        cur = self._committed_at_or_below(last)
        if expected_version is not None and cur != expected_version:
            raise CommitConflict(
                f"read version {expected_version}, store is at {cur}"
            )
        # numbered past every record, bare reservations included: a
        # number some record holds can never be committed again
        v = last + 1
        d = os.path.join(self.path, f"v_{v:08d}_{uuid.uuid4().hex}")
        try:
            df.write.parquet(d)
            self._publish(v, d)
        except Exception as exc:
            shutil.rmtree(d, ignore_errors=True)
            # lost the race for v (the winner's sweep may have removed d
            # mid-write): re-read and retry, like any other conflict
            if os.path.exists(self._record(v)):
                raise CommitConflict(f"version {v} already committed") from exc
            raise
        with open(self._pointer(), "w") as f:
            f.write(str(v))
        self._sweep(v)

    def _publish(self, v: int, data_dir: str) -> None:
        """The commit: create record `v` naming `data_dir`, content
        included, in one step that fails if `v` is taken.  The link's
        source stays in the data directory, where Spark skips it (names
        starting with '_' are not data)."""
        src = os.path.join(data_dir, "_record")
        with open(src, "w") as f:
            f.write(os.path.basename(data_dir))
        os.link(src, self._record(v))

    def _sweep(self, v: int) -> None:
        """After committing `v`: drop every version older than the
        retention window (kept for concurrent readers and time-travel),
        and every data directory staged for a version <= v that its
        record does not name -- from a writer that lost that version or
        was killed before committing.  No record can ever name such a
        directory, so removing it is safe even while its writer runs."""
        oldest = v - self.retain + 1
        keep = {self._version_dir(n) for n in range(max(0, oldest), v + 1)}
        for name in os.listdir(self.path):
            p = os.path.join(self.path, name)
            if name.startswith("_COMMIT_") and int(name[len("_COMMIT_"):]) < oldest:
                with contextlib.suppress(FileNotFoundError):
                    os.unlink(p)
            elif name.startswith("v_") and int(name[2:10]) <= v and p not in keep:
                shutil.rmtree(p, ignore_errors=True)

    # -- operations --

    def init(self, df: DataFrame) -> None:
        self._commit(df)

    def append(
        self, rows: DataFrame, expected_version: int | None = None
    ) -> None:
        """Insert new rows (keys must not already exist — this is a
        keyed table, silent key collisions would corrupt the MERGE
        contract).  Same optimistic commit protocol as `upsert`."""
        if expected_version is None:
            expected_version = self.current_version()
        cur = self._read_snapshot(expected_version)
        dup = rows.join(cur.select(self.key), self.key, "left_semi")
        if dup.limit(1).count() > 0:
            raise ValueError("append: key(s) already present; use upsert")
        self._commit(cur.unionByName(rows), expected_version)

    def delete_where(
        self, predicate: str, expected_version: int | None = None
    ) -> None:
        """Delete rows matching a SQL predicate (the MERGE ... WHEN
        MATCHED THEN DELETE analog); surviving rows carry over."""
        if expected_version is None:
            expected_version = self.current_version()
        cur = self._read_snapshot(expected_version)
        self._commit(cur.filter(f"NOT ({predicate})"), expected_version)

    def upsert(
        self,
        updates: DataFrame,
        cols: list[str],
        only_if: str | None = None,
        expected_version: int | None = None,
    ) -> None:
        """MERGE-style keyed update: for rows whose key appears in
        `updates`, overwrite `cols`; all other rows pass through.

        `only_if` is a SQL predicate over the CURRENT row gating the
        update (`WHEN MATCHED AND <only_if> THEN UPDATE`) — the
        conditional-claim guard (ST3).  `expected_version` pins the
        snapshot this update was computed from; if another writer
        committed meanwhile the commit raises :class:`CommitConflict`
        instead of clobbering (defaults to the version read here).

        Implemented as a left join + coalesce — one shuffle of the
        (small) updates side when broadcast, zero full-table rewrite
        logic.  At real scale this is a Delta MERGE; semantics match.
        """
        if expected_version is None:
            expected_version = self.current_version()
        cur = self._read_snapshot(expected_version)
        upd = updates.select(
            F.col(self.key).alias("__k"),
            *[F.col(c).alias(f"__u_{c}") for c in cols],
        )
        joined = cur.join(
            F.broadcast(upd), cur[self.key] == F.col("__k"), "left"
        )
        match = F.col("__k").isNotNull()
        if only_if is not None:
            match = match & F.expr(only_if)
        out_cols = []
        for c in cur.columns:
            if c in cols:
                out_cols.append(
                    F.when(match, F.col(f"__u_{c}")).otherwise(F.col(c)).alias(c)
                )
            else:
                out_cols.append(F.col(c))
        self._commit(joined.select(*out_cols), expected_version=expected_version)


def hold(df: DataFrame) -> DataFrame:
    """Run `df` once and hold its rows on the driver as an Arrow-backed
    local frame.  The result is a ``LocalRelation``: reading it again
    runs no Spark job, starts no Python worker and needs no release,
    and it no longer depends on the snapshot directories `df` read,
    which a racing commit's GC may delete.  A frame that already
    optimizes to a ``LocalRelation`` (e.g. a projection of a held
    frame) is returned as is.  For small frames only: a cycle's claim
    batch (``<= max_concurrent`` rows) or a server's in-flight rows."""
    plan = df._jdf.queryExecution().optimizedPlan()
    if plan.getClass().getSimpleName() == "LocalRelation":
        return df
    return df.sparkSession.createDataFrame(df.toArrow())


def claim_jobs(
    store: JobStore, server: str, limit: int, max_retries: int = 5
) -> DataFrame:
    """Exactly-once multi-writer claim (ST3 under concurrency,
    SURVEY §7.3.1): take a snapshot, pick the top-`limit` free jobs,
    claim them with a conditional update pinned to that snapshot's
    version.  A racing server triggers :class:`CommitConflict`; retry
    re-reads and claims only what is still free — two servers can
    never own the same job.  Returns the claimed candidate rows, held
    on the driver (:func:`hold`), so they stay readable after a later
    commit GCs the snapshot they were polled from."""
    for _ in range(max_retries):
        v0 = store.current_version()
        candidates = hold(poll_candidates(store._read_snapshot(v0), limit))
        # empty poll = drained queue: return without committing — an
        # empty upsert would still write a full new version (pure
        # write amplification, and under contention it steals the CAS
        # from a writer with real claims).  No Spark job on a held frame.
        if candidates.isEmpty():
            return candidates
        try:
            store.upsert(
                claim_updates(candidates, server),
                ["status"],
                only_if=f"status = '{NOT_ENCODING}'",
                expected_version=v0,
            )
            return candidates
        except CommitConflict:
            continue
    raise CommitConflict(f"claim by {server!r} lost {max_retries} races")


# --- declarative transitions -------------------------------------------------


def crash_reset_updates(jobs: DataFrame, server: str) -> DataFrame:
    """ST5 — startup reconciliation: this server's in-flight, non-Error
    rows go back to 'Not Encoding' (reference encodesrv/__init__.py:73-84:
    UPDATE ... WHERE status LIKE '%srv%' AND status NOT LIKE '%Error%')."""
    return jobs.filter(
        F.col("status").contains(server) & ~F.col("status").contains("Error")
    ).select("id", F.lit(NOT_ENCODING).alias("status"))


def poll_candidates(jobs: DataFrame, limit: int) -> DataFrame:
    """T1 — SELECT ... WHERE status='Not Encoding' ORDER BY priority
    DESC LIMIT k, with the id tiebreak (reference encodesrv/__init__.py:103).
    limit <= 0 → empty (the reference's qsize-derived admission gate)."""
    if limit <= 0:
        return jobs.filter(F.lit(False))
    return (
        jobs.filter(F.col("status") == NOT_ENCODING)
        .orderBy(F.desc("priority"), F.asc("id"))
        .limit(limit)
    )


def claim_updates(candidates: DataFrame, server: str) -> DataFrame:
    """ST3 — the claim lease: status := '<server> - Waiting'
    (reference encodesrv/__init__.py:112)."""
    return candidates.select("id", F.lit(waiting(server)).alias("status"))


def rewrite_mounts(jobs: DataFrame, mount_prefix: str) -> DataFrame:
    """F1 — mount-prefix rewrite of source/destination paths at dequeue
    (reference encodesrv/__init__.py:108-110)."""
    from encodesrv_spark.functions.scalars import mount_rewrite

    return jobs.withColumn(
        "source_file", mount_rewrite("source_file", mount_prefix)
    ).withColumn("destination_file", mount_rewrite("destination_file", mount_prefix))


def video_files_updates(finished: DataFrame) -> DataFrame:
    """J2/S11 — publish effect: enable the video row and record output
    size (reference encodesrv/job.py:311-317). `finished` carries
    (video_id, size) for successfully published jobs."""
    return (
        finished.filter(F.col("video_id").isNotNull())
        .select(
            F.col("video_id").alias("id"),
            F.lit(True).alias("is_enabled"),
            F.col("size").cast("long").alias("size"),
        )
    )


@dataclass
class BotStatus:
    """§3.3 — the interactive status query results."""

    currently_encoding: str
    waiting_count: int
    message: str


def bot_status(jobs: DataFrame, server: str) -> BotStatus:
    """The bots' 'status' command (reference logs/bots/common.py:48-80):
    list of this server's running jobs (A3) + waiting count (A1/P5) +
    pluralized message (F5/F14). One two-branch aggregation."""
    status = F.col("status")
    running = (
        status.contains(server) & ~status.contains("Error") & (status != NOT_ENCODING)
    )
    basename = F.element_at(F.split("source_file", "/"), -1)
    row = jobs.agg(
        # collect_list skips the NULLs `when` yields for other rows
        F.array_join(
            F.array_sort(F.collect_list(F.when(running, basename))), ", "
        ).alias("names"),
        F.count_if((status == NOT_ENCODING) | (status == "Waiting")).alias("waiting"),
    ).collect()[0]
    names, waiting_cnt = row["names"], row["waiting"]
    # the relay module owns the template + the 'no jobs' idle fallback
    # (reference common.py:59-64) — ONE definition for logger and bots
    from encodesrv_spark.streaming.relays import form_status_message

    return BotStatus(
        currently_encoding=names or "no jobs",
        waiting_count=waiting_cnt,
        message=form_status_message([names] if names else [], waiting_cnt),
    )
