"""End-to-end scheduler tests: a synthetic jobs table runs
claim→execute→publish micro-batches with stubbed binaries; terminal
statuses and video_files effects asserted (SURVEY.md §5 plan item 3)."""

from __future__ import annotations

import os
from datetime import datetime, timedelta

import pytest

from pyspark.sql import functions as F

from encodesrv_spark.jobs.process import ProcessConfig
from encodesrv_spark.jobs.schema import (
    ENCODE_JOBS_SCHEMA,
    VIDEO_FILES_SCHEMA,
)
from encodesrv_spark.jobs.scheduler import Scheduler, SchedulerConfig, prepare_formats
from encodesrv_spark.jobs.state import JobStore

SRV = "test-server"


def fmt_df(spark):
    rows = [
        {
            "id_fmt": 1,
            "format_name": "web-hd",
            "ef_priority": 2,
            "container": "mp4",
            "video_codec": "libx264",
            "video_bitrate": 1_000_000,
            "video_resolution": "1280x720",
            "aspect_ratio": "16:9",
            "audio_codec": "aac",
            "audio_bitrate": 128_000,
            "audio_samplerate": 44100,
            "file_extension": "mp4",
            "preset_string": "-preset fast",
            "pass_count": 1,
            "apply_mp4box": False,
            "normalise_level": "",
            "args_beginning": "",
            "args_video": "",
            "args_audio": "",
            "args_end": "",
        },
        {
            "id_fmt": 2,
            "format_name": "two-pass",
            "ef_priority": 1,
            "container": "mp4",
            "video_codec": "libx264",
            "video_bitrate": 2_000_000,
            "video_resolution": "1920x1080",
            "aspect_ratio": "16:9",
            "audio_codec": "aac",
            "audio_bitrate": 192_000,
            "audio_samplerate": 48000,
            "file_extension": "mp4",
            "preset_string": "-preset slow",
            "pass_count": 2,
            "apply_mp4box": False,
            "normalise_level": "",
            "args_beginning": "",
            "args_video": "",
            "args_audio": "",
            "args_end": "",
        },
    ]
    return spark.createDataFrame(rows)


def seed_stores(spark, tmp_path, n_jobs=5):
    media = tmp_path / "media"
    media.mkdir()
    rows = []
    for i in range(1, n_jobs + 1):
        (media / f"src{i}.mov").write_bytes(b"x" * (100 * i))
        rows.append(
            (
                i,
                f"/media/src{i}.mov",
                f"/media/out/dest{i}.mp4",
                1 if i % 2 else 2,
                "Not Encoding",
                i * 10,
                None,
                None,
                float(i),  # priority: higher id = higher priority
            )
        )
    jobs = JobStore(spark, str(tmp_path / "jobs"))
    jobs.init(spark.createDataFrame(rows, ENCODE_JOBS_SCHEMA))
    vf = JobStore(spark, str(tmp_path / "video_files"))
    vf.init(
        spark.createDataFrame(
            [(i * 10, False, None) for i in range(1, n_jobs + 1)], VIDEO_FILES_SCHEMA
        )
    )
    return jobs, vf


def mk_scheduler(spark, tmp_path, jobs, vf, max_concurrent=3):
    return Scheduler(
        spark=spark,
        jobs=jobs,
        formats=fmt_df(spark),
        video_files=vf,
        process_cfg=ProcessConfig(server=SRV, scratch_root=str(tmp_path)),
        cfg=SchedulerConfig(
            server=SRV,
            # mount rewrite: /media/... → <tmp>/media/...
            mount_prefix=str(tmp_path) + "/",
            max_concurrent=max_concurrent,
        ),
        sleeper=lambda s: None,
    )


def test_full_cycle_processes_topk(spark, tmp_path):
    jobs, vf = seed_stores(spark, tmp_path)
    sched = mk_scheduler(spark, tmp_path, jobs, vf, max_concurrent=3)
    results = sched.run_cycle()
    done = {r["id"]: r for r in results.collect()}
    # top-3 by priority desc = jobs 5,4,3
    assert sorted(done) == [3, 4, 5]
    assert all(r["final_status"] == "Done" for r in done.values())
    # published outputs exist under the rewritten mount
    out = tmp_path / "media" / "out"
    assert sorted(p.name for p in out.iterdir()) == [
        "dest3.mp4",
        "dest4.mp4",
        "dest5.mp4",
    ]
    # jobs table terminal statuses
    m = {r["id"]: r["status"] for r in jobs.read().collect()}
    assert m[5] == "Done" and m[1] == "Not Encoding"
    # video_files upsert: enabled with real sizes
    vfm = {r["id"]: r for r in vf.read().collect()}
    assert vfm[50]["is_enabled"] is True and vfm[50]["size"] > 0
    assert vfm[10]["is_enabled"] is False


def test_second_cycle_drains_remaining(spark, tmp_path):
    jobs, vf = seed_stores(spark, tmp_path)
    sched = mk_scheduler(spark, tmp_path, jobs, vf, max_concurrent=3)
    sched.run_cycle()
    sched.run_cycle()
    statuses = [r["status"] for r in jobs.read().collect()]
    assert statuses.count("Done") == 5
    assert sched.run_cycle() is None  # queue drained


def test_two_pass_format_runs_two_passes(spark, tmp_path):
    """A mixed-priority batch (formats with ef_priority 2 and 1) runs
    in one cycle: every job ends Done, in the results and in the store,
    and every Spark job the cycle starts stays in the caller's job
    group (perfbench's per-cycle counters are read per group)."""
    jobs, vf = seed_stores(spark, tmp_path)
    sched = mk_scheduler(spark, tmp_path, jobs, vf, max_concurrent=5)
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def marker_job(group: str) -> int:
        sc.setJobGroup(group, "marker")
        spark.range(1).collect()
        return max(tracker.getJobIdsForGroup(group))

    try:
        first = marker_job("before-cycle")
        sc.setJobGroup("g", "one scheduler cycle")
        results = sched.run_cycle().collect()
        last = marker_job("after-cycle")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # job ids are sequential: the cycle started exactly the jobs
    # between the two markers, whatever group they landed in
    cycle_jobs = set(range(first + 1, last))
    assert cycle_jobs and set(tracker.getJobIdsForGroup("g")) == cycle_jobs

    by_id = {r["id"]: r["passes_run"] for r in results}
    assert by_id[2] == 2 and by_id[4] == 2  # format 2 = two-pass
    assert by_id[1] == 1 and by_id[3] == 1
    store = {r["id"]: r["status"] for r in jobs.read().collect()}
    status = {r["id"]: r["final_status"] for r in results}
    assert status == store == {i: "Done" for i in range(1, 6)}


def test_each_claimed_job_runs_in_its_own_task(spark, tmp_path):
    """ST8: a cycle runs each claimed job in its own task, so
    min(max_concurrent, defaultParallelism) encodes run at once.  Ids
    1-4 put jobs 2 and 4 in one bucket of a 4-way hash partitioning by
    id, which would run them one after another in one task."""
    from pyspark import TaskContext

    from encodesrv_spark.jobs.process import stub_encode

    tasks_dir = tmp_path / "tasks"
    tasks_dir.mkdir()
    record_to = str(tasks_dir)

    def recording_encode(argv, cwd):
        stub_encode(argv, cwd)
        src = os.path.basename(argv[argv.index("-i") + 1])
        part = TaskContext.get().partitionId()
        with open(os.path.join(record_to, src), "w") as f:
            f.write(str(part))

    jobs, vf = seed_stores(spark, tmp_path, n_jobs=4)
    sched = mk_scheduler(spark, tmp_path, jobs, vf, max_concurrent=4)
    sched.process_cfg.encode = recording_encode
    results = sched.run_cycle().collect()

    assert sorted(r["id"] for r in results) == [1, 2, 3, 4]
    assert all(r["final_status"] == "Done" for r in results)
    parts = [p.read_text() for p in tasks_dir.iterdir()]
    assert len(parts) == 4
    assert len(set(parts)) == min(4, spark.sparkContext.defaultParallelism)


def test_failed_job_lands_in_error_and_others_proceed(spark, tmp_path):
    jobs, vf = seed_stores(spark, tmp_path)
    # delete one source to force a failure
    (tmp_path / "media" / "src5.mov").unlink()
    sched = mk_scheduler(spark, tmp_path, jobs, vf, max_concurrent=5)
    sched.run_cycle()
    m = {r["id"]: r["status"] for r in jobs.read().collect()}
    assert m[5] == f"{SRV} - Error"
    assert all(m[i] == "Done" for i in (1, 2, 3, 4))
    # failed job's video row untouched
    vfm = {r["id"]: r["is_enabled"] for r in vf.read().collect()}
    assert vfm[50] is False


def test_startup_reset_then_reclaim(spark, tmp_path):
    jobs, vf = seed_stores(spark, tmp_path)
    # simulate a crash: one row stuck in-flight for us, one for another
    # server, one errored for us
    jobs.upsert(
        spark.createDataFrame(
            [
                (1, f"{SRV} - Encoding Pass 1"),
                (2, "other-server - Waiting"),
                (3, f"{SRV} - Error"),
            ],
            "id long, status string",
        ),
        ["status"],
    )
    sched = mk_scheduler(spark, tmp_path, jobs, vf)
    assert sched.startup_reset() == 1
    m = {r["id"]: r["status"] for r in jobs.read().collect()}
    assert m[1] == "Not Encoding"  # recovered
    assert m[2] == "other-server - Waiting"  # not ours
    assert m[3] == f"{SRV} - Error"  # errors stay


def test_watchdog_raises_after_stale_day(spark, tmp_path):
    jobs, vf = seed_stores(spark, tmp_path, n_jobs=1)
    sched = mk_scheduler(spark, tmp_path, jobs, vf)
    t = {"now": datetime(2026, 1, 1)}
    sched.clock = lambda: t["now"]

    def boom(*a, **k):
        t["now"] += timedelta(hours=13)
        raise RuntimeError("db down")

    sched.run_cycle = boom  # type: ignore[assignment]
    with pytest.raises(RuntimeError):
        sched.loop(max_cycles=5)


def test_streaming_poll_loop_runs_scheduler_cycles(spark, tmp_path):
    """ST1 end-to-end in streaming mode: the Structured Streaming poll
    trigger drives real claim→execute→publish cycles; after the drain
    every job reaches a terminal state and video_files is published."""
    from encodesrv_spark.streaming.events import poll_loop_stream

    jobs, vf = seed_stores(spark, tmp_path, n_jobs=4)
    sched = mk_scheduler(spark, tmp_path, jobs, vf, max_concurrent=4)

    def on_batch(_df, _epoch):
        sched.run_cycle()

    writer = poll_loop_stream(spark, on_batch=on_batch, interval=None)
    q = writer.option("checkpointLocation", str(tmp_path / "ckpt_sched")).start()
    assert q.awaitTermination(600), "stream did not finish within 600 s"

    statuses = {r["id"]: r["status"] for r in jobs.read().collect()}
    assert all(s == "Done" for s in statuses.values()), statuses
    published = {r["id"]: r["is_enabled"] for r in vf.read().collect()}
    assert all(published.values()), published


def test_terminal_upsert_retries_through_commit_conflict(spark, tmp_path):
    """A racing server's commit between our claim and our terminal
    status write must NOT drop the Done/Error statuses: the scheduler
    re-reads and retries the upsert (same protocol as claim_jobs).
    Simulated by making the store's first upsert attempt lose the CAS
    race; without the retry loop the jobs would stay
    '<server> - Waiting' and be re-encoded after the next reset."""
    from encodesrv_spark.jobs.state import CommitConflict

    jobs, vf = seed_stores(spark, tmp_path)
    sched = mk_scheduler(spark, tmp_path, jobs, vf)

    real_upsert = jobs.upsert
    fail_once = {"left": 2}

    def flaky_upsert(*args, **kwargs):
        if fail_once["left"] > 0:
            fail_once["left"] -= 1
            raise CommitConflict("simulated racing commit")
        return real_upsert(*args, **kwargs)

    results = None
    try:
        # patch AFTER claim: claim_jobs has its own retry; here we
        # target the terminal upsert specifically
        from encodesrv_spark.jobs import scheduler as sched_mod

        orig = sched_mod.state.claim_jobs

        def claim_then_patch(*a, **k):
            out = orig(*a, **k)
            jobs.upsert = flaky_upsert
            return out

        sched_mod.state.claim_jobs = claim_then_patch
        results = sched.run_cycle()
    finally:
        jobs.upsert = real_upsert
        sched_mod.state.claim_jobs = orig

    assert results is not None
    assert fail_once["left"] == 0, "flaky upsert was never exercised"
    statuses = {r["id"]: r["status"] for r in jobs.read().collect()}
    done = [s for s in statuses.values() if s in ("Done", "Encoded", "Error")]
    assert done, f"terminal statuses lost on conflict: {statuses}"
    assert not any(s == f"{SRV} - Waiting" for s in statuses.values())


def test_failed_terminal_upsert_releases_cached_frames(spark, tmp_path):
    """Neither a cycle whose terminal upsert loses every CAS race (it
    raises) nor successful cycles run by loop() may leave anything
    persisted: loop() runs cycles back to back, so anything left pinned
    would pile up."""
    from encodesrv_spark.jobs import scheduler as sched_mod
    from encodesrv_spark.jobs.state import CommitConflict

    jobs, vf = seed_stores(spark, tmp_path)
    sched = mk_scheduler(spark, tmp_path, jobs, vf)
    persistent = spark.sparkContext._jsc.getPersistentRDDs
    real_upsert = jobs.upsert

    def always_conflict(*a, **k):
        raise CommitConflict("simulated racing commit")

    orig = sched_mod.state.claim_jobs

    def claim_then_patch(*a, **k):
        out = orig(*a, **k)
        jobs.upsert = always_conflict
        return out

    before = persistent().size()
    sched_mod.state.claim_jobs = claim_then_patch
    try:
        with pytest.raises(CommitConflict):
            sched.run_cycle()
    finally:
        jobs.upsert = real_upsert
        sched_mod.state.claim_jobs = orig
    assert persistent().size() == before
    sched.loop(max_cycles=3)
    assert persistent().size() == before


def test_two_real_writers_claim_exactly_once(spark, tmp_path):
    """Two REAL threads drain one store through the optimistic-commit
    protocol (no simulated conflicts): every job is claimed by exactly
    one server, no claim is lost, and the version history is linear —
    one commit per successful claim batch, monotonically numbered.
    This is the §7.3.1 claim-exactly-once story under genuine
    interleaving: losers hit the CAS (or a GC'd snapshot, surfaced as
    CommitConflict by _read_snapshot) and retry from a fresh read."""
    import threading

    from encodesrv_spark.jobs.schema import ENCODE_JOBS_SCHEMA
    from encodesrv_spark.jobs.state import (
        NOT_ENCODING,
        CommitConflict,
        JobStore,
        claim_jobs,
    )

    n_jobs = 24
    rows = [
        (
            i,
            f"/media/src{i}.mov",
            f"/media/out/dest{i}.mp4",
            1,
            NOT_ENCODING,
            i * 10,
            None,
            None,
            float(i),
        )
        for i in range(1, n_jobs + 1)
    ]
    store = JobStore(spark, str(tmp_path / "jobs_race"))
    store.init(spark.createDataFrame(rows, ENCODE_JOBS_SCHEMA))

    claimed: dict[str, list[int]] = {"srv-A": [], "srv-B": []}
    errors: list[Exception] = []

    def worker(server: str) -> None:
        try:
            while True:
                got = claim_jobs(store, server, limit=2, max_retries=200)
                ids = [r["id"] for r in got.collect()]
                if not ids:
                    return
                claimed[server].extend(ids)
        except Exception as exc:  # noqa: BLE001 — recorded for assert
            errors.append(exc)

    threads = [
        threading.Thread(target=worker, args=(s,)) for s in ("srv-A", "srv-B")
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=600)
    assert not errors, f"writer crashed under contention: {errors!r}"

    a, b = set(claimed["srv-A"]), set(claimed["srv-B"])
    assert not (a & b), f"double-claimed jobs: {sorted(a & b)}"
    assert a | b == set(range(1, n_jobs + 1)), "claims lost"

    final = {r["id"]: r["status"] for r in store.read().collect()}
    for i in range(1, n_jobs + 1):
        owner = "srv-A" if i in a else "srv-B"
        assert final[i] == f"{owner} - Waiting"

    # linear history: every successful non-empty claim batch is one
    # commit (empty drain polls commit nothing); at most one batch in
    # the whole run is partial (free count stays even until 1 remains)
    n_batches = (len(a) + 1) // 2 + (len(b) + 1) // 2
    assert store.current_version() == n_batches
    hist = store.history()
    assert hist == sorted(hist) and len(hist) == store.retain


def test_three_real_writers_mixed_batch_claim_exactly_once(spark, tmp_path):
    """The 2-writer stress generalized: THREE real threads with
    DIFFERENT batch limits (1/2/3) drain one store — mixed batch sizes
    produce partial batches and richer interleavings than the
    symmetric case.  Exactly-once still holds: no job claimed twice,
    none lost, final ownership matches the claim record, and the
    version history is linear with one commit per successful non-empty
    batch."""
    import threading

    from encodesrv_spark.jobs.schema import ENCODE_JOBS_SCHEMA
    from encodesrv_spark.jobs.state import NOT_ENCODING, JobStore, claim_jobs

    n_jobs = 18
    rows = [
        (
            i,
            f"/media/src{i}.mov",
            f"/media/out/dest{i}.mp4",
            1,
            NOT_ENCODING,
            i * 10,
            None,
            None,
            float(i),
        )
        for i in range(1, n_jobs + 1)
    ]
    store = JobStore(spark, str(tmp_path / "jobs_race3"))
    store.init(spark.createDataFrame(rows, ENCODE_JOBS_SCHEMA))

    limits = {"srv-A": 1, "srv-B": 2, "srv-C": 3}
    claimed: dict[str, list[int]] = {s: [] for s in limits}
    batches: dict[str, int] = {s: 0 for s in limits}
    errors: list[Exception] = []

    def worker(server: str) -> None:
        try:
            while True:
                got = claim_jobs(store, server, limit=limits[server], max_retries=300)
                ids = [r["id"] for r in got.collect()]
                if not ids:
                    return
                claimed[server].extend(ids)
                batches[server] += 1
        except Exception as exc:  # noqa: BLE001 — recorded for assert
            errors.append(exc)

    threads = [threading.Thread(target=worker, args=(s,)) for s in limits]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=600)
    assert not errors, f"writer crashed under contention: {errors!r}"

    sets = {s: set(ids) for s, ids in claimed.items()}
    for s1 in sets:
        for s2 in sets:
            if s1 < s2:
                assert not (sets[s1] & sets[s2]), (
                    f"double-claimed by {s1}/{s2}: {sorted(sets[s1] & sets[s2])}"
                )
    assert set().union(*sets.values()) == set(range(1, n_jobs + 1)), "claims lost"

    final = {r["id"]: r["status"] for r in store.read().collect()}
    for s, ids in sets.items():
        for i in ids:
            assert final[i] == f"{s} - Waiting"

    assert store.current_version() == sum(batches.values())
    hist = store.history()
    assert hist == sorted(hist) and len(hist) == store.retain
