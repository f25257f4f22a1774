"""State machine + JobStore tests: claim/crash-reset/ownership
semantics (ST3-ST5, P3/P4) and the versioned-parquet upsert discipline."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from encodesrv_spark.jobs import state
from encodesrv_spark.jobs.schema import ENCODE_JOBS_SCHEMA
from encodesrv_spark.jobs.state import JobStore

SRV = "srv-a"
OTHER = "srv-b"


def jobs_df(spark):
    rows = [
        (1, "/in/a.mov", "/out/a.mp4", 1, "Not Encoding", 10, None, None, 5.0),
        (2, "/in/b.mov", "/out/b.mp4", 1, "Not Encoding", None, None, None, 9.0),
        (3, "/in/c.mov", "/out/c.mp4", 2, f"{SRV} - Encoding Pass 1", 30, None, None, 5.0),
        (4, "/in/d.mov", "/out/d.mp4", 2, f"{SRV} - Error", 40, None, None, 5.0),
        (5, "/in/e.mov", "/out/e.mp4", 1, f"{OTHER} - Waiting", 50, None, None, 5.0),
        (6, "/in/f.mov", "/out/f.mp4", 1, "Done", 60, None, None, 5.0),
        (7, "/in/g.mov", "/out/g.mp4", 1, "Not Encoding", None, None, None, 9.0),
    ]
    return spark.createDataFrame(rows, ENCODE_JOBS_SCHEMA)


def test_crash_reset_only_touches_own_nonerror(spark):
    updates = state.crash_reset_updates(jobs_df(spark), SRV)
    ids = sorted(r["id"] for r in updates.collect())
    # row 3 (mine, in-flight) resets; row 4 (mine, Error) and row 5
    # (other server) stay — reference __init__.py:78 semantics
    assert ids == [3]


def test_poll_candidates_topk_priority_then_id(spark):
    got = [r["id"] for r in state.poll_candidates(jobs_df(spark), 2).collect()]
    assert got == [2, 7]  # both priority 9.0, id tiebreak


def test_poll_candidates_zero_limit_is_empty(spark):
    # the reference's LIMIT 1-qsize admission gate: qsize>=1 → no claims
    assert state.poll_candidates(jobs_df(spark), 0).count() == 0
    assert state.poll_candidates(jobs_df(spark), -3).count() == 0


def test_claim_updates_status_string(spark):
    cands = state.poll_candidates(jobs_df(spark), 1)
    upd = state.claim_updates(cands, SRV).collect()
    assert upd[0]["status"] == f"{SRV} - Waiting"


def test_mount_rewrite(spark):
    out = state.rewrite_mounts(jobs_df(spark), "/mnt/nfs/").collect()[0]
    assert out["source_file"].startswith("/mnt/nfs/in/")
    assert "//" not in out["source_file"].replace("://", "")


def test_jobstore_upsert_roundtrip(spark, tmp_path):
    store = JobStore(spark, str(tmp_path / "jobs"))
    store.init(jobs_df(spark))
    assert store.current_version() == 0

    updates = spark.createDataFrame(
        [(1, "Done"), (2, f"{SRV} - Waiting")], "id long, status string"
    )
    store.upsert(updates, ["status"])
    assert store.current_version() == 1

    m = {r["id"]: r["status"] for r in store.read().collect()}
    assert m[1] == "Done"
    assert m[2] == f"{SRV} - Waiting"
    assert m[3] == f"{SRV} - Encoding Pass 1"  # untouched
    assert store.read().count() == 7  # no row loss


def test_jobstore_gc_keeps_previous_version(spark, tmp_path):
    store = JobStore(spark, str(tmp_path / "jobs"))
    store.init(jobs_df(spark))
    for i in range(3):
        store.upsert(
            spark.createDataFrame([(1, f"s{i}")], "id long, status string"),
            ["status"],
        )
    import os

    versions = sorted(d for d in os.listdir(store.path) if d.startswith("v_"))
    assert len(versions) == 2  # current + one for in-flight readers


def test_bot_status_message(spark):
    st = state.bot_status(jobs_df(spark), SRV)
    assert st.currently_encoding == "c.mov"
    assert st.waiting_count == 3
    assert st.message == "Currently encoding c.mov, with 3 items waiting."


def test_bot_status_singular(spark):
    df = jobs_df(spark).filter(F.col("id").isin(1, 3))
    st = state.bot_status(df, SRV)
    assert st.message.endswith("with 1 item waiting.")


def test_bot_status_idle_says_no_jobs(spark):
    # reference common.py:61-62: the idle fallback is 'no jobs'
    df = jobs_df(spark).filter(F.col("id") < 0)
    st = state.bot_status(df, SRV)
    assert st.currently_encoding == "no jobs"
    assert st.message == "Currently encoding no jobs, with 0 items waiting."


def test_optimistic_claim_conflict_and_retry(spark, tmp_path):
    """Multi-writer exactly-once claim (SURVEY §7.3.1): a writer
    committing from a stale snapshot gets CommitConflict; the retry
    path claims only still-free jobs — no job is ever double-owned."""
    store = JobStore(spark, str(tmp_path / "jobs"))
    store.init(jobs_df(spark))

    # writer A takes its snapshot FIRST (top-2 free jobs: ids 2, 7)
    v0 = store.current_version()
    a_snapshot = spark.read.parquet(store._version_dir(v0))
    a_candidates = state.poll_candidates(a_snapshot, 2)

    # writer B claims the same two jobs and commits first
    b_claimed = state.claim_jobs(store, OTHER, 2)
    assert sorted(r["id"] for r in b_claimed.collect()) == [2, 7]

    # A's stale commit must be rejected, not clobber B's claim
    with pytest.raises(state.CommitConflict):
        store.upsert(
            state.claim_updates(a_candidates, SRV),
            ["status"],
            only_if="status = 'Not Encoding'",
            expected_version=v0,
        )

    # A retries from a fresh snapshot: only job 1 is still free
    a_claimed = state.claim_jobs(store, SRV, 2)
    assert sorted(r["id"] for r in a_claimed.collect()) == [1]

    final = {r["id"]: r["status"] for r in store.read().collect()}
    assert final[2] == f"{OTHER} - Waiting" and final[7] == f"{OTHER} - Waiting"
    assert final[1] == f"{SRV} - Waiting"


def test_claimed_rows_survive_gc_of_their_snapshot(spark, tmp_path):
    """A's claim polls snapshot v0 and commits v1; B's claim commits v2,
    whose GC (retain=2) deletes v0.  A's claimed rows must still be
    readable: if they re-read v0 the cycle dies and A's jobs sit in
    '<server> - Waiting' until the next startup_reset."""
    store = JobStore(spark, str(tmp_path / "jobs"))
    store.init(jobs_df(spark))
    a_claimed = state.claim_jobs(store, SRV, 1)
    b_claimed = state.claim_jobs(store, OTHER, 1)
    assert store.history() == [1, 2]
    assert [r["id"] for r in a_claimed.collect()] == [2]
    assert [r["id"] for r in b_claimed.collect()] == [7]


def test_conditional_upsert_skips_nonmatching_rows(spark, tmp_path):
    """`only_if` gates the MERGE: an update targeting a row whose
    current status no longer matches leaves the row untouched."""
    store = JobStore(spark, str(tmp_path / "jobs2"))
    store.init(jobs_df(spark))
    updates = spark.createDataFrame(
        [(1, "x - Waiting"), (6, "x - Waiting")], "id long, status string"
    )
    store.upsert(updates, ["status"], only_if="status = 'Not Encoding'")
    final = {r["id"]: r["status"] for r in store.read().collect()}
    assert final[1] == "x - Waiting"   # was free -> claimed
    assert final[6] == "Done"          # was Done -> guard held


# ---------------------------------------------------------------------------
# SCD2 dimension history (operators/scd.py)
# ---------------------------------------------------------------------------

def test_scd2_versions_formats_dimension(spark):
    """Two change batches over a 3-row dimension: changed rows close and
    re-version, no-op updates leave history untouched, new keys appear,
    and as-of queries return the version current at that instant."""
    from encodesrv_spark.operators.scd import scd2_apply, scd2_asof, scd2_init

    dim = spark.createDataFrame(
        [(1, "mp4", 2000), (2, "webm", 1000), (3, "thumb", 0)],
        "id int, format_name string, video_bitrate int",
    )
    hist = scd2_init(dim, "2026-01-01 00:00:00")

    # batch 1: real change to id=1, no-op update to id=2, new id=4
    b1 = spark.createDataFrame(
        [(1, "mp4", 4000), (2, "webm", 1000), (4, "av1", 3000)],
        "id int, format_name string, video_bitrate int",
    )
    hist = scd2_apply(hist, b1, "id", ["format_name", "video_bitrate"],
                      "2026-02-01 00:00:00")

    rows = {(r["id"], r["is_current"]): r for r in hist.collect()}
    assert rows[(1, False)]["video_bitrate"] == 2000  # closed old version
    assert rows[(1, True)]["video_bitrate"] == 4000
    assert rows[(1, False)]["valid_to"] is not None
    assert (2, False) not in rows  # no-op update did not churn history
    assert rows[(4, True)]["format_name"] == "av1"
    assert hist.count() == 5  # 3 original + 1 closed-replacement + 1 new

    # batch 2: change id=1 again -> three versions total for that key
    b2 = spark.createDataFrame(
        [(1, "mp4", 8000)], "id int, format_name string, video_bitrate int"
    )
    hist = scd2_apply(hist, b2, "id", ["format_name", "video_bitrate"],
                      "2026-03-01 00:00:00")
    v1 = hist.filter("id = 1").orderBy("valid_from").collect()
    assert [r["video_bitrate"] for r in v1] == [2000, 4000, 8000]
    assert [r["is_current"] for r in v1] == [False, False, True]

    # as-of: mid-February sees the 4000 version; today sees 8000
    feb = {r["id"]: r["video_bitrate"]
           for r in scd2_asof(hist, "2026-02-15 00:00:00").collect()}
    assert feb[1] == 4000 and feb[2] == 1000 and feb[4] == 3000
    now = {r["id"]: r["video_bitrate"]
           for r in scd2_asof(hist, "2026-03-02 00:00:00").collect()}
    assert now[1] == 8000


def test_scd2_resend_idempotent_and_null_tracked(spark):
    """The 100 TB property that matters: an upstream re-sending the FULL
    dimension unchanged must not churn history — re-applying the same
    batch is a byte-identical no-op.  Also pins the null-safe compare:
    NULL -> value and value -> NULL in a tracked column are both real
    changes (a plain `=` would silently drop them)."""
    from encodesrv_spark.operators.scd import scd2_apply, scd2_init

    dim = spark.createDataFrame(
        [(1, "mp4", 2000), (2, None, 1000)],
        "id int, format_name string, video_bitrate int",
    )
    hist = scd2_init(dim, "2026-01-01 00:00:00")
    full_resend = dim  # every row again, values unchanged (incl. the NULL)
    h1 = scd2_apply(hist, full_resend, "id",
                    ["format_name", "video_bitrate"], "2026-02-01 00:00:00")
    before = sorted(map(tuple, hist.collect()))
    after = sorted(map(tuple, h1.collect()))
    assert before == after  # zero churn, including the NULL-valued row

    # NULL -> value and value -> NULL are both detected as changes
    b = spark.createDataFrame(
        [(1, None, 2000), (2, "webm", 1000)],
        "id int, format_name string, video_bitrate int",
    )
    h2 = scd2_apply(h1, b, "id", ["format_name", "video_bitrate"],
                    "2026-03-01 00:00:00")
    rows = {(r["id"], r["is_current"]): r for r in h2.collect()}
    assert rows[(1, True)]["format_name"] is None
    assert rows[(1, False)]["format_name"] == "mp4"
    assert rows[(2, True)]["format_name"] == "webm"
    assert rows[(2, False)]["format_name"] is None
    assert h2.count() == 4  # both originals closed + both new versions


def test_scd2_fold_last_write_wins(spark):
    """A CDC batch with several edits to one key folds to the latest
    edit per key (the documented pre-step for scd2_apply's
    one-row-per-key precondition), and the folded batch then applies
    cleanly — exactly one closed + one new version per changed key."""
    from encodesrv_spark.operators.scd import (
        fold_last_write_wins,
        scd2_apply,
        scd2_init,
    )

    dim = spark.createDataFrame(
        [(1, "mp4", 2000)], "id int, format_name string, video_bitrate int"
    )
    cdc = spark.createDataFrame(
        [(1, "mp4", 3000, 10), (1, "mp4", 4000, 30), (1, "mp4", 3500, 20),
         (2, "av1", 9000, 5)],
        "id int, format_name string, video_bitrate int, seq int",
    )
    folded = fold_last_write_wins(cdc, "id", "seq")
    got = {r["id"]: r["video_bitrate"] for r in folded.collect()}
    assert got == {1: 4000, 2: 9000}

    hist = scd2_apply(
        scd2_init(dim, "2026-01-01 00:00:00"),
        folded.drop("seq"), "id", ["format_name", "video_bitrate"],
        "2026-02-01 00:00:00",
    )
    rows = {(r["id"], r["is_current"]): r for r in hist.collect()}
    assert hist.count() == 3  # closed v1 + current v2 for id=1, new id=2
    assert rows[(1, True)]["video_bitrate"] == 4000
    assert rows[(2, True)]["video_bitrate"] == 9000


def test_scd2_null_change_key_fails_loudly(spark):
    """ADVICE r07: a NULL change key can never match the full-outer key
    join, so unguarded it would silently append a second 'current'
    version — the guard must fail the apply job instead, and cost
    nothing on valid batches (covered by every other SCD2 test)."""
    import pytest

    from encodesrv_spark.operators.scd import scd2_apply, scd2_init

    dim = spark.createDataFrame(
        [(1, "mp4", 2000)], "id int, format_name string, video_bitrate int"
    )
    hist = scd2_init(dim, "2026-01-01 00:00:00")
    bad = spark.createDataFrame(
        [(None, "webm", 1000)], "id int, format_name string, video_bitrate int"
    )
    out = scd2_apply(hist, bad, "id", ["format_name", "video_bitrate"],
                     "2026-02-01 00:00:00")
    with pytest.raises(Exception, match="NULL 'id' in change batch"):
        out.collect()


def test_scd2_noop_only_apply_guards_late_changes(spark):
    """The at-least-once CDC guard (r09): `on_real_change="error"` must
    let a whole-commit redelivery (values already current) pass with
    byte-identical history, and fail loudly on a late REAL change or a
    late brand-new key — either would silently write a version into
    the past of current history."""
    import pytest

    from encodesrv_spark.operators.scd import scd2_apply, scd2_init

    dim = spark.createDataFrame(
        [(1, "mp4", 2000), (2, "webm", 900)],
        "id int, format_name string, video_bitrate int",
    )
    chg = spark.createDataFrame(
        [(1, "mp4", 2500)], "id int, format_name string, video_bitrate int"
    )
    hist = scd2_apply(
        scd2_init(dim, "2026-01-01 00:00:00"), chg, "id",
        ["format_name", "video_bitrate"], "2026-02-01 00:00:00",
    )
    want = {tuple(r) for r in hist.collect()}

    # whole-commit redelivery: same values, no-op-only mode -> identical
    redelivered = scd2_apply(
        hist, chg, "id", ["format_name", "video_bitrate"],
        "2026-02-01 00:00:00", on_real_change="error",
    )
    assert {tuple(r) for r in redelivered.collect()} == want

    # late REAL change -> per-row loud failure
    late = spark.createDataFrame(
        [(1, "mp4", 3000)], "id int, format_name string, video_bitrate int"
    )
    out = scd2_apply(hist, late, "id", ["format_name", "video_bitrate"],
                     "2026-01-15 00:00:00", on_real_change="error")
    with pytest.raises(Exception, match="no-op-only"):
        out.collect()

    # late brand-new key -> same failure (an anachronistic insert)
    new_key = spark.createDataFrame(
        [(9, "avi", 500)], "id int, format_name string, video_bitrate int"
    )
    out2 = scd2_apply(hist, new_key, "id", ["format_name", "video_bitrate"],
                      "2026-01-15 00:00:00", on_real_change="error")
    with pytest.raises(Exception, match="no-op-only"):
        out2.collect()

    with pytest.raises(ValueError, match="on_real_change"):
        scd2_apply(hist, late, "id", ["format_name"], "2026-01-15 00:00:00",
                   on_real_change="maybe")


def test_scd2_apply_cdc_late_guard_and_high_water_mark(spark):
    """streaming/scd.py::scd2_apply_cdc arms the guard from the
    caller's high-water mark: groups above it apply normally and raise
    the mark; a group at/below it with real changes fails on action."""
    import datetime

    import pytest

    from encodesrv_spark.operators.scd import scd2_init
    from encodesrv_spark.streaming.scd import scd2_apply_cdc

    dim = spark.createDataFrame(
        [(1, "mp4", 2000)], "id int, format_name string, video_bitrate int"
    )
    hist = scd2_init(dim, "2026-01-01 00:00:00")
    t2 = datetime.datetime(2026, 2, 1)
    cdc = spark.createDataFrame(
        [(1, "mp4", 2500, 1, t2)],
        "id int, format_name string, video_bitrate int, seq int, "
        "change_ts timestamp",
    )
    hist, mark = scd2_apply_cdc(
        hist, cdc, "id", ["format_name", "video_bitrate"],
        "change_ts", "seq",
    )
    assert mark == t2
    assert hist.filter("is_current AND video_bitrate = 2500").count() == 1

    # a LATE slice (ts before the mark) with a real change fails loudly
    late = spark.createDataFrame(
        [(1, "mp4", 2100, 1, datetime.datetime(2026, 1, 15))],
        "id int, format_name string, video_bitrate int, seq int, "
        "change_ts timestamp",
    )
    out, mark2 = scd2_apply_cdc(
        hist, late, "id", ["format_name", "video_bitrate"],
        "change_ts", "seq", max_applied_ts=mark,
    )
    assert mark2 == mark  # the mark never goes backwards
    with pytest.raises(Exception, match="no-op-only"):
        out.collect()


def test_scd2_apply_cdc_rejects_null_ts(spark):
    """ADVICE r09: a NULL commit timestamp names no commit — it cannot
    be ordered (sorted() would raise an opaque None-vs-datetime
    TypeError) and would otherwise be mis-routed.  The contract error
    must be explicit and name the column."""
    import datetime

    import pytest

    from encodesrv_spark.operators.scd import scd2_init
    from encodesrv_spark.streaming.scd import scd2_apply_cdc

    dim = spark.createDataFrame(
        [(1, "mp4", 2000)], "id int, format_name string, video_bitrate int"
    )
    cdc = spark.createDataFrame(
        [(1, "mp4", 2500, 1, datetime.datetime(2026, 2, 1)),
         (1, "mp4", 2600, 1, None)],
        "id int, format_name string, video_bitrate int, seq int, "
        "change_ts timestamp",
    )
    with pytest.raises(ValueError, match="NULL 'change_ts'"):
        scd2_apply_cdc(
            scd2_init(dim, "2026-01-01 00:00:00"), cdc, "id",
            ["format_name", "video_bitrate"], "change_ts", "seq",
        )


def test_scd2_stream_fresh_sink_rejects_reused_checkpoint(spark):
    """ADVICE r09: Spark silently skips committed micro-batches when a
    stream resumes from an existing checkpoint, so a FRESH Scd2Stream
    paired with an old checkpoint would produce history missing every
    one of them with no guard firing — the first batch a fresh sink
    observes must therefore be batch 0.  A sink that has seen batches
    (same object across a restart, state intact) accepts any id."""
    import datetime

    import pytest

    from encodesrv_spark.operators.scd import scd2_init
    from encodesrv_spark.streaming.scd import Scd2Stream

    dim = spark.createDataFrame(
        [(1, "mp4", 2000)], "id int, format_name string, video_bitrate int"
    )
    batch = spark.createDataFrame(
        [(1, "mp4", 2500, 1, datetime.datetime(2026, 2, 1))],
        "id int, format_name string, video_bitrate int, seq int, "
        "change_ts timestamp",
    )

    fresh = Scd2Stream(
        scd2_init(dim, "2026-01-01 00:00:00"), "id",
        ["format_name", "video_bitrate"], ts_col="change_ts", order_col="seq",
    )
    with pytest.raises(RuntimeError, match="existing checkpoint"):
        fresh(batch, 3)
    assert fresh.batches_applied == 0  # nothing was applied

    sink = Scd2Stream(
        scd2_init(dim, "2026-01-01 00:00:00"), "id",
        ["format_name", "video_bitrate"], ts_col="change_ts", order_col="seq",
    )
    sink(batch.limit(0), 0)  # an empty batch 0 still bootstraps the sink
    sink(batch, 7)  # post-restart ids may jump; state is the committed prefix
    assert sink.batches_applied == 1
    assert sink.hist.filter("is_current AND video_bitrate = 2500").count() == 1


def test_jobstore_time_travel(spark, tmp_path):
    """read_version reconstructs each retained snapshot exactly;
    history lists the retention window; GC'd versions raise."""
    from encodesrv_spark.jobs.state import JobStore

    store = JobStore(spark, str(tmp_path / "tt"), retain=3)
    store.init(
        spark.createDataFrame(
            [(1, "Not Encoding"), (2, "Not Encoding")], "id int, status string"
        )
    )
    for n, st in enumerate(["srv - Waiting", "srv - Encoding Pass 1", "Done"]):
        store.upsert(
            spark.createDataFrame([(1, st)], "id int, status string"), ["status"]
        )
    assert store.current_version() == 3
    assert store.history() == [1, 2, 3]

    def status_at(v):
        return {r["id"]: r["status"] for r in store.read_version(v).collect()}

    assert status_at(1)[1] == "srv - Waiting"
    assert status_at(2)[1] == "srv - Encoding Pass 1"
    assert status_at(3)[1] == "Done"
    assert status_at(3) == {r["id"]: r["status"] for r in store.read().collect()}
    import pytest as _pytest

    with _pytest.raises(FileNotFoundError):
        store.read_version(0)  # GC'd: outside retain=3


def test_jobstore_change_data_feed(spark, tmp_path):
    """changes(v1, v2) yields the Delta-CDF-style typed diff: inserts,
    deletes, and update pre/post images, computed from retained
    snapshots."""
    from encodesrv_spark.jobs.state import JobStore

    store = JobStore(spark, str(tmp_path / "cdf"), retain=10)
    store.init(
        spark.createDataFrame(
            [(1, "Not Encoding"), (2, "Not Encoding")], "id int, status string"
        )
    )
    store.upsert(
        spark.createDataFrame([(1, "srv - Waiting")], "id int, status string"),
        ["status"],
    )
    store.append(spark.createDataFrame([(3, "Not Encoding")], "id int, status string"))
    store.delete_where("id = 2")
    assert store.current_version() == 3

    feed = {
        (r["id"], r["_change_type"]): r["status"]
        for r in store.changes(0, 3).collect()
    }
    assert feed == {
        (1, "update_preimage"): "Not Encoding",
        (1, "update_postimage"): "srv - Waiting",
        (2, "delete"): "Not Encoding",
        (3, "insert"): "Not Encoding",
    }
    # single-step feed: only the append shows between v1 and v2
    step = {(r["id"], r["_change_type"]) for r in store.changes(1, 2).collect()}
    assert step == {(3, "insert")}
    # reverse direction inverts inserts and deletes
    rev = {(r["id"], r["_change_type"]) for r in store.changes(2, 1).collect()}
    assert rev == {(3, "delete")}
