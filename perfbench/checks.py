"""Output checks.  Each returns the number of failed operations, so a
corrupted result counts toward the benchmark's ``failed`` total instead
of stopping the run.  The functions take plain Python data (collected
rows, file bytes), which keeps them testable without Spark."""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from gen import FORMATS, JobQueue

PASSES = {fid: passes for fid, _, passes in FORMATS}


@dataclass
class DrainModel:
    """What the store should look like as cycles drain the queue: each
    cycle claims the next `max_concurrent` ids of the claim order."""

    queue: JobQueue
    server: str
    media_root: str  # the directory '/media/...' paths are mounted under
    pos: int = 0
    final_status: dict[int, str] = field(default_factory=dict)
    published: dict[int, int] = field(default_factory=dict)  # video_id -> size

    def expected_status(self, jid: int) -> str:
        return f"{self.server} - Error" if jid in self.queue.missing else "Done"

    def waiting(self) -> int:
        return len(self.queue.claim_order) - self.pos


def check_cycle(model: DrainModel, rows: list[dict], limit: int) -> int:
    """Check one cycle's result rows (``run_cycle``'s frame, collected)
    and advance the model.  A job fails when it was not among the next
    `limit` ids in (priority desc, id asc) order, was claimed before,
    is missing from the results, ended in the wrong status, ran the
    wrong number of passes, or published the wrong bytes."""
    expected = model.queue.claim_order[model.pos : model.pos + limit]
    model.pos += len(expected)
    by_id: dict[int, list[dict]] = {}
    for r in rows:
        by_id.setdefault(int(r["id"]), []).append(r)
    failed = sum(1 for jid in by_id if jid not in expected)
    for jid in expected:
        got = by_id.get(jid, [])
        want = model.expected_status(jid)
        ok = len(got) == 1 and jid not in model.final_status
        if ok:
            r = got[0]
            ok = r["final_status"] == want
            if ok and want == "Done":
                fmt = int(model.queue.jobs["format_id"][jid - 1].as_py())
                body = model.queue.media[jid] + b"|encoded"
                ok = (
                    r["passes_run"] == PASSES[fmt]
                    and r["size"] == len(body)
                    and _read(os.path.join(model.media_root, "out", f"{jid}.mp4")) == body
                )
        failed += not ok
        model.final_status[jid] = want
        if want == "Done" and jid in model.queue.video_of:
            model.published[model.queue.video_of[jid]] = len(
                model.queue.media[jid] + b"|encoded"
            )
    return failed


def check_status(model: DrainModel, status) -> int:
    """``bot_status`` after a cycle: nothing of ours is in flight, and
    the waiting count is the queue length the model predicts."""
    ok = (
        status.currently_encoding == "no jobs"
        and status.waiting_count == model.waiting()
        and str(model.waiting()) in status.message
    )
    return 0 if ok else 1


def expected_job_changes(model: DrainModel) -> list[tuple[int, str]]:
    """(id, status) of every row whose status must differ from the
    generated store: the stale claims startup_reset requeued, and every
    claimed job's terminal status.  All other rows must be untouched."""
    out = {jid: "Not Encoding" for jid in model.queue.stale}
    out.update(model.final_status)
    return sorted(out.items())


def query_matches(scols, srows, ocols, orows) -> bool:
    """Row count, column names and the order-insensitive value hash of
    the oracle gate (``tools/check_oracle.py``)."""
    from tools.check_oracle import _hash_rows

    return (
        len(srows) == len(orows)
        and sorted(scols) == sorted(ocols)
        and _hash_rows(list(scols), srows) == _hash_rows(list(ocols), orows)
    )


def _read(path: str) -> bytes | None:
    try:
        with open(path, "rb") as f:
            return f.read()
    except FileNotFoundError:
        return None
