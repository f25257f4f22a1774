"""Spans and Spark counters for the traced run.

The benchmark measures each layer from outside: it wraps the layer's
public functions and records a span (name, start, end, parent) around
every call.  Driver spans live in memory in a :class:`Tracer`; spans
from Spark's Python workers are appended, one JSON line per call, to a
per-process file under a spool directory and merged when the run ends.

Nothing here runs on import.  Wrappers are installed only by
:meth:`Tracer.patch`, and removed again by :meth:`Tracer.unpatch`.
"""

from __future__ import annotations

import functools
import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None  # index into Tracer.spans
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder for the driver process.  Times are
    ``time.time()`` so they line up with worker spans."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []
        self.enabled = False

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        s = Span(name, time.time(), 0.0, parent, attrs)
        self.spans.append(s)
        self._stack.append(idx)
        try:
            yield s
        finally:
            self._stack.pop()
            s.end = time.time()

    def patch(self, owner: object, attr: str, name) -> None:
        """Replace ``owner.attr`` with a wrapper that records a span per
        call.  `name` is a string, or a function of the call's arguments
        returning one."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            label = name(*args, **kwargs) if callable(name) else name
            with tracer.span(label) as s:
                try:
                    return orig(*args, **kwargs)
                except Exception as exc:
                    s.attrs["error"] = type(exc).__name__
                    raise

        self._patched.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def unpatch(self) -> None:
        while self._patched:
            owner, attr, orig = self._patched.pop()
            setattr(owner, attr, orig)

    def children(self, idx: int) -> list[Span]:
        return [s for s in self.spans if s.parent == idx]

    def self_time(self, idx: int) -> float:
        """Span duration minus the part of it its direct children cover
        (children run sequentially in this single-threaded driver)."""
        return self.spans[idx].dur - sum(c.dur for c in self.children(idx))


# --- worker spans ---------------------------------------------------------------


class WorkerSpan:
    """Picklable wrapper for a ``ProcessConfig`` stage callable: runs the
    stage inside a Spark Python worker and appends one span record to
    ``<spool>/<pid>.jsonl``.  `classify` maps the call's arguments to
    the span name."""

    def __init__(self, fn, spool: str, classify) -> None:
        self.fn = fn
        self.spool = spool
        self.classify = classify

    def __call__(self, *args):
        t0 = time.time()
        try:
            return self.fn(*args)
        finally:
            rec = {"name": self.classify(*args), "start": t0, "end": time.time()}
            with open(os.path.join(self.spool, f"{os.getpid()}.jsonl"), "a") as f:
                f.write(json.dumps(rec) + "\n")


class CopyKind:
    """``ProcessConfig.copy`` serves two stages: the source copy into the
    job's scratch dir and the publish to the destination.  The
    destination path tells them apart."""

    def __init__(self, scratch_root: str) -> None:
        self.scratch_root = scratch_root.rstrip("/") + "/"

    def __call__(self, src: str, dst: str) -> str:
        return "copy" if dst.startswith(self.scratch_root) else "publish"


def encode_kind(argv, cwd) -> str:
    return "encode"


def read_worker_spans(spool: str) -> list[dict]:
    out: list[dict] = []
    if not os.path.isdir(spool):
        return out
    for fname in sorted(os.listdir(spool)):
        with open(os.path.join(spool, fname)) as f:
            out.extend(json.loads(line) for line in f if line.strip())
    return out


# --- Spark counters -------------------------------------------------------------


def group_counters(sc, group: str) -> dict[str, float]:
    """Jobs, stages, task time, shuffle-write and spill bytes of every
    Spark job run under job group `group`, from the status tracker and
    the status store (both populated with the UI disabled)."""
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    job_ids = list(tracker.getJobIdsForGroup(group))
    stage_ids: set[int] = set()
    for jid in job_ids:
        info = tracker.getJobInfo(jid)
        if info is not None:
            stage_ids.update(info.stageIds)
    task_ms = shuffle = spill = 0
    ran = 0
    for sid in stage_ids:
        try:
            st = store.lastStageAttempt(sid)
        except Exception:  # py4j error: stage skipped (shuffle reuse), no attempt
            continue
        ran += 1
        task_ms += st.executorRunTime()
        shuffle += st.shuffleWriteBytes()
        spill += st.memoryBytesSpilled() + st.diskBytesSpilled()
    return {
        "jobs": len(job_ids),
        "stages": ran,
        "task_s": task_ms / 1000.0,
        "shuffle_write_bytes": shuffle,
        "spill_bytes": spill,
    }
