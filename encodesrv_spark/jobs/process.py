"""The external-process operator (U1-U5): the reference's per-job
pipeline — copy → loudness analysis → encode pass(es) → MP4Box →
publish — as a mapInPandas stage over claimed-job rows.

Design (SURVEY.md §3.2 "Spark shape", §7.3.4):

* One Arrow batch of job rows in; per row the stage pipeline runs via
  subprocess against executor-local scratch; one result row out with
  terminal status + published size + a stage log.
* Binaries are injectable (`ProcessConfig`) so tests stub ffmpeg with
  deterministic file ops — the reference has no tests precisely
  because its pipeline is welded to real binaries.
* Idempotent publish: output staged under a job-keyed scratch dir,
  moved to destination last, so Spark task retries cannot leave
  partial destinations (reference stages via _TempDest the same way,
  job.py:179,282-309).
* Progress (ST7): per-stage markers appended to the `log` column;
  side-channel status rows are the scheduler's job (tasks must not
  mutate driver state mid-flight).

Long encodes vs task retries: run this stage with speculation disabled
and a generous task timeout; publishes are idempotent per job id.
"""

from __future__ import annotations

import os
import re
import shutil
import subprocess
import tempfile
from collections.abc import Callable, Iterator
from dataclasses import dataclass

import pandas as pd

from pyspark.sql import DataFrame

from encodesrv_spark.functions.argv import assemble_argv, synthesize_params

RESULT_SCHEMA = (
    "id long, video_id long, final_status string, size long, passes_run int, log string"
)

LOUDNESS_RE = re.compile(r"I:\s*(-?\d+\.?\d*) LUFS")


def default_copy(src: str, dst: str) -> None:
    """Stand-in for the reference's `pv` monitored copy (job.py:68-78)."""
    shutil.copyfile(src, dst)


def stub_encode(argv: list[str], cwd: str) -> None:
    """Test stub: 'encode' = copy input to output with a marker suffix.

    Understands the -i/-y argv contract produced by assemble_argv.
    Production config points `encode` at a real subprocess runner.
    """
    src = argv[argv.index("-i") + 1]
    dst = argv[argv.index("-y") + 1]
    with open(src, "rb") as f:
        data = f.read()
    with open(dst, "wb") as f:
        f.write(data + b"|encoded")


def subprocess_encode(argv: list[str], cwd: str) -> None:
    """Production runner (reference job.py:246-257): non-zero exit
    raises → the row lands in '<server> - Error'."""
    subprocess.run(argv, cwd=cwd, check=True, capture_output=True)


@dataclass
class ProcessConfig:
    """Injectable toolchain + policy for the process operator."""

    server: str = "Encode Server"
    encode: Callable[[list[str], str], None] = stub_encode
    copy: Callable[[str, str], None] = default_copy
    analyze_loudness: Callable[[str], str] | None = None  # path -> ffmpeg stderr text
    apply_mp4box: Callable[[str], None] | None = None
    scratch_root: str | None = None
    progress_dir: str | None = None  # ST7 side-channel (see emit_progress)
    # per-stage wall-clock bound for the external stages (copy/encode/
    # mp4box).  Hours-long encodes fight Spark's task-retry assumptions
    # (SURVEY §7.3.4): without a bound, one wedged ffmpeg holds its task
    # slot forever and the job never reaches Error.  None = unbounded.
    stage_timeout_s: float | None = None


class StageTimeout(Exception):
    """An external stage exceeded ProcessConfig.stage_timeout_s."""


def _bounded(cfg: ProcessConfig, stage: str, fn: Callable, *args) -> object:
    """Run an external-stage callable under the per-stage wall-clock
    bound.  The guard thread is daemonized — a wedged subprocess-based
    stage should ALSO pass its own kill-timeout (subprocess.run
    timeout=) so the child dies; this bound guarantees the TASK makes
    progress (job → Error) regardless."""
    if cfg.stage_timeout_s is None:
        return fn(*args)
    from concurrent.futures import ThreadPoolExecutor
    from concurrent.futures import TimeoutError as FutTimeout

    # no context manager: its shutdown(wait=True) would block on the
    # very stage the timeout is protecting against
    pool = ThreadPoolExecutor(max_workers=1)
    fut = pool.submit(fn, *args)
    try:
        return fut.result(timeout=cfg.stage_timeout_s)
    except FutTimeout:
        raise StageTimeout(
            f"stage {stage!r} exceeded {cfg.stage_timeout_s}s"
        ) from None
    finally:
        pool.shutdown(wait=False, cancel_futures=True)


PROGRESS_SCHEMA = "id long, seq int, stage string, status string"


def emit_progress(cfg: ProcessConfig, job_id: int, seq: int, stage: str, status: str) -> None:
    """ST7 — progress from INSIDE a task.  Spark tasks cannot mutate
    driver state mid-flight (SURVEY §7.3.5), so the side channel is an
    append-only event directory: one tiny JSON file per transition,
    written atomically (tmp + rename), readable as a DataFrame at any
    time via `progress_df`.  This is the distributed analog of the
    reference's `pv` percent→status rewrites every 5 s (job.py:68-78):
    same information, but append-only events instead of destructive
    UPDATEs, so history survives.  On a cluster, point progress_dir at
    shared storage (the same prefix the jobs table lives on)."""
    if cfg.progress_dir is None:
        return
    os.makedirs(cfg.progress_dir, exist_ok=True)
    import json

    rec = {"id": job_id, "seq": seq, "stage": stage, "status": status}
    final = os.path.join(cfg.progress_dir, f"{job_id:012d}_{seq:04d}.json")
    tmp = final + ".tmp"
    with open(tmp, "w") as f:
        f.write(json.dumps(rec))
    os.replace(tmp, final)


def progress_df(spark, progress_dir: str) -> "DataFrame":
    """The progress event stream as a DataFrame (explicit schema — the
    bot/status surface joins or windows over it; also usable as a
    streaming file source for live dashboards)."""
    return spark.read.schema(PROGRESS_SCHEMA).json(progress_dir)


def _loudness_gain(stderr_text: str, target: float) -> float | None:
    """F8+F9: extract integrated LUFS, return linear gain
    (reference job.py:201-208)."""
    m = LOUDNESS_RE.search(stderr_text)
    if not m:
        return None
    measured = float(m.group(1))
    return 10.0 ** ((target - measured) / 20.0)


def run_job_row(row: dict, cfg: ProcessConfig) -> dict:
    """Execute one claimed job end-to-end (reference job.py:117-338)."""
    log: list[str] = []
    _seq = [0]

    def mark(stage: str, status: str) -> None:
        _seq[0] += 1
        emit_progress(cfg, int(row["id"]), _seq[0], stage, status)

    scratch = tempfile.mkdtemp(
        prefix=f"encode--{row['id']}--", dir=cfg.scratch_root
    )
    passes_run = 0
    size = None
    try:
        src = row["source_file"]
        if not os.path.exists(src):
            # reference job.py:132-137: missing source → Error
            raise FileNotFoundError(src)

        args = synthesize_params(row, row, scratch, pass_no=1)
        # 1. monitored copy source → scratch (S7/U4)
        mark("copy", f"{cfg.server} - Copying Source")
        _bounded(cfg, "copy", cfg.copy, src, args["_SourceFile"])
        log.append("copied")

        # 2. optional loudness analysis (U2; gated on normalise_level,
        #    reference job.py:196-215 — note the reference's
        #    `is not ''` identity-check bug is fixed here: empty/NULL
        #    really does skip the stage)
        norm = row.get("normalise_level")
        if norm not in (None, ""):
            if cfg.analyze_loudness is not None:
                stderr_text = cfg.analyze_loudness(args["_SourceFile"])
                gain = _loudness_gain(stderr_text, float(norm))
                if gain is not None:
                    extra = f"-af volume={gain}"
                    row = {**row, "args_audio": f"{row.get('args_audio') or ''} {extra}".strip()}
                    log.append(f"loudness gain={gain:.6f}")
                    mark("loudness", f"{cfg.server} - Analysing audio")

        # 3. encode passes (U1/F18)
        n_passes = int(row.get("pass_count") or 1)
        for p in range(1, n_passes + 1):
            args = synthesize_params(row, row, scratch, pass_no=p)
            argv = assemble_argv(args)
            _bounded(cfg, f"pass{p}", cfg.encode, argv, scratch)
            passes_run = p
            log.append(f"pass {p}")
            mark(f"pass{p}", f"{cfg.server} - Encoding Pass {p}")

        # 4. optional MP4Box interleave (U3)
        if row.get("apply_mp4box") and cfg.apply_mp4box is not None:
            _bounded(cfg, "mp4box", cfg.apply_mp4box, args["_TempDest"])
            log.append("mp4box")

        # 5. publish: mkdir -p + staged move (S12/S13)
        dest = row["destination_file"]
        os.makedirs(os.path.dirname(dest), exist_ok=True)
        seq = re.search(r"%([0-9]+)d", dest)
        if seq:
            # file-sequence publish (thumbnails): copy every scratch
            # output matching the printf pattern (job.py:298-306).
            # Escape the basename FIRST so its metacharacters match
            # literally (a '.' in 'thumb%02d.png' must not match
            # 'thumb01Xpng'), then swap the escaped %0Nd token for \d+.
            pat = re.compile(
                re.sub(r"%([0-9]+)d", r"\\d+", re.escape(os.path.basename(dest)))
            )
            outputs = sorted(
                f for f in os.listdir(scratch) if pat.fullmatch(f)
            )
            size = 0
            for i, fname in enumerate(outputs):
                cfg.copy(
                    os.path.join(scratch, fname),
                    os.path.join(os.path.dirname(dest), fname),
                )
                size += os.path.getsize(os.path.join(scratch, fname))
            log.append(f"moved {len(outputs)} files")
            mark("publish", f"{cfg.server} - Moving Files")
        else:
            cfg.copy(args["_TempDest"], dest)
            size = os.path.getsize(dest)
            log.append("moved file")
            mark("publish", f"{cfg.server} - Moving File")

        status = "Done"
        # 6. scratch cleanup; failure → 'Encoded' not 'Done' (job.py:326-331)
        try:
            shutil.rmtree(scratch)
        except OSError:
            status = "Encoded"
        mark("terminal", status)
        return {
            "id": row["id"],
            "video_id": row.get("video_id"),
            "final_status": status,
            "size": size,
            "passes_run": passes_run,
            "log": ";".join(log),
        }
    except Exception as exc:  # any stage failure → Error status row
        shutil.rmtree(scratch, ignore_errors=True)
        mark("terminal", f"{cfg.server} - Error")
        return {
            "id": row["id"],
            "video_id": row.get("video_id"),
            "final_status": f"{cfg.server} - Error",
            "size": None,
            "passes_run": passes_run,
            "log": ";".join(log + [f"error: {type(exc).__name__}: {exc}"]),
        }


def run_claimed_jobs(claimed_with_format: DataFrame, cfg: ProcessConfig) -> DataFrame:
    """mapInPandas over claimed jobs (already broadcast-joined to their
    format row), one task per input partition (ST8 — Spark's scheduler
    replaces the thread pool).  Give it one job per partition, as the
    scheduler's held batch is, so each job is its own task and
    min(jobs, defaultParallelism) encodes run at once."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            results = [run_job_row(r, cfg) for r in pdf.to_dict("records")]
            if results:
                yield pd.DataFrame(results)

    return claimed_with_format.mapInPandas(run, RESULT_SCHEMA)
