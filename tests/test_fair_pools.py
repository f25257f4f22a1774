"""Mixed-priority batches: a cycle whose claimed rows carry different
ef_priority values runs as one action and finishes every job."""

from __future__ import annotations

from encodesrv_spark.jobs.scheduler import Scheduler, SchedulerConfig
from encodesrv_spark.jobs.process import ProcessConfig
from encodesrv_spark.jobs.schema import ENCODE_JOBS_SCHEMA, VIDEO_FILES_SCHEMA
from encodesrv_spark.jobs.state import JobStore

SRV = "Pool Server"


def _fmt_rows(spark):
    base = {
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
    }
    rows = [
        {**base, "id_fmt": 1, "format_name": "web-hd", "ef_priority": 2},
        {**base, "id_fmt": 2, "format_name": "sd", "ef_priority": 1},
    ]
    return spark.createDataFrame(rows)


def _seed(spark, root, n_jobs=5):
    media = root / "media"
    media.mkdir(parents=True)
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
                float(i),
            )
        )
    jobs = JobStore(spark, str(root / "jobs"))
    jobs.init(spark.createDataFrame(rows, ENCODE_JOBS_SCHEMA))
    vf = JobStore(spark, str(root / "video_files"))
    vf.init(
        spark.createDataFrame(
            [(i * 10, False, None) for i in range(1, n_jobs + 1)],
            VIDEO_FILES_SCHEMA,
        )
    )
    return jobs, vf


def test_two_band_cycle_finishes_every_job(spark, tmp_path):
    """A cycle whose batch mixes ef_priority 2 and 1 rows ends
    with every job Done, in the returned results and in the store."""
    jobs, vf = _seed(spark, tmp_path)
    sched = Scheduler(
        spark=spark,
        jobs=jobs,
        formats=_fmt_rows(spark),
        video_files=vf,
        process_cfg=ProcessConfig(server=SRV, scratch_root=str(tmp_path)),
        cfg=SchedulerConfig(
            server=SRV, mount_prefix=str(tmp_path) + "/", max_concurrent=5
        ),
        sleeper=lambda s: None,
    )
    results = {r["id"]: r["final_status"] for r in sched.run_cycle().collect()}
    store = {r["id"]: r["status"] for r in jobs.read().collect()}
    assert results == store == {i: "Done" for i in range(1, 6)}
