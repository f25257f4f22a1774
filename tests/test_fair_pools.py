"""FAIR-pool execution dispatch (jobs/pools.py) — the ST8
generalization: claimed batches split into ef_priority bands, each
band's action pinned to a weighted scheduler pool.

What is assertable on the shared (FIFO) test session: the banding, the
thread-local pool-property wiring, the caller's job group reaching every
band, the allocation file, and that a two-band cycle finishes every job.
The weighted sharing itself is the Spark FAIR scheduler's contract once
spark.scheduler.mode=FAIR + the generated allocation file are set at
session build (documented in the module docstring)."""

from __future__ import annotations

import xml.etree.ElementTree as ET

from pyspark.sql import functions as F

from encodesrv_spark.jobs import pools
from encodesrv_spark.jobs.pools import (
    POOLS,
    allocation_xml,
    pool_for,
    run_claimed_by_pool,
    write_allocation_file,
)
from encodesrv_spark.jobs.scheduler import Scheduler, SchedulerConfig
from encodesrv_spark.jobs.process import ProcessConfig
from encodesrv_spark.jobs.schema import ENCODE_JOBS_SCHEMA, VIDEO_FILES_SCHEMA
from encodesrv_spark.jobs.state import JobStore

SRV = "Pool Server"


def test_pool_for_banding():
    assert pool_for(None) == "ef-low"
    assert pool_for(0) == "ef-low"
    assert pool_for(-3) == "ef-low"
    assert pool_for(1) == "ef-normal"
    assert pool_for(2) == "ef-high"
    assert pool_for(99) == "ef-high"


def test_allocation_file_matches_pools(tmp_path):
    path = write_allocation_file(str(tmp_path / "fairscheduler.xml"))
    root = ET.parse(path).getroot()
    assert root.tag == "allocations"
    got = {
        p.get("name"): (
            int(p.findtext("weight")),
            int(p.findtext("minShare")),
            p.findtext("schedulingMode"),
        )
        for p in root.findall("pool")
    }
    assert got == {n: (w, m, "FAIR") for n, (w, m) in POOLS.items()}
    assert ET.fromstring(allocation_xml()).tag == "allocations"


def test_band_routing_and_thread_property_wiring(spark, monkeypatch):
    """Each band must execute in a thread whose scheduler-pool local
    property names its pool and whose job group is the caller's, and
    rows must route to the band their ef_priority maps to.  The
    execution stage is stubbed to TAG each row with the property its
    thread observes — so the assertion covers exactly the wiring FAIR
    scheduling depends on."""
    sc = spark.sparkContext

    def tagging_stub(df, cfg):
        pool = sc.getLocalProperty("spark.scheduler.pool")
        return df.select("id", F.lit(pool).alias("final_status"))

    monkeypatch.setattr(pools, "run_claimed_jobs", tagging_stub)

    claimed = spark.createDataFrame(
        [(1, 2), (2, 1), (3, None), (4, 5), (5, 0)],
        "id long, ef_priority int",
    )
    seen: dict[str, tuple[str | None, str | None]] = {}

    def probe(pool, pool_prop, group):
        seen[pool] = (pool_prop, group)

    sc.setJobGroup("g", "band wiring")
    try:
        out = run_claimed_by_pool(claimed, ProcessConfig(server=SRV), probe=probe)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)

    assert seen == {p: (p, "g") for p in POOLS}, "pool or job group not per band"
    routed = {r["id"]: r["final_status"] for r in out.collect()}
    assert routed == {
        1: "ef-high",
        2: "ef-normal",
        3: "ef-low",
        4: "ef-high",
        5: "ef-low",
    }


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
    """A cycle whose batch spans two bands (ef_priority 2 and 1) ends
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
