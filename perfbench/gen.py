"""Seeded input generators for the benchmark.

Everything the program under test reads is made here from one integer
seed: the same seed gives byte-identical outputs, a different seed gives
different ones.  Two generators:

* :func:`job_queue` -- an ``encode_jobs`` queue, its ``video_files``
  table, the ``encode_formats`` rows and the source media for the jobs
  a run can claim.
* :func:`analytic_tables` -- the ten catalog tables (TPC-H-shaped star
  schema, ``events``, ``documents``, ``embeddings``) the registered
  queries read, with the column types and value vocabularies of the
  testdata the queries were written against.

Both return plain Python/pyarrow objects; :func:`write_job_queue` and
:func:`write_tables` put them on disk.  Nothing here imports Spark.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

OTHER_SERVER = "Other Server"

# (id, name, pass_count): a mix of 1-pass and 2-pass formats
FORMATS = [(1, "web-sd", 1), (2, "web-hd", 2), (3, "ipod", 1), (4, "archive", 2)]

JOBS_ARROW_SCHEMA = pa.schema(
    [
        pa.field("id", pa.int64(), False),
        pa.field("source_file", pa.string(), False),
        pa.field("destination_file", pa.string(), False),
        pa.field("format_id", pa.int32(), False),
        pa.field("status", pa.string(), False),
        pa.field("video_id", pa.int64()),
        pa.field("working_directory", pa.string()),
        pa.field("user_id", pa.int64()),
        pa.field("priority", pa.float64(), False),
    ]
)

VIDEO_FILES_ARROW_SCHEMA = pa.schema(
    [
        pa.field("id", pa.int64(), False),
        pa.field("is_enabled", pa.bool_(), False),
        pa.field("size", pa.int64()),
    ]
)


def format_rows() -> list[dict]:
    """The ``encode_formats`` dimension, already keyed as ``id_fmt``
    (the shape ``scheduler.prepare_formats`` produces)."""
    return [
        {
            "id_fmt": fid,
            "format_name": name,
            "container": "mp4",
            "video_codec": "libx264",
            "video_bitrate": 1_000_000 * fid,
            "video_resolution": "1280x720",
            "aspect_ratio": "16:9",
            "audio_codec": "aac",
            "audio_bitrate": 128_000,
            "audio_samplerate": 44100,
            "file_extension": "mp4",
            "preset_string": "-preset fast",
            "pass_count": passes,
            "apply_mp4box": False,
            "normalise_level": "",
            "args_beginning": "",
            "args_video": "",
            "args_audio": "",
            "args_end": "",
        }
        for fid, name, passes in FORMATS
    ]


@dataclass
class JobQueue:
    """A generated queue plus what the benchmark expects of it."""

    jobs: pa.Table
    video_files: pa.Table
    # ids of queued jobs in claim order (priority desc, id asc), after
    # startup_reset has returned the stale rows to the queue
    claim_order: list[int]
    # job id -> source bytes, for the first `n_media` jobs in claim
    # order; ids in `missing` have no file on disk
    media: dict[int, bytes]
    missing: set[int]
    stale: list[int]  # '<server> - Waiting' rows startup_reset requeues
    video_of: dict[int, int]  # job id -> video_id (non-NULL only)


def job_queue(seed: int, n_jobs: int, n_media: int, server: str) -> JobQueue:
    """A queue of `n_jobs` encode jobs.

    * priorities come from a small set, so most of them tie and the
      ``id`` tiebreak decides the claim order;
    * formats mix 1-pass and 2-pass encodes;
    * about 1% of the media-backed jobs have no source file, so they
      must end in ``'<server> - Error'``;
    * a few rows are stale ``'<server> - Waiting'`` claims of this
      server, which ``startup_reset`` returns to the queue;
    * a few rows are terminal or owned by another server and must never
      change.
    """
    rng = np.random.default_rng([seed, n_jobs, 1])
    ids = np.arange(1, n_jobs + 1, dtype=np.int64)
    priority = rng.choice(
        np.array([1.0, 2.0, 3.0, 5.0, 8.0, 10.0]),
        size=n_jobs,
        p=[0.30, 0.25, 0.20, 0.15, 0.07, 0.03],
    )
    format_id = rng.integers(1, len(FORMATS) + 1, size=n_jobs).astype(np.int32)
    has_video = rng.random(n_jobs) < 0.8
    user_id = rng.integers(1, 500, size=n_jobs)

    status = np.full(n_jobs, "Not Encoding", dtype=object)
    special = rng.choice(n_jobs, size=min(n_jobs, 12), replace=False)
    stale_idx, other_idx, done_idx, err_idx = np.array_split(special, 4)
    status[stale_idx] = f"{server} - Waiting"
    status[other_idx] = f"{OTHER_SERVER} - Encoding Pass 1"
    status[done_idx] = "Done"
    status[err_idx] = f"{server} - Error"

    queued = (status == "Not Encoding") | np.isin(np.arange(n_jobs), stale_idx)
    q_ids = ids[queued]
    q_pri = priority[queued]
    order = np.lexsort((q_ids, -q_pri))  # last key is primary
    claim_order = [int(i) for i in q_ids[order]]

    media: dict[int, bytes] = {}
    missing: set[int] = set()
    mrng = np.random.default_rng([seed, n_jobs, 2])
    for jid in claim_order[:n_media]:
        if mrng.random() < 0.01:
            missing.add(jid)
            continue
        body = mrng.integers(0, 256, size=int(mrng.integers(32, 512)), dtype=np.uint8)
        media[jid] = f"src-{jid}:".encode() + body.tobytes()

    video_id = np.where(has_video, ids, 0)
    jobs = pa.table(
        {
            "id": ids,
            "source_file": [f"/media/src/{i}.mov" for i in ids],
            "destination_file": [f"/media/out/{i}.mp4" for i in ids],
            "format_id": format_id,
            "status": status.astype(str),
            "video_id": pa.array(video_id, mask=~has_video),
            "working_directory": pa.nulls(n_jobs, pa.string()),
            "user_id": user_id,
            "priority": priority,
        },
        schema=JOBS_ARROW_SCHEMA,
    )
    video_files = pa.table(
        {
            "id": ids,
            "is_enabled": np.zeros(n_jobs, dtype=bool),
            "size": pa.nulls(n_jobs, pa.int64()),
        },
        schema=VIDEO_FILES_ARROW_SCHEMA,
    )
    return JobQueue(
        jobs=jobs,
        video_files=video_files,
        claim_order=claim_order,
        media=media,
        missing=missing,
        stale=sorted(int(ids[i]) for i in stale_idx),
        video_of={int(i): int(i) for i in ids[has_video]},
    )


def write_job_queue(q: JobQueue, root: str) -> dict[str, str]:
    """Write the queue under `root`: ``jobs.parquet``,
    ``video_files.parquet`` and ``media/src/<id>.mov``.  Returns the
    two table paths by name."""
    src_dir = os.path.join(root, "media", "src")
    os.makedirs(src_dir, exist_ok=True)
    paths = {
        "jobs": os.path.join(root, "jobs.parquet"),
        "video_files": os.path.join(root, "video_files.parquet"),
    }
    pq.write_table(q.jobs, paths["jobs"])
    pq.write_table(q.video_files, paths["video_files"])
    for jid, body in q.media.items():
        with open(os.path.join(src_dir, f"{jid}.mov"), "wb") as f:
            f.write(body)
    return paths


# --- analytic tables ----------------------------------------------------------

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
P_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
P_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()


def _days(rng, n: int, start: str, end: str) -> np.ndarray:
    lo = np.datetime64(start, "D")
    span = (np.datetime64(end, "D") - lo).astype(int)
    return (lo + rng.integers(0, span + 1, size=n)).astype("datetime64[us]")


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, size=n), 2)


def analytic_tables(seed: int, scale: float) -> dict[str, pa.Table]:
    """The catalog tables at `scale` (1.0 = 6M lineitem rows), uniform
    draws over the testdata vocabularies.  ``documents`` carries a few
    exact duplicates and near-duplicates so the dedup queries find
    work; ``embeddings`` are unit vectors clustered by label."""
    rng = np.random.default_rng([seed, int(scale * 1e6), 3])
    n_cust = max(int(150_000 * scale), 50)
    n_supp = max(int(10_000 * scale), 10)
    n_part = max(int(200_000 * scale), 100)
    n_ord = max(int(1_500_000 * scale), 500)
    n_line = 4 * n_ord
    n_ev = max(int(1_000_000 * scale), 1000)
    n_users = max(n_ev // 60, 20)
    n_doc = max(int(50_000 * scale), 500)
    n_emb = max(int(20_000 * scale), 500)

    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
            "c_mktsegment": rng.choice(SEGMENTS, n_cust),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
        }
    )
    pk = np.arange(n_part, dtype=np.int64)
    t["part"] = pa.table(
        {
            "p_partkey": pk,
            "p_name": [
                f"{a} {b}"
                for a, b in zip(rng.choice(P_ADJ, n_part), rng.choice(P_NOUN, n_part))
            ],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(P_TYPES, n_part),
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, n_ord, 1000.0, 500_000.0),
            "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-01"),
            "o_orderpriority": rng.choice(PRIORITIES, n_ord),
        }
    )
    t["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, n_ord, n_line),
            "l_partkey": rng.integers(0, n_part, n_line),
            "l_suppkey": rng.integers(0, n_supp, n_line),
            "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, n_line, 900.0, 105_000.0),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_line),
            "l_linestatus": rng.choice(["F", "O"], n_line),
            "l_shipdate": _days(rng, n_line, "1995-01-02", "2001-11-04"),
        }
    )
    us = np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev))
    t["events"] = pa.table(
        {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": pa.array(
                np.datetime64("2024-01-01", "us") + us.astype("timedelta64[us]"),
                pa.timestamp("us"),
            ),
            "user_id": rng.integers(0, n_users, n_ev),
            "event_type": rng.choice(EVENT_TYPES, n_ev),
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    texts = [
        " ".join(rng.choice(VOCAB, int(rng.integers(8, 100)))) for _ in range(n_doc)
    ]
    for i in rng.choice(n_doc, n_doc // 50, replace=False):
        src = texts[int(rng.integers(0, n_doc))]
        if rng.random() < 0.5:  # exact duplicate
            texts[i] = src
        else:  # near-duplicate: one word swapped
            words = src.split()
            words[int(rng.integers(0, len(words)))] = str(rng.choice(VOCAB))
            texts[i] = " ".join(words)
    t["documents"] = pa.table(
        {
            "doc_id": np.arange(n_doc, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(LANGS, n_doc, p=[0.4, 0.15, 0.15, 0.15, 0.15]),
            "source": [f"src{i % 20}" for i in range(n_doc)],
            "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
        }
    )
    centroids = rng.normal(size=(10, 64))
    label = rng.integers(0, 10, n_emb)
    vecs = centroids[label] + rng.normal(scale=1.5, size=(n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table(
        {
            "vec_id": np.arange(n_emb, dtype=np.int64),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": label.astype(np.int32),
        }
    )
    return t


def write_tables(tables: dict[str, pa.Table], root: str) -> str:
    """Write each table as ``<root>/<name>.parquet`` (the catalog
    layout); returns `root`."""
    os.makedirs(root, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(root, f"{name}.parquet"))
    return root
