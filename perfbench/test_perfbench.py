"""Tests of the benchmark's own parts: the seeded generators and the
output checks (a corrupted result must be caught).  No Spark session.

    python3 -m pytest perfbench/test_perfbench.py -q -p no:cacheprovider
"""

from __future__ import annotations

import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import checks  # noqa: E402
import gen  # noqa: E402
import pytest  # noqa: E402

SRV = "Encode Server"


def test_job_queue_same_seed_identical():
    a = gen.job_queue(7, 5_000, 500, SRV)
    b = gen.job_queue(7, 5_000, 500, SRV)
    assert a.jobs.equals(b.jobs) and a.video_files.equals(b.video_files)
    assert a.media == b.media and a.claim_order == b.claim_order
    assert a.missing == b.missing and a.stale == b.stale


def test_job_queue_other_seed_differs():
    a = gen.job_queue(7, 5_000, 500, SRV)
    b = gen.job_queue(8, 5_000, 500, SRV)
    assert not a.jobs.equals(b.jobs)
    assert a.media != b.media


def test_job_queue_shape():
    q = gen.job_queue(3, 20_000, 2_000, SRV)
    rows = q.jobs.to_pydict()
    status = rows["status"]
    # priority ties: the id tiebreak decides most of the claim order
    assert len(set(rows["priority"])) <= 6
    # both 1-pass and 2-pass formats are queued
    passes = {checks.PASSES[f] for f in rows["format_id"]}
    assert passes == {1, 2}
    # about 1% of the media-backed jobs have no source
    assert 5 <= len(q.missing) <= 40
    assert not q.missing & set(q.media)
    # stale claims of this server, requeued by startup_reset
    assert q.stale and all(status[i - 1] == f"{SRV} - Waiting" for i in q.stale)
    assert set(q.stale) <= set(q.claim_order)
    # claim order is (priority desc, id asc) over the queued rows
    key = [(-rows["priority"][i - 1], i) for i in q.claim_order]
    assert key == sorted(key)


def test_analytic_tables_seeded():
    a = gen.analytic_tables(5, 0.001)
    b = gen.analytic_tables(5, 0.001)
    c = gen.analytic_tables(6, 0.001)
    assert set(a) == {
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    }
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(c["lineitem"])


# --- the checks catch a corrupted result --------------------------------------


@pytest.fixture
def drained(tmp_path):
    """A queue, the outputs a correct cycle publishes, and its rows."""
    q = gen.job_queue(11, 200, 200, SRV)
    media = tmp_path / "media"
    (media / "out").mkdir(parents=True)
    ids = q.claim_order[:4]
    rows = []
    for jid in ids:
        fmt = q.jobs["format_id"][jid - 1].as_py()
        if jid in q.missing:
            rows.append({"id": jid, "video_id": q.video_of.get(jid),
                         "final_status": f"{SRV} - Error", "size": None, "passes_run": 0})
            continue
        body = q.media[jid] + b"|encoded"
        (media / "out" / f"{jid}.mp4").write_bytes(body)
        rows.append({"id": jid, "video_id": q.video_of.get(jid), "final_status": "Done",
                     "size": len(body), "passes_run": checks.PASSES[fmt]})
    return q, str(media), rows


def _model(q, media):
    return checks.DrainModel(q, SRV, media)


def test_correct_cycle_passes(drained):
    q, media, rows = drained
    assert checks.check_cycle(_model(q, media), rows, 4) == 0


def test_flipped_status_caught(drained):
    q, media, rows = drained
    rows[0]["final_status"] = f"{SRV} - Error" if rows[0]["final_status"] == "Done" else "Done"
    assert checks.check_cycle(_model(q, media), rows, 4) == 1


def test_dropped_row_caught(drained):
    q, media, rows = drained
    assert checks.check_cycle(_model(q, media), rows[1:], 4) == 1


def test_double_claim_caught(drained):
    q, media, rows = drained
    m = _model(q, media)
    assert checks.check_cycle(m, rows, 4) == 0
    # the next cycle re-delivers an id claimed before
    assert checks.check_cycle(m, rows[:1], 4) >= 1


def test_out_of_order_claim_caught(drained):
    q, media, rows = drained
    late = q.claim_order[10]
    rows[-1] = {**rows[-1], "id": late}
    assert checks.check_cycle(_model(q, media), rows, 4) == 2


def test_wrong_published_bytes_caught(drained):
    q, media, rows = drained
    done = next(r for r in rows if r["final_status"] == "Done")
    with open(os.path.join(media, "out", f"{done['id']}.mp4"), "ab") as f:
        f.write(b"x")
    assert checks.check_cycle(_model(q, media), rows, 4) == 1


def test_status_read_checked(drained):
    from encodesrv_spark.jobs.state import BotStatus

    q, media, _ = drained
    m = _model(q, media)
    n = m.waiting()
    assert checks.check_status(m, BotStatus("no jobs", n, f"... {n} waiting")) == 0
    assert checks.check_status(m, BotStatus("no jobs", n + 1, f"... {n + 1}")) == 1
    assert checks.check_status(m, BotStatus("a.mov", n, f"... {n}")) == 1


def test_expected_job_changes(drained):
    q, media, rows = drained
    m = _model(q, media)
    checks.check_cycle(m, rows, 4)
    changes = dict(checks.expected_job_changes(m))
    assert all(changes[j] == "Not Encoding" for j in q.stale if j not in m.final_status)
    assert all(changes[r["id"]] == r["final_status"] for r in rows)


def test_query_compare_catches_corruption():
    cols = ["k", "v"]
    rows = [(1, 0.5), (2, None), (3, 1.25)]
    assert checks.query_matches(cols, rows, ["v", "k"], [(None, 2), (1.25, 3), (0.5, 1)])
    assert not checks.query_matches(cols, rows[1:], cols, rows)  # dropped row
    assert not checks.query_matches(cols, [(1, 0.5), (2, None), (3, 1.5)], cols, rows)


def test_benchmark_json_matches_driver():
    import json

    import run

    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.E2E_UNITS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == {
        name: run.layer_unit(name) for name in run.LAYER_TARGETS
    }
    assert [w["name"] for w in spec["workloads"]] == [*run.DRAIN, "query_mix"]
