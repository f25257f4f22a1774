"""Model-based JobStore test: random CRUD sequences against a plain
dict model.  The versioned-parquet MERGE implementation must agree
with the obvious in-memory semantics after EVERY operation, and the
version history must replay to the same end state (time-travel
consistency).

Hypothesis generates the operation sequences; a fixed profile keeps
the Spark round-trip count bounded."""

from __future__ import annotations

import os

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from encodesrv_spark.jobs.state import JobStore

SCHEMA = "id long, status string, val long"
KEYS = list(range(6))
STATUSES = ["a", "b", "c"]

op_strategy = st.lists(
    st.one_of(
        st.tuples(
            st.just("append"),
            st.sampled_from(KEYS),
            st.sampled_from(STATUSES),
            st.integers(0, 99),
        ),
        st.tuples(
            st.just("upsert"),
            st.sampled_from(KEYS),
            st.sampled_from(STATUSES),
            st.integers(0, 99),
        ),
        st.tuples(
            st.just("delete"),
            st.sampled_from(STATUSES),
            st.just(""),
            st.just(0),
        ),
        st.tuples(
            st.just("upsert_if"),
            st.sampled_from(KEYS),
            st.sampled_from(STATUSES),
            st.integers(0, 99),
        ),
    ),
    min_size=1,
    max_size=7,
)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(ops=op_strategy)
def test_jobstore_agrees_with_dict_model(spark, tmp_path_factory, ops):
    path = str(tmp_path_factory.mktemp("store"))
    store = JobStore(spark, path, retain=50)
    store.init(spark.createDataFrame([], SCHEMA))
    model: dict[int, tuple[str, int]] = {}

    def frame(rows):
        return spark.createDataFrame(rows, SCHEMA)

    commits = 1  # init
    for op, a, b, c in ops:
        if op == "append":
            if a in model:
                with pytest.raises(ValueError):
                    store.append(frame([(a, b, c)]))
            else:
                store.append(frame([(a, b, c)]))
                model[a] = (b, c)
                commits += 1
        elif op == "upsert":
            store.upsert(frame([(a, b, c)]), ["status", "val"])
            commits += 1
            if a in model:
                model[a] = (b, c)
        elif op == "upsert_if":
            # conditional MERGE: only rows currently in status 'a' move
            store.upsert(frame([(a, b, c)]), ["status", "val"], only_if="status = 'a'")
            commits += 1
            if a in model and model[a][0] == "a":
                model[a] = (b, c)
        elif op == "delete":
            store.delete_where(f"status = '{a}'")
            commits += 1
            model = {k: v for k, v in model.items() if v[0] != a}

        got = {
            r["id"]: (r["status"], r["val"]) for r in store.read().collect()
        }
        assert got == model, f"diverged after {op}"

    # linear history: one retained version per successful commit
    hist = store.history()
    assert hist == sorted(hist)
    assert len(hist) == commits


def test_killed_writer_leaves_store_writable(spark, tmp_path):
    """A writer killed mid-commit runs no cleanup.  Each on-disk state it
    can leave -- a version reserved before any data was written, data
    written but never committed, a commit record with the `_CURRENT`
    hint not yet moved -- must leave the next upsert committing, and the
    table agreeing with a dict model."""
    store = JobStore(spark, str(tmp_path / "store"))
    store.init(spark.createDataFrame([(k, "a", 0) for k in KEYS], SCHEMA))
    model = {k: ("a", 0) for k in KEYS}

    def frame(rows):
        return spark.createDataFrame(rows, SCHEMA)

    def upsert_agrees(k, status, val):
        store.upsert(frame([(k, status, val)]), ["status", "val"])
        model[k] = (status, val)
        got = {r["id"]: (r["status"], r["val"]) for r in store.read().collect()}
        assert got == model

    # 1. a bare reservation of the next version (reserve-then-write order)
    v = store.current_version() + 1
    open(os.path.join(store.path, f"_COMMIT_{v:08d}"), "x").close()
    upsert_agrees(0, "b", 1)

    # 2. an orphan data directory, staged for the next version
    v = store.current_version() + 1
    orphan = os.path.join(store.path, f"v_{v:08d}_killed")
    frame([(k, "z", 99) for k in KEYS]).write.parquet(orphan)
    upsert_agrees(1, "c", 2)
    assert not os.path.exists(orphan)

    # 3. a commit record without the hint bump: the version committed
    v = store.current_version() + 1
    model[2] = ("b", 3)
    staged = os.path.join(store.path, f"v_{v:08d}_committed")
    frame([(k, *row) for k, row in model.items()]).write.parquet(staged)
    store._publish(v, staged)
    upsert_agrees(3, "c", 4)
    assert store.current_version() == v + 1
