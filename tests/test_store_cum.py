"""cum/ — the cumulative since-checkpoint delta a delta commit writes.

doc(r) through cum/ (checkpoint ⋉̸ cum ∪ cum.live) must equal the
union merge it replaces at every revision: rows, columns, column order
and types. The union merge is obtained by opening a copy of the store
whose manifest has every `schemas["cum"]` stripped, which is how a
resource committed before cum/ existed looks. Keys are unique within
each commit (a commit holding one key twice is a separate open rule).
"""

from __future__ import annotations

import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

from sirix_spark.store import VersionedStore

DB, RES = "db", "r"
SCHEMA = "id long, name string, amount long"


def _upsert(store, spark, rows, schema=SCHEMA):
    return store.upsert_records(DB, RES, spark.createDataFrame(rows, schema), key="id")


def _rows(df):
    return sorted(json.dumps(r.asDict(), sort_keys=True) for r in df.collect())


def _legacy(store, tmp_path):
    """A copy of `store` whose manifest knows no cum/ part."""
    root = str(tmp_path / "legacy")
    shutil.copytree(store.root, root)
    path = os.path.join(root, DB, RES, "manifest.json")
    with open(path) as f:
        data = json.load(f)
    for e in data["revisions"]:
        (e["schemas"] or {}).pop("cum", None)
    with open(path, "w") as f:
        json.dump(data, f)
    return VersionedStore(store.spark, root, checkpoint_every=store.checkpoint_every)


def _assert_same(got, want, where):
    assert got.columns == want.columns, where
    assert got.dtypes == want.dtypes, where
    assert _rows(got) == _rows(want), where


@pytest.fixture(scope="module")
def history(spark, tmp_path_factory):
    """Every way a cum/ chain grows or restarts: upserts, a delete, a
    delete of a key only the chain holds, re-inserting deleted keys,
    schema growth and reordered columns mid-cycle, a chain that starts
    with a delete, a cadence checkpoint, rename_field, revert_to and
    compact."""
    store = VersionedStore(spark, str(tmp_path_factory.mktemp("cum_store")), checkpoint_every=6)
    store.store(
        DB, RES,
        spark.createDataFrame([(i, f"n{i}", i * 10) for i in range(10)], SCHEMA),
        key="id",
    )
    _upsert(store, spark, [(1, "a", 11), (10, "n10", 100)])  # r2
    store.delete_where(DB, RES, F.col("record_key") == 2)  # r3
    _upsert(  # r4: schema growth mid-cycle; re-inserts deleted key 2
        store, spark, [(2, "back", 22, "x"), (11, "n11", 110, "y")], SCHEMA + ", tag string"
    )
    store.delete_where(DB, RES, F.col("record_key") == 11)  # r5: a key only cum/ holds
    _upsert(store, spark, [(4, "d", 44, "z")], SCHEMA + ", tag string")  # r6: cadence checkpoint
    store.delete_where(DB, RES, F.col("record_key") == 10)  # r7: a chain starting with a delete
    _upsert(  # r8: reordered columns, a new one, deleted key 10 back
        store, spark, [(10, 1.5, "again", 101, "w"), (12, 2.5, "n12", 120, None)],
        "id long, score double, name string, amount long, tag string",
    )
    store.rename_field(DB, RES, "amount", "total")  # r9
    _upsert(store, spark, [(3, "c", 33)], "id long, name string, total long")  # r10
    store.revert_to(DB, RES, 4)  # r11
    _upsert(store, spark, [(5, "e", 55)])  # r12: cadence checkpoint
    _upsert(store, spark, [(6, "f", 66), (13, "n13", 130)])  # r13
    store.compact(DB, RES)  # r14
    _upsert(store, spark, [(7, "g", 77, 7)], SCHEMA + ", extra int")  # r15
    store.delete_where(DB, RES, F.col("record_key").isin(7, 13))  # r16
    _upsert(store, spark, [(13, "h", 130, 8)], SCHEMA + ", extra int")  # r17
    return store


def test_cum_written_by_every_delta(history):
    entries = history._manifest(DB, RES).entries
    assert [e.kind for e in entries] == [
        "checkpoint", "delta", "delta", "delta", "delta", "checkpoint",
        "delta", "delta", "checkpoint", "delta", "checkpoint", "checkpoint",
        "delta", "checkpoint", "delta", "delta", "delta",
    ]
    for e in entries:
        has_dir = os.path.isdir(os.path.join(history._rev_dir(DB, RES, e.revision), "cum"))
        assert (e.schema("cum") is not None) == has_dir == (e.kind == "delta"), e.revision


def test_doc_equals_union_merge_at_every_revision(history, tmp_path):
    legacy = _legacy(history, tmp_path)
    assert all(e.schema("cum") is None for e in legacy._manifest(DB, RES).entries)
    for r in range(1, history.latest_revision(DB, RES) + 1):
        _assert_same(history.doc(DB, RES, revision=r), legacy.doc(DB, RES, revision=r), r)


def test_cum_holds_latest_change_per_key(history):
    """r5's chain (checkpoint r1): key 2 deleted at r3 and back at r4,
    key 11 inserted at r4 and deleted at r5."""
    cum = history._read_part(DB, RES, history._manifest(DB, RES).entry(5), "cum")
    got = {r["record_key"]: (r["_revision"], r["_deleted"]) for r in cum.collect()}
    assert got == {1: (2, False), 10: (2, False), 2: (4, False), 11: (5, True)}


def test_change_views_and_diffs_unchanged(history, tmp_path):
    """The per-revision parts stay the source of change_view and
    history_view; diffs read doc() and match the union merge's.
    The views stop before r11: change_view recovers the revert's delta
    with an exceptAll, which fails when the revert drops columns."""
    legacy = _legacy(history, tmp_path)
    for view in ("change_view", "history_view"):
        got = getattr(history, view)(DB, RES, max_revision=10)
        assert _rows(got) == _rows(getattr(legacy, view)(DB, RES, max_revision=10)), view
    # record mode takes its columns from the older side, so it cannot
    # diff backwards across a schema growth (r5 → r2) in either store
    for r1, r2, modes in (
        (1, 5, ("node", "record")), (5, 2, ("node",)), (7, 8, ("node", "record")),
        (4, 8, ("node", "record")), (14, 17, ("node", "record")),
    ):
        for mode in modes:
            assert history.diff_json(DB, RES, r1, r2, mode) == legacy.diff_json(
                DB, RES, r1, r2, mode
            ), (r1, r2, mode)


def test_delta_after_legacy_delta_writes_no_cum(spark, tmp_path):
    """A delta committed before cum/ existed ends the chain for the
    rest of its cycle; the next checkpoint starts a new one."""
    store = VersionedStore(spark, str(tmp_path / "s"), checkpoint_every=5)
    store.store(DB, RES, spark.createDataFrame([(0, "a", 0), (1, "b", 1)], SCHEMA), key="id")
    _upsert(store, spark, [(2, "c", 2)])  # r2
    path = os.path.join(store._res_path(DB, RES), "manifest.json")
    with open(path) as f:
        data = json.load(f)
    del data["revisions"][1]["schemas"]["cum"]  # r2 as written before cum/
    with open(path, "w") as f:
        json.dump(data, f)
    _upsert(store, spark, [(3, "d", 3)])  # r3
    store.delete_where(DB, RES, F.col("record_key") == 0)  # r4
    _upsert(store, spark, [(4, "e", 4)])  # r5: cadence checkpoint
    _upsert(store, spark, [(5, "f", 5)])  # r6
    m = store._manifest(DB, RES)
    assert [m.entry(r).schema("cum") is not None for r in range(1, 7)] == [
        False, False, False, False, False, True,
    ]
    for r in (3, 4):
        assert not os.path.isdir(os.path.join(store._rev_dir(DB, RES, r), "cum"))
    assert [
        sorted(x["record_key"] for x in store.doc(DB, RES, revision=r).collect())
        for r in range(1, 7)
    ] == [[0, 1], [0, 1, 2], [0, 1, 2, 3], [1, 2, 3], [1, 2, 3, 4], [1, 2, 3, 4, 5]]


def _plan(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_open_plan_flat_in_depth(spark, tmp_path):
    """doc(r) at depths 1…9 of one cycle is the same plan: three
    parquet scans (checkpoint, cum/ keys, cum/ rows) and no window."""
    store = VersionedStore(spark, str(tmp_path / "flat"))
    store.store(
        DB, RES, spark.createDataFrame([(i, f"n{i}", i) for i in range(50)], SCHEMA), key="id"
    )
    for r in range(2, 11):
        _upsert(store, spark, [(100 + r, f"n{r}", r), (r, "u", -r)])
    assert store._manifest(DB, RES).entry(10).kind == "checkpoint"
    for r in range(2, 10):
        plan = _plan(store.doc(DB, RES, revision=r))
        assert plan.count("Relation [") == 3, (r, plan)
        assert "Window" not in plan, r
    # the union merge it replaces scans one part more per depth
    legacy = _legacy(store, tmp_path)
    assert [_plan(legacy.doc(DB, RES, revision=r)).count("Relation [") for r in (2, 9)] == [2, 9]
