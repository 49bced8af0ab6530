"""The change set since the checkpoint — the latest-wins merge of every
change since it — that doc(r) applies to the checkpoint at every
revision (checkpoint ⋉̸ cum ∪ cum.live).

doc(r) must equal a plain-Python replay of the same operations at
every revision: rows, columns, column order and types. That holds for
the change sets delta commits record as cum/, and for a copy of the
store whose manifest has every `schemas["cum"]` stripped — how a
resource committed before cum/ existed looks — whose change sets are
merged from each cycle's upserts/ and deletes/ when read. Keys are
unique within each commit (a commit that repeats one is rejected,
tests/test_store_unique_keys.py).
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
_TYPES = {"long": "bigint", "int": "int", "string": "string", "double": "double"}

INIT = [(i, f"n{i}", i * 10) for i in range(10)]
# r2…r17 with checkpoint_every=6: every way a change set grows or
# restarts — upserts, a delete, a delete of a key only the change set
# holds, re-inserting deleted keys, schema growth and reordered
# columns mid-cycle, a change set that starts with a delete, cadence
# checkpoints (r6, r12), rename_field, revert_to and compact
OPS = [
    ("upsert", [(1, "a", 11), (10, "n10", 100)], SCHEMA),  # r2
    ("delete", [2]),  # r3
    # r4: schema growth mid-cycle; re-inserts deleted key 2
    ("upsert", [(2, "back", 22, "x"), (11, "n11", 110, "y")], SCHEMA + ", tag string"),
    ("delete", [11]),  # r5: a key only the change set holds
    ("upsert", [(4, "d", 44, "z")], SCHEMA + ", tag string"),  # r6: cadence checkpoint
    ("delete", [10]),  # r7: a change set starting with a delete
    (  # r8: reordered columns, a new one, deleted key 10 back
        "upsert",
        [(10, 1.5, "again", 101, "w"), (12, 2.5, "n12", 120, None)],
        "id long, score double, name string, amount long, tag string",
    ),
    ("rename", "amount", "total"),  # r9
    ("upsert", [(3, "c", 33)], "id long, name string, total long"),  # r10
    ("revert", 4),  # r11
    ("upsert", [(5, "e", 55)], SCHEMA),  # r12: cadence checkpoint
    ("upsert", [(6, "f", 66), (13, "n13", 130)], SCHEMA),  # r13
    ("compact",),  # r14
    ("upsert", [(7, "g", 77, 7)], SCHEMA + ", extra int"),  # r15
    ("delete", [7, 13]),  # r16
    ("upsert", [(13, "h", 130, 8)], SCHEMA + ", extra int"),  # r17
]


def _columns(schema):
    """(name, Spark dtype) of a schema string, `id` as record_key."""
    cols = [c.split() for c in schema.split(",")]
    return [("record_key" if n == "id" else n, _TYPES[t]) for n, t in cols]


def _replay(ops):
    """The state at every revision, replayed in plain Python: its
    columns in order with their types, and its records by key. An
    upsert replaces a whole record and appends the columns it brings
    to the end."""
    cols = _columns(SCHEMA)
    states = [(cols, {r[0]: dict(zip([n for n, _ in cols], r)) for r in INIT})]
    for op, *args in ops:
        cols, rows = list(states[-1][0]), {k: dict(v) for k, v in states[-1][1].items()}
        if op == "upsert":
            up = _columns(args[1])
            cols += [c for c in up if c[0] not in dict(cols)]
            for r in args[0]:
                rows[r[0]] = dict(zip([n for n, _ in up], r))
        elif op == "delete":
            for k in args[0]:
                rows.pop(k)
        elif op == "rename":
            old, new = args
            cols = [(new if n == old else n, t) for n, t in cols]
            rows = {k: {(new if c == old else c): v for c, v in r.items()} for k, r in rows.items()}
        elif op == "revert":
            cols, rows = states[args[0] - 1]
        states.append((cols, rows))
    return states


def _apply(store, spark, op, *args):
    if op == "upsert":
        store.upsert_records(DB, RES, spark.createDataFrame(args[0], args[1]), key="id")
    elif op == "delete":
        store.delete_where(DB, RES, F.col("record_key").isin(*args[0]))
    elif op == "rename":
        store.rename_field(DB, RES, *args)
    elif op == "revert":
        store.revert_to(DB, RES, *args)
    else:
        store.compact(DB, RES)


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


@pytest.fixture(scope="module")
def history(spark, tmp_path_factory):
    store = VersionedStore(spark, str(tmp_path_factory.mktemp("cum_store")), checkpoint_every=6)
    store.store(DB, RES, spark.createDataFrame(INIT, SCHEMA), key="id")
    for op in OPS:
        _apply(store, spark, *op)
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


def test_doc_equals_replay_at_every_revision(history, tmp_path):
    legacy = _legacy(history, tmp_path)
    assert all(e.schema("cum") is None for e in legacy._manifest(DB, RES).entries)
    for r, (cols, rows) in enumerate(_replay(OPS), start=1):
        want = sorted(
            json.dumps({n: rec.get(n) for n, _ in cols}, sort_keys=True) for rec in rows.values()
        )
        for store in (history, legacy):
            got = store.doc(DB, RES, revision=r)
            assert got.dtypes == cols, (store is legacy, r)
            assert _rows(got) == want, (store is legacy, r)


def test_cum_holds_latest_change_per_key(history):
    """r5's chain (checkpoint r1): key 2 deleted at r3 and back at r4,
    key 11 inserted at r4 and deleted at r5."""
    cum = history._read_part(DB, RES, history._manifest(DB, RES).entry(5), "cum")
    got = {r["record_key"]: (r["_revision"], r["_deleted"]) for r in cum.collect()}
    assert got == {1: (2, False), 10: (2, False), 2: (4, False), 11: (5, True)}


def test_change_views_and_diffs_unchanged(history, tmp_path):
    """The per-revision parts stay the source of change_view and
    history_view, and diffs read doc(): all equal with or without
    recorded cum/ parts."""
    legacy = _legacy(history, tmp_path)
    for view in ("change_view", "history_view"):
        got = getattr(history, view)(DB, RES, max_revision=None)
        assert _rows(got) == _rows(getattr(legacy, view)(DB, RES, max_revision=None)), view
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


def test_delta_after_legacy_delta_writes_cum(spark, tmp_path):
    """A delta committed before cum/ existed has no change set on disk:
    the next delta merges the cycle's parts into its cum/, and the
    legacy one is read through the same merge."""
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
        False, False, True, True, False, True,
    ]
    cum = store._read_part(DB, RES, m.entry(4), "cum")
    got = {r["record_key"]: (r["_revision"], r["_deleted"]) for r in cum.collect()}
    assert got == {2: (2, False), 3: (3, False), 0: (4, True)}
    assert [
        sorted(x["record_key"] for x in store.doc(DB, RES, revision=r).collect())
        for r in range(1, 7)
    ] == [[0, 1], [0, 1, 2], [0, 1, 2, 3], [1, 2, 3], [1, 2, 3, 4], [1, 2, 3, 4, 5]]


def test_empty_commit_after_checkpoint_keeps_cum(spark, tmp_path):
    """A commit that changes nothing right after a checkpoint has no
    change set to record, and the deltas after it still record theirs:
    doc(r) has no window at any depth."""
    store = VersionedStore(spark, str(tmp_path / "s"))
    store.store(
        DB, RES, spark.createDataFrame([(i, f"n{i}", i) for i in range(50)], SCHEMA), key="id"
    )
    store.delete_where(DB, RES, F.col("record_key") == -1)  # r2: matches nothing
    for r in range(3, 10):
        _upsert(store, spark, [(100 + r, f"n{r}", r), (r, "u", -r)])
    m = store._manifest(DB, RES)
    assert (m.entry(2).n_upserts, m.entry(2).n_deletes) == (0, 0)
    assert [m.entry(r).schema("cum") is not None for r in range(2, 10)] == [False] + [True] * 7
    for r in range(2, 10):
        assert "Window" not in _plan(store.doc(DB, RES, revision=r)), r
    assert _rows(store.doc(DB, RES, revision=2)) == _rows(store.doc(DB, RES, revision=1))
    doc9 = {x["record_key"]: x["amount"] for x in store.doc(DB, RES, revision=9).collect()}
    assert len(doc9) == 57
    assert [doc9[r] for r in range(3, 10)] == [-r for r in range(3, 10)]


def _plan(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def _windowed_parts(df) -> set[str]:
    """The parts (rNNNNNN/<part>) that df's optimized plan scans below
    a Window."""
    out = set()

    def walk(node, windowed):
        windowed = windowed or node.nodeName() == "Window"
        if windowed and node.nodeName() == "LogicalRelation":
            path = node.relation().location().rootPaths().apply(0).toString()
            out.add("/".join(path.rstrip("/").split("/")[-2:]))
        kids = node.children()
        for i in range(kids.size()):
            walk(kids.apply(i), windowed)

    walk(df._jdf.queryExecution().optimizedPlan(), False)
    return out


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
    # without cum/, the change set is merged from the cycle's parts
    # (read for its keys and for its rows): the window is over them,
    # never over the checkpoint
    legacy = _legacy(store, tmp_path)
    for r, scans in ((2, 3), (9, 17)):
        doc = legacy.doc(DB, RES, revision=r)
        assert _plan(doc).count("Relation [") == scans, r
        parts = _windowed_parts(doc)
        assert parts and all(p.endswith(("/upserts", "/deletes")) for p in parts), (r, parts)
