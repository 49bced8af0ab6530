"""change_view: the scalable changes-only history substrate must
agree with the densified history_view / model."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sirix_spark.store import VersionedStore
from sirix_spark.store.store import RECORD_KEY


@pytest.fixture()
def store(spark, tmp_path):
    s = VersionedStore(spark, str(tmp_path / "s"), checkpoint_every=3)
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    s.store("db", "r", df, key="id")                                  # r1 ckpt
    s.replace_where("db", "r", F.col(RECORD_KEY) == 1, {"v": "a2"})   # r2 delta
    s.insert_records(                                                  # r3 ckpt
        "db", "r", spark.createDataFrame([(3, "c")], "id long, v string"), key="id"
    )
    s.delete_where("db", "r", F.col(RECORD_KEY) == 2)                 # r4 delta
    s.compact("db", "r")                                              # r5 ckpt (no-op)
    return s


def test_change_view_rows(store):
    rows = sorted(
        (r[RECORD_KEY], r["revision"], r["_deleted"], r["v"])
        for r in store.change_view("db", "r").collect()
    )
    assert rows == [
        (1, 1, False, "a"),
        (1, 2, False, "a2"),
        (2, 1, False, "b"),
        (2, 4, True, None),
        (3, 3, False, "c"),
    ]


def test_change_view_reconstructs_states(store):
    """Latest non-deleted change at or below r == doc(r)."""
    cv = store.change_view("db", "r")
    for r in range(1, 6):
        from pyspark.sql import Window

        w = Window.partitionBy(RECORD_KEY).orderBy(F.col("revision").desc())
        state = (
            cv.filter(F.col("revision") <= r)
            .withColumn("_rn", F.row_number().over(w))
            .filter((F.col("_rn") == 1) & (~F.col("_deleted")))
            .select(RECORD_KEY, "v")
        )
        expected = store.doc("db", "r", revision=r).select(RECORD_KEY, "v")
        assert state.exceptAll(expected).count() == 0
        assert expected.exceptAll(state).count() == 0


def test_compact_bounds_read_plan(store):
    # after compaction the latest read is a bare checkpoint scan
    assert store._manifest("db", "r").entries[-1].kind == "checkpoint"
    assert store.doc("db", "r").count() == 2


def test_change_view_revert_past_schema_growth(spark, tmp_path):
    """A full-state commit's delta is recovered by column name over
    the columns of both states: reverting past a commit that added a
    column compares the two states instead of failing on their
    different widths, and reports exactly the records that changed."""
    s = VersionedStore(spark, str(tmp_path / "g"))
    s.store("db", "r", spark.createDataFrame([(1, 10), (2, 20)], "id long, a long"), key="id")
    s.upsert_records(                                                    # r2: adds b
        "db", "r", spark.createDataFrame([(2, 21, "x")], "id long, a long, b string"), key="id"
    )
    assert s.revert_to("db", "r", 1) == 3                               # r3: back to (id, a)
    rows = sorted(
        (r[RECORD_KEY], r["revision"], r["_deleted"], r["a"], r["b"])
        for r in s.change_view("db", "r").collect()
    )
    assert rows == [
        (1, 1, False, 10, None),
        (2, 1, False, 20, None),
        (2, 2, False, 21, "x"),
        (2, 3, False, 20, None),
    ]
