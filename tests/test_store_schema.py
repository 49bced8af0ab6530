"""Schemas in the revision catalog: every part a commit writes
(data/, upserts/, deletes/, cum/) has its Spark schema recorded in its
manifest entry — the writing plan's schema made nullable, which must
be exactly what the parquet files store — doc() reads with it instead
of inferring, and manifests written before schemas were recorded still
open."""

from __future__ import annotations

import itertools
import json
import os
import shutil
from datetime import datetime, timezone
from decimal import Decimal

import pytest
from pyspark.sql import functions as F

from sirix_spark.store import VersionedStore

PARTS = ("data", "upserts", "deletes", "cum")


@pytest.fixture(scope="module")
def history(spark, tmp_path_factory):
    """A resource whose history covers every commit kind: schema
    growth (an upsert adding a column), a cadence checkpoint with its
    delta sidecar, delete_where, rename_field, revert_to and compact.
    Its delta commits also write cum/."""
    root = str(tmp_path_factory.mktemp("schema_store"))
    store = VersionedStore(spark, root, checkpoint_every=4)
    db, res = "db", "r"
    store.store(
        db, res,
        spark.createDataFrame(
            [(i, f"n{i}", i * 10) for i in range(6)], "id long, name string, amount long"
        ),
        key="id", message="init",
    )
    store.upsert_records(  # r2: schema growth
        db, res,
        spark.createDataFrame(
            [(1, "n1", 11, "x"), (7, "n7", 70, "y")],
            "id long, name string, amount long, tag string",
        ),
        key="id",
    )
    store.delete_where(db, res, F.col("record_key") == 2)  # r3
    store.upsert_records(  # r4: cadence checkpoint (sidecar + data)
        db, res,
        spark.createDataFrame([(3, "n3", 33, "z")], "id long, name string, amount long, tag string"),
        key="id",
    )
    store.rename_field(db, res, "amount", "total")  # r5
    store.delete_where(db, res, F.col("record_key") == 4)  # r6
    store.revert_to(db, res, 3)  # r7
    store.compact(db, res)  # r8
    store.upsert_records(  # r9
        db, res,
        spark.createDataFrame([(9, "n9", 90, None)], "id long, name string, amount long, tag string"),
        key="id",
    )
    return store, db, res


def _rows(df):
    return sorted(json.dumps(r.asDict(), sort_keys=True) for r in df.collect())


def _assert_recorded_schemas(spark, store, db, res):
    for e in store._manifest(db, res).entries:
        rd = store._rev_dir(db, res, e.revision)
        on_disk = {p for p in PARTS if os.path.isdir(os.path.join(rd, p))}
        assert set(e.schemas) == on_disk, e.revision
        for part in on_disk:
            assert e.schema(part) == spark.read.parquet(os.path.join(rd, part)).schema, (
                e.revision, part,
            )


def test_every_part_records_its_schema(spark, history):
    store, db, res = history
    entries = store._manifest(db, res).entries
    assert [e.kind for e in entries] == [
        "checkpoint", "delta", "delta", "checkpoint", "checkpoint",
        "delta", "checkpoint", "checkpoint", "delta",
    ]
    _assert_recorded_schemas(spark, store, db, res)
    assert [e.revision for e in entries if e.schema("cum") is not None] == [2, 3, 6, 9]
    assert "tag" in entries[1].schema("upserts").fieldNames()
    assert "total" in entries[4].schema("data").fieldNames()


TYPED = (
    "id long, ts timestamp, ntz timestamp_ntz, price decimal(12,2), blob binary, "
    "st struct<a:int,b:array<string>>, arr array<struct<x:double>>, "
    "m map<string,array<int>>"
)


def _typed(spark, ids):
    ts = datetime(2024, 5, 1, 12, 30, tzinfo=timezone.utc)
    rows = [
        (
            i, ts, datetime(2024, 5, 1, 12, i), Decimal(f"{i}.25"), bytes([i, 255]),
            (i, [f"s{i}", None]), [(i * 1.5,), None], {"k": [i, None]},
        )
        for i in ids
    ]
    # plus columns the plan knows to be non-null at every level, which
    # the parquet write stores as nullable
    return spark.createDataFrame(rows, TYPED).withColumns(
        {
            "one": F.lit(1),
            "nn": F.struct(F.lit("a").alias("p"), F.array(F.lit(2)).alias("q")),
            "nm": F.create_map(F.lit("x"), F.array(F.lit(3.0))),
        }
    )


def test_typed_parts_record_their_stored_schema(spark, tmp_path):
    """Timestamps (zoned and NTZ), decimals, binary and nested
    struct/array/map columns, nullable or not: every part's recorded
    schema equals the schema parquet read back from its files."""
    store = VersionedStore(spark, str(tmp_path / "typed"), checkpoint_every=4)
    db, res = "db", "t"
    store.store(db, res, _typed(spark, range(3)), key="id")
    store.upsert_records(db, res, _typed(spark, [1, 5]), key="id")  # r2
    store.delete_where(db, res, F.col("record_key") == 0)  # r3
    store.upsert_records(db, res, _typed(spark, [6]), key="id")  # r4: cadence checkpoint
    store.upsert_records(db, res, _typed(spark, [7]), key="id")  # r5
    entries = store._manifest(db, res).entries
    assert [sorted(e.schemas) for e in entries] == [
        ["data"], ["cum", "upserts"], ["cum", "deletes"], ["data", "upserts"], ["cum", "upserts"],
    ]
    assert not _typed(spark, [0]).schema["one"].nullable  # the plan's, before the write
    _assert_recorded_schemas(spark, store, db, res)
    assert sorted(r["record_key"] for r in store.doc(db, res).collect()) == [1, 2, 5, 6, 7]


def test_manifest_without_schemas_opens_identically(spark, history, tmp_path):
    """Entries written before schemas were recorded carry none: they
    open through schema inference, to the same rows."""
    store, db, res = history
    legacy_root = str(tmp_path / "legacy")
    shutil.copytree(store.root, legacy_root)
    path = os.path.join(legacy_root, db, res, "manifest.json")
    with open(path) as f:
        data = json.load(f)
    for e in data["revisions"]:
        del e["schemas"]
    with open(path, "w") as f:
        json.dump(data, f)
    legacy = VersionedStore(spark, legacy_root, checkpoint_every=4)
    assert all(e.schemas is None for e in legacy._manifest(db, res).entries)
    for r in range(1, store.latest_revision(db, res) + 1):
        assert _rows(legacy.doc(db, res, revision=r)) == _rows(store.doc(db, res, revision=r)), r
    assert _rows(legacy.change_view(db, res)) == _rows(store.change_view(db, res))


_GROUPS = itertools.count()


def _jobs_while(spark, fn):
    sc = spark.sparkContext
    group = f"schema-open-{next(_GROUPS)}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_deep_open_launches_no_job(spark, tmp_path):
    """Building doc(r) four and eight deltas past its checkpoint is
    plan construction only: no schema-inference job per part."""
    store = VersionedStore(spark, str(tmp_path / "deep"))
    db, res = "db", "r"
    store.store(db, res, spark.createDataFrame([(0, 0)], "id long, v long"), key="id")
    for r in range(2, 10):
        store.upsert_records(
            db, res, spark.createDataFrame([(r, r)], "id long, v long"), key="id"
        )
        if r == 3:
            store.delete_where(db, res, F.col("record_key") == 2)
    assert store._manifest(db, res).latest_checkpoint_at_or_before(9) == 1
    for rev in (5, 9):
        assert _jobs_while(spark, lambda: store.doc(db, res, revision=rev)) == 0
    # the count itself runs jobs, so the probe does see jobs
    assert _jobs_while(spark, lambda: store.doc(db, res, revision=9).count()) > 0


def test_commit_job_counts(spark, tmp_path):
    """A delta upsert runs at most four Spark jobs, as many as before
    cum/ existed, and a cadence checkpoint commit at most six (eight
    before): recording a part's schema launches no job, and the
    schema-inference job the read-back used to run pays for the cum/
    write."""
    store = VersionedStore(spark, str(tmp_path / "jobs"), checkpoint_every=4)
    db, res = "db", "r"
    store.store(
        db, res, spark.createDataFrame([(i, i) for i in range(20)], "id long, v long"), key="id"
    )

    def upsert(i):
        df = spark.createDataFrame([(i, -i), (100 + i, i)], "id long, v long")
        return lambda: store.upsert_records(db, res, df, key="id")

    for r in (2, 3):
        assert _jobs_while(spark, upsert(r)) <= 4, r
    assert _jobs_while(spark, upsert(4)) <= 6
    entries = store._manifest(db, res).entries
    assert entries[3].kind == "checkpoint"
    assert [(e.n_upserts, e.n_deletes) for e in entries] == [(20, 0)] + [(2, 0)] * 3
