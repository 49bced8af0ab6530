"""Crash/durability property tests (round-4 verdict #5 — the analog
of the reference's PowerLossSimulationTest.java /
CrashRecoveryInjectionTest.java replayed-write-prefix suites).

A commit is: write revision payload (text/keys files or parquet
dirs) → atomic manifest tmp+os.replace. We kill the commit at EVERY
file-operation boundary (including mid-manifest-tmp, the torn-write
case) and assert, for each prefix:

1. the store re-opens and the manifest names a fully-committed
   prefix of revisions (the pre-crash head);
2. every committed revision still reads back byte-identical;
3. recover() detects and GCs the orphaned payload files/dirs;
4. the retried commit succeeds and lands the intended content.
"""

from __future__ import annotations

import json
import os
import tempfile

import pytest

from sirix_spark.store.xmlstore import XmlStore


class KillError(RuntimeError):
    """Injected power-loss."""


class _Killer:
    """Raises KillError at the k-th op boundary (k=0: never)."""

    def __init__(self, kill_at: int):
        self.kill_at = kill_at
        self.n = 0

    def tick(self):
        self.n += 1
        if self.n == self.kill_at:
            raise KillError(f"killed at op {self.n}")

    def disarm(self):
        self.kill_at = 0


def _arm_text_store(xs, killer, monkeypatch):
    """Wrap a text-file store (XmlStore / DocumentStore — one shared
    r/k/manifest write path) with kill points at every boundary:

    op1 before the revision text write, op2 before the keys sidecar,
    op3 before any manifest byte, op4 mid-manifest-tmp (torn write:
    a partial .tmp is left on disk), op5 after the tmp is complete
    but BEFORE the os.replace commit point. The manifest write is the
    catalog's save (manifest.Manifest.save), patched for this test."""
    from sirix_spark.store import manifest as manifest_mod

    orig_text = xs._write_text
    orig_keys = xs._write_keys

    def wt(db, res, n, text):
        killer.tick()
        orig_text(db, res, n, text)
    xs._write_text = wt

    def wk(db, res, n, keys):
        killer.tick()
        orig_keys(db, res, n, keys)
    xs._write_keys = wk

    def wm(m):
        killer.tick()  # before any manifest byte
        with open(m.path + ".tmp", "w") as f:
            f.write('{"revisions": [')  # torn prefix on disk
            try:
                killer.tick()  # mid-tmp: stranded partial tmp
            except KillError:
                raise
            f.seek(0)
            f.truncate()
            json.dump(m.data, f, indent=1)
        killer.tick()  # tmp complete, BEFORE the os.replace commit
        os.replace(m.path + ".tmp", m.path)
    monkeypatch.setattr(manifest_mod.Manifest, "save", wm)


XML_R1 = "<root><a>one</a><b/></root>"
XML_R2 = "<root><a>CHANGED</a><b/><c/></root>"


def _xml_fixture(kill_at: int, monkeypatch):
    root = tempfile.mkdtemp()
    xs = XmlStore(root)
    xs.store("db", "r", XML_R1, keys=[1, 2, 3])
    killer = _Killer(kill_at)
    _arm_text_store(xs, killer, monkeypatch)
    return root, xs, killer


# XmlStore.commit with keys: text, keys, manifest-pre, manifest-mid,
# manifest-pre-replace = 5 op boundaries.
@pytest.mark.parametrize("kill_at", [1, 2, 3, 4, 5])
def test_xmlstore_kill_points(kill_at, monkeypatch):
    root, xs, killer = _xml_fixture(kill_at, monkeypatch)
    with pytest.raises(KillError):
        xs.commit("db", "r", XML_R2, keys=[1, 2, 3, 4, 5])

    # 1. a FRESH store opens and sees the fully-committed prefix
    fresh = XmlStore(root)
    assert fresh.latest_revision("db", "r") == 1
    assert fresh.read_text("db", "r", 1) == XML_R1
    assert fresh.read_keys("db", "r", 1) == [1, 2, 3]

    # 2. recover() GCs exactly the orphans this kill point left
    removed = fresh.recover("db", "r")
    d = fresh._res_dir("db", "r")
    leftover = sorted(os.listdir(d))
    assert leftover == ["k1.json", "manifest.json", "r1.xml"], (
        kill_at, leftover, removed,
    )
    if kill_at >= 2:  # the r2 text landed before the kill
        assert any("r2.xml" in p for p in removed)
    if kill_at >= 4:  # a manifest tmp was stranded
        assert any("manifest.json.tmp" in p for p in removed)

    # 3. the retried commit lands the intended revision
    killer.disarm()
    n = xs.commit("db", "r", XML_R2, keys=[1, 2, 3, 4, 5])
    assert n == 2
    assert fresh.read_text("db", "r", 2) == XML_R2
    assert fresh.read_keys("db", "r", 2) == [1, 2, 3, 4, 5]


def test_xmlstore_kill_clean_run_control(monkeypatch):
    """kill_at=0 (never) sanity-pins the op-boundary instrumentation:
    the wrapped store commits exactly like an unwrapped one."""
    root, xs, killer = _xml_fixture(0, monkeypatch)
    assert xs.commit("db", "r", XML_R2, keys=[1, 2, 3, 4, 5]) == 2
    assert killer.n == 5  # all five boundaries crossed exactly once
    assert XmlStore(root).read_text("db", "r", 2) == XML_R2
    assert XmlStore(root).recover("db", "r") == []


DOC_R1 = '{"a":1}'
DOC_R2 = '{"a":2,"b":[1,2]}'


@pytest.mark.parametrize("kill_at", [1, 2, 3, 4, 5])
def test_docstore_kill_points(spark, kill_at, monkeypatch):
    """DocumentStore.commit: the same five boundaries as XmlStore's
    (text, keys, manifest pre/mid/pre-replace)."""
    from sirix_spark.store.docstore import DocumentStore

    root = tempfile.mkdtemp()
    ds = DocumentStore(spark, root)
    ds.store("db", "r.jn", DOC_R1)
    killer = _Killer(kill_at)
    _arm_text_store(ds, killer, monkeypatch)
    with pytest.raises(KillError):
        ds.commit("db", "r.jn", DOC_R2, keys=[1, 2, 3, 4, 5])

    fresh = DocumentStore(spark, root)
    assert fresh.latest_revision("db", "r.jn") == 1
    assert fresh.read_text("db", "r.jn", 1) == DOC_R1
    removed = fresh.recover("db", "r.jn")
    names = sorted(os.listdir(fresh._res_dir("db", "r.jn")))
    assert "manifest.json" in names
    assert not any(n.startswith("r2") or n.endswith(".tmp") for n in names), (
        kill_at, names, removed,
    )

    killer.disarm()
    assert ds.commit("db", "r.jn", DOC_R2, keys=[1, 2, 3, 4, 5]) == 2
    assert fresh.read_text("db", "r.jn", 2) == DOC_R2


def test_versioned_store_kill_before_manifest(spark, monkeypatch):
    """VersionedStore (parquet snapshots): kill after the revision
    dir is fully written but before the manifest append — the classic
    orphaned-snapshot-dir case. The next commit must auto-GC it (its
    errorifexists parquet write would otherwise fail forever)."""
    from sirix_spark.store import manifest as manifest_mod
    from sirix_spark.store.store import VersionedStore

    root = tempfile.mkdtemp()
    vs = VersionedStore(spark, root)
    df1 = spark.createDataFrame([(1, "x"), (2, "y")], "id long, v string")
    vs.store("db", "r", df1, key="id")

    orig_append = manifest_mod.Manifest.append
    calls = {"n": 0}

    def kill_append(self, entry):
        calls["n"] += 1
        raise KillError("killed before manifest append")

    monkeypatch.setattr(manifest_mod.Manifest, "append", kill_append)
    df2 = spark.createDataFrame([(3, "z")], "id long, v string")
    with pytest.raises(KillError):
        vs.insert_records("db", "r", df2, key="id")
    monkeypatch.setattr(manifest_mod.Manifest, "append", orig_append)

    # orphan r000002 dir is on disk; the manifest still says head=1
    fresh = VersionedStore(spark, root)
    assert fresh.latest_revision("db", "r") == 1
    assert os.path.isdir(fresh._rev_dir("db", "r", 2))
    assert [r["record_key"] for r in fresh.doc("db", "r").orderBy("record_key").collect()] == [1, 2]

    # explicit recover() reports and removes the orphan
    removed = fresh.recover("db", "r")
    assert any(p.endswith("r000002") for p in removed)
    assert not os.path.isdir(fresh._rev_dir("db", "r", 2))

    # and the retried commit lands revision 2 with the right content
    assert vs.insert_records("db", "r", df2, key="id") == 2
    assert [r["record_key"] for r in fresh.doc("db", "r").orderBy("record_key").collect()] == [1, 2, 3]


def test_versioned_store_auto_recover_on_next_commit(spark, monkeypatch):
    """Without an explicit recover() call, the next commit GCs the
    orphan itself (recover() runs at the top of _write_commit)."""
    from sirix_spark.store import manifest as manifest_mod
    from sirix_spark.store.store import VersionedStore

    root = tempfile.mkdtemp()
    vs = VersionedStore(spark, root)
    vs.store("db", "r", spark.createDataFrame([(1, "x")], "id long, v string"), key="id")
    orig_append = manifest_mod.Manifest.append

    def kill_append(self, entry):
        raise KillError

    monkeypatch.setattr(manifest_mod.Manifest, "append", kill_append)
    df2 = spark.createDataFrame([(2, "y")], "id long, v string")
    with pytest.raises(KillError):
        vs.insert_records("db", "r", df2, key="id")
    monkeypatch.setattr(manifest_mod.Manifest, "append", orig_append)

    # no recover() call — the commit path handles the orphan
    assert vs.insert_records("db", "r", df2, key="id") == 2
    fresh = VersionedStore(spark, root)
    assert [r["record_key"] for r in fresh.doc("db", "r").orderBy("record_key").collect()] == [1, 2]


def test_versioned_store_torn_manifest_tmp(spark):
    """A stranded partial manifest.json.tmp never corrupts reads and
    recover() clears it."""
    from sirix_spark.store.store import VersionedStore

    root = tempfile.mkdtemp()
    vs = VersionedStore(spark, root)
    vs.store("db", "r", spark.createDataFrame([(1, "x")], "id long, v string"), key="id")
    tmp = os.path.join(vs._res_path("db", "r"), "manifest.json.tmp")
    with open(tmp, "w") as f:
        f.write('{"revisions": [')  # torn write
    fresh = VersionedStore(spark, root)
    assert fresh.latest_revision("db", "r") == 1
    removed = fresh.recover("db", "r")
    assert removed == [tmp]
    assert not os.path.exists(tmp)


def test_store_killed_before_first_manifest(spark):
    """store() killed after its parquet write but before revision 1's
    manifest: the resource officially doesn't exist; a retried
    store() must succeed (leftovers cleared), not die on
    errorifexists."""
    from sirix_spark.store.store import VersionedStore

    root = tempfile.mkdtemp()
    vs = VersionedStore(spark, root)
    df = spark.createDataFrame([(1, "x")], "id long, v string")
    # simulate: rev dir written, no manifest
    os.makedirs(vs._rev_dir("db", "r", 1), exist_ok=True)
    df.withColumnRenamed("id", "record_key").write.parquet(
        os.path.join(vs._rev_dir("db", "r", 1), "data")
    )
    assert not vs.exists_resource("db", "r")
    assert vs.store("db", "r", df, key="id") == 1
    assert [r["record_key"] for r in vs.doc("db", "r").collect()] == [1]
