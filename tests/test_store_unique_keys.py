"""One commit holds each record_key at most once. A commit that
repeats a key — a delta, a cadence checkpoint, the store() that
creates a resource, a REST PUT — is rejected with an error naming the
key; the head stays where it was and the next commit takes the
revision number the rejected one would have had."""

from __future__ import annotations

import json
import urllib.error
import urllib.request

import pytest

from sirix_spark.store import VersionedStore

DB, RES = "db", "r"
SCHEMA = "id long, v long"


def _df(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def _state(store, revision=None):
    return sorted(tuple(r) for r in store.doc(DB, RES, revision=revision).collect())


@pytest.fixture()
def store(spark, tmp_path):
    s = VersionedStore(spark, str(tmp_path / "s"), checkpoint_every=3)
    s.store(DB, RES, _df(spark, [(0, 0), (1, 1)]), key="id")
    return s


def test_delta_with_repeated_key_rejected(spark, store):
    with pytest.raises(ValueError, match="record_key 7 occurs twice"):
        store.upsert_records(DB, RES, _df(spark, [(7, 10), (2, 2), (7, 11)]), key="id")
    assert store.latest_revision(DB, RES) == 1
    assert _state(store) == [(0, 0), (1, 1)]
    assert store.upsert_records(DB, RES, _df(spark, [(7, 10)]), key="id") == 2
    assert _state(store) == [(0, 0), (1, 1), (7, 10)]


def test_checkpoint_with_repeated_key_rejected(spark, store):
    store.upsert_records(DB, RES, _df(spark, [(2, 2)]), key="id")  # r2
    with pytest.raises(ValueError, match="record_key 1 occurs twice"):
        store.insert_records(DB, RES, _df(spark, [(1, 5), (1, 6)]), key="id")
    assert store.latest_revision(DB, RES) == 2
    assert store.insert_records(DB, RES, _df(spark, [(1, 6)]), key="id") == 3
    assert store._manifest(DB, RES).entry(3).kind == "checkpoint"
    # the checkpoint holds each key once: the row count carries over
    # to the next delta unchanged
    assert _state(store, 3) == [(0, 0), (1, 6), (2, 2)]
    store.upsert_records(DB, RES, _df(spark, [(3, 3)]), key="id")  # r4
    assert _state(store, 4) == [(0, 0), (1, 6), (2, 2), (3, 3)]


def test_store_with_repeated_key_rejected(spark, tmp_path):
    s = VersionedStore(spark, str(tmp_path / "s"))
    with pytest.raises(ValueError, match="record_key 2 occurs twice"):
        s.store(DB, RES, _df(spark, [(2, 5), (2, 6), (3, 3)]), key="id")
    assert not s.exists_resource(DB, RES)
    assert s.store(DB, RES, _df(spark, [(2, 5), (3, 3)]), key="id") == 1
    assert _state(s) == [(2, 5), (3, 3)]


def _req(srv, path, method, body):
    req = urllib.request.Request(
        f"http://{srv.host}:{srv.port}{path}", data=body.encode(), method=method
    )
    try:
        with urllib.request.urlopen(req, timeout=300) as r:
            return r.status, json.loads(r.read().decode())
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read().decode())


def test_rest_put_with_repeated_key_rejected(spark, tmp_path):
    from sirix_spark.api import Sirix

    sirix = Sirix(spark, str(tmp_path / "store"))
    srv = sirix.serve()
    try:
        assert _req(srv, "/db/r?key=id", "POST", json.dumps([{"id": 0, "v": 0}]))[0] == 201
        status, body = _req(
            srv, "/db/r?key=id", "PUT", json.dumps([{"id": 4, "v": 1}, {"id": 4, "v": 2}])
        )
        assert status == 400
        assert "record_key 4 occurs twice" in body["error"]
        assert sirix.store.latest_revision("db", "r") == 1
        status, body = _req(srv, "/db/r?key=id", "PUT", json.dumps([{"id": 4, "v": 2}]))
        assert (status, body) == (200, {"revision": 2})
    finally:
        srv.stop()
