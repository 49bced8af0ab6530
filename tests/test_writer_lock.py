"""One writer per resource: concurrent commits to one resource queue on
its writer lock, so each gets its own revision and no acknowledged
change is lost (the reference's one write transaction per resource,
JsonNodeTrx)."""

from __future__ import annotations

import json
import sys
import threading
import urllib.error
import urllib.request

import pytest

THREADS, PUTS = 4, 3


def _req(srv, path, method="GET", body=None):
    req = urllib.request.Request(
        f"http://{srv.host}:{srv.port}{path}",
        data=body.encode() if body is not None else None,
        method=method,
    )
    try:
        with urllib.request.urlopen(req, timeout=300) as r:
            return r.status, json.loads(r.read().decode() or "null")
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read().decode() or "null")


def _run_threads(target, n, timeout=600):
    errors = []

    def guarded(i):
        try:
            target(i)
        except Exception as e:  # surfaced by the assert below
            errors.append(e)

    threads = [threading.Thread(target=guarded, args=(i,)) for i in range(n)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout)
        assert not t.is_alive()
    assert not errors, errors


def test_concurrent_rest_puts_get_distinct_revisions(spark, tmp_path):
    from sirix_spark.api import Sirix

    sirix = Sirix(spark, str(tmp_path / "store"))
    srv = sirix.serve()
    try:
        status, _ = _req(srv, "/db/r?key=id", "POST", json.dumps([{"id": 0, "v": 0}]))
        assert status == 201
        acked: list[tuple[int, int, int]] = []  # (status, revision, record id)
        lock = threading.Lock()

        def client(i):
            for j in range(PUTS):
                rid = 1000 * (i + 1) + j
                status, body = _req(srv, "/db/r?key=id", "PUT", json.dumps([{"id": rid, "v": rid}]))
                with lock:
                    acked.append((status, (body or {}).get("revision"), rid))

        _run_threads(client, THREADS)
        assert sorted(s for s, _, _ in acked) == [200] * (THREADS * PUTS), acked
        revs = sorted(r for _, r, _ in acked)
        assert revs == list(range(2, THREADS * PUTS + 2)), acked
        store = sirix.store
        assert [e.revision for e in store._manifest("db", "r").entries] == list(
            range(1, THREADS * PUTS + 2)
        )
        head = {r["record_key"] for r in store.doc("db", "r").collect()}
        assert head == {0} | {rid for _, _, rid in acked}
        for _, rev, rid in acked:
            at = {r["record_key"] for r in store.doc("db", "r", revision=rev).collect()}
            assert rid in at, (rev, rid)
    finally:
        srv.stop()


@pytest.mark.parametrize("kind", ["xml", "doc"])
def test_concurrent_text_store_commits(spark, tmp_path, kind):
    """XmlStore and DocumentStore share the manifest read-modify-write
    commit: more threads than cores, switching often, all land."""
    if kind == "xml":
        from sirix_spark.store.xmlstore import XmlStore

        store = XmlStore(str(tmp_path))
        store.store("db", "r", "<a/>")
        text = lambda i, j: f"<a n='{i}-{j}'/>"  # noqa: E731
    else:
        from sirix_spark.store.docstore import DocumentStore

        store = DocumentStore(spark, str(tmp_path))
        store.store("db", "r", "{}")
        text = lambda i, j: json.dumps({"n": f"{i}-{j}"})  # noqa: E731
    got = []
    lock = threading.Lock()

    def client(i):
        for j in range(5):
            n = store.commit("db", "r", text(i, j))
            with lock:
                got.append((n, text(i, j)))

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        _run_threads(client, 8)
    finally:
        sys.setswitchinterval(interval)
    assert sorted(n for n, _ in got) == list(range(2, 42))
    assert store.revisions("db", "r") == list(range(1, 42))
    norm = json.loads if kind == "doc" else str
    for n, t in got:
        assert norm(store.read_text("db", "r", n)) == norm(t), n
