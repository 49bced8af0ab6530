"""Stable node identity across revisions (store/docwtx.py,
docstore keys sidecars) — the reference's monotonic nodeKey
discipline (JsonNodeTrxImpl insert*/remove/commit) that powers
jn:first-existing / jn:last-existing / sdb:item-history /
sdb:is-deleted. Timelines replicate
bundles/sirix-query/src/test/java/io/sirix/query/function/jn/temporal/
SetupRevisions.java and sdb/trx/ItemHistoryTest.java (legacy nodeKey
constants)."""

from __future__ import annotations

import json

import pytest

JSON = (
    '{"foo":["bar",null,2.33],"bar":{"hello":"world","helloo":true},'
    '"baz":"hello","tada":[{"foo":"bar"},{"baz":false},"boo",{},[]]}'
)


@pytest.fixture()
def docstore(spark, tmp_path):
    from sirix_spark.store.docstore import DocumentStore

    return DocumentStore(spark, str(tmp_path))


def run(spark, store, query: str) -> str:
    from sirix_spark.jsoniq.docmodel import DocEvaluator

    return DocEvaluator(spark, store).execute(query)


def _setup_revisions(store):
    """SetupRevisions.java (legacy keys): 5 revisions incl. the empty
    explicit commit after the auto-committing subtree insert."""
    from sirix_spark.store.docwtx import DocWtx

    store.store("db", "doc.jn", JSON)
    w = DocWtx(store, "db", "doc.jn")
    w.move_to(3)
    w.insert_subtree_as_first_child('{"foo":"bar"}')  # auto-commit r2
    w.commit()  # r3 empty
    w.move_to(11).remove().commit()  # r4
    w.move_to(25).insert_array_as_right_sibling()
    w.commit()  # r5
    return w


def test_setup_revisions_timeline_and_keys(spark, docstore):
    _setup_revisions(docstore)
    assert docstore.revisions("db", "doc.jn") == [1, 2, 3, 4, 5]
    # inserted {"foo":"bar"} drew fresh keys 26,27,28; the rev-5 array 29
    assert docstore.node_revisions("db", "doc.jn", 26) == [2, 3, 4, 5]
    assert docstore.node_revisions("db", "doc.jn", 11) == [1, 2, 3]
    assert docstore.node_revisions("db", "doc.jn", 29) == [5]
    # empty commit preserved every key
    assert docstore.read_keys("db", "doc.jn", 2) == docstore.read_keys(
        "db", "doc.jn", 3
    )


def test_first_last_existing(spark, docstore):
    _setup_revisions(docstore)
    q = "sdb:revision(jn:first-existing(sdb:select-item(jn:doc('db','doc.jn'), 26)))"
    assert run(spark, docstore, q) == "2"
    q = "sdb:revision(jn:last-existing(sdb:select-item(jn:doc('db','doc.jn',2), 11)))"
    assert run(spark, docstore, q) == "3"
    q = "sdb:revision(jn:first-existing(sdb:select-item(jn:doc('db','doc.jn'), 29)))"
    assert run(spark, docstore, q) == "5"


def test_item_history_value_chain(spark, docstore):
    from sirix_spark.store.docwtx import DocWtx

    w = DocWtx(docstore, "db", "h.jn")
    w.insert_subtree_as_first_child('["bla", "blubb"]')
    w.move_to(2).set_string_value("blabla").commit()
    w.move_to(2).set_string_value("blablabla").commit()
    w.move_to(2).remove().commit()
    q = "sdb:item-history(sdb:select-item(jn:doc('db','h.jn', 1), 2))"
    assert run(spark, docstore, q) == '"bla" "blabla" "blablabla"'
    q = "sdb:is-deleted(sdb:select-item(jn:doc('db','h.jn', 1), 2))"
    assert run(spark, docstore, q) == "true"


def test_update_interpreter_keeps_identity(spark, docstore):
    """JSONiq updates route through the same keyed-tree commit: the
    untouched sibling keeps its key, the replacement draws a fresh
    one (monotonic counter, never reused)."""
    run(spark, docstore, "jn:store('db','u.jn','{\"a\":1,\"b\":2}')")
    # keys r1: 1 obj, 2 fld a, 3 val 1, 4 fld b, 5 val 2
    # primitive value replace = the reference's setValue: key SURVIVES
    # (ShellDemoQueryTest: price history shows 999 then 899)
    run(spark, docstore, "replace json value of jn:doc('db','u.jn').a with 9")
    assert docstore.read_keys("db", "u.jn", 2) == [1, 2, 3, 4, 5]
    q = "sdb:item-history(sdb:select-item(jn:doc('db','u.jn'), 3))"
    assert run(spark, docstore, q) == "1 9"
    # structural replace draws a fresh subtree
    run(spark, docstore, "replace json value of jn:doc('db','u.jn').a with [7]")
    assert docstore.read_keys("db", "u.jn", 3) == [1, 2, 6, 7, 4, 5]
    run(spark, docstore, "delete json jn:doc('db','u.jn').b")
    assert docstore.read_keys("db", "u.jn", 4) == [1, 2, 6, 7]
    # b's field record (key 4) existed in r1..r3 only
    assert docstore.node_revisions("db", "u.jn", 4) == [1, 2, 3]


def test_author_metadata(spark, docstore):
    from sirix_spark.store.docwtx import DocWtx

    w = DocWtx(docstore, "db", "a.jn")
    w.insert_subtree_as_first_child('["x"]')
    DocWtx(docstore, "db", "a.jn", author="johannes", author_id="u-1").move_to(
        2
    ).set_string_value("y").commit()
    assert run(spark, docstore, "sdb:author-name(jn:doc('db','a.jn', 1))") == "admin"
    assert (
        run(spark, docstore, "sdb:author-name(jn:doc('db','a.jn', 2))")
        == "johannes"
    )
    assert run(spark, docstore, "sdb:author-id(jn:doc('db','a.jn', 2))") == "u-1"


def test_rollback_discards(spark, docstore):
    from sirix_spark.store.docwtx import DocWtx

    w = DocWtx(docstore, "db", "r.jn")
    w.insert_subtree_as_first_child('["original"]')
    w.move_to(2).set_string_value("modified")
    w.rollback()
    assert run(spark, docstore, "jn:doc('db','r.jn')") == '["original"]'
    assert docstore.revisions("db", "r.jn") == [1]


def test_past_future_axis_order(spark, docstore):
    """Reference Past/FutureAxis: excludeSelf default, past iterates
    newest-first (SimpleQueryIntegrationTest#testTimeTravelPast)."""
    _setup_revisions(docstore)
    q = "for $r in jn:past(jn:doc('db','doc.jn',3)) return sdb:revision($r)"
    assert run(spark, docstore, q) == "2 1"
    q = "for $r in jn:past(jn:doc('db','doc.jn',3), true()) return sdb:revision($r)"
    assert run(spark, docstore, q) == "3 2 1"
    q = "for $r in jn:future(jn:doc('db','doc.jn',3)) return sdb:revision($r)"
    assert run(spark, docstore, q) == "4 5"


BITEMPORAL_JSON = json.dumps(
    [
        {"id": 1, "name": "Alice", "salary": 50000,
         "validFrom": "2020-01-01T00:00:00Z", "validTo": "2020-12-31T23:59:59Z"},
        {"id": 2, "name": "Bob", "salary": 60000,
         "validFrom": "2020-06-01T00:00:00Z", "validTo": "2021-05-31T23:59:59Z"},
        {"id": 3, "name": "Charlie", "salary": 55000,
         "validFrom": "2019-01-01T00:00:00Z", "validTo": "2019-12-31T23:59:59Z"},
    ],
    separators=(",", ":"),
)


def test_valid_at_doc_mode(spark, docstore):
    """jn:valid-at over the BitemporalQueryIntegrationTest dataset:
    inclusive interval containment, document order."""
    docstore.store("bitemporal-db", "employees", BITEMPORAL_JSON)
    docstore.set_valid_time_paths("bitemporal-db", "employees", "validFrom", "validTo")
    got = run(
        spark, docstore,
        "jn:valid-at('bitemporal-db', 'employees', xs:dateTime('2020-07-01T12:00:00Z'))",
    )
    ids = [json.loads(x)["id"] for x in got.split(" ")]
    assert ids == [1, 2]
    # the auto-registered CAS index (StoreValidTimeAutoIndex analog)
    assert docstore.find_index(
        "bitemporal-db", "employees", "cas", "xs:dateTime", ("//[]/validFrom",)
    ) is not None
    # boundary inclusivity: validFrom itself and validTo itself match
    got = run(
        spark, docstore,
        "jn:valid-at('bitemporal-db', 'employees', xs:dateTime('2019-01-01T00:00:00Z'))",
    )
    assert [json.loads(x)["id"] for x in got.split(" ")] == [3]
    got = run(
        spark, docstore,
        "jn:valid-at('bitemporal-db', 'employees', xs:dateTime('2019-12-31T23:59:59Z'))",
    )
    assert [json.loads(x)["id"] for x in got.split(" ")] == [3]


def test_valid_at_differential(spark, docstore):
    """ValidTimeIndexEndToEndTest's differential property: jn:valid-at
    equals brute force over a randomized interval set, probing interval
    endpoints and ±1ms (millisecond precision, open-ended intervals,
    point intervals)."""
    import random
    from datetime import datetime, timedelta, timezone

    rnd = random.Random(20260619)
    base = datetime(2019, 1, 1, tzinfo=timezone.utc)
    universal = datetime(2021, 6, 1, 12, 0, 0, tzinfo=timezone.utc)
    recs = []
    for i in range(40):
        frm = base + timedelta(days=rnd.randint(0, 880), seconds=rnd.randint(0, 86399))
        if i % 6 == 0:
            to = datetime(2999, 12, 31, 23, 59, 59, tzinfo=timezone.utc)
        else:
            to = universal + timedelta(days=1 + rnd.randint(0, 700))
        recs.append((i, frm, to))
    recs.append((40, universal - timedelta(milliseconds=3), universal + timedelta(milliseconds=250)))
    recs.append((41, universal, universal))  # point interval

    def iso(d):
        s = d.strftime("%Y-%m-%dT%H:%M:%S")
        if d.microsecond:
            s += f".{d.microsecond // 1000:03d}"
        return s + "Z"

    doc = [
        {"id": i, "validFrom": iso(f), "validTo": iso(t)} for i, f, t in recs
    ]
    docstore.store("vt", "r", json.dumps(doc, separators=(",", ":")))
    docstore.set_valid_time_paths("vt", "r", "validFrom", "validTo")
    probes = {universal, datetime(1900, 1, 1, tzinfo=timezone.utc)}
    for _, f, t in recs[:6] + recs[-2:]:
        for p in (f, t, f - timedelta(milliseconds=1), t + timedelta(milliseconds=1)):
            probes.add(p)
    for p in sorted(probes):
        brute = sorted(i for i, f, t in recs if f <= p <= t)
        got = run(spark, docstore, f"jn:valid-at('vt', 'r', xs:dateTime('{iso(p)}'))")
        ids = sorted(json.loads(x)["id"] for x in got.split(" ") if x)
        assert ids == brute, f"mismatch at {iso(p)}"


def test_open_bitemporal(spark, docstore):
    """jn:open-bitemporal: transaction time resolves the revision
    (like jn:open), valid time filters members; a tx instant before
    the first commit yields the empty sequence."""
    docstore.store("bt", "r", BITEMPORAL_JSON)
    docstore.set_valid_time_paths("bt", "r", "validFrom", "validTo")
    got = run(
        spark, docstore,
        "jn:open-bitemporal('bt', 'r', xs:dateTime('2100-01-01T00:00:00Z'), "
        "xs:dateTime('2020-07-01T12:00:00Z'))",
    )
    assert [json.loads(x)["id"] for x in got.split(" ")] == [1, 2]
    got = run(
        spark, docstore,
        "jn:open-bitemporal('bt', 'r', xs:dateTime('2000-01-01T00:00:00Z'), "
        "xs:dateTime('2020-07-01T12:00:00Z'))",
    )
    assert got == ""


def test_versioned_xml_store(spark, docstore):
    """XmlStore + xml:doc/xml:open/xml:open-revisions (the
    function/xml/io temporal tests' 5-revision timeline)."""
    from sirix_spark.store.xmlstore import XmlStore

    xs = XmlStore(docstore.root)
    xs.store("x", "r", "<a>one</a>")
    xs.commit("x", "r", "<a>two</a>")
    xs.commit("x", "r", "<a>three</a>")
    assert xs.revisions("x", "r") == [1, 2, 3]
    q = "sdb:revision(xml:open('x','r', xs:dateTime('2200-01-01T00:00:00Z')))"
    assert run(spark, docstore, q) == "3"
    q = ("count(xml:open-revisions('x','r', xs:dateTime('1900-01-01T00:00:00Z'), "
         "xs:dateTime('2200-01-01T00:00:00Z')))")
    assert run(spark, docstore, q) == "3"
    assert run(spark, docstore, "xml:doc('x','r', 2)") == "<a>two</a>"
    # before the first revision → empty
    assert run(spark, docstore, "xml:open('x','r', xs:dateTime('1900-01-01T00:00:00Z'))") == ""


def test_duplicate_object_record_insert_raises(spark, docstore):
    """ADVICE r3 (high): inserting an object record whose name already
    exists in the target object must fail closed — a silent duplicate
    would collapse in tree_value() while tree_keys() still emits both
    records, misaligning the keys sidecar for every later node."""
    from sirix_spark.store.docstore import DocStoreError
    from sirix_spark.store.docwtx import DocWtx, tree_keys, tree_value

    w = DocWtx(docstore, "db", "dup.jn")
    w.insert_subtree_as_first_child('{"a":1,"b":2}')
    with pytest.raises(DocStoreError, match="duplicate object key"):
        w.move_to(1).insert_object_record_as_first_child("a", 99)
    # tree untouched: value/keys sidecar still aligned
    assert tree_value(w.root) == {"a": 1, "b": 2}
    assert len(tree_keys(w.root)) == 5
    w.commit()
    assert run(spark, docstore, "jn:doc('db','dup.jn').b") == "2"
    # history of 'b' stays a single clean chain
    q = "sdb:item-history(sdb:select-item(jn:doc('db','dup.jn'), 5))"
    assert run(spark, docstore, q) == "2 2"


def test_object_merge_cursor_and_keys(spark, docstore):
    """ADVICE r3 (medium): object-into-object subtree insert merges
    fields without keying the discarded wrapper (the reference's
    skipRootToken path) and lands the cursor on the first merged
    field's value so subsequent cursor ops work."""
    from sirix_spark.store.docstore import DocStoreError
    from sirix_spark.store.docwtx import DocWtx

    w = DocWtx(docstore, "db", "om.jn")
    w.insert_subtree_as_first_child('{"x":1}')  # keys 1,2,3
    w.move_to(1).insert_subtree_as_first_child('{"p":7,"q":8}', commit=False)
    # wrapper slot NOT allocated: p-record 4, p-value 5, q-record 6, q-value 7
    assert docstore.next_key("db", "om.jn") == 4  # nothing committed yet
    assert w.cursor == 5
    w.set_string_value("seven").commit()
    assert run(spark, docstore, "jn:doc('db','om.jn')") == (
        '{"p":"seven","q":8,"x":1}'
    )
    assert docstore.read_keys("db", "om.jn", 2) == [1, 4, 5, 6, 7, 2, 3]
    # duplicate field in the merged object fails closed too
    with pytest.raises(DocStoreError, match="duplicate object key"):
        w.move_to(1).insert_subtree_as_first_child('{"x":0}', commit=False)
    # empty-object merge is a no-op that leaves the cursor on the target
    w.move_to(1).insert_subtree_as_first_child("{}", commit=False)
    assert w.cursor == 1


def test_next_key_legacy_fallback_scans_all_revisions(spark, docstore):
    """ADVICE r3 (low): a manifest without next_key must derive the
    counter from ALL revisions' key sets — a key deleted in the latest
    revision must never be reissued."""
    from sirix_spark.store.docwtx import DocWtx

    w = DocWtx(docstore, "db", "nk.jn")
    w.insert_subtree_as_first_child('["a","b","c"]')  # keys 1..4
    w.move_to(4).remove().commit()  # r2 keys 1,2,3
    m = docstore._manifest("db", "nk.jn")
    del m.data["next_key"]
    m.save()
    assert docstore.next_key("db", "nk.jn") == 5


def test_jnum_exact_equality():
    """ADVICE r3 (low): JNum equality/hash must not collapse to float —
    distinct out-of-double-range and >17-significant-digit decimals
    stay distinct, while in-range values still compare and hash
    consistently with int/float."""
    from sirix_spark.store.docnodes import loads_doc

    big2, big3 = loads_doc("2e308"), loads_doc("3e308")
    assert big2 != big3
    assert hash(big2) != hash(big3)
    a = loads_doc("1.23456789012345678901")
    b = loads_doc("1.23456789012345678902")
    assert a != b
    two = loads_doc("2.5")
    assert two == 2.5
    assert hash(two) == hash(2.5)
    assert loads_doc("7") == 7
    assert hash(loads_doc("7")) == hash(7)
    assert loads_doc("2e308") == loads_doc("2e308")
