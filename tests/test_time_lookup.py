"""Point-in-time opens of all three stores share one catalog lookup
(manifest.Manifest.revision_at): the latest revision committed at or
before an instant, with zone-less instants read as UTC and nothing
before the first revision."""

from __future__ import annotations

import json
from datetime import datetime, timezone

import pytest

from sirix_spark.store.manifest import Manifest, RevisionEntry

FIRST = "2024-01-01T12:00:00"  # revision 1's commit instant, UTC
PROBES = [
    ("2024-01-01T11:30:00", None),  # before the first revision
    ("2024-01-01T12:00:00", 1),  # at it
    ("2025-06-01T00:00:00", 1),  # between revision 1 and 2 (now)
    ("2099-01-01T00:00:00", 2),  # after the head
]


def run(spark, store, query: str) -> str:
    from sirix_spark.jsoniq.docmodel import DocEvaluator

    return DocEvaluator(spark, store).execute(query)


@pytest.fixture()
def docstore(spark, tmp_path):
    from sirix_spark.store.docstore import DocumentStore

    ds = DocumentStore(spark, str(tmp_path))
    ds.store("d", "r", '[{"id":1,"validFrom":"2020-01-01T00:00:00Z",'
             '"validTo":"2030-01-01T00:00:00Z","v":1}]', commit_ts=FIRST)
    ds.set_valid_time_paths("d", "r", "validFrom", "validTo")
    ds.commit("d", "r", '[{"id":1,"validFrom":"2020-01-01T00:00:00Z",'
              '"validTo":"2030-01-01T00:00:00Z","v":2}]')
    return ds


def _v(out: str) -> list[int]:
    return [json.loads(x)["v"] for x in out.split(" ") if x]


@pytest.mark.parametrize("probe, want", PROBES)
def test_jn_open_naive_instant_is_utc(spark, docstore, probe, want):
    expect = [] if want is None else [want]
    for lit in (probe, probe + "Z"):
        got = run(spark, docstore, f"jn:open('d','r',xs:dateTime('{lit}'))[]")
        assert _v(got) == expect, lit


@pytest.mark.parametrize("probe, want", PROBES)
def test_jn_open_bitemporal_naive_instant_is_utc(spark, docstore, probe, want):
    expect = [] if want is None else [want]
    for lit in (probe, probe + "Z"):
        got = run(
            spark, docstore,
            f"jn:open-bitemporal('d','r',xs:dateTime('{lit}'),"
            "xs:dateTime('2025-01-01T00:00:00Z'))",
        )
        assert _v(got) == expect, lit


@pytest.mark.parametrize("probe, want", PROBES)
def test_xml_open_naive_instant_is_utc(spark, docstore, probe, want):
    from sirix_spark.store.xmlstore import XmlStore

    xs = XmlStore(docstore.root)
    xs.store("x", "r", "<a>one</a>", commit_ts=FIRST)
    xs.commit("x", "r", "<a>two</a>")
    expect = "" if want is None else str(want)
    for lit in (probe, probe + "Z"):
        got = run(spark, docstore, f"sdb:revision(xml:open('x','r', xs:dateTime('{lit}')))")
        assert got == expect, lit
        assert xs.open_at("x", "r", lit) == want


def test_one_lookup_for_every_store(tmp_path):
    """The catalog answers the same at-or-before rule for a naive
    datetime, an aware one and ISO text, and a range over it."""
    m = Manifest(str(tmp_path))
    for rev, at in enumerate(["2024-01-01T00:00:00+00:00", "2024-02-01T00:00:00+00:00"], 1):
        m.entries.append(RevisionEntry(rev, at, None, None, "delta"))
    naive = datetime(2024, 1, 15)
    assert m.revision_at(naive) == m.revision_at(naive.replace(tzinfo=timezone.utc)) == 1
    assert m.revision_at("2024-01-15T00:00:00") == m.revision_at("2024-01-15T00:00:00Z") == 1
    assert m.revision_at(datetime(2023, 12, 31)) is None
    assert m.revision_at("2024-02-01T00:00:00") == 2
    assert m.revisions_between(datetime(2023, 1, 1), "2024-01-01T00:00:00") == [1]
