"""Tests of the benchmark itself: seeded inputs are reproducible, differ
across seeds, and are all the program ever receives.

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import re
import sys
from itertools import islice

import pyarrow.parquet as pq
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import datagen  # noqa: E402
import opseq  # noqa: E402
from tracing import Tracer  # noqa: E402


def _traffic(seed: int, cycles: int = 2) -> list[tuple]:
    """Everything the history client sends: (kind, revision, SQL, PUT
    body) per op, over `cycles` checkpoint cycles."""
    h = opseq.history(seed, opseq.SETUP_COMMITS)
    out = []
    for _ in range(cycles):
        out += [(op.kind, op.rev, op.sql, op.body) for op in h.add_cycle("hist")]
    return out


def _passes(seed: int) -> list[list[str]]:
    return list(islice(opseq.passes(opseq.JSONIQ_QUERIES, seed), 5))


def _tables(tmp_path, seed: int) -> dict[str, list]:
    paths = datagen.jsoniq_tables(str(tmp_path / f"s{seed}"), seed)
    return {name: pq.read_table(p).to_pylist() for name, p in paths.items()}


def test_same_seed_same_sequence():
    assert _traffic(7) == _traffic(7)
    assert _passes(7) == _passes(7)


def test_same_seed_same_tables(tmp_path):
    assert _tables(tmp_path, 7) == _tables(tmp_path / "again", 7)


def test_other_seed_changes_ops_revisions_and_bodies(tmp_path):
    a, b = _traffic(7), _traffic(8)
    assert [op[0] for op in a] != [op[0] for op in b]  # op order
    reads = lambda t: [(op[1], op[2]) for op in t if op[0] == "read"]  # noqa: E731
    assert reads(a) != reads(b)  # revision picks and SQL parameters
    bodies = lambda t: [op[3] for op in t if op[0] == "commit"]  # noqa: E731
    assert set(bodies(a)).isdisjoint(bodies(b))  # PUT bodies
    assert _passes(7) != _passes(8)
    assert _tables(tmp_path, 7)["events"] != _tables(tmp_path, 8)["events"]


def test_cycle_shape_is_seed_independent():
    """Every seed does the same work: one checkpoint cycle of commits,
    the same multiset of read depths, one diff of fixed depth."""
    for seed in range(5):
        h = opseq.history(seed, opseq.SETUP_COMMITS)
        for _ in range(2):
            first = h.latest + 1
            ops = h.add_cycle("hist")
            commits = [op.rev for op in ops if op.kind == "commit"]
            assert commits == list(range(first, first + opseq.CHECKPOINT_EVERY))
            depths = sorted(opseq.depth(op.rev) for op in ops if op.kind == "read")
            assert depths == sorted(opseq.READ_DEPTHS)
            diffs = [op.rev for op in ops if op.kind == "diff"]
            assert [opseq.depth(r) for r in diffs] == [opseq.DIFF_DEPTH]
            assert diffs[0] in commits


def test_reads_and_diffs_name_existing_revisions():
    h = opseq.history(3, opseq.SETUP_COMMITS)
    for _ in range(3):
        latest = h.latest
        for op in h.add_cycle("hist"):
            if op.kind == "commit":
                latest = op.rev
            else:
                assert 1 <= op.rev <= latest


def test_program_inputs_are_generated():
    """The program receives generated records and SQL only: no seed, no
    workload name, nothing outside the generator's domains."""
    seed = 424242
    for kind, rev, sql, body in _traffic(seed):
        sent = sql + body
        assert str(seed) not in sent and "history" not in sent
        if kind == "read":
            lo = int(re.search(r">= (\d+)$", sql).group(1))
            assert sql == opseq.READ_SQL.format(res="hist", lo=lo)
        if kind == "commit":
            for line in body.split("\n"):
                r = json.loads(line)
                assert set(r) == {"id", "age", "dept", "city", "active"}
                assert 18 <= r["age"] <= 65
                assert r["dept"] in opseq.DEPTS and r["city"] in opseq.CITIES


def test_model_tracks_upserts():
    h = opseq.history(5, opseq.SETUP_COMMITS)
    ops = h.add_cycle("hist")
    commit = next(op for op in ops if op.kind == "commit")
    recs = [json.loads(line) for line in commit.body.split("\n")]
    snap = h.snapshots[commit.rev - 1]
    assert all(snap[r["id"]] == r for r in recs)
    new_keys = int(opseq.PUT_RECORDS * opseq.PUT_NEW_SHARE)
    assert len(snap) == opseq.HISTORY_RECORDS + new_keys * (commit.rev - 1)
    changed = h.changed_keys(commit.rev)
    assert set(changed) <= {r["id"] for r in recs}


def test_self_time_subtracts_children():
    tr = Tracer(spark=None, jvm_pid=0)
    with tr.span("outer") as outer:
        with tr.span("inner") as inner:
            pass
    total = (outer.t1 - outer.t0) * 1000
    child = (inner.t1 - inner.t0) * 1000
    got = tr.self_ms()
    assert got["outer"] == pytest.approx(total - child)
    assert got["inner"] == pytest.approx(child)
