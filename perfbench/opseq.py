"""Seeded operation sequences and their expected results.

Pure Python: nothing here imports Spark or the program, so the tests
can check that one seed always yields one sequence. Everything a
workload sends to the program comes from the plans built here.
"""

from __future__ import annotations

import json
import random
from dataclasses import dataclass, field

# The read-only JSONiq registry queries. jsoniq_all_times_store is left
# out: it writes a versioned store inside what should be a read.
JSONIQ_QUERIES = (
    "jsoniq_filter_project",
    "jsoniq_group_count",
    "jsoniq_let_conditional",
    "jsoniq_string_filter",
    "jsoniq_count",
    "jsoniq_join_orders_customers",
    "jsoniq_quantified_embeddings",
    "jsoniq_array_minmax",
    "jsoniq_udf_pricing",
    "jsoniq_switch_classify",
)

DEPTS = ("Eng", "Sales", "Mkt", "Ops", "HR", "Finance", "Legal", "Supp")
CITIES = ("NYC", "LA", "SF", "ATL", "BOS", "CHI", "DEN", "DAL")

# history: the resource's shape and one checkpoint cycle of traffic.
CHECKPOINT_EVERY = 10  # the program's default; one cycle = 10 commits
HISTORY_RECORDS = 20_000
PUT_RECORDS = 200
SETUP_COMMITS = 4  # set-up PUTs after the ingest: revisions 2-5
PUT_NEW_SHARE = 0.1  # share of each PUT that inserts fresh keys
# Reads per cycle and the merge-on-read depth (deltas since the last
# checkpoint) of each. Open cost grows with depth, so the depth
# multiset is fixed and only the order and the revision a read lands
# on come from the seed: every seed then does the same amount of work.
# Six of them sit at the middle depth, so the median read is one of
# those six however the per-read noise orders them.
READ_DEPTHS = (0, 2, 3, 3, 4, 4, 4, 4, 4, 4, 5, 5, 6, 8)
# One node diff per cycle, from the cycle's own checkpoint to the next
# delta, so every seed diffs the same kind of revision pair (never the
# ingested revision 1 against its first delta).
DIFF_DEPTH = 1
READ_SQL = (
    "SELECT count(*) AS n, sum(age) AS s, "
    "sum(CASE WHEN active THEN 1 ELSE 0 END) AS a "
    "FROM {res} WHERE age >= {lo}"
)


def dumps(rec: dict) -> str:
    """Compact JSON: the byte count space_amp divides by."""
    return json.dumps(rec, separators=(",", ":"))


def passes(queries: tuple[str, ...], seed: int):
    """Endless passes, each a seeded permutation of every query once."""
    rng = random.Random(f"passes:{seed}")
    while True:
        p = list(queries)
        rng.shuffle(p)
        yield p


def record(rng: random.Random, key: int) -> dict:
    return {
        "id": key,
        "age": rng.randint(18, 65),
        "dept": rng.choice(DEPTS),
        "city": rng.choice(CITIES),
        "active": rng.random() < 0.5,
    }


def depth(rev: int) -> int:
    """Deltas merged on read at `rev`: revision 1 and every
    CHECKPOINT_EVERY-th revision are full checkpoints."""
    return rev - max(1, rev - rev % CHECKPOINT_EVERY)


@dataclass
class Op:
    kind: str  # "read" | "commit" | "diff"
    rev: int  # revision read, committed, or diffed to (from rev - 1)
    body: str = ""  # commit: NDJSON upserts
    sql: str = ""  # read: the aggregate
    expect: object = None  # read: row dict; commit: None; diff: sorted keys


@dataclass
class History:
    """The in-client model of the versioned resource: the records of
    every revision, and the traffic that produced them."""

    initial: list[dict]
    setup_bodies: list[list[dict]] = field(default_factory=list)
    snapshots: list[dict[int, dict]] = field(default_factory=list)
    json_bytes: int = 0  # JSON bytes of every record the client wrote
    _rng: random.Random | None = None
    _next_key: int = HISTORY_RECORDS

    @property
    def latest(self) -> int:
        return len(self.snapshots)

    def _upserts(self) -> list[dict]:
        rng = self._rng
        n_new = int(PUT_RECORDS * PUT_NEW_SHARE)
        old = rng.sample(range(self._next_key), PUT_RECORDS - n_new)
        new = range(self._next_key, self._next_key + n_new)
        self._next_key += n_new
        return [record(rng, k) for k in sorted([*old, *new])]

    def _commit(self, recs: list[dict]) -> None:
        snap = dict(self.snapshots[-1])
        for r in recs:
            snap[r["id"]] = r
        self.snapshots.append(snap)
        self.json_bytes += sum(len(dumps(r)) for r in recs)

    def aggregate(self, rev: int, lo: int) -> dict:
        rows = [r for r in self.snapshots[rev - 1].values() if r["age"] >= lo]
        return {
            "n": len(rows),
            "s": sum(r["age"] for r in rows),
            "a": sum(1 for r in rows if r["active"]),
        }

    def changed_keys(self, rev: int) -> list[int]:
        old, new = self.snapshots[rev - 2], self.snapshots[rev - 1]
        return sorted(k for k, r in new.items() if old.get(k) != r)

    def add_cycle(self, res: str) -> list[Op]:
        """Append one checkpoint cycle of seeded traffic: its commits,
        one read per READ_DEPTHS entry and one diff. Each read or diff
        lands in a seeded gap between commits, chosen among the gaps
        where a revision of its depth already exists; the diff only on
        a revision this cycle commits."""
        rng = self._rng
        base = self.latest  # revisions that exist before the cycle
        commits = []
        for _ in range(CHECKPOINT_EVERY):
            recs = self._upserts()
            self._commit(recs)
            commits.append(Op("commit", self.latest, body="\n".join(dumps(r) for r in recs)))
        gaps: list[list[Op]] = [[] for _ in range(CHECKPOINT_EVERY + 1)]
        for kind, want in [("read", d) for d in READ_DEPTHS] + [("diff", DIFF_DEPTH)]:
            lo = base + 1 if kind == "diff" else 1
            at = {
                g: [r for r in range(lo, base + g + 1) if depth(r) == want]
                for g in range(CHECKPOINT_EVERY + 1)
            }
            g = rng.choice([g for g, revs in at.items() if revs])
            rev = rng.choice(at[g])
            if kind == "read":
                age = rng.randint(18, 40)
                sql = READ_SQL.format(res=res, lo=age)
                gaps[g].append(Op("read", rev, sql=sql, expect=self.aggregate(rev, age)))
            else:
                gaps[g].append(Op("diff", rev, expect=self.changed_keys(rev)))
        ops: list[Op] = []
        for g, extra in enumerate(gaps):
            rng.shuffle(extra)
            ops += extra
            if g < CHECKPOINT_EVERY:
                ops.append(commits[g])
        return ops


def history(seed: int, setup_commits: int) -> History:
    """The initial records (revision 1) plus `setup_commits` set-up
    upserts. Timed cycles are added with History.add_cycle, so a run
    can extend the same model."""
    rng = random.Random(f"history:{seed}")
    initial = [record(rng, k) for k in range(HISTORY_RECORDS)]
    h = History(initial=initial, _rng=rng)
    h.snapshots.append({r["id"]: r for r in initial})
    h.json_bytes = sum(len(dumps(r)) for r in initial)
    for _ in range(setup_commits):
        recs = h._upserts()
        h._commit(recs)
        h.setup_bodies.append(recs)
    return h
