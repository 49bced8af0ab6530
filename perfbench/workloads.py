"""The closed-loop workloads. Each is one client in one process:
set-up, expected results (DuckDB or the in-client model) computed
before timing, then a timed phase of whole units (query passes or
checkpoint cycles) until --seconds have passed.

A workload returns a Result; run.py turns it into metrics.
"""

from __future__ import annotations

import http.client
import json
import os
import time
import urllib.parse
from dataclasses import dataclass, field

import datagen
import opseq
import oracles
from procstat import du, steal_s
from tracing import Tracer

JSONIQ_WARM_PASSES = 8  # the JIT keeps shortening passes for about 8-12
JSONIQ_MIN_PASSES = 10
# set-up reads every set-up revision this many times, newest first, so
# the timed cycle starts with the REST and merge-on-read paths warm
HISTORY_WARM_PASSES = 2
DB = "bench"
# Steal (CPU time the hypervisor gave to other guests) above this many
# seconds per second, summed over the box's CPUs, marks a contended
# unit or read. Quiet stretches here steal 0-0.04 s/s; history reads
# that stole 0.05-0.3 s/s took 15-35% longer than their neighbours.
STEAL_LIMIT = 0.05
# A history read timed while the box was contended is sent again (it is
# a pure GET) at most this many times; the cycle itself is never re-run.
READ_RETIMES = 2


@dataclass
class Phase:
    """One timed phase: per-kind latencies (ms), op counts, wall time."""

    lat: dict[str, list[float]] = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    wall_s: float = 0.0
    units: int = 0
    unit_rates: list[float] = field(default_factory=list)  # ops/s per unit
    discarded: int = 0  # units timed while the box was contended
    retimed: int = 0  # contended reads sent again
    retimed_s: float = 0.0  # wall time of those contended attempts
    tracer: Tracer | None = None

    def record(self, kind: str, ms: float, ok: bool) -> None:
        self.lat.setdefault(kind, []).append(ms)
        self.attempted += 1
        self.failed += not ok


@dataclass
class Result:
    setup_s: float
    ingest_s: float
    space_amp: float | None
    phases: list[Phase]  # untraced; then traced, in trace mode
    setup_op_ms: list[float] = field(default_factory=list)  # in order


class Context:
    """What a workload needs from run.py: the session, where to write,
    the run's arguments, and a list of closers to call at the end."""

    def __init__(self, spark, jvm_pid, work, seed, seconds, trace, session_s):
        self.spark, self.jvm_pid, self.work = spark, jvm_pid, work
        self.seed, self.seconds, self.trace = seed, seconds, trace
        self.session_s = session_s
        self.closers: list = []

    def phases(self, run_unit, units, min_units: int, max_discards: int) -> list[Phase]:
        """The timed phase: whole units until --seconds have passed and
        at least `min_units` ran. In trace mode units alternate between
        a traced and an untraced phase, so both see the same mix; the
        traced unit goes first, so warm-up drift counts against it.

        A unit during which the hypervisor stole more than STEAL_LIMIT
        of the box's CPU is run again, up to `max_discards` times per
        phase: its ops still count for correctness, its timings do not.
        A traced run, twice as long already, keeps every unit. Reads a
        unit sent again (Phase.retimed) count the same way: neither they
        nor their time enter the unit's rate."""
        phases = [Phase()]
        if self.trace:
            phases.append(Phase(tracer=Tracer(self.spark, self.jvm_pid)))
            phases[1].tracer.install()
            min_units, max_discards = max(2, min_units), 0
        try:
            for n, unit in enumerate(units):
                kept = sum(p.units for p in phases)
                ph = phases[(kept + 1) % len(phases)]
                got = Phase(tracer=ph.tracer)
                if ph.tracer is not None:
                    ph.tracer.enabled = True
                t0, steal0 = time.perf_counter(), steal_s()
                run_unit(unit, got, n)
                dt = time.perf_counter() - t0
                stolen = (steal_s() - steal0) / dt
                dt -= got.retimed_s
                if ph.tracer is not None:
                    ph.tracer.enabled = False
                ph.attempted += got.attempted
                ph.failed += got.failed
                ph.retimed += got.retimed
                if stolen > STEAL_LIMIT and ph.discarded < max_discards:
                    ph.discarded += 1
                    continue
                for kind, xs in got.lat.items():
                    ph.lat.setdefault(kind, []).extend(xs)
                ph.wall_s += dt
                ph.unit_rates.append((got.attempted - got.retimed) / dt)
                ph.units += 1
                kept += 1
                wall = sum(p.wall_s for p in phases)
                if kept >= min_units and kept % len(phases) == 0 and wall >= self.seconds:
                    break
        finally:
            if self.trace:
                phases[1].tracer.uninstall()
        return phases


def _timed_query(ph: Phase, op_id: str, build, expect) -> None:
    """One query op: build the DataFrame, run it, check it."""
    tracer = ph.tracer
    if tracer is None:
        t0 = time.perf_counter()
        df = build()
        rows = df.collect()
        ms = (time.perf_counter() - t0) * 1000
    else:
        with tracer.client_op(op_id) as root:
            with tracer.span("queries.construct"):
                df = build()
            with tracer.span("spark.plan"):
                df._jdf.queryExecution().executedPlan()
            with tracer.span("spark.exec"):
                rows = df.collect()
        ms = (root.t1 - root.t0) * 1000
    ph.record("query", ms, oracles.canon(df.columns, rows) == expect)


# --- jsoniq -------------------------------------------------------------
def jsoniq(ctx: Context) -> Result:
    paths = datagen.jsoniq_tables(os.path.join(ctx.work, "tables"), ctx.seed)
    expect = oracles.jsoniq(paths, opseq.JSONIQ_QUERIES)
    sf_dir = os.path.dirname(paths["events"])

    from sirix_spark.queries import registry

    reg = registry()
    spark = ctx.spark
    # the program's table cache: tables.load pins each table on first use
    os.environ["SIRIX_SPARK_CACHE_TABLES"] = "1"
    t0 = time.perf_counter()
    for name in opseq.JSONIQ_QUERIES * JSONIQ_WARM_PASSES:
        reg[name].fn(spark, sf_dir).collect()
    setup_s = ctx.session_s + time.perf_counter() - t0

    def run_pass(order, ph, i):
        for name in order:
            _timed_query(ph, f"{i}:{name}", lambda: reg[name].fn(spark, sf_dir), expect[name])

    units = opseq.passes(opseq.JSONIQ_QUERIES, ctx.seed)
    phases = ctx.phases(run_pass, units, JSONIQ_MIN_PASSES, max_discards=JSONIQ_MIN_PASSES)
    return Result(setup_s, 0.0, None, phases)


# --- history ------------------------------------------------------------
class _Client:
    """One keep-alive HTTP connection to the REST server."""

    def __init__(self, port: int):
        self.conn = http.client.HTTPConnection("127.0.0.1", port, timeout=170)

    def request(self, method: str, path: str, body: str | None = None) -> tuple[int, bytes]:
        self.conn.request(method, path, body=body)
        resp = self.conn.getresponse()
        return resp.status, resp.read()

    def close(self) -> None:
        self.conn.close()


def _history_op(client: _Client, res: str, op: opseq.Op) -> tuple[bool, int]:
    """Send one op; (matches the model, response bytes)."""
    if op.kind == "commit":
        status, body = client.request("PUT", f"/{DB}/{res}?key=id", op.body)
        return status == 200 and json.loads(body) == {"revision": op.rev}, len(body)
    if op.kind == "read":
        q = urllib.parse.quote(op.sql)
        status, body = client.request("GET", f"/{DB}/{res}?revision={op.rev}&query={q}")
        return status == 200 and json.loads(body) == [op.expect], len(body)
    status, body = client.request(
        "GET", f"/{DB}/{res}/diff?first-revision={op.rev - 1}&second-revision={op.rev}"
    )
    if status != 200:
        return False, len(body)
    diffs = json.loads(body)["diffs"]
    keys = sorted({d["recordKey"] for d in diffs})
    return keys == op.expect and all(d["type"] in ("update", "insert") for d in diffs), len(body)


def history(ctx: Context) -> Result:
    from sirix_spark.api import Sirix

    spark, res = ctx.spark, "hist"
    model = opseq.history(ctx.seed, opseq.SETUP_COMMITS)
    schema = "id long, age long, dept string, city string, active boolean"
    cols = ("id", "age", "dept", "city", "active")

    def frame(recs):
        return spark.createDataFrame([tuple(r[c] for c in cols) for r in recs], schema)

    t0 = time.perf_counter()
    sx = Sirix(spark, os.path.join(ctx.work, "store"))
    sx.store_df(DB, res, frame(model.initial), key="id")
    ingest_s = time.perf_counter() - t0
    server = sx.serve()
    ctx.closers.append(server.stop)
    client = _Client(server.port)
    ctx.closers.append(client.close)
    warm = [
        opseq.Op("commit", rev, body="\n".join(opseq.dumps(r) for r in recs))
        for rev, recs in enumerate(model.setup_bodies, start=2)
    ]
    lo = 18
    sql = opseq.READ_SQL.format(res=res, lo=lo)
    for rev in list(range(model.latest, 0, -1)) * HISTORY_WARM_PASSES:
        warm.append(opseq.Op("read", rev, sql=sql, expect=model.aggregate(rev, lo)))
    setup_op_ms = []
    for op in warm:
        t = time.perf_counter()
        if not _history_op(client, res, op)[0]:
            raise RuntimeError(f"set-up {op.kind} of revision {op.rev} failed")
        setup_op_ms.append((time.perf_counter() - t) * 1000)
    setup_s = ctx.session_s + time.perf_counter() - t0

    def run_cycle(ops, ph, i):
        for j, op in enumerate(ops):
            if ph.tracer is None:
                for left in range(READ_RETIMES, -1, -1):
                    t, steal0 = time.perf_counter(), steal_s()
                    ok, nbytes = _history_op(client, res, op)
                    dt = time.perf_counter() - t
                    stolen = (steal_s() - steal0) / dt
                    if op.kind != "read" or not ok or left == 0 or stolen <= STEAL_LIMIT:
                        break
                    ph.attempted += 1  # still checked: it matched the model
                    ph.retimed += 1
                    ph.retimed_s += dt
                ms = dt * 1000
            else:
                with ph.tracer.client_op(f"{i}:{j}:{op.kind}") as root:
                    with ph.tracer.span("rest.request"):
                        ok, nbytes = _history_op(client, res, op)
                ph.tracer.add("rest.response_bytes", nbytes)
                ms = (root.t1 - root.t0) * 1000
            ph.record(op.kind, ms, ok)

    def cycles():  # modelled one at a time, outside the timed units
        while True:
            yield model.add_cycle(res)

    phases = ctx.phases(run_cycle, cycles(), 1, max_discards=0)
    res_dir = os.path.join(sx.store.root, DB, res)
    return Result(setup_s, ingest_s, du(res_dir)[1] / model.json_bytes, phases, setup_op_ms)


WORKLOADS = {"jsoniq": jsoniq, "history": history}
