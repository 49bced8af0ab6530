"""Per-layer tracing from outside the program.

The traced run wraps the program's public functions at the binding
site each caller uses, records one span per call (name, start, end,
parent, op id) in memory, and derives each layer's self time as its
span minus the part its child spans cover. Spark work is attributed to
an op through the job ids that appear while it runs, read back from
Spark's status store; GC time comes from the JVM's MXBeans and CPU
time from /proc. Nothing in the program is edited.
"""

from __future__ import annotations

import importlib
import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

from procstat import du

# (module, attribute, span name). A module that imports a function by
# name holds its own binding, so each binding site is listed.
FUNCTION_SITES = (
    ("sirix_spark.tables", "load", "tables.load"),
    ("sirix_spark.queries.jsoniq_queries", "load", "tables.load"),
    ("sirix_spark.jsoniq", "execute", "jsoniq.execute"),
    ("sirix_spark.queries.jsoniq_queries", "execute", "jsoniq.execute"),
    ("sirix_spark.jsoniq.parser", "parse", "jsoniq.parse"),
    ("sirix_spark.operators.diff", "json_node_diff", "operators.node_diff_build"),
    ("sirix_spark.rest", "_rows_json", "spark.exec"),
)
# VersionedStore methods; REST handlers build their own store objects,
# so the class is patched rather than one instance.
STORE_METHODS = (
    ("_write_commit", "store.commit"),
    ("doc", "store.open"),
    ("_manifest", "store.manifest"),
    ("diff_json", "store.diff"),
)


class Span:
    __slots__ = ("id", "name", "t0", "t1", "parent", "op")

    def __init__(self, id, name, t0, parent, op):
        self.id, self.name, self.t0, self.t1 = id, name, t0, None
        self.parent, self.op = parent, op


class Tracer:
    """Spans and per-op counters for one traced phase. Spans opened on
    a thread with no open span (REST handler threads) take the client
    thread's innermost open span as parent."""

    def __init__(self, spark, jvm_pid: int):
        self.spark = spark
        self.jvm_pid = jvm_pid
        self.spans: list[Span] = []
        self.counters: dict[str, float] = defaultdict(float)
        self.ops = 0
        self.op = None
        self.enabled = False  # wrappers pass straight through when off
        self._lock = threading.Lock()
        self._local = threading.local()
        self._client_stack: list[Span] = []
        self._undo: list[tuple[object, str, object, bool]] = []
        self._next_job = 0

    # --- spans -------------------------------------------------------
    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str):
        st = self._stack()
        parent = st[-1] if st else (self._client_stack[-1] if self._client_stack else None)
        with self._lock:
            s = Span(len(self.spans), name, time.perf_counter(), parent and parent.id, self.op)
            self.spans.append(s)
        st.append(s)
        try:
            yield s
        finally:
            s.t1 = time.perf_counter()
            st.pop()

    @contextmanager
    def client_op(self, op_id: str):
        """One timed op of the closed-loop client: its root span, plus
        its Spark stage, GC and CPU deltas."""
        self.op = op_id
        self._next_job = _job_count(self.spark)  # untraced units ran jobs too
        gc0, py0, jvm0 = _gc_ms(self.spark), time.process_time(), _jvm_cpu_ms(self.jvm_pid)
        with self.span("op") as root:
            self._client_stack = self._stack()
            try:
                yield root
            finally:
                self._client_stack = []
        self.counters["proc.py_cpu_ms"] += (time.process_time() - py0) * 1000
        self.counters["proc.jvm_cpu_ms"] += _jvm_cpu_ms(self.jvm_pid) - jvm0
        self.counters["jvm.gc_ms"] += _gc_ms(self.spark) - gc0
        self._drain_jobs()
        self.ops += 1

    def add(self, name: str, value: float) -> None:
        with self._lock:
            self.counters[name] += value

    # --- wrapping ----------------------------------------------------
    def _wrap(self, owner, attr: str, name: str, after=None) -> None:
        orig = getattr(owner, attr)
        tracer = self

        def traced(*a, **kw):
            if not tracer.enabled:
                return orig(*a, **kw)
            with tracer.span(name):
                out = orig(*a, **kw)
            if after is not None:
                after(a, kw, out)
            return out

        self._undo.append((owner, attr, orig, attr in vars(owner)))
        setattr(owner, attr, traced)

    def install(self) -> None:
        from sirix_spark.store.store import VersionedStore

        for mod, attr, name in FUNCTION_SITES:
            self._wrap(importlib.import_module(mod), attr, name)
        manifests = threading.local()

        def keep_manifest(a, kw, out):
            manifests.last = out

        def open_deltas(a, kw, out):
            m = getattr(manifests, "last", None)
            if m is not None and m.entries:
                rev = a[3] if len(a) > 3 else kw.get("revision")
                rev = rev or m.latest_revision()
                self.add("store.open_deltas", rev - m.latest_checkpoint_at_or_before(rev))

        def commit_files(a, kw, out):
            store, db, res = a[0], a[1], a[2]
            files, size = du(store._rev_dir(db, res, out))
            self.add("store.commit_files", files)
            self.add("store.commit_bytes", size)

        hooks = {"_manifest": keep_manifest, "doc": open_deltas, "_write_commit": commit_files}
        for attr, name in STORE_METHODS:
            self._wrap(VersionedStore, attr, name, hooks.get(attr))
        # REST ?query= requests each build an isolated session
        self._wrap(self.spark, "newSession", "rest.session")

    def uninstall(self) -> None:
        for owner, attr, orig, own in reversed(self._undo):
            if own:
                setattr(owner, attr, orig)
            else:  # an instance patch over a class attribute
                delattr(owner, attr)
        self._undo.clear()

    # --- Spark status store -----------------------------------------
    def _drain_jobs(self) -> None:
        """Add the stage metrics of every job started since the last
        drain. Job ids are sequential, so this needs no job group (which
        would not reach REST handler threads anyway)."""
        jsc = self.spark.sparkContext._jsc
        jsc.sc().listenerBus().waitUntilEmpty()
        tracker, store = jsc.statusTracker(), jsc.sc().statusStore()
        seen_stages = set()
        while True:
            info = tracker.getJobInfo(self._next_job)
            if info is None:
                break
            self._next_job += 1
            self.counters["spark.jobs"] += 1
            for sid in info.stageIds():
                if sid in seen_stages:
                    continue
                seen_stages.add(sid)
                try:
                    sd = store.lastStageAttempt(sid)
                except Exception:  # py4j: stage never submitted (skipped)
                    continue
                if str(sd.status()) == "SKIPPED":
                    continue
                c = self.counters
                c["spark.stages"] += 1
                c["spark.tasks"] += sd.numCompleteTasks()
                c["spark.executor_run_ms"] += sd.executorRunTime()
                c["spark.executor_cpu_ms"] += sd.executorCpuTime() / 1e6
                c["spark.input_bytes"] += sd.inputBytes()
                c["spark.shuffle_read_bytes"] += sd.shuffleReadBytes()
                c["spark.shuffle_write_bytes"] += sd.shuffleWriteBytes()
                c["spark.spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()

    # --- results -----------------------------------------------------
    def self_ms(self) -> dict[str, float]:
        """Total self time per span name, in ms: each span minus the
        union of its children's intervals."""
        children: dict[int, list[Span]] = defaultdict(list)
        for s in self.spans:
            if s.parent is not None:
                children[s.parent].append(s)
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            covered, end = 0.0, s.t0
            for c in sorted(children[s.id], key=lambda c: c.t0):
                lo, hi = max(c.t0, end), min(c.t1, s.t1)
                if hi > lo:
                    covered += hi - lo
                    end = hi
            out[s.name] += (s.t1 - s.t0 - covered) * 1000
        return out

    def count(self, name: str) -> int:
        return sum(1 for s in self.spans if s.name == name)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(
                    json.dumps(
                        {
                            "id": s.id,
                            "name": s.name,
                            "start": s.t0,
                            "end": s.t1,
                            "parent": s.parent,
                            "op": s.op,
                        }
                    )
                    + "\n"
                )


def _job_count(spark) -> int:
    """The next job id Spark will assign."""
    return spark.sparkContext._jsc.sc().dagScheduler().nextJobId()


def _gc_ms(spark) -> float:
    mf = spark._jvm.java.lang.management.ManagementFactory
    return float(sum(g.getCollectionTime() for g in mf.getGarbageCollectorMXBeans()))


def _jvm_cpu_ms(pid: int) -> float:
    """user + system CPU of the JVM process, from /proc/<pid>/stat."""
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) * 1000 / os.sysconf("SC_CLK_TCK")
