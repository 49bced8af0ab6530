"""Benchmark entry point.

    python3 perfbench/run.py --workload jsoniq|history --seed N \
        --seconds S --trace 0|1

Run from the repository root. Builds the inputs from the seed, runs one
closed-loop workload against sirix_spark, checks every result, and
prints a metric table and, as the last stdout line, one JSON object:
{"correct", "attempted", "failed", "metrics"}. --trace 0 reports the
end-to-end metrics; --trace 1 adds a traced phase and reports the
per-layer ones. Each run also writes an artifact (metrics, box state,
latencies) and, when traced, its spans under .perfbench_out/.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CPUS = min(4, len(os.sched_getaffinity(0)))
# The box is shared: the driver heap is capped far below the program's
# 16g default, and fixed (-Xms) so the JVM's resident size does not
# depend on when G1 decided to grow the heap.
HEAP = "2g"
SESSION_CONF = {"spark.driver.memory": HEAP, "spark.ui.showConsoleProgress": "false"}

E2E = {
    "setup_s": "s",
    "ops_per_s": "1/s",
    "ok_ratio": "ratio",
    "query_p50_ms": "ms",
    "peak_rss_mb": "MiB",
}
# per-layer metric → unit; "per op" means the mean over the traced
# phase's ops, ms are self time (span minus child spans).
PER_LAYER = {
    "session.start_s": "s",
    "store.ingest_s": "s",
    "queries.construct_ms": "ms",
    "tables.load_ms": "ms",
    "tables.load_calls": "count",
    "jsoniq.parse_ms": "ms",
    "jsoniq.compile_ms": "ms",
    "spark.plan_ms": "ms",
    "spark.exec_ms": "ms",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_run_ms": "ms",
    "spark.executor_cpu_ms": "ms",
    "spark.input_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "jvm.gc_ms": "ms",
    "store.open_ms": "ms",
    "store.open_deltas": "count",
    "store.manifest_loads": "count",
    "store.manifest_ms": "ms",
    "store.commit_ms": "ms",
    "store.commit_files": "count",
    "store.commit_bytes": "bytes",
    "store.diff_ms": "ms",
    "operators.node_diff_build_ms": "ms",
    "rest.self_ms": "ms",
    "rest.session_ms": "ms",
    "rest.response_bytes": "bytes",
    "proc.py_cpu_ms": "ms",
    "proc.jvm_cpu_ms": "ms",
    "client.self_ms": "ms",
    "trace.ops_per_s": "1/s",
    "trace.untraced_ops_per_s": "1/s",
    "trace.overhead_pct": "%",
    "run.commit_ms": "ms",
    "run.diff_ms": "ms",
    "run.space_amp": "ratio",
}
# span name → per-layer metric of its self time
SELF_TIME = {
    "queries.construct": "queries.construct_ms",
    "tables.load": "tables.load_ms",
    "jsoniq.parse": "jsoniq.parse_ms",
    "jsoniq.execute": "jsoniq.compile_ms",
    "spark.plan": "spark.plan_ms",
    "spark.exec": "spark.exec_ms",
    "store.open": "store.open_ms",
    "store.manifest": "store.manifest_ms",
    "store.commit": "store.commit_ms",
    "store.diff": "store.diff_ms",
    "operators.node_diff_build": "operators.node_diff_build_ms",
    "rest.request": "rest.self_ms",
    "rest.session": "rest.session_ms",
    "op": "client.self_ms",
}
COUNTED = {"tables.load": "tables.load_calls", "store.manifest": "store.manifest_loads"}


def _mean(xs) -> float:
    return sum(xs) / len(xs) if xs else 0.0


def _rate(ph) -> float:
    """Ops per second of the median unit: a burst of load from other
    tenants of the shared box slows a few passes, not the median one."""
    return statistics.median(ph.unit_rates)


def end_to_end(res, peak_rss_mb: float) -> dict[str, float]:
    ph = res.phases[0]
    reads = ph.lat.get("query") or ph.lat["read"]
    return {
        "setup_s": res.setup_s,
        "ops_per_s": _rate(ph),
        "ok_ratio": (ph.attempted - ph.failed) / ph.attempted,
        "query_p50_ms": statistics.median(reads),
        "peak_rss_mb": peak_rss_mb,
    }


def per_layer(res, session_s: float) -> dict[str, float]:
    plain, traced = res.phases
    tr = traced.tracer
    ops = tr.ops
    out = {name: 0.0 for name in PER_LAYER}
    for span, ms in tr.self_ms().items():
        if span in SELF_TIME:
            out[SELF_TIME[span]] = ms / ops
    for span, name in COUNTED.items():
        out[name] = tr.count(span) / ops
    for name, total in tr.counters.items():
        out[name] = total / ops
    plain_ops_s, traced_ops_s = _rate(plain), _rate(traced)
    out.update(
        {
            "session.start_s": session_s,
            "store.ingest_s": res.ingest_s,
            "trace.ops_per_s": traced_ops_s,
            "trace.untraced_ops_per_s": plain_ops_s,
            "trace.overhead_pct": (plain_ops_s / traced_ops_s - 1) * 100,
            "run.commit_ms": _mean(plain.lat.get("commit")),
            "run.diff_ms": _mean(plain.lat.get("diff")),
            "run.space_amp": res.space_amp or 0.0,
        }
    )
    return out


def _descendants(pid: int) -> list[int]:
    """Live descendant processes of `pid` (Spark's Python workers)."""
    parent = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
    out, frontier = [], [pid]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out += kids
        frontier += kids
    return out


def _stop_spark(spark) -> None:
    """Stop the session, end the JVM and wait for it and its workers."""
    gw = spark.sparkContext._gateway
    proc = gw.proc
    kids = _descendants(proc.pid)
    spark.stop()
    gw.shutdown()
    proc.stdin.close()  # the gateway JVM exits at EOF on its stdin
    try:
        proc.wait(timeout=30)
    except Exception:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + 20
    for pid in kids:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            os.kill(pid, signal.SIGKILL)


def run(args) -> dict:
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".perfbench_out")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(out_dir, exist_ok=True)
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(CPUS),
            "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
            "TMPDIR": tmp,
            # no /tmp/hsperfdata files from the launcher or driver JVM
            "JAVA_TOOL_OPTIONS": "-XX:-UsePerfData",
        }
    )
    os.chdir(work)  # Spark's warehouse and derby files land here
    import procstat
    import workloads

    steal0 = procstat.steal_s()
    t0 = time.perf_counter()
    from sirix_spark import get_spark

    conf = dict(SESSION_CONF)
    conf["spark.driver.extraJavaOptions"] = f"-Xms{HEAP} -Djava.io.tmpdir={tmp}"
    spark = get_spark("perfbench", extra_conf=conf)
    session_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    jvm_pid = spark.sparkContext._gateway.proc.pid
    ctx = workloads.Context(
        spark, jvm_pid, work, args.seed, args.seconds, bool(args.trace), session_s
    )
    try:
        res = workloads.WORKLOADS[args.workload](ctx)
        peak = procstat.self_rss_peak_mb() + procstat.rss_peak_mb(jvm_pid)
        box = procstat.box_state(spark, steal0)
    finally:
        for close in reversed(ctx.closers):
            close()
        _stop_spark(spark)
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)

    e2e = end_to_end(res, peak)
    metrics = per_layer(res, session_s) if args.trace else e2e
    units = PER_LAYER if args.trace else E2E
    ph = res.phases[-1] if args.trace else res.phases[0]
    result = {
        "correct": all(p.failed == 0 for p in res.phases),
        "attempted": sum(p.attempted for p in res.phases),
        "failed": sum(p.failed for p in res.phases),
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}-{int(time.time())}-{os.getpid()}"
    if args.trace:
        ph.tracer.dump(os.path.join(out_dir, f"{tag}.spans.jsonl"))
    artifact = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "box": box,
        "end_to_end": e2e,
        "per_layer": metrics if args.trace else None,
        "latency_ms": [p.lat for p in res.phases],
        "setup_op_ms": res.setup_op_ms,
        "units": [p.units for p in res.phases],
        "discarded_units": [p.discarded for p in res.phases],
        "retimed_reads": [p.retimed for p in res.phases],
        "run_s": time.perf_counter() - t0,
        "result": result,
    }
    with open(os.path.join(out_dir, f"{tag}.json"), "w") as f:
        json.dump(artifact, f)
    for k, v in metrics.items():
        print(f"{args.workload:8s} {k:32s} {v:14.4f} {units[k]}")
    print(json.dumps({"box": box}))
    return result


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("jsoniq", "history"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "sirix_spark", "__init__.py")):
        print(f"perfbench: no sirix_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    try:
        result = run(args)
    except Exception:
        traceback.print_exc()
        return 1
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
