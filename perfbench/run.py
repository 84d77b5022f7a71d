"""Benchmark runner for spark-graft.

    python3 perfbench/run.py --workload {etl_daily,olap_sql} \\
        --seed N --seconds S --trace {0,1}

Run from the root of a checkout. One run:

1. generates the workload's inputs from ``--seed`` under
   ``perfbench/.work/`` (``olap_sql`` reads the bundled sf0.1 fixtures)
   and computes every op's expected output in DuckDB;
2. sizes the session for the machine (``SPARK_GRAFT_CPUS`` = usable
   cores, ``SPARK_GRAFT_DRIVER_MEM`` = a quarter of physical memory,
   ``SPARK_LOCAL_DIRS`` under the work dir) and builds it with
   ``session.get_spark``;
3. set-up: the session build plus an untimed warm pass that executes every
   op once (``setup_s``);
4. a closed loop on ``local[cores]`` -- one client, seeded op order --
   of whole rounds (every op once per round); the number of rounds is
   ``--seconds`` over the workload's nominal round time, but at least
   enough for ``stats.MIN_SAMPLES`` samples, so a run does a fixed amount
   of work that takes about ``--seconds`` at the reference version and
   always has a tail percentile. ``peak_rss_mb`` is the median over the
   loop's ops of the peak RSS (``VmHWM`` of the driver JVM plus this
   process, reset before each call) reached during the op.

Every output is checked outside the timed sections, and between ops the
runner unpersists leftover RDDs, clears the cache and runs a JVM GC. With
``--trace 1`` every op of the rounds runs twice, untraced and traced (see
``tracing.py``); the difference between the two is reported as the
tracing overhead, and the spans go to ``perfbench/.traces/``.

The last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` (warm pass and loop) and ``metrics`` -- the
end-to-end metrics with ``--trace 0``, the per-layer ones with
``--trace 1``. The run's work dir, Derby database and checkpoints are
deleted on exit, and the JVM and its workers are stopped and waited for.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import random
import shutil
import signal
import sys
import time
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE_DIR = os.path.join(ROOT, "etl_platform_nyc_taxi_spark")

import loop  # noqa: E402
import stats  # noqa: E402
import tracing  # noqa: E402
import workloads  # noqa: E402

E2E_UNITS = {
    "setup_s": "s",
    "wall_s": "s",
    "throughput_rows_per_s": "rows/s",
    "latency_p50_s": "s",
    "latency_tail_s": "s",
    "peak_rss_mb": "MB",
}
LAYER_UNITS = {
    "session.build_s": "s",
    "call.s": "s",
    "call.jobs": "count",
    "py4j.calls": "count",
    "action.s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.task_cpu_s": "s",
    "spark.cpu_util": "ratio",
    "spark.gc_s": "s",
    "spark.failed_tasks": "count",
    "shuffle.write_bytes": "B",
    "shuffle.read_bytes": "B",
    "shuffle.spill_bytes": "B",
    "python.rows_sent": "rows",
    "python.bytes_sent": "B",
    "python.bytes_received": "B",
    "sources.read_s": "s",
    "sources.input_rows": "rows",
    "sources.input_bytes": "B",
    "sources.rows_examined_per_result": "ratio",
    "sink.s": "s",
    "sink.rows": "rows",
    "sink.statements": "count",
    "stream.batches": "count",
    "stream.batch_ms": "ms",
    "stream.input_rows": "rows",
    "stream.state_rows": "rows",
    "stream.state_bytes": "B",
    "jvm.heap_peak_mb": "MB",
    "trace.overhead_pct": "%",
}


def machine_config(work: str) -> dict[str, str]:
    """The session sizing this machine gets (the package's own knobs)."""
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        mem_kb = next(int(line.split()[1]) for line in fh if line.startswith("MemTotal"))
    heap_gb = max(1, min(8, mem_kb // (4 * 2**20)))
    return {
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_DRIVER_MEM": f"{heap_gb}g",
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
    }


def session_confs(work: str) -> dict[str, str]:
    from etl_platform_nyc_taxi_spark.session import BUILD_CONFS

    java_opts = " ".join(
        [
            BUILD_CONFS["spark.driver.extraJavaOptions"],
            "-XX:-UsePerfData",  # else the JVM writes /tmp/hsperfdata_<user>
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            f"-Dderby.system.home={os.path.join(work, 'derby')}",
            f"-Dderby.stream.error.file={os.path.join(work, 'derby.log')}",
        ]
    )
    return {
        "spark.driver.extraJavaOptions": java_opts,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.port": "0",
        "spark.ui.showConsoleProgress": "false",
        # keep every job/stage/execution of a run for the traced read-out
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100000",
    }


def gc_sweep(spark) -> None:
    """Between ops, untimed: unpersist leftover RDDs (blocking), clear the
    SQL cache, then one JVM GC, so an op pays for none of its
    predecessors' debris."""
    gc.collect(1)  # drop the previous op's Py4J proxies
    it = spark.sparkContext._jsc.getPersistentRDDs().entrySet().iterator()
    while it.hasNext():
        it.next().getValue().unpersist(True)
    spark.catalog.clearCache()
    spark.sparkContext._jvm.System.gc()


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set size of a process (``VmHWM``), in MiB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def reset_hwm(pid: int) -> None:
    """Restart a process's ``VmHWM`` from its current RSS."""
    with open(f"/proc/{pid}/clear_refs", "w") as fh:
        fh.write("5")


class RssProbe:
    """Peak RSS of the driver JVM plus the driver Python process over one
    op's call + action: ``reset()`` restarts each ``VmHWM``, ``peak_mb()``
    sums them."""

    def __init__(self, pids: tuple[int, ...]) -> None:
        self.pids = pids

    def reset(self) -> None:
        for pid in self.pids:
            reset_hwm(pid)

    def peak_mb(self) -> float:
        return sum(vm_hwm_mb(pid) for pid in self.pids)


def descendants(pid: int) -> list[int]:
    children = defaultdict(list)
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children[ppid].append(int(d))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), ()):
            out.append(c)
            todo.append(c)
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_processes(spark) -> None:
    """Stop the session, close the JVM's stdin (the gateway exits on
    EOF), wait for it, then terminate anything else this process
    started (Python workers) and wait for that too."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
    finally:
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None
        for sig in (signal.SIGTERM, signal.SIGKILL):
            left = [p for p in descendants(os.getpid()) if _alive(p)]
            for p in left:
                try:
                    os.kill(p, sig)
                except ProcessLookupError:
                    pass
            deadline = time.time() + 10
            while left and time.time() < deadline:
                left = [p for p in left if _alive(p)]
                time.sleep(0.1)
            for p in descendants(os.getpid()):
                try:
                    os.waitpid(p, os.WNOHANG)
                except ChildProcessError:
                    pass
            if not left:
                break


def e2e_metrics(setup_s: float, samples: list[loop.Sample]) -> tuple[dict, tuple]:
    wall = sum(s.seconds for s in samples)
    lat = [s.seconds for s in samples]
    pct, tail_v, beyond = stats.tail(lat)
    values = {
        "setup_s": setup_s,
        "wall_s": wall,
        "throughput_rows_per_s": sum(s.input_rows for s in samples if s.ok) / wall,
        "latency_p50_s": stats.median(lat),
        "latency_tail_s": tail_v,
        # the median op's peak: the whole loop's single highest peak
        # follows JIT and G1 resizing timing, not the ops
        "peak_rss_mb": stats.median([s.peak_rss_mb for s in samples]),
    }
    return values, (pct, beyond, len(lat))


def layer_metrics(tracer, spark_stats, traced, untraced, build_s, cores, heap_mb) -> dict:
    spans = tracer.spans
    ops = sorted({s.op for s in spans if s.kind == "op"})
    n = max(1, len(ops))
    dur = defaultdict(float)  # (op, kind) -> seconds, outermost spans only
    for s in spans:
        if s.kind in ("call", "action", "sources.read", "sink"):
            dur[(s.op, s.kind)] += s.end - s.start

    def total(name):
        return sum(spark_stats.get(op, {}).get(name, 0.0) for op in ops)

    def per_entering(name, layer_ops):
        return total(name) / len(layer_ops) if layer_ops else 0.0

    sink_ops = [op for op in ops if (op, "sink") in dur]
    read_ops = [op for op in ops if (op, "sources.read") in dur]
    py_ops = [op for op in ops if spark_stats.get(op, {}).get("python.bytes_sent")]
    stream_ops = [op for op in ops if spark_stats.get(op, {}).get("stream.batches")]
    op_wall = sum(s.seconds for s in traced)
    results = sum(s.result_rows for s in traced)
    m = {
        "session.build_s": build_s,
        "call.s": sum(dur[(op, "call")] for op in ops) / n,
        "call.jobs": total("call.jobs") / n,
        "py4j.calls": sum(tracer.counts.get((op, "py4j.call"), 0) for op in ops) / n,
        "action.s": sum(dur[(op, "action")] for op in ops) / n,
        "spark.jobs": total("spark.jobs") / n,
        "spark.stages": total("spark.stages") / n,
        "spark.tasks": total("spark.tasks") / n,
        "spark.task_cpu_s": total("spark.task_cpu_s") / n,
        "spark.cpu_util": total("spark.task_cpu_s") / (op_wall * cores) if op_wall else 0.0,
        "spark.gc_s": total("spark.gc_s") / n,
        "spark.failed_tasks": total("spark.failed_tasks"),
        "shuffle.write_bytes": total("shuffle.write_bytes") / n,
        "shuffle.read_bytes": total("shuffle.read_bytes") / n,
        "shuffle.spill_bytes": total("shuffle.spill_bytes") / n,
        "python.rows_sent": per_entering("python.rows_sent", py_ops),
        "python.bytes_sent": per_entering("python.bytes_sent", py_ops),
        "python.bytes_received": per_entering("python.bytes_received", py_ops),
        "sources.read_s": (
            sum(dur[(op, "sources.read")] for op in read_ops) / len(read_ops)
            if read_ops
            else 0.0
        ),
        "sources.input_rows": total("sources.input_rows") / n,
        "sources.input_bytes": total("sources.input_bytes") / n,
        "sources.rows_examined_per_result": (
            total("sources.input_rows") / results if results else 0.0
        ),
        "sink.s": (
            sum(dur[(op, "sink")] for op in sink_ops) / len(sink_ops) if sink_ops else 0.0
        ),
        "sink.rows": per_entering("sink.rows", sink_ops),
        "sink.statements": (
            sum(tracer.counts.get((op, "sink.statements"), 0) for op in sink_ops)
            / len(sink_ops)
            if sink_ops
            else 0.0
        ),
        "stream.batches": per_entering("stream.batches", stream_ops),
        "stream.batch_ms": (
            total("stream.batch_ms") / total("stream.batches")
            if total("stream.batches")
            else 0.0
        ),
        "stream.input_rows": per_entering("stream.input_rows", stream_ops),
        "stream.state_rows": per_entering("stream.state_rows", stream_ops),
        "stream.state_bytes": per_entering("stream.state_bytes", stream_ops),
        "jvm.heap_peak_mb": heap_mb,
        "trace.overhead_pct": overhead_pct(untraced, traced),
    }
    return m


def per_op_summary(samples: list[loop.Sample]) -> dict[str, tuple[int, float]]:
    """Op kind (name up to any ``@``) -> (samples, median seconds)."""
    by = defaultdict(list)
    for s in samples:
        by[s.op.split("@")[0]].append(s.seconds)
    return {k: (len(v), stats.median(v)) for k, v in sorted(by.items())}


def overhead_pct(untraced: list[loop.Sample], traced: list[loop.Sample]) -> float:
    """Traced vs untraced mean latency, over the op names both halves ran
    (each name weighted by its untraced mean)."""
    def means(samples):
        by = defaultdict(list)
        for s in samples:
            by[s.op].append(s.seconds)
        return {k: sum(v) / len(v) for k, v in by.items()}

    u, t = means(untraced), means(traced)
    common = [k for k in u if k in t]
    base = sum(u[k] for k in common)
    return 100.0 * (sum(t[k] for k in common) / base - 1.0) if base else 0.0


def write_trace(path: str, tracer, spark_stats: dict, meta: dict) -> dict[str, float]:
    """Write spans (with self times) and counts per op; return self time
    per kind."""
    selfs = tracing.self_times(tracer.spans)
    by_kind = defaultdict(float)
    ops = defaultdict(list)
    for s, own in zip(tracer.spans, selfs):
        by_kind[s.kind] += own
        ops[s.op].append(
            {
                "kind": s.kind,
                "name": s.name,
                "start": s.start,
                "end": s.end,
                "parent": s.parent,
                "self_s": own,
            }
        )
    doc = dict(meta)
    doc["self_s_by_kind"] = dict(by_kind)
    counts = defaultdict(dict)
    for (op, name), v in tracer.counts.items():
        counts[op][name] = v
    for op, st in spark_stats.items():
        counts[op].update(st)
    doc["ops"] = [
        {"id": op, "name": tracer.op_names.get(op, ""), "counts": counts[op], "spans": spans}
        for op, spans in sorted(ops.items())
    ]
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as fh:
        json.dump(doc, fh)
    return dict(by_kind)


def run(args, work: str) -> dict:
    config = machine_config(work)
    os.environ.update(config)
    os.environ["SPARK_GRAFT_LOCAL"] = "1"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # no /tmp/hsperfdata_<user> from the launcher JVM (the driver JVM's
    # flag is in session_confs)
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    import tempfile

    tempfile.tempdir = None  # pick up the new TMPDIR
    print(f"# config {json.dumps(config)}")

    t0 = time.perf_counter()
    ops, info = workloads.prepare(args.workload, work, args.seed)
    os.sync()  # no write-back of the generated files during the measurement
    print(f"# inputs generated in {time.perf_counter() - t0:.2f} s: "
          f"{ {k: v for k, v in info.items() if k != 'sink'} }")

    from etl_platform_nyc_taxi_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench", extra_confs=session_confs(work))
    build_s = time.perf_counter() - t0
    try:
        spark.sparkContext.setLogLevel("ERROR")
        return measure(args, spark, ops, info, build_s, config)
    finally:
        stop_processes(spark)


def measure(args, spark, ops, info, build_s, config) -> dict:
    rng = random.Random(args.seed)
    sweep = lambda: gc_sweep(spark)  # noqa: E731

    t0 = time.perf_counter()
    workloads.setup(args.workload, spark, info)
    ddl_s = time.perf_counter() - t0
    # the warm pass runs in list order, not seeded, so set-up does the same
    # work in the same order on every run
    warm = [loop.run_op(op, spark, sweep=sweep) for op in ops]
    setup_s = build_s + ddl_s + sum(s.seconds for s in warm)

    cores = int(config["SPARK_GRAFT_CPUS"])
    rounds = max(
        -(-stats.MIN_SAMPLES // len(ops)),
        round(args.seconds / workloads.ROUND_SECONDS[args.workload]),
    )
    from pyspark import SparkContext

    probe = RssProbe((SparkContext._gateway.proc.pid, os.getpid()))
    plain = lambda op: loop.run_op(op, spark, sweep=sweep, memory=probe)  # noqa: E731
    if not args.trace:
        untraced = loop.closed_loop(ops, rng, rounds, plain)
        traced = []
    else:
        # every op runs untraced and traced back to back, alternating which
        # goes first, so warm-up drift cancels out of the tracing overhead
        tracer = tracing.Tracer()
        progress = tracing.StreamProgress(spark)
        tracing.heap_pools(spark, reset=True)
        client = spark.sparkContext._gateway._gateway_client
        ids = iter(range(1, 1 << 30))
        flips = iter(range(1 << 30))

        def traced_run(op):
            tracer.install(client)
            try:
                return loop.run_op(op, spark, tracer, next(ids), sweep)
            finally:
                tracer.uninstall()

        def pair(op):
            if next(flips) % 2:
                return plain(op), traced_run(op)
            t = traced_run(op)
            return plain(op), t

        pairs = loop.closed_loop(ops, rng, rounds, pair)
        untraced, traced = [u for u, _ in pairs], [t for _, t in pairs]
        heap_mb = tracing.heap_pools(spark)
        time.sleep(1.0)  # let the last progress events arrive
        progress.close()
        jobs, stages_, sql = tracing.SparkRest(spark.sparkContext).snapshot()
        spark_stats = tracing.attach_spark(tracer, jobs, stages_, sql, progress.events)

    e2e, (pct, beyond, n) = e2e_metrics(setup_s, untraced)
    everything = warm + untraced + traced
    failed = sum(not s.ok for s in everything)
    out = {
        "e2e": e2e,
        "per_op": per_op_summary(untraced),
        "tail": (pct, beyond, n),
        "attempted": len(everything),
        "failed": failed,
        "rounds": rounds,
        "rss_max": max(untraced, key=lambda s: s.peak_rss_mb),
        "untimed_s": sum(s.untimed_s for s in everything),
    }
    if args.trace:
        out["layers"] = layer_metrics(
            tracer, spark_stats, traced, untraced, build_s, cores, heap_mb
        )
        path = os.path.join(HERE, ".traces", f"{args.workload}-seed{args.seed}.json")
        out["self_s_by_kind"] = write_trace(
            path,
            tracer,
            spark_stats,
            {"workload": args.workload, "seed": args.seed, "config": config,
             "metrics": out["layers"], "end_to_end": e2e},
        )
        out["trace_file"] = os.path.relpath(path, ROOT)
    return out


def report(args, out: dict) -> None:
    e2e = out["e2e"]
    pct, beyond, n = out["tail"]
    for k, v in e2e.items():
        print(f"metric {k} {v:.6g} {E2E_UNITS[k]}")
    for name, (count, med) in out["per_op"].items():
        print(f"# op {name}: {count} samples, median {med:.4f} s")
    print(f"# {out['rounds']} round(s); checks and sweeps between ops took "
          f"{out['untimed_s']:.2f} s (untimed)")
    print(f"# latency_tail_s is p{pct:g} of {n} samples ({beyond} beyond it)")
    top = out["rss_max"]
    print(f"# peak_rss_mb is the median over {n} ops of each op's peak RSS "
          f"(JVM + Python); the highest was {top.peak_rss_mb:.0f} MB ({top.op})")
    # failed_frac is carried by the result line's ``failed``/``attempted``
    print(f"metric failed_frac {out['failed'] / out['attempted']:.6g} ratio")
    print(f"# {out['failed']} of {out['attempted']} ops failed, warm pass included")
    if args.trace:
        for k, v in out["layers"].items():
            print(f"layer {k} {v:.6g} {LAYER_UNITS[k]}")
        for k, v in sorted(out["self_s_by_kind"].items()):
            print(f"# self time {k} {v:.4f} s")
        print(f"# trace written to {out['trace_file']}")
        metrics = {k: {"value": v, "unit": LAYER_UNITS[k]} for k, v in out["layers"].items()}
    else:
        metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in e2e.items()}
    print(
        json.dumps(
            {
                "correct": out["failed"] == 0,
                "attempted": out["attempted"],
                "failed": out["failed"],
                "metrics": metrics,
            }
        )
    )


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=workloads.WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(PACKAGE_DIR):
        print(f"error: package not found at {PACKAGE_DIR}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    # a terminated run still stops its JVM and deletes its work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    try:
        out = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    report(args, out)
    return 0


if __name__ == "__main__":
    sys.exit(main())
