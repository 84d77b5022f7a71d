"""Tracing for the benchmark: spans and counts recorded from outside the
package.

Two sources, neither of which edits ``etl_platform_nyc_taxi_spark``:

* Wrappers installed around the public functions of the ``sources`` and
  ``sources.jdbc`` layers (every module that imported them gets the
  wrapper), a counting wrapper on the Py4J gateway client, and the spans
  the runner opens around each op's call and action.
* Spark's own bookkeeping, read after the timed loop: jobs, stages and
  SQL-node metrics from the local UI REST API, JVM heap-pool peaks over
  Py4J, and micro-batch progress from a ``StreamingQueryListener``.

Spark jobs, stages and micro-batches become spans too: each is attached
to the innermost runner span of the same op that was open when it started.
A span's self time is its duration minus the part of it its children
cover.
"""

from __future__ import annotations

import datetime as dt
import importlib
import json
import re
import sys
import threading
import time
import urllib.request
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

PACKAGE = "etl_platform_nyc_taxi_spark"

#: Layer name -> functions whose calls are timed as that layer's spans.
LAYER_FUNCTIONS = {
    "sources.read": (
        (f"{PACKAGE}.sources.parquet", "read_parquet_auto"),
        (f"{PACKAGE}.sources.parquet", "load_fixture"),
        (f"{PACKAGE}.streaming.daily_stream", "read_stream_auto"),
    ),
    "sink": (
        (f"{PACKAGE}.sources.jdbc", "ensure_table"),
        (f"{PACKAGE}.sources.jdbc", "execute_statement"),
        (f"{PACKAGE}.sources.jdbc", "execute_statements_txn"),
        (f"{PACKAGE}.sources.jdbc", "write_jdbc_append"),
        (f"{PACKAGE}.sources.jdbc", "write_jdbc_overwrite"),
        (f"{PACKAGE}.sources.jdbc", "write_jdbc_upsert"),
        (f"{PACKAGE}.sources.jdbc", "write_jdbc_upsert_staged"),
    ),
}

#: SQL statements (or JDBC table writes) each sink function issues itself.
_STATEMENTS = {
    "execute_statement": lambda args: 1,
    "execute_statements_txn": lambda args: len(args[2]),
    "write_jdbc_append": lambda args: 1,
    "write_jdbc_overwrite": lambda args: 1,
    "write_jdbc_upsert_staged": lambda args: 1,
}


@dataclass
class Span:
    op: int
    kind: str
    start: float  # epoch seconds
    end: float
    parent: int | None = None  # index into the span list
    name: str = ""
    attrs: dict = field(default_factory=dict)


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the union of its children's intervals
    (clipped to the span)."""
    children: dict[int, list[Span]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append(s)
    out = []
    for i, s in enumerate(spans):
        ivs = sorted(
            (max(c.start, s.start), min(c.end, s.end))
            for c in children.get(i, ())
            if min(c.end, s.end) > max(c.start, s.start)
        )
        covered, cur_s, cur_e = 0.0, None, None
        for a, b in ivs:
            if cur_e is None or a > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = a, b
            else:
                cur_e = max(cur_e, b)
        if cur_e is not None:
            covered += cur_e - cur_s
        out.append((s.end - s.start) - covered)
    return out


def innermost(spans: list[Span], candidates: list[int], t: float) -> int | None:
    """Index of the shortest span among ``candidates`` containing ``t``."""
    best = None
    for i in candidates:
        s = spans[i]
        if s.start <= t <= s.end and (
            best is None or s.end - s.start < spans[best].end - spans[best].start
        ):
            best = i
    return best


class Tracer:
    """Span stack and per-op counters for the runner's own spans.

    Streaming ``foreachBatch`` callbacks run on a Py4J callback thread
    while the runner thread waits inside the action span, so one shared
    stack (under a lock) gives them the right parent."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.counts: dict[tuple[int, str], float] = defaultdict(float)
        self.op_names: dict[int, str] = {}
        self._stack: list[int] = []
        self._lock = threading.RLock()
        self._patched: list[tuple[object, str, object]] = []

    # -- runner spans -------------------------------------------------------
    @property
    def current_op(self) -> int | None:
        with self._lock:
            return self.spans[self._stack[0]].op if self._stack else None

    @contextmanager
    def span(self, kind: str, op: int | None = None, name: str = ""):
        with self._lock:
            parent = self._stack[-1] if self._stack else None
            if op is None:
                if parent is None:
                    raise RuntimeError(f"span {kind!r} outside an op")
                op = self.spans[parent].op
            else:
                self.op_names[op] = name
            s = Span(op, kind, time.time(), 0.0, parent, name)
            self.spans.append(s)
            idx = len(self.spans) - 1
            self._stack.append(idx)
        try:
            yield s
        finally:
            with self._lock:
                s.end = time.time()
                self._stack.remove(idx)

    def in_layer(self, kind: str) -> bool:
        with self._lock:
            return any(self.spans[i].kind == kind for i in self._stack)

    def count(self, name: str, n: float = 1) -> None:
        with self._lock:
            if self._stack:
                self.counts[(self.spans[self._stack[0]].op, name)] += n

    def in_kind(self, idx: int | None, kind: str) -> bool:
        """Whether span ``idx`` or one of its ancestors is of ``kind``."""
        while idx is not None:
            if self.spans[idx].kind == kind:
                return True
            idx = self.spans[idx].parent
        return False

    def innermost_kind(self) -> str | None:
        with self._lock:
            return self.spans[self._stack[-1]].kind if self._stack else None

    # -- wrappers -----------------------------------------------------------
    def install(self, gateway_client) -> None:
        """Wrap the layer functions everywhere they are bound, and count
        Py4J round trips per (op, innermost span kind)."""
        for kind, targets in LAYER_FUNCTIONS.items():
            for modname, attr in targets:
                mod = importlib.import_module(modname)
                orig = getattr(mod, attr)
                wrapper = self._layer_wrapper(kind, attr, orig)
                for m in list(sys.modules.values()):
                    if getattr(m, "__name__", "").startswith(PACKAGE):
                        for k, v in list(vars(m).items()):
                            if v is orig:
                                setattr(m, k, wrapper)
                                self._patched.append((m, k, orig))
        send = gateway_client.send_command

        def counted_send(*args, **kwargs):
            kind = self.innermost_kind()
            if kind is not None:
                self.count(f"py4j.{kind}")
            return send(*args, **kwargs)

        gateway_client.send_command = counted_send
        self._patched.append((gateway_client, "send_command", None))

    def uninstall(self) -> None:
        for obj, attr, orig in reversed(self._patched):
            if orig is None:
                delattr(obj, attr)  # drop the instance override
            else:
                setattr(obj, attr, orig)
        self._patched.clear()

    def _layer_wrapper(self, kind: str, attr: str, fn):
        statements = _STATEMENTS.get(attr)

        def wrapper(*args, **kwargs):
            if self.current_op is None:
                return fn(*args, **kwargs)
            if statements is not None:
                self.count("sink.statements", statements(args))
            if self.in_layer(kind):
                return fn(*args, **kwargs)
            with self.span(kind, name=attr):
                return fn(*args, **kwargs)

        wrapper.__name__ = getattr(fn, "__name__", attr)
        wrapper.__wrapped__ = fn
        return wrapper


# ---------------------------------------------------------------------------
# Spark's own metrics
# ---------------------------------------------------------------------------


def spark_time(s: str | None) -> float | None:
    """REST API timestamp ('2026-01-02T03:04:05.678GMT') -> epoch seconds."""
    if not s:
        return None
    s = s.replace("GMT", "").replace("Z", "")
    return (
        dt.datetime.fromisoformat(s).replace(tzinfo=dt.timezone.utc).timestamp()
    )


_SIZE = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}
_DUR = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


def sql_metric_value(text: str) -> float:
    """Parse an SQL-metric display string: '5,000', '39.6 KiB', or
    'total (min, med, max ...)\\n2.9 s (...)' (the total is used)."""
    line = text.split("\n")[-1] if "\n" in text else text
    m = re.match(r"\s*([-\d.,]+)\s*([A-Za-z]*)", line)
    if not m:
        return 0.0
    v = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    return v * _SIZE.get(unit, _DUR.get(unit, 1.0))


class StreamProgress:
    """Collects micro-batch progress events (a ``StreamingQueryListener``
    registered on demand; the pyspark listener class is imported lazily)."""

    def __init__(self, spark) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        events = self.events = []

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                events.append(json.loads(event.progress.json))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self._spark = spark
        self._listener = _Listener()
        spark.streams.addListener(self._listener)

    def close(self) -> None:
        self._spark.streams.removeListener(self._listener)


def heap_pools(spark, reset: bool = False) -> float:
    """Sum of the JVM heap pools' peak usage in MiB (optionally resetting
    the peaks first)."""
    jvm = spark.sparkContext._jvm
    total = 0
    for pool in jvm.java.lang.management.ManagementFactory.getMemoryPoolMXBeans():
        if pool.getType().toString() != "Heap memory":
            continue
        if reset:
            pool.resetPeakUsage()
        else:
            total += pool.getPeakUsage().getUsed()
    return total / 2**20


class SparkRest:
    """Reads the application's jobs, stages and SQL executions from the
    local UI REST API once the listener bus has caught up."""

    def __init__(self, sc) -> None:
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def snapshot(self, settle_s: float = 15.0):
        deadline = time.time() + settle_s
        prev = -1
        while True:
            jobs = self.get("/jobs")
            busy = any(j["status"] == "RUNNING" for j in jobs)
            if (not busy and len(jobs) == prev) or time.time() > deadline:
                break
            prev = len(jobs)
            time.sleep(0.3)
        stages = self.get("/stages")
        sql = self.get("/sql?details=true&planDescription=false&offset=0&length=1000000")
        return jobs, stages, sql


def _node_metrics(node: dict) -> dict[str, str]:
    return {m["name"]: m["value"] for m in node.get("metrics", ())}


def _rows_out(nodes: dict, inputs: dict, node_id: int) -> float:
    """Rows a plan node emits: its own "number of output rows", or, for a
    node without that metric (a project inside a codegen stage), the rows
    of the nodes feeding it."""
    rows = _node_metrics(nodes.get(node_id, {})).get("number of output rows")
    if rows is not None:
        return sql_metric_value(rows)
    return sum(_rows_out(nodes, inputs, i) for i in inputs.get(node_id, ()))


def attach_spark(tracer: Tracer, jobs, stages, sql, progress) -> dict:
    """Add job, stage and micro-batch spans under the runner spans and
    return per-op Spark counters ``{op: {metric: value}}``."""
    spans = tracer.spans
    by_op: dict[int, list[int]] = defaultdict(list)
    op_spans = {}
    for i, s in enumerate(spans):
        by_op[s.op].append(i)
        if s.kind == "op":
            op_spans[s.op] = s
    windows = sorted((s.start, s.end, op) for op, s in op_spans.items())

    def op_at(t):
        for a, b, op in windows:
            if a <= t <= b:
                return op
        return None

    stage_index: dict[int, list[dict]] = defaultdict(list)
    for s in stages:
        stage_index[s["stageId"]].append(s)
    stats: dict[int, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for job in sorted(jobs, key=lambda j: j["jobId"]):
        t0 = spark_time(job.get("submissionTime"))
        op = op_at(t0) if t0 is not None else None
        if op is None:
            continue
        parent = innermost(spans, by_op[op], t0)
        t1 = spark_time(job.get("completionTime")) or t0
        spans.append(Span(op, "spark.job", t0, t1, parent, f"job {job['jobId']}"))
        job_idx = len(spans) - 1
        st = stats[op]
        st["spark.jobs"] += 1
        in_call = tracer.in_kind(parent, "call")
        in_sink = tracer.in_kind(parent, "sink")
        if in_call:
            st["call.jobs"] += 1
        for sid in job["stageIds"]:
            for stage in stage_index.get(sid, ()):
                if stage["status"] == "SKIPPED":
                    continue
                a = spark_time(stage.get("submissionTime"))
                b = spark_time(stage.get("completionTime"))
                if a is not None and b is not None:
                    spans.append(Span(op, "spark.stage", a, b, job_idx, f"stage {sid}"))
                st["spark.stages"] += 1
                st["spark.tasks"] += stage["numTasks"]
                st["spark.failed_tasks"] += stage["numFailedTasks"]
                st["spark.task_cpu_s"] += stage["executorCpuTime"] / 1e9
                st["spark.gc_s"] += stage["jvmGcTime"] / 1e3
                st["shuffle.write_bytes"] += stage["shuffleWriteBytes"]
                st["shuffle.read_bytes"] += stage["shuffleReadBytes"]
                st["shuffle.spill_bytes"] += (
                    stage["memoryBytesSpilled"] + stage["diskBytesSpilled"]
                )
                st["sources.input_rows"] += stage["inputRecords"]
                st["sources.input_bytes"] += stage["inputBytes"]
                if in_sink:
                    st["sink.rows"] += stage["outputRecords"]
    for ex in sql:
        t0 = spark_time(ex.get("submissionTime"))
        op = op_at(t0) if t0 is not None else None
        if op is None:
            continue
        nodes = {n["nodeId"]: n for n in ex.get("nodes", ())}
        inputs = defaultdict(list)  # node -> the nodes feeding it
        for e in ex.get("edges", ()):
            inputs[e["toId"]].append(e["fromId"])
        for node in nodes.values():
            metrics = _node_metrics(node)
            if "data sent to Python workers" not in metrics:
                continue
            st = stats[op]
            st["python.bytes_sent"] += sql_metric_value(
                metrics["data sent to Python workers"]
            )
            st["python.bytes_received"] += sql_metric_value(
                metrics.get("data returned from Python workers", "0")
            )
            st["python.rows_sent"] += sum(
                _rows_out(nodes, inputs, i) for i in inputs[node["nodeId"]]
            )
    for ev in progress:
        t0 = spark_time(ev.get("timestamp"))
        op = op_at(t0) if t0 is not None else None
        if op is None:
            continue
        dur = ev.get("batchDuration", 0) / 1e3
        parent = innermost(spans, by_op[op], t0)
        spans.append(Span(op, "stream.batch", t0, t0 + dur, parent, f"batch {ev['batchId']}"))
        st = stats[op]
        st["stream.batches"] += 1
        st["stream.batch_ms"] += dur * 1e3
        st["stream.input_rows"] += ev.get("numInputRows", 0)
        ops_ = ev.get("stateOperators") or []
        st["stream.state_rows"] = max(
            st["stream.state_rows"], sum(o.get("numRowsTotal", 0) for o in ops_)
        )
        st["stream.state_bytes"] = max(
            st["stream.state_bytes"], sum(o.get("memoryUsedBytes", 0) for o in ops_)
        )
    return stats
