import pytest

import tracing
from tracing import Span


def test_self_time_subtracts_union_of_children():
    spans = [
        Span(1, "op", 0.0, 10.0),
        Span(1, "call", 1.0, 4.0, parent=0),
        Span(1, "action", 3.0, 6.0, parent=0),  # overlaps the call
        Span(1, "spark.job", 5.0, 12.0, parent=2),  # runs past its parent
    ]
    own = tracing.self_times(spans)
    assert own[0] == pytest.approx(10.0 - 5.0)  # children cover [1, 6]
    assert own[1] == pytest.approx(3.0)
    assert own[2] == pytest.approx(3.0 - 1.0)  # job covers [5, 6] of it
    assert own[3] == pytest.approx(7.0)


def test_self_time_of_disjoint_children():
    spans = [
        Span(1, "op", 0.0, 10.0),
        Span(1, "call", 0.0, 2.0, parent=0),
        Span(1, "action", 5.0, 7.0, parent=0),
    ]
    assert tracing.self_times(spans)[0] == pytest.approx(6.0)


def test_runner_spans_nest_and_count_per_op():
    t = tracing.Tracer()
    with t.span("op", op=7, name="q"):
        with t.span("call"):
            t.count("py4j.call", 3)
            assert t.innermost_kind() == "call"
        with t.span("action"):
            with t.span("sink"):
                assert t.in_layer("sink")
    assert t.current_op is None
    kinds = [(s.kind, s.parent) for s in t.spans]
    assert kinds == [("op", None), ("call", 0), ("action", 0), ("sink", 2)]
    assert t.in_kind(3, "action") and not t.in_kind(1, "action")
    assert t.counts[(7, "py4j.call")] == 3
    assert all(s.end >= s.start for s in t.spans)


def test_spark_job_attaches_to_innermost_span():
    t = tracing.Tracer()
    t.spans = [
        Span(1, "op", 100.0, 110.0),
        Span(1, "call", 100.5, 103.0, parent=0),
        Span(1, "action", 103.0, 110.0, parent=0),
    ]
    job = {
        "jobId": 0,
        "submissionTime": "1970-01-01T00:01:44.000GMT",  # t = 104 s
        "completionTime": "1970-01-01T00:01:45.500GMT",
        "stageIds": [3],
    }
    stage = {
        "stageId": 3, "attemptId": 0, "status": "COMPLETE", "numTasks": 4,
        "numFailedTasks": 0, "executorCpuTime": 2_000_000_000, "jvmGcTime": 10,
        "shuffleWriteBytes": 5, "shuffleReadBytes": 6, "memoryBytesSpilled": 0,
        "diskBytesSpilled": 0, "inputRecords": 100, "inputBytes": 1000,
        "outputRecords": 0,
        "submissionTime": "1970-01-01T00:01:44.100GMT",
        "completionTime": "1970-01-01T00:01:45.400GMT",
    }
    stats = tracing.attach_spark(t, [job], [stage], [], [])
    job_span = next(s for s in t.spans if s.kind == "spark.job")
    assert t.spans[job_span.parent].kind == "action"
    assert stats[1]["spark.tasks"] == 4
    assert stats[1]["spark.task_cpu_s"] == pytest.approx(2.0)
    assert stats[1]["call.jobs"] == 0


def test_sql_metric_strings():
    assert tracing.sql_metric_value("5,000") == 5000
    assert tracing.sql_metric_value(
        "total (min, med, max (stageId: taskId))\n39.6 KiB (9.9 KiB, 9.9 KiB)"
    ) == pytest.approx(39.6 * 1024)
    assert tracing.sql_metric_value("total (min, med, max)\n2.9 s (1 s)") == 2.9


def test_python_rows_sent_are_the_rows_feeding_the_arrow_node():
    t = tracing.Tracer()
    t.spans = [Span(1, "op", 100.0, 110.0)]
    ex = {
        "submissionTime": "1970-01-01T00:01:44.000GMT",
        "nodes": [
            {"nodeId": 0, "metrics": [
                {"name": "data sent to Python workers", "value": "2.0 KiB"},
                {"name": "data returned from Python workers", "value": "1.0 KiB"},
                {"name": "number of output rows", "value": "7"},
            ]},
            {"nodeId": 1, "metrics": []},  # a project: no row metric
            {"nodeId": 2, "metrics": [{"name": "number of output rows", "value": "1,200"}]},
        ],
        "edges": [{"fromId": 1, "toId": 0}, {"fromId": 2, "toId": 1}],
    }
    stats = tracing.attach_spark(t, [], [], [ex], [])
    assert stats[1]["python.rows_sent"] == 1200
    assert stats[1]["python.bytes_sent"] == 2048
    assert stats[1]["python.bytes_received"] == 1024
