import random

import pyarrow as pa

import loop
from check import Expected


class FakeOp:
    """An op whose result is a fixed Arrow table, checked like a registry op."""

    def __init__(self, name, table, expected):
        self.name = name
        self.input_rows = 10
        self.table = table
        self.expected = expected

    def reset(self, spark):
        pass

    def call(self, spark):
        return self.table

    def action(self, handle):
        return handle

    def check(self, spark, table):
        return self.expected.mismatch(table)

    def result_rows(self, table):
        return table.num_rows

    def cleanup(self):
        pass


def _expected():
    return Expected(["k", "v"], [(1, 0.5), (2, 1.5)])


def test_correct_output_passes_in_any_row_order():
    table = pa.table({"v": [1.5, 0.5], "k": [2, 1]})
    s = loop.run_op(FakeOp("good", table, _expected()), spark=None)
    assert s.ok and s.result_rows == 2


def test_wrong_output_counts_as_failed():
    wrong = pa.table({"k": [1, 2], "v": [0.5, 1.25]})
    s = loop.run_op(FakeOp("bad", wrong, _expected()), spark=None)
    assert not s.ok
    assert "values differ" in s.error
    short = pa.table({"k": [1], "v": [0.5]})
    assert "row count" in loop.run_op(FakeOp("short", short, _expected()), None).error


def test_raising_op_counts_as_failed():
    class Boom(FakeOp):
        def call(self, spark):
            raise RuntimeError("no")

    s = loop.run_op(Boom("boom", None, _expected()), spark=None)
    assert not s.ok and s.error.startswith("RuntimeError")


def test_closed_loop_runs_whole_rounds_in_seeded_order():
    good = pa.table({"k": [1, 2], "v": [0.5, 1.5]})
    wrong = pa.table({"k": [1, 2], "v": [0.5, 9.0]})
    ops = [FakeOp(f"op{i}", good, _expected()) for i in range(4)]
    ops.append(FakeOp("wrong", wrong, _expected()))
    run = lambda op: loop.run_op(op, None)  # noqa: E731
    a = loop.closed_loop(ops, random.Random(3), 3, run)
    b = loop.closed_loop(ops, random.Random(3), 3, run)
    assert len(a) == 15
    assert [s.op for s in a] == [s.op for s in b]
    assert sum(not s.ok for s in a) == 3


def test_memory_probe_brackets_call_and_action():
    events = []

    class Probe:
        def reset(self):
            events.append("reset")

        def peak_mb(self):
            events.append("peak")
            return 42.0

    class Traced(FakeOp):
        def call(self, spark):
            events.append("call")
            return self.table

        def check(self, spark, table):
            events.append("check")
            return super().check(spark, table)

    table = pa.table({"k": [1, 2], "v": [0.5, 1.5]})
    s = loop.run_op(Traced("t", table, _expected()), None, memory=Probe())
    assert events == ["reset", "call", "peak", "check"]
    assert s.ok and s.peak_rss_mb == 42.0
