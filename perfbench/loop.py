"""The closed loop: one client, each op issued after the previous one
finished, every output checked outside the timed section."""

from __future__ import annotations

import random
import sys
import time
import traceback
from dataclasses import dataclass


@dataclass
class Sample:
    op: str
    seconds: float  # start of the call to the end of the action
    input_rows: int  # the op's stated logical input
    result_rows: int
    error: str | None  # None when the op ran and its output checked out
    untimed_s: float = 0.0  # reset, check, cleanup and sweep around the op
    peak_rss_mb: float = 0.0  # peak RSS during call + action, when probed

    @property
    def ok(self) -> bool:
        return self.error is None


def _describe(exc: BaseException) -> str:
    first = str(exc).strip().splitlines()
    return f"{type(exc).__name__}: {first[0] if first else ''}"


def run_op(op, spark, tracer=None, op_id: int = 0, sweep=None, memory=None) -> Sample:
    """Run one op: reset (untimed), call + action (timed, traced when a
    tracer is given), check, cleanup and sweep (untimed). An op that
    raises or whose output fails its check is a failed sample. A
    ``memory`` probe (``reset()``, ``peak_mb()``) brackets call + action."""
    u0 = time.perf_counter()
    op.reset(spark)
    result, error = None, None
    if memory is not None:
        memory.reset()
    t0 = time.perf_counter()
    try:
        if tracer is None:
            result = op.action(op.call(spark))
        else:
            with tracer.span("op", op=op_id, name=op.name):
                with tracer.span("call"):
                    handle = op.call(spark)
                with tracer.span("action"):
                    result = op.action(handle)
    except Exception as exc:  # an op failure is a measured outcome, not fatal
        error = _describe(exc)
        traceback.print_exc(file=sys.stderr)
    t1 = time.perf_counter()
    seconds = t1 - t0
    peak_mb = memory.peak_mb() if memory is not None else 0.0
    if error is None:
        try:
            error = op.check(spark, result)
        except Exception as exc:
            error = "check raised " + _describe(exc)
            traceback.print_exc(file=sys.stderr)
    rows = op.result_rows(result) if error is None else 0
    op.cleanup()
    if sweep is not None:
        sweep()
    if error is not None:
        print(f"FAILED {op.name}: {error}", file=sys.stderr)
    untimed = (t0 - u0) + (time.perf_counter() - t1)
    return Sample(op.name, seconds, op.input_rows, rows, error, untimed, peak_mb)


def closed_loop(ops, rng: random.Random, rounds: int, run) -> list[Sample]:
    """Issue ``rounds`` rounds of ops, each round a fresh ``rng`` shuffle
    of ``ops``. ``run(op)`` executes one op and returns its
    :class:`Sample`. Whole rounds keep the op mix, and with it every
    percentile, the same from run to run."""
    if not ops:
        raise ValueError("no ops")
    samples: list[Sample] = []
    for _ in range(rounds):
        order = list(ops)
        rng.shuffle(order)
        samples.extend(run(op) for op in order)
    return samples
