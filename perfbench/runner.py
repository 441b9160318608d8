"""The closed loop: one client, one op at a time, whole passes.

A pass runs every op kind of the workload once, in an order drawn from
the seeded generator. Timed passes repeat until the run's measuring
time is used up and the workload's minimum number of passes is done;
the pass in flight is finished, so every kind weighs the same in every
run. An op that raises or returns a wrong result is
counted as failed and printed, and stays in the mix.
"""

from __future__ import annotations

import time
import traceback
from concurrent.futures import ThreadPoolExecutor
from collections import defaultdict
from collections.abc import Callable
from dataclasses import dataclass, field

import numpy as np


@dataclass
class Op:
    """One op kind. ``run`` is the timed work; ``verify`` checks its
    outcome untimed and returns None when it is right, else a reason.
    ``first`` replaces run+verify on the untimed first execution.
    Kinds in one ``lane`` share state and never run side by side."""

    kind: str
    io: str  # "read" or "write"
    run: Callable[[], object]
    verify: Callable[[object], str | None]
    first: Callable[[], str | None] | None = None
    lane: str = ""
    #: maintenance kinds run after the other kinds of their pass, so
    #: every pass leaves them the same kind of work
    last: bool = False


@dataclass
class Tally:
    attempted: int = 0
    failed: int = 0
    failures: list[tuple[str, str]] = field(default_factory=list)
    latencies: dict[str, list[float]] = field(default_factory=lambda: defaultdict(list))
    io: dict[str, str] = field(default_factory=dict)

    def record(self, op: Op, seconds: float | None, failure: str | None) -> None:
        self.attempted += 1
        self.io[op.kind] = op.io
        if failure is not None:
            self.failed += 1
            self.failures.append((op.kind, failure))
            print(f"FAILED {op.kind}: {failure}", flush=True)
        else:
            self.latencies[op.kind].append(seconds)

    def all_latencies(self, io: str | None = None) -> list[float]:
        return [
            x for k, xs in self.latencies.items()
            if io is None or self.io[k] == io for x in xs
        ]


def _reason(e: BaseException) -> str:
    last = traceback.format_exception_only(type(e), e)[-1].strip()
    return f"raised {last[:300]}"


def run_op(op: Op, tally: Tally, span) -> None:
    """Time one execution of ``op``, check it, and record it."""
    t0 = time.perf_counter()
    try:
        with span("op", op.kind):
            out = op.run()
        dt = time.perf_counter() - t0
        why = op.verify(out)
    except Exception as e:  # an op failure is a result, not a crash
        dt, why = None, _reason(e)
    tally.record(op, dt, why)


def pass_order(ops: list[Op], rng: np.random.Generator) -> list[int]:
    """A seeded order of every kind, maintenance kinds at the end."""
    perm = [int(i) for i in rng.permutation(len(ops))]
    return [i for i in perm if not ops[i].last] + [i for i in perm if ops[i].last]


def warm_pass(ops: list[Op], order: list[int], checks: Tally, group,
              first: bool = True) -> None:
    """Untimed warm-up: every kind once, checked. The first warm pass
    runs ``Op.first`` where a kind has one. Lanes run side by side, the
    kinds of a lane one after another in ``order``. The records go to
    their own tally, in ``order``: they carry no latency."""

    def one(op: Op) -> str | None:
        group(f"warm:{op.kind}")
        try:
            if first and op.first is not None:
                return op.first()
            return op.verify(op.run())
        except Exception as e:
            return _reason(e)

    lanes: dict[str, list[Op]] = defaultdict(list)
    for i in order:
        lanes[ops[i].lane].append(ops[i])
    results: dict[str, str | None] = {}

    def lane(todo: list[Op]) -> None:
        for op in todo:
            results[op.kind] = one(op)

    with ThreadPoolExecutor(min(4, len(lanes))) as pool:
        for f in [pool.submit(lane, todo) for todo in lanes.values()]:
            f.result()
    for i in order:
        checks.record(ops[i], 0.0, results[ops[i].kind])


def timed_passes(
    ops: list[Op], rng: np.random.Generator, seconds: float, min_passes: int,
    tally: Tally, span, group,
) -> tuple[int, float]:
    """Whole passes until ``seconds`` have elapsed and at least
    ``min_passes`` are done. Returns (passes, wall seconds)."""
    t0 = time.perf_counter()
    passes = 0
    while passes < min_passes or time.perf_counter() - t0 < seconds:
        for n, i in enumerate(pass_order(ops, rng)):
            op = ops[i]
            group(f"p{passes}.{n}:{op.kind}")
            run_op(op, tally, span)
        passes += 1
    return passes, time.perf_counter() - t0
