"""Timing loop, statistics and span recording shared by every workload.

Nothing here imports Spark: the loop only calls an operation's ``build`` and
``execute`` callables, so the tests drive it with stub operations.

Vocabulary:
  operation  one named unit of work (a query, a statement, an insert ...)
  pass       one execution of every operation of a workload, in seeded order
  cold       the first execution of an operation in the process
  warm       every later execution of it
"""

from __future__ import annotations

import math
import statistics
import time
import traceback
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Any, Callable


@dataclass
class Op:
    """One operation. ``build`` constructs the plan (driver-side work);
    ``execute(plan)`` runs it and returns the result the checks read.
    ``layer`` names the program layer the build calls into."""

    name: str
    build: Callable[[], Any]
    execute: Callable[[Any], Any]
    layer: str = "queries"
    # opaque per-operation data the workload's checks need (expected-state
    # step, statement parameters ...)
    tag: Any = None


@dataclass
class Execution:
    op: str
    pass_no: int
    cold: bool
    layer: str = ""
    seconds: float = 0.0
    build_s: float = 0.0
    exec_s: float = 0.0
    result: Any = None
    error: str | None = None
    tag: Any = None
    counts: dict = field(default_factory=dict)


class Tracer:
    """Spans kept in memory and written out when the run ends. A disabled
    tracer records nothing and costs one attribute test per span."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **counts):
        if not self.enabled:
            yield None
            return
        rec = self._open(name, counts)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    def _open(self, name: str, counts: dict) -> dict:
        rec = {
            "id": len(self.spans) + 1,
            "parent": self._stack[-1] if self._stack else None,
            "name": name,
            "start": time.time(),
            "end": None,
            "counts": dict(counts),
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        return rec

    def add(self, name: str, start: float, end: float, parent: int | None) -> None:
        """A span measured elsewhere (Spark's planning phases report their
        own start and end times)."""
        if self.enabled:
            self.spans.append(
                {"id": len(self.spans) + 1, "parent": parent, "name": name,
                 "start": start, "end": end, "counts": {}}
            )

    def self_times(self) -> dict[str, float]:
        """Seconds per span name of each span's duration minus the part of
        its interval that its children cover."""
        children: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            if s["end"] is None:
                continue
            covered = _covered(
                [(max(c["start"], s["start"]), min(c["end"], s["end"]))
                 for c in children.get(s["id"], []) if c["end"] is not None]
            )
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - covered
        return out


def _covered(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, -math.inf
    for a, b in sorted(i for i in intervals if i[1] > i[0]):
        if a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def run_passes(
    make_pass: Callable[[int], list[Op]],
    seconds: float,
    min_passes: int,
    min_warm: int = 0,
    runner: Callable[[Op, Execution], None] | None = None,
    slow_op: str | None = None,
    between_passes: Callable[[int], None] | None = None,
) -> list[Execution]:
    """Closed loop, one client: run whole passes until ``seconds`` have
    elapsed, at least ``min_passes`` passes ran and at least ``min_warm``
    warm executions exist. An operation that raises is recorded with its
    exception and counted as failed; it is never retried.

    ``slow_op`` names an operation whose execution runs twice inside its
    timed region: a deliberate 2x slowdown that ``compare.py`` must flag.
    ``between_passes(n)`` runs untimed before pass n > 0 (resetting state).
    """
    runner = runner or _plain_runner
    seen: set[str] = set()
    execs: list[Execution] = []
    start = time.perf_counter()
    pass_no = 0
    while True:
        if pass_no and between_passes is not None:
            between_passes(pass_no)
        for op in make_pass(pass_no):
            ex = Execution(op=op.name, pass_no=pass_no, cold=op.name not in seen,
                           layer=op.layer, tag=op.tag)
            seen.add(op.name)
            t0 = time.perf_counter()
            try:
                runner(op, ex)
                if op.name == slow_op:
                    runner(op, Execution(op=op.name, pass_no=pass_no, cold=False))
            except Exception as e:  # noqa: BLE001 — recorded and counted as failed
                ex.error = f"{type(e).__name__}: {e}".splitlines()[0][:500]
                traceback.print_exc(limit=5)  # to the run's log
            ex.seconds = time.perf_counter() - t0
            execs.append(ex)
        pass_no += 1
        warm = sum(1 for e in execs if not e.cold)
        if (
            pass_no >= min_passes
            and warm >= min_warm
            and time.perf_counter() - start >= seconds
        ):
            return execs


def _plain_runner(op: Op, ex: Execution) -> None:
    t0 = time.perf_counter()
    plan = op.build()
    t1 = time.perf_counter()
    ex.result = op.execute(plan)
    ex.build_s, ex.exec_s = t1 - t0, time.perf_counter() - t1


def summarize(execs: list[Execution]) -> dict:
    """End-to-end timings of one run. Executions that raised carry no
    timing. Per operation: the cold time and the median warm time."""
    per_op: dict[str, dict] = {}
    warm_all: list[float] = []
    for e in execs:
        if e.error is not None:
            continue
        d = per_op.setdefault(e.op, {"cold_s": None, "warm": []})
        if e.cold:
            d["cold_s"] = e.seconds
        else:
            d["warm"].append(e.seconds)
            warm_all.append(e.seconds)
    ops = {}
    for name, d in per_op.items():
        ops[name] = {
            "cold_s": d["cold_s"],
            "warm_median_s": statistics.median(d["warm"]) if d["warm"] else None,
            "warm_n": len(d["warm"]),
        }
    medians = [o["warm_median_s"] for o in ops.values() if o["warm_median_s"]]
    colds = [o["cold_s"] for o in ops.values() if o["cold_s"] is not None]
    out = {
        "cold_pass_s": sum(colds),
        "warm_pass_s": sum(medians),
        "warm_geomean_ms": 1000 * math.exp(sum(math.log(m) for m in medians) / len(medians))
        if medians else None,
        "query_p50_ms": 1000 * statistics.median(warm_all) if warm_all else None,
        "warm_samples": len(warm_all),
        "ops": ops,
    }
    # a tail is reported only with at least ten samples beyond it
    if len(warm_all) >= 100:
        out["query_p90_ms"] = 1000 * statistics.quantiles(warm_all, n=10, method="inclusive")[8]
    return out
