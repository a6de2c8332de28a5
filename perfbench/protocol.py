"""The closed-loop pass protocol and the statistics taken from it.

Nothing here touches Spark, so the self-tests in ``test_protocol.py`` can
drive the protocol with a fake query runner.

One client runs the workload's queries one after another, each call
waiting for the previous one to finish. A run is one cold pass, then
``warmup`` passes whose numbers are discarded, then ``steady`` passes,
then one check pass. Warm numbers come from the steady passes only.
"""

from __future__ import annotations

import math
import statistics
import time
from collections.abc import Callable, Sequence
from dataclasses import dataclass, field

# A tail percentile is reported only with at least this many samples
# beyond it.
TAIL_MIN_BEYOND = 10


@dataclass
class Call:
    query: str
    build_s: float
    action_s: float
    ok: bool = True
    start: float = 0.0  # clock reading when the call began

    @property
    def total_s(self) -> float:
        return self.build_s + self.action_s


@dataclass
class Pass:
    kind: str  # "cold", "warmup", "steady" or "check"
    index: int
    wall_s: float = 0.0
    calls: list[Call] = field(default_factory=list)
    start: float = 0.0  # clock reading when the pass began


def run_protocol(
    names: Sequence[str],
    call: Callable[[str], tuple[float, float]],
    warmup: int,
    steady: int,
    check_call: Callable[[str], tuple[float, float]] | None = None,
    before_pass: Callable[[str, int], None] | None = None,
    after_pass: Callable[[Pass], None] | None = None,
    clock: Callable[[], float] = time.perf_counter,
) -> list[Pass]:
    """Run the cold, warm-up and steady passes in order, then, when
    ``check_call`` is given, one check pass that calls it instead.

    ``call(name)`` builds and executes one query and returns its
    (build seconds, action seconds); an exception marks the call failed
    and the pass goes on. The hooks run outside the timed pass."""
    plan = [("cold", 0)]
    plan += [("warmup", i) for i in range(warmup)]
    plan += [("steady", i) for i in range(steady)]
    if check_call is not None:
        plan.append(("check", 0))
    passes = []
    for kind, index in plan:
        if before_pass is not None:
            before_pass(kind, index)
        p = Pass(kind, index)
        run = check_call if kind == "check" else call
        p.start = clock()
        for name in names:
            c0 = clock()
            try:
                build_s, action_s = run(name)
                p.calls.append(Call(name, build_s, action_s, start=c0))
            except Exception:  # noqa: BLE001 - counted, the loop goes on
                p.calls.append(Call(name, 0.0, 0.0, ok=False, start=c0))
        p.wall_s = clock() - p.start
        passes.append(p)
        if after_pass is not None:
            after_pass(p)
    return passes


def steady_passes(passes: Sequence[Pass]) -> list[Pass]:
    return [p for p in passes if p.kind == "steady"]


def per_query_medians(passes: Sequence[Pass], attr: str = "total_s") -> dict[str, float]:
    """Median of ``attr`` per query over the steady passes only."""
    by_query: dict[str, list[float]] = {}
    for p in steady_passes(passes):
        for c in p.calls:
            if c.ok:
                by_query.setdefault(c.query, []).append(getattr(c, attr))
    return {q: statistics.median(v) for q, v in by_query.items()}


def tail(samples: Sequence[float], min_beyond: int = TAIL_MIN_BEYOND) -> tuple[float, float]:
    """(percentile, value) of the highest nearest-rank percentile that has
    at least ``min_beyond`` samples above it.

    With fewer than ``2 * min_beyond + 1`` samples that rank falls below
    the median; the tail is then clamped to the median (percentile 50), so
    it is never lower than the median of the same sample."""
    xs = sorted(samples)
    n = len(xs)
    if n == 0:
        raise ValueError("tail of an empty sample")
    med = statistics.median(xs)
    rank = n - min_beyond  # 1-based; xs[rank:] holds min_beyond samples
    if rank < 1 or xs[rank - 1] < med:
        return 50.0, med
    return 100.0 * rank / n, xs[rank - 1]


@dataclass
class Summary:
    cold_pass_s: float
    steady_pass_s: float
    query_p50_s: float
    query_tail_s: float
    query_tail_pct: float
    query_samples: int
    calls: int
    failed_calls: int


def summarize(passes: Sequence[Pass]) -> Summary:
    cold = next(p for p in passes if p.kind == "cold")
    sample = [c.total_s for p in steady_passes(passes) for c in p.calls if c.ok]
    if not sample:
        raise ValueError("no successful steady calls")
    pct, tail_s = tail(sample)
    calls = [c for p in passes for c in p.calls]
    return Summary(
        cold_pass_s=cold.wall_s,
        steady_pass_s=math.fsum(per_query_medians(passes).values()),
        query_p50_s=statistics.median(sample),
        query_tail_s=tail_s,
        query_tail_pct=pct,
        query_samples=len(sample),
        calls=len(calls),
        failed_calls=sum(1 for c in calls if not c.ok),
    )
