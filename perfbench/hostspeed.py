#!/usr/bin/env python3
"""Host-speed sampler, and wall times restated at a reference host speed.

The benchmark runs on the 4 vCPUs of a VM on a shared host, whose speed
drifts over minutes in two ways:

- per instruction: the same fixed Python loop takes 0.9 s in one half
  hour and 3 s in another, in CPU time as much as in wall time;
- by steal: the hypervisor runs something else while the VM's vCPUs are
  ready to run. The guest counts that time as steal in ``/proc/stat``.

A whole run is then fast or slow, and no number of passes inside one run
averages that out.

While a run is measured, this script runs beside it as its own process.
Every ``PERIOD_S`` it times a fixed loop of ``LOOP`` iterations in the CPU
time of its own thread, and reads the machine's stolen and total CPU time
from ``/proc/stat``. A slower host per instruction lengthens the loop's
CPU time; the run's own threads queueing for a core inside the VM do not,
as they only delay when a sample starts. The sampler costs about 1.5% of
one core.

    python3 perfbench/hostspeed.py --out samples.txt   # until SIGTERM

``speed(samples, t0, t1)`` over a window [t0, t1] (CLOCK_MONOTONIC, shared
by all processes) is the mean of ``REF_SAMPLE_S / cost`` over the samples
taken in it, times the share of the machine's CPU time in the window that
was not stolen. A wall time ``w`` over that window is reported as
``w * speed``: the time it would have taken on a host that runs the loop
in ``REF_SAMPLE_S`` and steals nothing.
"""

from __future__ import annotations

import argparse
import math
import signal
import sys
import time

from protocol import Call, Pass

LOOP = 10_000
PERIOD_S = 0.05
# CPU seconds of one sample on the reference host: an uncontended core of
# the 4-vCPU Xeon (Sapphire Rapids) VM the committed results come from.
REF_SAMPLE_S = 0.0006
# A window holding fewer samples takes the nearest ones around it.
MIN_SAMPLES = 5

# (monotonic mid-time, CPU seconds of one loop, machine's stolen and total
# CPU time so far in clock ticks)
Sample = tuple[float, float, int, int]


def cpu_ticks() -> tuple[int, int]:
    """(stolen, total) CPU time of the machine so far, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:9]]
    return fields[7], sum(fields)


def sample_once() -> Sample:
    w0 = time.monotonic()
    c0 = time.thread_time()
    acc = 0
    for i in range(LOOP):
        acc += i
    cost = time.thread_time() - c0
    return (w0 + 0.5 * (time.monotonic() - w0), cost, *cpu_ticks())


def run(out: str) -> None:
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(0))
    with open(out, "w", buffering=1) as f:
        next_t = time.monotonic()
        while True:
            t, cost, stolen, total = sample_once()
            f.write(f"{t:.6f} {cost:.9f} {stolen} {total}\n")
            next_t += PERIOD_S
            time.sleep(max(0.0, next_t - time.monotonic()))


def load(path: str) -> list[Sample]:
    """Samples in time order; a line cut short by the stop is skipped."""
    samples = []
    with open(path) as f:
        for line in f:
            parts = line.split()
            if len(parts) == 4:
                try:
                    s = (float(parts[0]), float(parts[1]), int(parts[2]), int(parts[3]))
                except ValueError:
                    continue
                if s[1] > 0:
                    samples.append(s)
    return samples


def steal_share(samples: list[Sample], t0: float, t1: float) -> float:
    """Share of the machine's CPU time stolen between the last sample
    before t0 and the first one after t1."""
    before = [s for s in samples if s[0] <= t0] or samples[:1]
    after = [s for s in samples if s[0] >= t1] or samples[-1:]
    a, b = before[-1], after[0]
    total = b[3] - a[3]
    return (b[2] - a[2]) / total if total > 0 else 0.0


def speed(samples: list[Sample], t0: float, t1: float) -> float:
    """Host speed over [t0, t1], relative to the reference host."""
    if not samples:
        raise ValueError("no host-speed samples")
    inside = [s[1] for s in samples if t0 <= s[0] <= t1]
    if len(inside) < MIN_SAMPLES:
        mid = 0.5 * (t0 + t1)
        inside = [s[1] for s in sorted(samples, key=lambda s: abs(s[0] - mid))[:MIN_SAMPLES]]
    loop_speed = math.fsum(REF_SAMPLE_S / c for c in inside) / len(inside)
    return loop_speed * (1.0 - steal_share(samples, t0, t1))


def calibration_s(samples: list[Sample]) -> float:
    """Seconds of bench.py's 20M-iteration host-calibration loop (the
    same loop body), from the mean sample over the run."""
    return 20_000_000 / LOOP * math.fsum(s[1] for s in samples) / len(samples)


def normalize(passes: list[Pass], samples: list[Sample]) -> list[Pass]:
    """The passes with every wall time restated at the reference speed,
    each call over its own window."""
    out = []
    for p in passes:
        q = Pass(p.kind, p.index, p.wall_s * speed(samples, p.start, p.start + p.wall_s),
                 start=p.start)
        for c in p.calls:
            f = speed(samples, c.start, c.start + c.total_s)
            q.calls.append(Call(c.query, c.build_s * f, c.action_s * f, c.ok, c.start))
        out.append(q)
    return out


if __name__ == "__main__":
    ap = argparse.ArgumentParser(description="sample host speed until SIGTERM")
    ap.add_argument("--out", required=True)
    run(ap.parse_args().out)
