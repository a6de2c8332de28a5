#!/usr/bin/env python3
"""Steadiness check: run every workload over several seeds and report each
end-to-end metric's spread (quartile distance over median) against its
bound, plus the traced runs' per-layer numbers and tracing overhead.

    python3 perfbench/steadiness.py --out perfbench/results/steadiness.json

Every workload of BENCHMARK.json runs on seeds 1 to ``RUNS``, one run at a
time, seeds interleaved across workloads so that slow drift in host speed
falls on every workload alike. The first ``TRACED`` seeds also get a
traced run.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUNS = 10  # seeds per workload
TRACED = 3  # of those, seeds that also get a traced run


def one_run(workload: str, seed: int, seconds: int, trace: int) -> dict:
    t0 = time.monotonic()
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=900,
    )
    if proc.returncode != 0:
        raise SystemExit(f"{workload} seed {seed} failed:\n{proc.stderr[-3000:]}")
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    with open(os.path.join(ROOT, ".perfbench", f"run-{workload}-{seed}-t{trace}.json")) as f:
        record = json.load(f)
    return {
        "seed": seed, "wall_s": time.monotonic() - t0,
        "correct": result["correct"], "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {k: v["value"] for k, v in result["metrics"].items()},
        "host_calibration_s": record["host_calibration_s"],
        "host_speed": record["host_speed"]["run"],
        "host_steal_frac": record["host_speed"]["steal_frac"],
        "raw_wall_s": {
            "setup_s": record["host_speed"]["raw_setup_s"],
            "cold_pass_s": record["host_speed"]["raw_summary"]["cold_pass_s"],
            "steady_pass_s": record["host_speed"]["raw_summary"]["steady_pass_s"],
        },
        "load_avg_1m": record["load_avg_1m"],
        "query_p50_s": record["query_p50_s"],
        "query_tail_s": record["query_tail_s"],
        "query_tail_pct": record["query_tail_pct"],
        "query_samples": record["query_samples"],
        "pass_wall_s": [[p["kind"], p["wall_s"]] for p in record["worker"]["passes"]],
    }


def spread(values: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {"median": med, "q1": q1, "q3": q3, "iqr_over_median": (q3 - q1) / med}


def pass_wall_medians(runs: list[dict]) -> dict[str, float]:
    """Median over runs of each pass's wall time, by pass position
    ("cold", "warmup0", "steady0", "steady1", ...): a steady phase past
    the warm-up curve shows steady passes of equal length."""
    walls: dict[str, list[float]] = {}
    for r in runs:
        seen: dict[str, int] = {}
        for kind, wall in r["pass_wall_s"]:
            i = seen[kind] = seen.get(kind, -1) + 1
            walls.setdefault(kind if kind in ("cold", "check") else f"{kind}{i}", []).append(wall)
    return {k: statistics.median(v) for k, v in walls.items()}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = [w["name"] for w in spec["workloads"]]
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    seconds = spec["run_seconds"]

    runs: dict[str, list[dict]] = {w: [] for w in names}
    traced: dict[str, list[dict]] = {w: [] for w in names}
    for i in range(RUNS):
        for w in names:
            runs[w].append(one_run(w, 1 + i, seconds, 0))
            print(w, runs[w][-1]["seed"], runs[w][-1]["metrics"], flush=True)
            # A traced run right after the untraced one on the same seed,
            # so the overhead is taken from a pair run close in time.
            if i < TRACED:
                traced[w].append(one_run(w, 1 + i, seconds, 1))

    report = {"run_seconds": seconds, "workloads": {}}
    for w in names:
        entry = {"runs": runs[w], "metrics": {}, "pass_wall_s_median": pass_wall_medians(runs[w])}
        for m, bound in bounds.items():
            s = spread([r["metrics"][m] for r in runs[w]])
            s["bound"] = bound
            s["within_third_of_bound"] = s["iqr_over_median"] < bound / 3
            entry["metrics"][m] = s
        # The same times as measured, before restating them at the
        # reference host speed: what the speed correction removes.
        entry["raw_wall_s"] = {m: spread([r["raw_wall_s"][m] for r in runs[w]])
                               for m in runs[w][0]["raw_wall_s"]}
        if traced[w]:
            pairs = [(t["metrics"]["trace.steady_pass_s"], u["metrics"]["steady_pass_s"])
                     for t, u in zip(traced[w], runs[w])]
            entry["traced"] = {
                "runs": traced[w],
                "steady_pass_s_pairs": pairs,
                "tracing_overhead": statistics.median(t / u - 1 for t, u in pairs),
                "min_span_coverage": min(r["metrics"]["trace.span_coverage"] for r in traced[w]),
            }
        report["workloads"][w] = entry
        for m, s in entry["metrics"].items():
            print(f"{w:14s} {m:17s} median {s['median']:9.4f}  "
                  f"iqr/median {s['iqr_over_median']:.3f}  bound {s['bound']}")
        for m, s in entry["raw_wall_s"].items():
            print(f"{w:14s} {m:17s} raw    {s['median']:9.4f}  "
                  f"iqr/median {s['iqr_over_median']:.3f}")
        print(f"{w:14s} pass wall medians " + "  ".join(
            f"{k} {v:.3f}" for k, v in entry["pass_wall_s_median"].items()))
        if "traced" in entry:
            t = entry["traced"]
            print(f"{w:14s} tracing overhead {t['tracing_overhead']:+.3f}  "
                  f"span coverage >= {t['min_span_coverage']:.4f}")
    os.makedirs(os.path.dirname(os.path.abspath(args.out)), exist_ok=True)
    with open(args.out, "w") as f:
        json.dump(report, f, indent=1)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
