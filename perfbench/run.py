#!/usr/bin/env python3
"""Benchmark entry point: one run of one workload.

    python3 perfbench/run.py --workload odo-pipelines --seed 1 --seconds 12 --trace 0

Run from the repository root. Generates the workload's inputs from the
seed, starts a fresh interpreter that drives ``local[nproc]`` through the
closed-loop pass protocol (see ``protocol.py``), whose last pass checks
every query's result against its DuckDB oracle, and prints each metric as
``name value unit`` followed by one JSON result line. A host-speed sampler
(``hostspeed.py``) runs beside the worker; the time metrics are restated
at the reference host speed. Scratch files go to ``.perfbench/`` under the
repository root.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import hostspeed  # noqa: E402
import protocol  # noqa: E402
import workloads  # noqa: E402

WORKER_TIMEOUT_S = 170
DRIVER_MEMORY = "4g"

# The vocabulary of the repository's document fixtures (31 words), which
# datagen otherwise reads from a fixture file outside the repository.
DOC_VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()


def metric_names(trace: int) -> list[tuple[str, str]]:
    """(name, unit) of the metrics BENCHMARK.json defines for this mode."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return [(m["name"], m["unit"]) for m in spec["per_layer" if trace else "end_to_end"]]


def check_checkout() -> None:
    need = ("etl_procesos_odo_spark/session.py", "datagen.py", "verify_all.py")
    missing = [p for p in need if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        sys.exit(f"perfbench: not a checkout of the engine (missing {missing})")


def generate(data: str, seed: int) -> dict[str, int]:
    sys.path.insert(0, ROOT)
    import datagen
    import pyarrow.parquet as pq

    datagen.SEED = seed
    datagen._vocab = lambda: list(DOC_VOCAB)
    shutil.rmtree(data, ignore_errors=True)
    datagen.generate(data, workloads.SCALE_FACTOR)
    return {
        f[: -len(".parquet")]: pq.read_metadata(os.path.join(data, f)).num_rows
        for f in sorted(os.listdir(data))
    }


def pinned_env(work: str) -> dict[str, str]:
    env = dict(os.environ)
    env.update({
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),  # nproc
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "PYTHONHASHSEED": "0",
        "TMPDIR": os.path.join(work, "tmp"),
        "PYTHONPATH": ROOT,
        "PYSPARK_PYTHON": sys.executable,
    })
    for k in ("SPARK_GRAFT_PREFER_SMJ", "SPARK_GRAFT_SHJ_AQE_THRESHOLD",
              "SPARK_GRAFT_CLUSTER_SAFE_BARRIER", "OMP_NUM_THREADS"):
        env.pop(k, None)
    return env


def run_worker(args: list[str], env: dict[str, str], out: str, log: str) -> dict:
    """Start a fresh interpreter running worker.py; return its result.
    The worker and its JVM share a process group, stopped on any exit."""
    cmd = [sys.executable, os.path.join(HERE, "worker.py"), *args,
           "--out", out, "--t-spawn", repr(time.monotonic())]
    with open(log, "ab") as logf:
        proc = subprocess.Popen(cmd, env=env, cwd=ROOT, stdout=logf,
                                stderr=subprocess.STDOUT, start_new_session=True)
        try:
            code = proc.wait(timeout=WORKER_TIMEOUT_S)
        finally:
            try:
                os.killpg(proc.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            proc.wait()
    if code != 0 or not os.path.exists(out):
        with open(log, errors="replace") as f:
            tail = f.read()[-3000:]
        sys.exit(f"perfbench: worker exited with {code}\n{tail}")
    with open(out) as f:
        return json.load(f)


@contextlib.contextmanager
def host_sampler(out: str):
    """Run hostspeed.py beside the measured work; stop it on any exit."""
    if os.path.exists(out):
        os.remove(out)
    proc = subprocess.Popen([sys.executable, os.path.join(HERE, "hostspeed.py"), "--out", out],
                            cwd=ROOT, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
    try:
        # Measured work starts once the sampler has written a first sample.
        deadline = time.monotonic() + 30
        while not (os.path.exists(out) and os.path.getsize(out)):
            if proc.poll() is not None or time.monotonic() > deadline:
                sys.exit("perfbench: the host-speed sampler did not start")
            time.sleep(0.05)
        yield
    finally:
        proc.terminate()
        try:
            proc.wait(timeout=10)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def load_passes(res: dict) -> list[protocol.Pass]:
    return [protocol.Pass(p["kind"], p["index"], p["wall_s"],
                          [protocol.Call(**c) for c in p["calls"]], p["start"])
            for p in res["passes"]]


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description="one benchmark run")
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=12,
                    help="steady-phase length; sets the fixed steady-pass count")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # On SIGTERM, unwind through the finally blocks that stop the sampler
    # and the worker's process group.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    check_checkout()
    names = metric_names(args.trace)

    work = os.path.join(ROOT, ".perfbench")
    for sub in ("tmp", "spark-local", "warehouse"):
        shutil.rmtree(os.path.join(work, sub), ignore_errors=True)
        os.makedirs(os.path.join(work, sub))
    log = os.path.join(work, "worker.log")
    open(log, "w").close()
    env = pinned_env(work)
    load_avg = os.getloadavg()[0]
    data = os.path.join(work, "data")
    rows = generate(data, args.seed)

    warmup, steady = workloads.pass_counts(args.seconds)
    tag = f"{args.workload}-{args.seed}-t{args.trace}"
    samples_path = os.path.join(work, f"hostspeed-{tag}.txt")
    with host_sampler(samples_path):
        res = run_worker(["--root", ROOT, "--work", work, "--data", data,
                          "--workload", args.workload, "--warmup", str(warmup),
                          "--steady", str(steady), "--trace", str(args.trace)],
                         env, os.path.join(work, "result.json"), log)

    # Times are reported at the reference host speed (see hostspeed.py);
    # the raw wall-clock summary is kept in the record.
    samples = hostspeed.load(samples_path)
    setup_speed = hostspeed.speed(samples, res["t_spawn"], res["t_ready"])
    s = vars(protocol.summarize(hostspeed.normalize(load_passes(res), samples)))
    failed_checks = [q for q, r in res["verify"].items() if not r["ok"]]
    attempted, failed = s["calls"], s["failed_calls"]
    values = {
        "setup_s": res["setup_s"] * setup_speed,
        "cold_pass_s": s["cold_pass_s"],
        "steady_pass_s": s["steady_pass_s"],
        "retained_heap_mb": res["retained_heap_mb"],
    }
    if args.trace:
        # At the reference speed too, so that it compares with the
        # untraced steady_pass_s as the tracing overhead.
        res["layers"]["trace.steady_pass_s"] = s["steady_pass_s"]
    source = res["layers"] if args.trace else values
    metrics = {n: {"value": source[n], "unit": u} for n, u in names}

    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "warmup_passes": warmup, "steady_passes": steady,
        "env": {k: env[k] for k in ("SPARK_GRAFT_CPUS", "SPARK_DRIVER_MEMORY",
                                    "SPARK_LOCAL_DIRS", "PYTHONHASHSEED")},
        "rows": rows, "load_avg_1m": load_avg,
        "host_calibration_s": hostspeed.calibration_s(samples),
        "host_speed": {"samples": len(samples), "setup": setup_speed,
                       "run": hostspeed.speed(samples, -math.inf, math.inf),
                       "steal_frac": hostspeed.steal_share(samples, -math.inf, math.inf),
                       "raw_setup_s": res["setup_s"], "raw_summary": res["summary"]},
        "query_p50_s": s["query_p50_s"], "query_tail_s": s["query_tail_s"],
        "query_tail_pct": s["query_tail_pct"], "query_samples": s["query_samples"],
        "error_rate": failed / attempted, "failed_checks": failed_checks,
        "metrics": metrics, "worker": res,
    }
    with open(os.path.join(work, f"run-{tag}.json"), "w") as f:
        json.dump(record, f, indent=1)

    for n, m in metrics.items():
        print(f"{n} {m['value']:.6g} {m['unit']}")
    raw = res["summary"]
    print(f"raw_setup_s {res['setup_s']:.6g} s  raw_cold_pass_s {raw['cold_pass_s']:.6g} s  "
          f"raw_steady_pass_s {raw['steady_pass_s']:.6g} s  "
          f"(host speed {record['host_speed']['run']:.3g}, "
          f"steal {record['host_speed']['steal_frac']:.3g})")
    print(f"error_rate {failed / attempted:.6g} 1  ({failed} of {attempted} calls)")
    # Per-call latency of the steady passes: printed and recorded, not
    # bounded (see README: too few calls per run to be steady).
    print(f"query_p50_s {s['query_p50_s']:.6g} s")
    print(f"query_tail_s {s['query_tail_s']:.6g} s  "
          f"(p{s['query_tail_pct']:.3g} of {s['query_samples']} calls)")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
