"""One benchmark run inside a fresh interpreter.

Started by ``run.py``; writes its result as JSON to ``--out``. Timed work
runs with tracing off unless ``--trace 1``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import probes  # noqa: E402
import protocol  # noqa: E402
import workloads  # noqa: E402


def spark_conf(work: str) -> dict[str, str]:
    """Settings that keep the run inside its work directory and quiet.
    None of them changes how a query is planned or executed."""
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
    }


def parse_args(argv):
    ap = argparse.ArgumentParser()
    ap.add_argument("--root", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--data", required=True)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--warmup", type=int, default=0)
    ap.add_argument("--steady", type=int, default=0)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--t-spawn", type=float, required=True)
    ap.add_argument("--out", required=True)
    return ap.parse_args(argv)


class LayerRecorder:
    """Spans and Spark readings for the traced run. Spark is read between
    passes, outside the timed region."""

    def __init__(self, spark, tracer):
        self.spark, self.tracer = spark, tracer
        self.progress = probes.ProgressRecorder()
        spark.streams.addListener(self.progress)
        self.per_pass: list[dict] = []
        self._first_job = self._eager_jobs = self._batches_seen = 0
        self._cpu0 = self._jit0 = 0.0

    def before_pass(self, kind: str, index: int) -> None:
        self.tracer.pass_kind, self.tracer.pass_index = kind, index
        self._first_job = probes.jobs_started(self.spark)
        self._eager_jobs = 0
        self._cpu0 = probes.process_tree_cpu_s(os.getpid())
        self._jit0 = probes.jit_cpu_s(self.spark)

    def call(self, qdef, data: str):
        sc, tr = self.spark.sparkContext, self.tracer
        desc = f"{tr.pass_kind}:{tr.pass_index}"
        tr.query, tr.phase = qdef.name, "build"
        # Jobs are tagged by query and phase; counting goes by job id,
        # because streaming micro-batches run under their stream's own
        # group.
        sc.setJobGroup(f"perfbench:{qdef.name}:build", desc)
        j0 = probes.jobs_started(self.spark)
        t0 = time.perf_counter()
        with tr.span("query.build"):
            df = qdef.spark_fn(self.spark, data)
        t1 = time.perf_counter()
        self._eager_jobs += probes.jobs_started(self.spark) - j0
        tr.phase = "action"
        sc.setJobGroup(f"perfbench:{qdef.name}:action", desc)
        with tr.span("query.action"):
            df.write.format("noop").mode("overwrite").save()
        t2 = time.perf_counter()
        sc.setLocalProperty("spark.jobGroup.id", None)
        tr.query = tr.phase = None
        return t1 - t0, t2 - t1

    def after_pass(self, p: protocol.Pass) -> None:
        # CPU first, before the readings below add their own.
        cpu_s = probes.process_tree_cpu_s(os.getpid()) - self._cpu0
        jit_cpu_s = probes.jit_cpu_s(self.spark) - self._jit0
        stats = probes.job_stats(self.spark, self._first_job, probes.jobs_started(self.spark))
        rdds, cached = probes.storage(self.spark)
        batches = self.progress.batches[self._batches_seen:]
        self._batches_seen = len(self.progress.batches)
        self.per_pass.append({
            "pass": f"{p.kind}:{p.index}", "kind": p.kind, "wall_s": p.wall_s,
            "query_span_s": self.tracer.query_span_s(p.kind, p.index),
            "eager_jobs": self._eager_jobs,
            "cpu_s": cpu_s, "jit_cpu_s": jit_cpu_s,
            "persistent_rdds": rdds, "cached_bytes": cached,
            "streaming": probes.streaming_summary(batches),
            **stats,
        })


def layer_metrics(passes, rec: LayerRecorder, tracer, get_spark_s: float) -> dict[str, float]:
    steady = [r for r in rec.per_pass if r["kind"] == "steady"]
    cold = next(p for p in passes if p.kind == "cold")
    after_cold = rec.per_pass[0]
    n_steady = len(steady)
    cores = int(os.environ["SPARK_GRAFT_CPUS"])

    def med(key, sub=None):
        return statistics.median((r[sub][key] if sub else r[key]) for r in steady)

    m = {
        "session.get_spark_s": get_spark_s,
        "queries.build_s": math.fsum(protocol.per_query_medians(passes, "build_s").values()),
        "queries.cold_build_s": math.fsum(c.build_s for c in cold.calls),
        "queries.eager_jobs": med("eager_jobs"),
        "exec.action_s": math.fsum(protocol.per_query_medians(passes, "action_s").values()),
        "exec.cold_action_s": math.fsum(c.action_s for c in cold.calls),
        "exec.jobs": med("jobs"),
        "exec.stages": med("stages"),
        "exec.tasks": med("tasks"),
        "exec.shuffle_read_bytes": med("shuffle_read_bytes"),
        "exec.shuffle_write_bytes": med("shuffle_write_bytes"),
        "exec.spill_bytes": med("spill_bytes"),
        "exec.executor_run_s": med("executor_run_s"),
        "exec.core_busy_frac": statistics.median(
            r["executor_run_s"] / (r["wall_s"] * cores) for r in steady),
        "process.cpu_s": med("cpu_s"),
        "jvm.jit_cpu_s": med("jit_cpu_s"),
        "session.persistent_rdds": steady[-1]["persistent_rdds"],
        "session.cached_bytes": steady[-1]["cached_bytes"],
        "session.persistent_rdds_growth":
            steady[-1]["persistent_rdds"] - after_cold["persistent_rdds"],
        "session.cached_bytes_growth":
            steady[-1]["cached_bytes"] - after_cold["cached_bytes"],
        "streaming.batches": med("batches", "streaming"),
        "streaming.batch_s_p50": med("batch_s_p50", "streaming"),
        "streaming.commit_s": med("commit_s", "streaming"),
        "streaming.state_rows": med("state_rows", "streaming"),
        "streaming.state_bytes": med("state_bytes", "streaming"),
        "trace.steady_pass_s": protocol.summarize(passes).steady_pass_s,
        "trace.span_coverage": math.fsum(r["query_span_s"] for r in steady)
                               / math.fsum(r["wall_s"] for r in steady),
    }
    fns = tracer.function_self_times("steady")
    m["queries.fn_calls"] = sum(c for c, _ in fns.values()) / n_steady
    for name in workloads.TRACED_FUNCTIONS:
        m[f"fn.{name}.self_s"] = fns.get(name, (0, 0.0))[1] / n_steady
    return m


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, args.root)
    queries = workloads.WORKLOADS[args.workload]
    tracer = None
    if args.trace:
        from spans import Tracer

        tracer = Tracer()
        tracer.instrument()

    from etl_procesos_odo_spark.session import get_spark, load_table

    t0 = time.perf_counter()
    spark = get_spark("perfbench", extra_conf=spark_conf(args.work))
    get_spark_s = time.perf_counter() - t0
    load_table(spark, args.data, "region").collect()
    t_ready = time.monotonic()
    result = {"setup_s": t_ready - args.t_spawn, "t_spawn": args.t_spawn, "t_ready": t_ready}

    from etl_procesos_odo_spark.registry import registry
    from verify_all import run_queries

    qdefs = {q.name: q for q in registry() if q.name in queries}
    rec = LayerRecorder(spark, tracer) if tracer else None

    def call(name):
        q = qdefs[name]
        if rec is not None:
            return rec.call(q, args.data)
        t0 = time.perf_counter()
        df = q.spark_fn(spark, args.data)
        t1 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        return t1 - t0, time.perf_counter() - t1

    checks: dict[str, dict] = {}

    def check(name):
        # After the timed passes, the census's own comparison: the query
        # once more with collect() against its DuckDB oracle through
        # verify_all.canon and _alt_oracle.
        t0 = time.perf_counter()
        checks[name] = run_queries([name], args.data)[name]
        if not checks[name]["ok"]:
            raise RuntimeError(f"{name} disagrees with its oracle: {checks[name]}")
        return time.perf_counter() - t0, 0.0

    heap: dict[str, float] = {}

    def after_pass(p):
        if rec is not None:
            rec.after_pass(p)
        # The heap the workload's own passes leave behind, read before
        # the check pass adds the verifier's state.
        if p.kind == "steady" and p.index == args.steady - 1:
            heap["mb"] = probes.retained_heap_mb(spark)

    passes = protocol.run_protocol(
        queries, call, args.warmup, args.steady, check_call=check,
        before_pass=rec.before_pass if rec else None, after_pass=after_pass,
        clock=time.monotonic,
    )
    summary = protocol.summarize(passes)

    result.update({
        "summary": vars(summary),
        "retained_heap_mb": heap["mb"],
        "verify": checks,
        "passes": [
            {"kind": p.kind, "index": p.index, "wall_s": p.wall_s, "start": p.start,
             "calls": [vars(c) for c in p.calls]}
            for p in passes
        ],
    })
    if tracer is not None:
        result["layers"] = layer_metrics(passes, rec, tracer, get_spark_s)
        result["layer_passes"] = rec.per_pass
        result["functions"] = {k: {"calls": c, "self_s": s}
                               for k, (c, s) in tracer.function_self_times("steady").items()}
        with open(os.path.join(args.work, "spans.json"), "w") as f:
            json.dump(tracer.dump(), f)
    spark.stop()
    with open(args.out, "w") as f:
        json.dump(result, f)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
