"""Self-tests for the benchmark's protocol and statistics.

    python3 -m unittest discover -s perfbench -p 'test_*.py'

No Spark needed: the protocol is driven with fake query runners.
"""

from __future__ import annotations

import itertools
import os
import random
import statistics
import subprocess
import sys
import tempfile
import textwrap
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import hostspeed  # noqa: E402
import protocol  # noqa: E402
import spans  # noqa: E402
import workloads  # noqa: E402

NAMES = ("qa", "qb", "qc")


def fake_runner(times: dict[str, float]):
    """A query runner whose calls take the given (fake) build time and
    record every call it receives."""
    log = []

    def call(name):
        log.append(name)
        return times[name], 0.5 * times[name]

    return call, log


class TailTest(unittest.TestCase):
    def test_tail_not_below_median_for_any_sample(self):
        rng = random.Random(7)
        for n in range(1, 80):
            for _ in range(20):
                xs = [rng.lognormvariate(0, 1) for _ in range(n)]
                pct, value = protocol.tail(xs)
                self.assertGreaterEqual(value, statistics.median(xs))
                self.assertGreaterEqual(pct, 50.0)

    def test_tail_keeps_ten_samples_beyond(self):
        xs = list(range(1, 101))  # 100 samples
        pct, value = protocol.tail(xs)
        self.assertEqual(value, 90)
        self.assertEqual(pct, 90.0)
        self.assertEqual(sum(1 for x in xs if x > value), 10)

    def test_small_sample_clamps_to_median(self):
        xs = [1.0, 2.0, 3.0, 4.0, 100.0]
        self.assertEqual(protocol.tail(xs), (50.0, 3.0))

    def test_summary_tail_and_p50_share_one_sample(self):
        rng = random.Random(3)

        def call(name):
            return rng.uniform(0.1, 2.0), rng.uniform(0.1, 1.0)

        passes = protocol.run_protocol([f"q{i}" for i in range(9)], call,
                                       warmup=1, steady=4)
        s = protocol.summarize(passes)
        self.assertEqual(s.query_samples, 36)
        self.assertGreaterEqual(s.query_tail_s, s.query_p50_s)
        sample = [c.total_s for p in passes if p.kind == "steady" for c in p.calls]
        self.assertEqual(s.query_p50_s, statistics.median(sample))
        self.assertEqual((s.query_tail_pct, s.query_tail_s), protocol.tail(sample))


class WarmupExcludedTest(unittest.TestCase):
    def test_warmup_and_cold_passes_do_not_reach_steady_numbers(self):
        pass_no = itertools.count()
        current = {"kind": None}

        def before(kind, index):
            current["kind"] = kind
            next(pass_no)

        def call(name):
            # Cold and warm-up calls are a thousand times slower.
            return (1000.0 if current["kind"] != "steady" else 1.0), 0.0

        passes = protocol.run_protocol(NAMES, call, warmup=3, steady=2,
                                       before_pass=before)
        s = protocol.summarize(passes)
        self.assertEqual(s.steady_pass_s, 3.0)
        self.assertEqual(s.query_p50_s, 1.0)
        self.assertEqual(s.query_tail_s, 1.0)
        self.assertEqual(protocol.per_query_medians(passes),
                         {"qa": 1.0, "qb": 1.0, "qc": 1.0})

    def test_check_call_serves_only_the_last_pass(self):
        call, log = fake_runner({n: 1.0 for n in NAMES})
        check, check_log = fake_runner({n: 99.0 for n in NAMES})
        passes = protocol.run_protocol(NAMES, call, warmup=1, steady=2, check_call=check)
        self.assertEqual(check_log, list(NAMES))
        self.assertEqual(len(log), 4 * len(NAMES))
        self.assertEqual(passes[-1].kind, "check")
        self.assertEqual(protocol.summarize(passes).steady_pass_s, 4.5)

    def test_pass_order(self):
        call, _ = fake_runner({n: 1.0 for n in NAMES})
        passes = protocol.run_protocol(NAMES, call, warmup=2, steady=3)
        self.assertEqual([(p.kind, p.index) for p in passes],
                         [("cold", 0), ("warmup", 0), ("warmup", 1),
                          ("steady", 0), ("steady", 1), ("steady", 2)])


class FixedPassCountTest(unittest.TestCase):
    def test_counts_do_not_depend_on_measured_speed(self):
        warmup, steady = workloads.pass_counts(12)
        for queries in workloads.WORKLOADS.values():
            calls = []
            for speed in (0.001, 1.0, 50.0):
                call, log = fake_runner({n: speed for n in queries})
                protocol.run_protocol(queries, call, warmup, steady)
                calls.append(len(log))
            self.assertEqual(len(set(calls)), 1)
            self.assertEqual(calls[0], len(queries) * (1 + warmup + steady))

    def test_counts_depend_only_on_requested_seconds(self):
        self.assertEqual(workloads.pass_counts(12), workloads.pass_counts(12))
        self.assertEqual(workloads.pass_counts(1)[1], workloads.MIN_STEADY_PASSES)
        self.assertGreater(workloads.pass_counts(60)[1], workloads.pass_counts(12)[1])

    def test_failed_calls_are_counted_not_retried(self):
        def call(name):
            if name == "qb":
                raise RuntimeError("boom")
            return 1.0, 1.0

        passes = protocol.run_protocol(NAMES, call, warmup=1, steady=2)
        s = protocol.summarize(passes)
        self.assertEqual(s.calls, 12)
        self.assertEqual(s.failed_calls, 4)
        self.assertEqual(s.steady_pass_s, 4.0)


class HostSpeedTest(unittest.TestCase):
    REF = hostspeed.REF_SAMPLE_S

    def samples(self, cost_at, stolen_per_tick=lambda t: 0):
        """One sample every 0.05 s over [0, 10): loop cost cost_at(t), and
        20 ticks of machine CPU time per sample, of which
        stolen_per_tick(t) stolen."""
        out, stolen = [], 0
        for i in range(200):
            t = i * 0.05
            stolen += stolen_per_tick(t)
            out.append((t, cost_at(t), stolen, 20 * (i + 1)))
        return out

    def test_speed_is_reference_over_mean_cost(self):
        smp = self.samples(lambda t: self.REF if t < 5 else 2 * self.REF)
        self.assertAlmostEqual(hostspeed.speed(smp, 0.0, 4.9), 1.0)
        self.assertAlmostEqual(hostspeed.speed(smp, 5.0, 9.9), 0.5)
        self.assertAlmostEqual(hostspeed.speed(smp, 0.0, 9.99), 0.75)

    def test_stolen_share_of_the_window_is_taken_off(self):
        smp = self.samples(lambda t: self.REF, lambda t: 5 if t >= 5 else 0)
        self.assertAlmostEqual(hostspeed.speed(smp, 1.0, 4.0), 1.0)
        self.assertAlmostEqual(hostspeed.speed(smp, 6.0, 9.0), 0.75)
        self.assertAlmostEqual(hostspeed.steal_share(smp, 6.0, 9.0), 0.25)

    def test_short_window_takes_the_nearest_samples(self):
        smp = self.samples(lambda t: self.REF if t < 5 else 2 * self.REF)
        self.assertAlmostEqual(hostspeed.speed(smp, 7.001, 7.002), 0.5)

    def test_each_call_is_restated_over_its_own_window(self):
        smp = self.samples(lambda t: self.REF if t < 5 else 2 * self.REF)
        fast = protocol.Call("qa", 1.0, 2.0, start=1.0)
        slow = protocol.Call("qb", 1.0, 2.0, start=6.0)
        p = protocol.Pass("steady", 0, 8.0, [fast, slow], start=1.0)
        (q,) = hostspeed.normalize([p], smp)
        self.assertAlmostEqual(q.calls[0].total_s, 3.0)
        self.assertAlmostEqual(q.calls[1].total_s, 1.5)
        self.assertEqual((q.kind, q.index, q.start), ("steady", 0, 1.0))
        self.assertLess(q.wall_s, p.wall_s)

    def test_load_skips_a_line_cut_short(self):
        with tempfile.TemporaryDirectory() as tmp:
            path = os.path.join(tmp, "samples.txt")
            with open(path, "w") as f:
                f.write("1.0 0.0006 3 100\n1.05 0.0007 3 120\n1.1 0.0006 3")
            self.assertEqual(hostspeed.load(path),
                             [(1.0, 0.0006, 3, 100), (1.05, 0.0007, 3, 120)])


class SpanTest(unittest.TestCase):
    def test_self_time_subtracts_children(self):
        ticks = iter([0.0, 1.0, 3.0, 10.0])  # outer open, inner open/close, outer close
        tr = spans.Tracer(clock=lambda: next(ticks))
        inner = tr.wrap(lambda: None, "inner")
        outer = tr.wrap(lambda: inner(), "outer")
        tr.pass_kind, tr.pass_index, tr.phase = "steady", 0, "build"
        outer()
        self.assertEqual(tr.function_self_times(),
                         {"outer": (1, 8.0), "inner": (1, 2.0)})

    def test_queries_modules_bind_wrapped_functions(self):
        # In a child interpreter: instrumenting mutates the package for good.
        code = textwrap.dedent(f"""
            import sys
            sys.path[:0] = [{HERE!r}, {ROOT!r}]
            import spans
            spans.Tracer().instrument()
            from etl_procesos_odo_spark import (
                queries_llm, queries_pipelines, queries_streaming_ml, registry)
            from etl_procesos_odo_spark.llm import dedup
            for mod, attr in [(queries_pipelines, "broadcast_dim_join"),
                              (queries_pipelines, "load_table"),
                              (registry, "load_table"),
                              (queries_llm, "shingles"),
                              (queries_streaming_ml, "run_to_memory"),
                              (dedup, "multi_consumer_barrier"),
                              (dedup, "_spread")]:
                fn = getattr(mod, attr)
                assert getattr(fn, "__wrapped_by_tracer__", False), (mod.__name__, attr)
            try:
                spans.Tracer().instrument()
            except RuntimeError:
                pass
            else:
                raise AssertionError("instrument() after queries_* import must refuse")
        """)
        proc = subprocess.run([sys.executable, "-c", code], capture_output=True,
                              text=True, timeout=120)
        self.assertEqual(proc.returncode, 0, proc.stderr[-2000:])


if __name__ == "__main__":
    unittest.main()
