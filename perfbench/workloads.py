"""Workload definitions and the fixed run schedule.

Every workload runs registry queries (``QueryDef.spark_fn``, then a
``noop`` write) over inputs that ``datagen.generate`` makes from the run's
seed at scale factor ``SCALE_FACTOR``. ``BENCHMARK.json`` says why each
workload is there.
"""

from __future__ import annotations

SCALE_FACTOR = 0.01
# One warm-up pass, not more: with the set-up, the cold pass and the check
# pass, a run must fit 48 runs into the 3420 s a full measurement may take.
WARMUP_PASSES = 1
MIN_STEADY_PASSES = 2
# Rough length of one steady pass on the 4-core reference host (steady
# passes take 4-8 s). Only turns --seconds into a steady-pass count and is
# never re-measured.
PASS_S = 6.0

WORKLOADS: dict[str, tuple[str, ...]] = {
    "odo-pipelines": (
        "q50_partitioner_pipeline",
        "q51_confirmaciones_pipeline",
        "q52_recursos_pipeline",
        "q53_callcenter_demand",
        "q54_indicadores_pipeline",
        "q55_facturacion_pipeline",
        "q57_narrative_verdicts",
    ),
    "dedup-stream": (
        "q34_cosine_topk",
        "q175_ppjoin_pairs",
        "q69_streaming_sessionize",
    ),
}


def pass_counts(seconds: float) -> tuple[int, int]:
    """(warm-up passes, steady passes) for a run of ``seconds``.

    The counts depend only on the requested run length, never on anything
    measured, so a parent commit and a change run the same passes."""
    return WARMUP_PASSES, max(MIN_STEADY_PASSES, round(seconds / PASS_S))


# Wrapped library functions whose self time during spark_fn the traced run
# reports: the most-called ones of each workload.
TRACED_FUNCTIONS: tuple[str, ...] = (
    "session.load_table",
    # odo-pipelines
    "functions.datetime_fns.weekday_monday0",
    "functions.datetime_fns.spanish_long_date",
    "functions.datetime_fns.spanish_day_name",
    "functions.datetime_fns.same_weekday_days_in_month",
    "operators.partitioner.balanced_partition",
    "operators.partitioner.seeded_order_hash",
    "operators.windows.dedup_first",
    "operators.joins.broadcast_dim_join",
    "operators.joins.spine_left_join_fill",
    "operators.aggregates.avg_of_daily_counts",
    # dedup-stream
    "llm.similarity.cosine_topk",
    "llm.similarity.cosine",
    "llm.similarity.dot_double",
    "llm.similarity.norm2",
    "llm.dedup.shingles",
    "llm.dedup.ppjoin_pairs",
    "streaming.temporal.events_stream",
    "streaming.temporal.sessionized_stream",
    "streaming.temporal.run_to_memory",
)
