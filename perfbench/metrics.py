"""Metric names, units and the statistics that produce them.

``END_TO_END`` and ``PER_LAYER`` are the single source of the names the
benchmark prints; ``test_benchmark_json.py`` checks them against
``BENCHMARK.json``. ``PER_LAYER`` also records the per-layer ->
end-to-end mapping: the metric each layer figure should move, and on
which workloads.
"""

from __future__ import annotations

import math
import statistics

# name -> (unit, better). Gated by the bounds in BENCHMARK.json.
END_TO_END = {
    "setup_s": ("s", "lower"),
    "pass_s": ("s", "lower"),
    "rows_per_s": ("1/s", "higher"),
    "peak_rss_mb": ("MB", "lower"),
}

# Printed by name on the report line of an untraced run but not gated.
# setup_wall_s and pass_wall_s are setup_s and pass_s as raw walls, before
# the CPU share the hypervisor stole is taken out. op_p50_s is taken over
# ops of seven unlike kinds, so it jumps from one op's wall to another's
# between runs.
# The highest percentile with ten of a run's 28 op samples beyond it is
# p64, too close to the median for op_tail_s to be a tail. failed_frac is
# 0 at a correct head, and a spread is taken relative to the median. The
# keyed-table figures exist only on keyed_cdc.
REPORTED = {
    "setup_wall_s": "s",
    "pass_wall_s": "s",
    "op_p50_s": "s",
    "failed_frac": "frac",
    "op_tail_s": "s",
    "apply_p50_s": "s",
    "apply_tail_s": "s",
    "read_p50_s": "s",
    "lookup_p50_s": "s",
    "write_amp": "ratio",
    "space_amp": "ratio",
}

CORPUS, KEYED = "corpus_dedup", "keyed_cdc"
BOTH = (CORPUS, KEYED)

# name -> (unit, better, the metric it should move, the workloads it is
# measured on). Per-pass figures are medians over the traced passes of a
# run; a layer a workload never calls reads 0 there.
PER_LAYER = {
    "session.build_s": ("s", "lower", "setup_s", BOTH),
    "catalog.load_table_s": ("s", "lower", "op_p50_s", (CORPUS,)),
    "catalog.load_table_calls": ("count", "lower", "op_p50_s", (CORPUS,)),
    "queries.build_s": ("s", "lower", "op_p50_s", BOTH),
    "queries.eager_jobs": ("count", "lower", "op_p50_s", BOTH),
    "queries.exec_s": ("s", "lower", "pass_s", BOTH),
    "spark.jobs": ("count", "lower", "op_p50_s", BOTH),
    "spark.stages": ("count", "lower", "op_p50_s", BOTH),
    "spark.tasks": ("count", "lower", "op_p50_s", BOTH),
    "spark.executor_run_s": ("s", "lower", "pass_s", BOTH),
    "spark.executor_cpu_s": ("s", "lower", "pass_s", BOTH),
    "spark.gc_s": ("s", "lower", "pass_s", BOTH),
    "spark.core_busy_frac": ("frac", "higher", "pass_s", (CORPUS,)),
    "spark.shuffle_write_bytes": ("bytes", "lower", "pass_s", (CORPUS,)),
    "spark.shuffle_read_bytes": ("bytes", "lower", "pass_s", (CORPUS,)),
    "spark.shuffle_write_records": ("count", "lower", "pass_s", (CORPUS,)),
    "spark.spill_bytes": ("bytes", "lower", "pass_s", (CORPUS,)),
    "spark.peak_exec_mem_bytes": ("bytes", "lower", "peak_rss_mb", BOTH),
    "spark.input_bytes": ("bytes", "lower", "peak_rss_mb", BOTH),
    "dedup.out_rows_per_shuffle_record": ("ratio", "higher", "pass_s", (CORPUS,)),
    "similarity.ivf_codebook_s": ("s", "lower", "setup_s", (CORPUS,)),
    "similarity.ivf_topk_s": ("s", "lower", "op_p50_s", (CORPUS,)),
    "cache.persisted_rdds_delta": ("count", "lower", "peak_rss_mb", (CORPUS,)),
    "keyed.apply_s": ("s", "lower", "apply_p50_s", (KEYED,)),
    "keyed.jobs_per_apply": ("count", "lower", "apply_p50_s", (KEYED,)),
    "keyed.bytes_written": ("bytes", "lower", "write_amp", (KEYED,)),
    "keyed.files_written": ("count", "lower", "write_amp", (KEYED,)),
    "keyed.read_s": ("s", "lower", "read_p50_s", (KEYED,)),
    "keyed.jobs_per_read": ("count", "lower", "read_p50_s", (KEYED,)),
    "keyed.lookup_s": ("s", "lower", "lookup_p50_s", (KEYED,)),
    "keyed.jobs_per_lookup": ("count", "lower", "lookup_p50_s", (KEYED,)),
    "keyed.compact_s": ("s", "lower", "apply_tail_s", (KEYED,)),
    "keyed.pending_deltas": ("count", "lower", "space_amp", (KEYED,)),
    "keyed.table_bytes": ("bytes", "lower", "space_amp", (KEYED,)),
    "trace.overhead_s": ("s", "lower", "pass_s", BOTH),
}


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def tail_percentile(n: int) -> int:
    """The highest whole percentile with at least ten of ``n`` samples
    beyond it; 100 (the maximum) when there are ten or fewer."""
    for p in range(99, 0, -1):
        if n - math.ceil(p * n / 100) >= 10:
            return p
    return 100


def percentile(xs, p: int) -> float:
    """Nearest-rank percentile."""
    xs = sorted(xs)
    if not xs:
        return 0.0
    return xs[max(math.ceil(p * len(xs) / 100) - 1, 0)]
