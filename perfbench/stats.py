"""Metric definitions and the statistics behind them.

End-to-end metrics come from untraced runs, per-layer metrics from
traced runs. Both lists here are the ones BENCHMARK.json names.
"""

import statistics

END_TO_END = [
    # name, unit, better
    ("setup_s", "s", "lower"),
    ("read_p50_ms", "ms", "lower"),
    ("write_p50_ms", "ms", "lower"),
    ("ops_per_s", "ops/s", "higher"),
    ("rows_per_s", "rows/s", "higher"),
    ("answer_recall", "fraction", "higher"),
    ("ok_frac", "fraction", "higher"),
    ("retained_heap_mb", "MB", "lower"),
]

SPANS = [
    "ingest.upsert_merge",
    "model.ingest_closure", "model.children_closure", "model.parents_closure",
    "query.pattern",
    "operators.rollup",
    "monitor.match_rendered", "monitor.spool",
    "dedup.exact", "dedup.minhash", "dedup.clusters",
    "text.quality",
    "pack.pack_sequences",
    "sources.write",
    "sim.fit", "sim.admit", "sim.knn",
]

SPAN_METRICS = [
    # suffix, unit, better
    ("construct_ms", "ms", "lower"),
    ("plan_ms", "ms", "lower"),
    ("exec_ms", "ms", "lower"),
    ("tasks", "count", "lower"),
    ("task_s", "s", "lower"),
    ("shuffle_bytes", "bytes", "lower"),
]

WORKLOAD_LAYER = [
    ("spark.gc_s", "s", "lower"),
    ("spark.spill_bytes", "bytes", "lower"),
    ("spark.peak_exec_mem_mb", "MB", "lower"),
    ("streaming.query_planning_ms", "ms", "lower"),
    ("streaming.add_batch_ms", "ms", "lower"),
    ("streaming.wal_commit_ms", "ms", "lower"),
    ("streaming.state_rows", "count", "lower"),
    ("streaming.state_commit_ms", "ms", "lower"),
    ("sources.bytes_written_per_input_byte", "ratio", "lower"),
    ("rows_scanned_per_row_returned", "ratio", "lower"),
    # the traced run's own end-to-end figures: against the untraced run
    # of the same seed they give the tracing overhead
    ("trace.read_p50_ms", "ms", "lower"),
    ("trace.write_p50_ms", "ms", "lower"),
    ("trace.rows_per_s", "rows/s", "higher"),
]

PER_LAYER = [(f"{s}.{m}", u, b) for s in SPANS for m, u, b in SPAN_METRICS] \
    + WORKLOAD_LAYER


def percentile(values, q):
    """Linear-interpolated percentile, q in [0, 1]."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_quantile(n):
    """The highest percentile with at least ten samples beyond it, never
    below the median: with n samples, q = 1 - 10/n, clamped to 0.5 when
    the run has fewer than 20 samples. A run's record carries the tail;
    no metric does, as no workload's run has enough samples for the tail
    to differ from the median."""
    if n <= 0:
        raise ValueError("tail of no samples")
    return max(0.5, 1.0 - 10.0 / n)


def tail(values):
    return percentile(values, tail_quantile(len(values)))


def median(values):
    return statistics.median(values)
