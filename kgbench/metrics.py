"""Metric names, units and the statistics the benchmark reports with.

END_TO_END metrics are printed by every untraced run, PER_LAYER metrics by
every traced run; a layer that does no work in a workload reports 0.
"""
import math
import re
import statistics

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")

# (name, unit, better, bound)
END_TO_END = [
    ("setup_s", "s", "lower", 0.25),
    ("mix_cpu_ms", "ms", "lower", 0.25),
    ("stored_bytes_per_turn", "B/turn", "lower", 0.05),
]

# (name, unit, better)
PER_LAYER = [
    ("wall.op_p50_ms", "ms", "lower"),
    ("wall.mix_cost_ms", "ms", "lower"),
    ("sources.busy_s", "s", "lower"),
    ("sources.turns", "count", "higher"),
    ("extract.busy_s", "s", "lower"),
    ("extract.mentions_per_turn", "ratio", "higher"),
    ("resolve.busy_s", "s", "lower"),
    ("resolve.resolved_share", "ratio", "higher"),
    ("resolve.task_skew", "ratio", "lower"),
    ("link.busy_s", "s", "lower"),
    ("link.links_per_request", "ratio", "higher"),
    ("canon.busy_s", "s", "lower"),
    ("canon.pair_yield", "ratio", "higher"),
    ("pipeline.busy_s", "s", "lower"),
    ("pipeline.jobs", "count", "lower"),
    ("pipeline.exec_cpu_s", "s", "lower"),
    ("pipeline.gc_s", "s", "lower"),
    ("pipeline.spill_bytes", "B", "lower"),
    ("pipeline.edges", "count", "higher"),
    ("pipeline.shuffle_bytes_per_edge", "B/edge", "lower"),
    ("checkpoint.commit_s", "s", "lower"),
    ("checkpoint.lineage_s", "s", "lower"),
    ("checkpoint.read_s", "s", "lower"),
    ("checkpoint.files_written", "count", "lower"),
    ("checkpoint.bytes_written", "B", "lower"),
    ("graphstore.lookup.busy_ms", "ms", "lower"),
    ("graphstore.lookup.jobs_per_request", "count", "lower"),
    ("query.search.busy_ms", "ms", "lower"),
    ("query.search.rows_read_per_request", "rows", "lower"),
    ("query.traverse.busy_ms", "ms", "lower"),
    ("query.traverse.shuffle_bytes_per_request", "B", "lower"),
    ("query.traverse.jobs_per_request", "count", "lower"),
    ("query.hybrid.busy_ms", "ms", "lower"),
    ("query.hybrid.jobs_per_request", "count", "lower"),
    ("query.index_build_s", "s", "lower"),
    ("spark.driver_only_s", "s", "lower"),
    ("spark.tasks", "count", "lower"),
    ("spark.gc_s", "s", "lower"),
    ("process.peak_rss_mb", "MB", "lower"),
    ("trace.overhead_share", "ratio", "lower"),
    ("trace.unexplained_s", "s", "lower"),
]

UNITS = {n: u for n, u, *_ in END_TO_END + PER_LAYER}


def quantile(values, q):
    """Linear-interpolated quantile of `values` at q in [0, 1]."""
    xs = sorted(values)
    if not xs:
        raise ValueError("no values")
    pos = q * (len(xs) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_percentile(n):
    """Highest whole percentile with at least ten of n samples above it,
    or None when n is too small for any."""
    for p in range(99, 0, -1):
        if n - math.ceil(p / 100 * n) >= 10:
            return p
    return None


def mix_cost(samples):
    """Sum over request classes of (class share x class median latency).

    `samples` is a list of (class, latency). The class shares are the
    shares of the samples; the medians keep one slow request from moving
    the figure."""
    by = {}
    for c, v in samples:
        by.setdefault(c, []).append(v)
    return sum(len(vs) / len(samples) * statistics.median(vs) for vs in by.values())


def spread(values):
    """Inter-quartile range over the median, as statistics.quantiles gives
    the quartiles (the rule two sets of runs are compared with)."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def result(correct, attempted, failed, values):
    """The benchmark's last output line, as a dict."""
    return {
        "correct": bool(correct),
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {k: {"value": float(v), "unit": UNITS[k]} for k, v in values.items()},
    }
