"""Statistics of one benchmark run, kept free of Spark so they can be tested
on their own (see test_stats.py)."""

import statistics

# A tail percentile is reported only when at least this many samples lie
# beyond it; below that it would describe a handful of samples, not a tail.
TAIL_MIN_BEYOND = 10


def median(values):
    """Median of the steady-round values; raises on an empty list."""
    if not values:
        raise ValueError("median of no samples")
    return statistics.median(values)


def tail(values, q=0.9, min_beyond=TAIL_MIN_BEYOND):
    """The q-quantile of `values`, or None when fewer than `min_beyond`
    samples lie strictly beyond it."""
    if len(values) < 2:
        return None
    cut = statistics.quantiles(values, n=100, method="inclusive")[round(q * 100) - 1]
    beyond = sum(1 for v in values if v > cut)
    return cut if beyond >= min_beyond else None


def parse_cpu_line(stat_text):
    """The aggregate `cpu` line of /proc/stat as a list of ints."""
    for line in stat_text.splitlines():
        if line.startswith("cpu "):
            return [int(x) for x in line.split()[1:]]
    raise ValueError("no aggregate cpu line")


def steal_share(before, after):
    """Share of all CPU time between two /proc/stat snapshots that the
    hypervisor stole. The first eight fields (user, nice, system, idle,
    iowait, irq, softirq, steal) partition the time; guest time is already
    counted in user and nice, so it is left out of the total."""
    a, b = parse_cpu_line(before), parse_cpu_line(after)
    delta = [y - x for x, y in zip(a[:8], b[:8])]
    total = sum(delta)
    return delta[7] / total if total > 0 else 0.0


def spread(values):
    """Distance between the first and third quartiles as a share of the
    median, as the gate computes it."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)
