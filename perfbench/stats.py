"""Summary statistics shared by the benchmark's reports."""
import json
import statistics


def median(values):
    return statistics.median(values) if values else 0.0


def quartiles(values):
    """(q1, median, q3) as `statistics.quantiles(values, n=4)` gives them;
    a single sample is its own quartiles."""
    if not values:
        return (0.0, 0.0, 0.0)
    if len(values) == 1:
        return (values[0],) * 3
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q1, q2, q3)


def tail(values, beyond=10):
    """The highest percentile that still has at least `beyond` samples
    above it: (percentile, value), or None with too few samples.
    With n samples it is the value at rank n - beyond, i.e. the
    100 * (n - beyond) / n th percentile (p95 needs 200 samples)."""
    n = len(values)
    if n <= beyond:
        return None
    return (100.0 * (n - beyond) / n, sorted(values)[n - beyond - 1])


def describe(values):
    """Median, quartiles, tail and sample count of one timing series."""
    q1, q2, q3 = quartiles(values)
    t = tail(values)
    return {"median": q2, "q1": q1, "q3": q3, "n": len(values),
            "tail_pct": t and round(t[0], 1), "tail": t and t[1]}


def metric(value, unit):
    return {"value": value, "unit": unit}


def result_line(correct, attempted, failed, metrics):
    """The last stdout line: the run's verdict and its metrics."""
    return json.dumps({"correct": bool(correct), "attempted": int(attempted),
                       "failed": int(failed), "metrics": metrics},
                      separators=(",", ":"))
