"""Metric arithmetic for the benchmark: latency percentiles, throughput and
span self time. Pure functions, so the tests can pin them."""
import statistics

TAIL_BEYOND = 10


def tail(latencies, beyond=TAIL_BEYOND):
    """The highest percentile that has at least `beyond` samples above it.

    Returns (value, percentile, n): with n sorted samples, the
    (beyond + 1)-th largest sample, at percentile 100 * (n - beyond) / n.
    With fewer than 2 * beyond + 1 samples that would fall below the median.
    The value is then the mean of the slowest quarter of the samples (at
    least one), and the percentile the one where that quarter starts: one
    pass of a query workload samples each query once, so any single one of
    the slowest samples is one query's latency, with all of its noise.
    """
    xs = sorted(latencies)
    n = len(xs)
    if n == 0:
        raise ValueError("no samples")
    if n < 2 * beyond + 1:
        k = max(1, n // 4)
        return sum(xs[n - k:]) / k, 100.0 * (n - k) / n, n
    return xs[n - beyond - 1], 100.0 * (n - beyond) / n, n


def _union_length(intervals):
    total = 0.0
    end = None
    for s, e in sorted(intervals):
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total


def self_times(spans):
    """{span id: self time}: the span's duration minus the part of it that
    its direct children cover (children clipped to the parent)."""
    by_id = {s["id"]: s for s in spans}
    children = {}
    for s in spans:
        if s["parent"] in by_id:
            children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        a, b = s["startMs"], s["endMs"]
        covered = [(max(c["startMs"], a), min(c["endMs"], b))
                   for c in children.get(s["id"], [])]
        covered = [(x, y) for x, y in covered if y > x]
        out[s["id"]] = max(b - a, 0.0) - _union_length(covered)
    return out


def self_time_by_kind(spans):
    """Total self time in seconds per span kind."""
    st = self_times(spans)
    out = {}
    for s in spans:
        out[s["kind"]] = out.get(s["kind"], 0.0) + st[s["id"]] / 1e3
    return out


def end_to_end(result):
    """End-to-end metrics from the harness's raw result."""
    samples = result["samples"]
    ok = [s["build_s"] + s["exec_s"] for s in samples if s["error"] is None]
    busy = sum(s["build_s"] + s["exec_s"] for s in samples)
    m = {"setup_s": statistics.median(result["setup_s"])}
    if ok:
        t, pct, n = tail(ok)
        m.update(query_p50_s=statistics.median(ok), query_tail_s=t,
                 queries_per_s=len(ok) / busy)
    else:
        pct, n = None, 0
    detail = {"failed_frac": (len(samples) - len(ok)) / max(len(samples), 1),
              "tail_percentile": pct, "tail_samples": n}
    if "slices_per_op" in result and busy > 0:
        detail["slices_per_s"] = len(ok) * result["slices_per_op"] / busy
    return m, detail
