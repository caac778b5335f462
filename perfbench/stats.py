"""Pure helpers that turn recorded ops and spans into metrics."""
import statistics

TAIL_BEYOND = 10


def median(values):
    return statistics.median(values) if values else None


def tail(values, beyond=TAIL_BEYOND):
    """The highest percentile of `values` with at least `beyond` samples
    above it: (value, percentile, samples beyond, sample count), or None
    when there are too few samples to have one."""
    xs = sorted(values)
    k = len(xs) - beyond  # 1-based rank of the tail sample
    if k < 1:
        return None
    return xs[k - 1], 100.0 * k / len(xs), len(xs) - k, len(xs)


def union_length(intervals, lo=None, hi=None):
    """Total length covered by `intervals` ((start, end) pairs), clipped to
    [lo, hi] when given; overlapping parts count once."""
    clipped = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            clipped.append((s, e))
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(clipped):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans):
    """Span id -> its duration minus the part of it its children cover."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start_ms"], s["end_ms"]))
    return {s["id"]: (s["end_ms"] - s["start_ms"]) -
            union_length(children.get(s["id"], []), s["start_ms"], s["end_ms"])
            for s in spans}


def coverage(op_span, spans):
    """Share of an op span's wall time covered by its direct children."""
    kids = [(s["start_ms"], s["end_ms"]) for s in spans if s["parent"] == op_span["id"]]
    wall = op_span["end_ms"] - op_span["start_ms"]
    return union_length(kids, op_span["start_ms"], op_span["end_ms"]) / wall if wall > 0 else 1.0


def failures(ops, check_failures):
    """Ops that threw or whose output check failed, by op id, each with
    the reason (exception class and message, or the check's finding)."""
    out = {}
    for o in ops:
        if o.get("error"):
            out[o["op"]] = o["error"]
    for op_id, why in check_failures.items():
        out.setdefault(op_id, why)
    return out


def accounting(ops, check_failures, run_errors=()):
    """(attempted, failed, error_rate, exit_code) for one run. Any failed
    op or run-level error makes the exit code non-zero."""
    failed = failures(ops, check_failures)
    attempted = len(ops)
    rate = len(failed) / attempted if attempted else 1.0
    code = 1 if failed or run_errors or not attempted else 0
    return attempted, len(failed), rate, code
