"""Summary statistics over the raw records the harness writes."""
import statistics

TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
TAIL_BEYOND = 10


def tail_percentile(n):
    """Highest percentile of TAIL_LADDER with at least TAIL_BEYOND of `n`
    samples above it, or None when even the median has too few."""
    for p in TAIL_LADDER:
        if round(n * (100.0 - p) / 100.0, 6) >= TAIL_BEYOND:
            return p
    return None


def percentile(values, p):
    """Nearest-rank percentile: the smallest sample with at least p% of
    the samples at or below it."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    rank = max(1, -(-len(xs) * p // 100))
    return xs[int(rank) - 1]


def union_length(intervals):
    """Total length covered by a set of [start, end) intervals."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
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
    """Span id -> its duration minus the part of its interval covered by
    its direct children. Spans are dicts with id, parent, start, end."""
    kids = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        cover = [(max(c["start"], s["start"]), min(c["end"], s["end"]))
                 for c in kids.get(s["id"], [])]
        covered = union_length([iv for iv in cover if iv[1] > iv[0]])
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def median(values):
    return statistics.median(values) if values else 0.0
