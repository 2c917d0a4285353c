"""Arithmetic the benchmark reports, kept free of Spark so it can be
tested on fixed inputs (see test_stats.py)."""
import math


def percentile(values, q, min_beyond=10):
    """The q-quantile (0 < q < 1) by linear interpolation between order
    statistics, or None when fewer than `min_beyond` samples lie above
    it: a tail percentile read off fewer samples is not reported."""
    xs = sorted(values)
    n = len(xs)
    if n == 0 or n * (1.0 - q) < min_beyond:
        return None
    pos = q * (n - 1)
    lo = int(math.floor(pos))
    hi = min(lo + 1, n - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values):
    return percentile(values, 0.5, min_beyond=0)


def mean(values):
    return sum(values) / len(values)


def geomean(values):
    return math.exp(sum(math.log(v) for v in values) / len(values))


def failed_frac(attempted, failed):
    if attempted < 1:
        raise ValueError("no operation was attempted")
    return failed / attempted


def covered(intervals):
    """Total length of the union of (start, end) intervals."""
    total, end = 0.0, None
    start = None
    for s, e in sorted(intervals):
        if end is None or s > end:
            if end is not None:
                total += end - start
            start, end = s, e
        else:
            end = max(end, e)
    if end is not None:
        total += end - start
    return total


def self_times(spans):
    """Self time per layer, in ms: each span's duration minus the part
    of it its children cover (children may run concurrently and are
    clipped to the parent), summed over spans by layer, the name's part
    before the first dot."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        a, b = s["start_ms"], s["end_ms"]
        kids = [(max(a, c["start_ms"]), min(b, c["end_ms"]))
                for c in children.get(s["id"], [])]
        own = (b - a) - covered([k for k in kids if k[1] > k[0]])
        layer = s["name"].split(".", 1)[0]
        out[layer] = out.get(layer, 0.0) + own
    return out


def landing(file_ranges, batch_ranges, returned):
    """For each input file, the time its rows' sink write returned.

    file_ranges: [(lo, hi)] event-time range of each file's rows;
    batch_ranges: [(batch_id, lo, hi, ...)] event-time range of the
    rows each micro-batch wrote; returned: {batch_id: time}. A file
    lands with the batch whose range holds its first row; None if none
    does."""
    out = []
    for lo, _hi in file_ranges:
        hit = [b for b in batch_ranges if b[1] <= lo <= b[2]]
        out.append(returned.get(str(hit[0][0])) if hit else None)
    return out


def stratified_pick(walls, k):
    """A slice of about k names from {family: {name: wall}}: within each
    family, names sorted by wall, one from the middle of each of that
    family's equal-count strata, the number of strata in proportion to
    the family's size (at least one)."""
    total = sum(len(qs) for qs in walls.values())
    out = []
    for fam in sorted(walls):
        names = sorted(walls[fam], key=lambda q: (walls[fam][q], q))
        n = len(names)
        m = min(n, max(1, round(k * n / total)))
        out += [names[int((i + 0.5) * n / m)] for i in range(m)]
    return out
