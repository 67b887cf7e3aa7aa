"""Arithmetic of the benchmark: medians (also over per-group medians), tail
percentiles, closed-loop accounting, error rate and span self times. Pure functions over the raw
samples the JVM side records, so tests can pin each one down."""
import math
import statistics

# Tail percentiles tried from the highest down; one is reported only when
# at least MIN_BEYOND samples lie beyond it.
TAIL_PERCENTILES = (99, 95, 90, 80, 75)
MIN_BEYOND = 10


def median(xs):
    if not xs:
        raise ValueError("median of no samples")
    return statistics.median(xs)


def median_of_medians(groups):
    """The median over groups of each group's median: one value per query
    or operator, each taken over its samples from every measured round."""
    return median([median(xs) for xs in groups.values()])


def sum_of_medians(groups):
    """The sum over groups of each group's median: a pass over every
    operator, each at its typical wall."""
    if not groups:
        raise ValueError("sum of no groups")
    return sum(median(xs) for xs in groups.values())


def nearest_rank(xs, p):
    """The p-th percentile by nearest rank, and how many samples lie
    strictly beyond it in sorted order."""
    s = sorted(xs)
    i = max(0, math.ceil(p / 100.0 * len(s)) - 1)
    return s[i], len(s) - 1 - i


def tail(xs, min_beyond=MIN_BEYOND):
    """(p, value) for the highest percentile of TAIL_PERCENTILES that
    leaves at least `min_beyond` samples beyond it, or None."""
    for p in TAIL_PERCENTILES:
        if not xs:
            break
        v, beyond = nearest_rank(xs, p)
        if beyond >= min_beyond:
            return p, v
    return None


def closed_loop(reqs, window):
    """Accounting of one closed-loop window. `reqs` are (t0, t1, ok, work)
    tuples in ns; `window` is (start, end). Every request issued from the
    start counts as attempted, including one still running at the end. The
    rate is the work of the requests that succeeded per second of the
    window, each counted with the share of its duration that lies inside
    the window, so a request in flight when the window closes counts in
    part and the rate does not hang on when the slowest client stops."""
    start, end = window
    mine = [r for r in reqs if r[0] >= start]
    attempted = len(mine)
    failed = sum(1 for r in mine if not r[2])

    def inside(r):
        if r[1] <= r[0]:
            return 1.0 if r[0] <= end else 0.0
        return max(0, min(r[1], end) - max(r[0], start)) / (r[1] - r[0])

    work = sum(r[3] * inside(r) for r in mine if r[2])
    elapsed = (end - start) / 1e9
    return {"attempted": attempted, "failed": failed, "work": work,
            "elapsed_s": elapsed, "rate": work / elapsed if elapsed > 0 else 0.0}


def pooled_rate(loops):
    """The rate over several closed-loop windows (closed_loop results):
    their work over their summed elapsed time."""
    elapsed = sum(l["elapsed_s"] for l in loops)
    return sum(l["work"] for l in loops) / elapsed if elapsed > 0 else 0.0


def error_rate(failed, attempted):
    if attempted <= 0:
        raise ValueError("no operations attempted")
    return failed / attempted


def self_times(spans):
    """Self time per span name, in ns: each span's duration minus the part
    of it its direct children cover (overlapping children counted once).
    `spans` are (id, parent, req, name, t0, t1)."""
    children = {}
    for s in spans:
        children.setdefault(s[1], []).append(s)
    out = {}
    for s in spans:
        covered = 0
        cur_start = cur_end = None
        for c in sorted(children.get(s[0], []), key=lambda c: c[4]):
            a, b = max(c[4], s[4]), min(c[5], s[5])
            if b <= a:
                continue
            if cur_end is None or a > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = a, b
            else:
                cur_end = max(cur_end, b)
        if cur_end is not None:
            covered += cur_end - cur_start
        out[s[3]] = out.get(s[3], 0) + (s[5] - s[4]) - covered
    return out

