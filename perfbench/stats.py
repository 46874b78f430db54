"""Percentile and spread maths shared by the runner and its tests."""
import math
import statistics


def percentile(values, q):
    """Nearest-rank percentile, q in (0, 100]: the smallest sample with at
    least q% of the samples at or below it. Always a measured value."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    rank = -(-len(xs) * q // 100)          # ceil(n * q / 100)
    return xs[max(0, int(rank) - 1)]


def median(values):
    return statistics.median(values)


def hd_median(values, grid=200):
    """Harrell-Davis estimate of the median: the mean of the order
    statistics weighted by a Beta((n+1)/2, (n+1)/2) density over their
    ranks. Where the samples fall in separate clusters (read kinds of
    different cost), it moves smoothly as samples shift between them,
    where the sample median jumps from one cluster to the next."""
    xs = sorted(values)
    if not xs:
        raise ValueError("median of no samples")
    n = len(xs)
    a = (n + 1) / 2
    log_norm = math.lgamma(2 * a) - 2 * math.lgamma(a)
    weights = []
    for k in range(n):
        # the density's mass over ranks (k/n, (k+1)/n], by the midpoint rule
        ts = ((k + (j + 0.5) / grid) / n for j in range(grid))
        weights.append(sum(math.exp(log_norm + (a - 1) * math.log(t * (1 - t)))
                           for t in ts) / (grid * n))
    return sum(w * x for w, x in zip(weights, xs)) / sum(weights)


def iqr_share(values):
    """(Q3 - Q1) / median, with quartiles as statistics.quantiles(n=4)
    gives them — the spread the benchmark is accepted on."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def slope(xs, ys):
    """Least-squares slope of ys against xs (0 when xs do not vary)."""
    n = len(xs)
    if n < 2:
        return 0.0
    mx, my = sum(xs) / n, sum(ys) / n
    sxx = sum((x - mx) ** 2 for x in xs)
    if sxx == 0:
        return 0.0
    return sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / sxx


def drift_ratio(latencies):
    """Median latency of the last quarter of a run's ops over that of the
    first quarter (ops in run order): above 1 means the session slows."""
    k = len(latencies) // 4
    if k == 0:
        return 1.0
    return median(latencies[-k:]) / median(latencies[:k])


def main(paths):
    """Median and (Q3 - Q1) / median of every metric over the result lines
    of several runs (files holding run.py's stdout)."""
    import json
    rows = []
    for p in paths:
        with open(p) as f:
            rows += [json.loads(l) for l in f if l.startswith('{"correct"')]
    print(f"{len(rows)} runs, all correct: {all(r['correct'] for r in rows)}")
    for k in rows[0]["metrics"]:
        v = [r["metrics"][k]["value"] for r in rows]
        spread = iqr_share(v) if len(v) > 1 else 0.0
        print(f"{k:32s} median {median(v):12.4f}  iqr/median {spread:.3f}")


if __name__ == "__main__":
    import sys
    main(sys.argv[1:])
