"""The benchmark's arithmetic, kept free of I/O so selftest.py can pin it."""
import math
import statistics
from collections import defaultdict


def median(xs):
    return statistics.median(xs)


def geomean(xs):
    xs = list(xs)
    if not xs or min(xs) <= 0:
        raise ValueError("geomean needs positive samples")
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def _betacf(a, b, x):
    """Continued fraction of the incomplete beta function (Lentz)."""
    tiny = 1e-300
    c, d = 1.0, 1.0 - (a + b) * x / (a + 1.0)
    d = 1.0 / (d if abs(d) > tiny else tiny)
    h = d
    for m in range(1, 300):
        for aa in (m * (b - m) * x / ((a - 1.0 + 2 * m) * (a + 2 * m)),
                   -(a + m) * (a + b + m) * x / ((a + 2 * m) * (a + 1.0 + 2 * m))):
            d = 1.0 + aa * d
            d = 1.0 / (d if abs(d) > tiny else tiny)
            c = 1.0 + aa / c
            c = c if abs(c) > tiny else tiny
            h *= d * c
        if abs(d * c - 1.0) < 1e-15:
            break
    return h


def betainc(a, b, x):
    """Regularized incomplete beta function I_x(a, b)."""
    if x <= 0.0:
        return 0.0
    if x >= 1.0:
        return 1.0
    front = math.exp(math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b)
                     + a * math.log(x) + b * math.log(1.0 - x))
    if x < (a + 1.0) / (a + b + 2.0):
        return front * _betacf(a, b, x) / a
    return 1.0 - front * _betacf(b, a, 1.0 - x) / b


def quantile(xs, p):
    """Harrell-Davis estimate of the p-quantile: a weighted mean of all
    order statistics, the i-th weighted by the Beta((n+1)p, (n+1)(1-p))
    mass on [(i-1)/n, i/n]. It moves smoothly when one sample does, so
    it is steadier than a single order statistic, most of all over
    clumped samples such as a few queries run several times each."""
    xs = sorted(xs)
    n = len(xs)
    if n == 1:
        return float(xs[0])
    a, b = (n + 1) * p, (n + 1) * (1 - p)
    cdf = [betainc(a, b, i / n) for i in range(n + 1)]
    return sum((cdf[i + 1] - cdf[i]) * x for i, x in enumerate(xs))


def percentile(xs, q, min_beyond=10):
    """q-th percentile (Harrell-Davis), or None when fewer than
    `min_beyond` samples lie strictly above it."""
    xs = list(xs)
    if len(xs) < 2:
        return None
    v = quantile(xs, q / 100)
    return v if sum(1 for x in xs if x > v) >= min_beyond else None


def spread(xs):
    """Inter-quartile distance as a share of the median."""
    q1, _, q3 = statistics.quantiles(xs, n=4)
    return (q3 - q1) / statistics.median(xs)


BATCH_TAIL_Q = 75  # about 15 samples beyond it at 60 executions, a run's minimum


def batch_metrics(execs, pass_walls_ms):
    """End-to-end metrics of a batch run from its timed executions, and the
    geometric mean over the queries of each query's median latency."""
    per_query = defaultdict(list)
    for e in execs:
        per_query[e["query"]].append(e["ms"])
    all_ms = [e["ms"] for e in execs]
    return {
        "wall_s": quantile(pass_walls_ms, 0.5) / 1000.0,
        "latency_p50_ms": quantile(all_ms, 0.5),
        "latency_tail_ms": percentile(all_ms, BATCH_TAIL_Q),
    }, geomean(median(v) for v in per_query.values()), len(all_ms)


def window_starts(et, window_ms, slide_ms):
    """Starts of every sliding window [s, s + window) holding event time et
    (windows aligned to the epoch, as Spark's window() aligns them)."""
    last = et - et % slide_ms
    return [s for s in range(last - window_ms + slide_ms, last + 1, slide_ms)
            if s <= et < s + window_ms]


def window_reference(events, window_ms, slide_ms):
    """(start, key) -> [count, sum] over the events the engine must keep.

    `events` rows are (id, due, et, key, value, kind); kind 2 marks an
    event generated far behind the watermark, which the engine drops.
    Out-of-order events (kind 1) lag by less than the watermark delay, so
    they always count."""
    ref = defaultdict(lambda: [0, 0])
    for _id, _due, et, key, value, kind in events:
        if kind == 2:
            continue
        for s in window_starts(et, window_ms, slide_ms):
            acc = ref[(s, key)]
            acc[0] += 1
            acc[1] += value
    return ref


def closing_due(events, ends, delay_ms):
    """For each window end E: the due time of the first generated event
    whose event time moves the watermark (max event time - delay) to E or
    past it. Ends no generated event closes are left out."""
    out = {}
    pending = sorted(set(ends))
    i = 0
    max_et = None
    for _id, due, et, _key, _value, kind in sorted(events, key=lambda e: (e[1], e[0])):
        if kind == 2:
            continue
        max_et = et if max_et is None else max(max_et, et)
        while i < len(pending) and max_et - delay_ms >= pending[i]:
            out[pending[i]] = due
            i += 1
    return out


def check_windows(rows, ref, final_watermark_ms, window_ms):
    """Compare sink rows (start, key, n, sum, recv_ms, batch) with the
    reference. Returns (attempted, failed): one operation per window that
    had to be emitted by the final watermark or was emitted; a missing,
    unexpected, duplicated or wrong row fails."""
    got = defaultdict(list)
    for start, key, n, total, _recv, _batch in rows:
        got[(start, key)].append((n, total))
    due = {k for k in ref if k[0] + window_ms <= final_watermark_ms}
    keys = due | set(got)
    failed = 0
    for k in keys:
        vals = got.get(k, [])
        want = ref.get(k)
        if want is None or len(vals) != 1 or vals[0][0] != want[0] \
                or abs(vals[0][1] - want[1]) > 1e-9:
            failed += 1
    return len(keys), failed


def live_latencies(rows, events, window_ms, delay_ms, timed_from, timed_to):
    """Per closing moment (the due time of an event that closed windows)
    in the timed span: sink receipt of the last window it closed minus
    that due time. Every window closing at one moment is emitted in one
    batch with one receipt time, so a moment, not a window, is one sample.
    Returns ({closing due time: latency}, windows counted)."""
    ends = [r[0] + window_ms for r in rows]
    closer = closing_due(events, ends, delay_ms)
    moments, windows = {}, 0
    for start, _key, _n, _sum, recv, _batch in rows:
        d = closer.get(start + window_ms)
        if d is None or not timed_from <= d < timed_to:
            continue
        windows += 1
        moments[d] = max(moments.get(d, recv - d), recv - d)
    return moments, windows


def backlog_grows(samples, rate):
    """samples: backlog (events written, not yet consumed) at each batch
    start, in time order. The backlog grows when the last third averages
    over 1.5x the first third and more than one second of input."""
    if len(samples) < 6:
        return False
    k = len(samples) // 3
    first = sum(samples[:k]) / k
    last = sum(samples[-k:]) / k
    return last > 1.5 * first and last > rate
