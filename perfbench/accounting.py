"""The benchmark's accounting: turning raw sends, trigger progress and
query timings into metrics. Pure functions, unit-tested on synthetic
inputs in test_perfbench.py.

A send is (source, scheduled_ms, actual_ms, offset, rows): one
MemoryStream.addData call of the open-loop generator, whose returned
offset is `offset`. A trigger is a dict with `end_ms` and `ends`, the
end offset of each source after the trigger (-1 while a source has
had no data). A send belongs to the first trigger whose end offset for
its source reaches the send's offset.
"""
import math
import statistics


def attribute(sends, triggers):
    """Index into `triggers` (ordered by batch id) of the trigger that
    processed each send, or None if no trigger reached it."""
    out = []
    for src, _, _, off, _ in sends:
        hit = None
        for i, t in enumerate(triggers):
            if t["ends"][src] >= off:
                hit = i
                break
        out.append(hit)
    return out


def record_latencies(sends, triggers):
    """(latency_ms, rows) per send: from the send's scheduled instant
    to the end of the trigger that processed it. Scheduling from the
    due time, not the actual send, counts the wait a late generator
    imposes on the records behind it."""
    owner = attribute(sends, triggers)
    if any(o is None for o in owner):
        raise ValueError("a send was never processed by a trigger")
    return [(triggers[o]["end_ms"] - s[1], s[4]) for s, o in zip(sends, owner)]


def weighted_quantile(pairs, q):
    """The q-quantile of values weighted by counts: the smallest value
    whose cumulative weight reaches q of the total."""
    pairs = sorted(pairs)
    total = sum(w for _, w in pairs)
    if total <= 0:
        raise ValueError("no weight")
    acc = 0
    for v, w in pairs:
        acc += w
        if acc >= q * total:
            return v
    return pairs[-1][0]


def tail_samples_ok(n_samples, q, beyond=10):
    """Whether a q-quantile is a tail: at least `beyond` independent
    samples lie past it. Records of one trigger share its end time, so
    for record latencies the samples are triggers, not records: a p90
    needs 100 triggers."""
    return n_samples * (1.0 - q) >= beyond - 1e-9


def lateness_ms(sends):
    """(max, median) of how late the generator sent, in ms."""
    late = [max(0.0, a - s) for _, s, a, _, _ in sends]
    return max(late), statistics.median(late)


def backlog_rows(sends, triggers, at_ms):
    """Rows sent by `at_ms` that no trigger ended by `at_ms` had
    processed."""
    owner = attribute(sends, triggers)
    n = 0
    for s, o in zip(sends, owner):
        if s[2] <= at_ms and (o is None or triggers[o]["end_ms"] > at_ms):
            n += s[4]
    return n


def geomean(xs):
    xs = list(xs)
    if not xs or any(x <= 0 for x in xs):
        raise ValueError("geometric mean needs positive values")
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def spread(values):
    """(median, q1, q3, (q3 - q1) / median), quartiles as
    statistics.quantiles(values, n=4) gives them."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med if med else float("inf")
