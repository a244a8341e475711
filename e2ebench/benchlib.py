"""Helpers shared by the benchmark's scripts: spreads, span self times
and the result fingerprint of the registry queries' correctness gate.
Medians, quantiles and geometric means come from ``statistics``."""
import hashlib
import math
import statistics


def spread(xs):
    """Interquartile range as a share of the median, with the quartiles
    ``statistics.quantiles(xs, n=4)`` gives: ``(q3 - q1) / median``."""
    q1, med, q3 = statistics.quantiles(xs, n=4)
    return (q3 - q1) / med if med else math.inf


def worse_by(metric_better, first, second):
    """How much worse ``second`` is than ``first``, as a share of
    ``first`` (negative when it is better)."""
    if first == 0:
        return 0.0
    gap = (second - first) / first
    return gap if metric_better == "lower" else -gap


def fingerprint(columns, types, rows):
    """Order-insensitive digest of a result: columns and their types in
    name order, then the rows' string forms sorted. Both sides of the
    analytics gate read their result through DuckDB, so equal results
    give equal digests."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    h = hashlib.sha256()
    h.update(repr([(columns[i], str(types[i])) for i in order]).encode())
    for r in sorted(tuple(str(r[i]) for i in order) for r in rows):
        h.update(repr(r).encode())
    return {"rows": len(rows), "sha256": h.hexdigest()}


def self_times(spans, t0=float("-inf"), t1=float("inf")):
    """Per-layer self time in ms of the spans that lie within [t0, t1].

    ``spans`` are dicts with ``id``, ``parent``, ``layer`` and
    ``start_ms``/``end_ms``. A span's self time is its duration minus the
    part of that interval its child spans cover (overlapping children
    count once)."""
    inside = [s for s in spans if s["start_ms"] >= t0 and s["end_ms"] <= t1]
    children = {}
    for s in inside:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in inside:
        covered, cur_lo, cur_hi = 0.0, None, None
        for c in sorted(children.get(s["id"], []), key=lambda c: c["start_ms"]):
            lo, hi = max(c["start_ms"], s["start_ms"]), min(c["end_ms"], s["end_ms"])
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        own = max(0.0, s["end_ms"] - s["start_ms"] - covered)
        out[s["layer"]] = out.get(s["layer"], 0.0) + own
    return out
