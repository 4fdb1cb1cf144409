"""Pure helpers for the benchmark's metrics: percentiles with a supported
tail, span self time, and joining stream records to micro-batch commits.
No Spark here, so the tests run without a JVM."""

from __future__ import annotations

import bisect
import math
import statistics

#: samples that must lie beyond a reported percentile
MIN_BEYOND = 10


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile ``q`` (0-100) of ``values``."""
    if not values:
        raise ValueError("percentile of no samples")
    s = sorted(values)
    rank = max(1, math.ceil(q / 100.0 * len(s)))
    return s[rank - 1]


def supported_percentile(n: int, wanted: float = 99.0, min_beyond: int = MIN_BEYOND) -> float:
    """The highest percentile <= ``wanted`` that leaves at least
    ``min_beyond`` of ``n`` samples above its nearest rank. Candidates are
    the usual reporting points; 50 is the floor (with fewer than
    ``2 * min_beyond`` samples nothing above the median is supported)."""
    for q in (99.9, 99.5, 99.0, 98.0, 95.0, 90.0, 75.0, 50.0):
        if q > wanted:
            continue
        rank = max(1, math.ceil(q / 100.0 * n))
        if n - rank >= min_beyond:
            return q
    return 50.0


def tail_latency(values: list[float], wanted: float = 99.0) -> dict:
    """Median and the highest supported percentile up to ``wanted``, with
    the sample count they rest on."""
    q = supported_percentile(len(values), wanted)
    return {
        "p50": percentile(values, 50.0),
        "tail": percentile(values, q),
        "tail_q": q,
        "samples": len(values),
    }


def median(values: list[float]) -> float:
    return statistics.median(values)


def self_times(spans: list[dict]) -> dict[int, float]:
    """Self time of every span: its duration minus the part of its interval
    that its direct children cover (overlapping children count once, and
    a child running past its parent is clipped to the parent)."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.get("parent") is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        covered = 0.0
        cur_lo = cur_hi = None
        for lo, hi in sorted(kids.get(s["id"], [])):
            lo, hi = max(lo, s["start"]), min(hi, s["end"])
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
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def layer_self_times(spans: list[dict]) -> dict[str, float]:
    """Sum of span self times per layer."""
    st = self_times(spans)
    out: dict[str, float] = {}
    for s in spans:
        out[s["layer"]] = out.get(s["layer"], 0.0) + st[s["id"]]
    return out


def join_commits(rows: list[tuple[str, float, float]],
                 commits: list[tuple[int, float, float]]) -> dict:
    """Join sink rows to the micro-batch commits that wrote them.

    ``rows`` are ``(key, created_s, written_s)``: the event's creation
    stamp and the sink's per-write audit stamp, which every row of one
    append shares. ``commits`` are ``(batch_id, start_s, end_s)`` spans of
    the sink call. A row belongs to the commit whose span holds its write
    stamp; its latency is that commit's end minus its creation stamp.
    Returns per-row latencies and the rows no commit span holds."""
    spans = sorted(commits, key=lambda c: c[1])
    starts = [c[1] for c in spans]
    latencies: dict[str, float] = {}
    batch_of: dict[str, int] = {}
    unmatched = []
    for key, created, written in rows:
        i = bisect.bisect_right(starts, written) - 1
        if i >= 0 and written <= spans[i][2]:
            latencies[key] = spans[i][2] - created
            batch_of[key] = spans[i][0]
        else:
            unmatched.append(key)
    return {"latency": latencies, "batch_of": batch_of, "unmatched": unmatched}


def batch_rates(commits: list[tuple[int, float, float]], counts: dict[int, int],
                start: float) -> list[float]:
    """Throughput of each micro-batch that committed some of ``counts``'
    records: its record count over the time since the previous commit
    ended (or since ``start`` for the first batch after it)."""
    rates = []
    prev = start
    for batch_id, _, end in sorted(commits, key=lambda c: c[2]):
        if end <= start:
            continue
        if counts.get(batch_id):
            rates.append(counts[batch_id] / (end - prev))
        prev = end
    return rates

