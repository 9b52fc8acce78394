"""The benchmark's own arithmetic: percentiles, ratios, open-loop
latency and span self time. Pure functions and one span recorder, so
the tests in ``perfbench/tests`` can pin every rule without Spark."""

from __future__ import annotations

import math
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass

# A percentile is reported only when at least this many samples lie
# beyond it; below that, a single outlier decides it.
MIN_TAIL_SAMPLES = 10

# The reference's API latency target (benchmark_suite.py:44).
LATENCY_LIMIT_S = 2.0


def percentile(values, q: float) -> float:
    """Linear-interpolation percentile (numpy's default), q in [0, 100]."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def samples_beyond(n: int, q: float) -> int:
    """How many of ``n`` sorted samples lie strictly above the q-th
    percentile's rank."""
    return n - 1 - math.floor((n - 1) * q / 100.0)


def tail_percentile(values, q: float) -> float | None:
    """The q-th percentile, or None when fewer than MIN_TAIL_SAMPLES
    samples lie beyond it (p90 needs at least 100 samples)."""
    if samples_beyond(len(values), q) < MIN_TAIL_SAMPLES:
        return None
    return percentile(values, q)


def ratio(part: int, base: int) -> float:
    """part / base with the base stated by the caller; an empty base is
    an error, never a silent 0 or 1."""
    if base <= 0:
        raise ValueError("ratio over an empty base")
    return part / base


def fail_ratio(attempted: int, failed: int) -> float:
    """Failed operations over attempted operations."""
    return ratio(failed, attempted)


def within_limit_ratio(latencies_s, ok_flags,
                       limit_s: float = LATENCY_LIMIT_S) -> float:
    """Requests that succeeded within ``limit_s`` over requests
    attempted. A failed request counts as missing the limit whatever
    its latency."""
    lat = list(latencies_s)
    ok = list(ok_flags)
    if len(lat) != len(ok):
        raise ValueError("one ok flag per latency")
    good = sum(1 for t, f in zip(lat, ok) if f and t <= limit_s)
    return ratio(good, len(lat))


@dataclass
class OpenLoopSample:
    """One open-loop request: when it was due, when the generator sent
    it and when its reply arrived (all on one monotonic clock)."""
    due: float
    sent: float
    done: float
    ok: bool

    @property
    def latency(self) -> float:
        """Timed from the due time, so a stall that delays sending is
        charged to the requests it delayed."""
        return self.done - self.due

    @property
    def late(self) -> float:
        """How late the generator sent the request."""
        return max(0.0, self.sent - self.due)


def stratified_arrivals(rng, n: int, seconds: float) -> list[float]:
    """Due offsets (s) of ``n`` arrivals in ``[0, seconds)``, one at a
    uniform point of each of ``n`` equal slots: the rate is fixed, and
    the seed moves each arrival within its slot but cannot bunch them
    into bursts, so every seed offers the same load at every moment."""
    step = seconds / n
    return [(i + rng.random()) * step for i in range(n)]


def apportion(n: int, weights: dict) -> dict:
    """Split ``n`` whole items over the keys of ``weights`` in proportion
    (largest remainder, ties to the earlier key)."""
    total = sum(weights.values())
    quota = {k: n * w / total for k, w in weights.items()}
    counts = {k: int(q) for k, q in quota.items()}
    short = n - sum(counts.values())
    for k in sorted(quota, key=lambda k: counts[k] - quota[k])[:short]:
        counts[k] += 1
    return counts


def zipf_weights(n: int, s: float) -> list[float]:
    """Unnormalised Zipf weights for ranks 1..n."""
    return [1.0 / (k ** s) for k in range(1, n + 1)]


def union_length(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
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


@dataclass
class Span:
    sid: int
    name: str
    start: float
    end: float
    parent: int | None
    op: str | None

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]


def self_times(spans) -> dict[int, float]:
    """Each span's duration minus the part of its interval covered by
    its children (clipped to the span). Children may overlap each
    other, e.g. concurrent requests under one load-generator span."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    out = {}
    for s in spans:
        clipped = [(max(a, s.start), min(b, s.end))
                   for a, b in kids.get(s.sid, ()) if b > s.start and a < s.end]
        out[s.sid] = (s.end - s.start) - union_length(clipped)
    return out


def layer_self_times(spans) -> dict[str, float]:
    """Summed self time per layer (the span name's first component)."""
    st = self_times(spans)
    out: dict[str, float] = {}
    for s in spans:
        out[s.layer] = out.get(s.layer, 0.0) + st[s.sid]
    return out


class Tracer:
    """In-memory span recorder. Spans nest per thread; a span opened in
    another thread names its parent explicitly."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._next = 0

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, op: str | None = None,
             parent: int | None = None):
        if not self.enabled:
            yield None
            return
        with self._lock:
            sid = self._next
            self._next += 1
        st = self._stack()
        if parent is None and st:
            parent = st[-1]
        st.append(sid)
        start = time.perf_counter()
        try:
            yield sid
        finally:
            end = time.perf_counter()
            st.pop()
            with self._lock:
                self.spans.append(Span(sid, name, start, end, parent, op))

    def total(self, name: str) -> float:
        """Summed duration of every span called ``name``."""
        return sum(s.end - s.start for s in self.spans if s.name == name)

    def durations(self, name: str) -> list[float]:
        return [s.end - s.start for s in self.spans if s.name == name]
