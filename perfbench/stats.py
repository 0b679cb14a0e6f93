"""Small pure helpers: percentiles, the tail rule, Spark SQL metric
strings and span self time.  No Spark here, so the tests run fast."""

from __future__ import annotations

import math
import re
import statistics

TAIL_BEYOND = 10  # samples that must lie beyond a reported tail


def median(xs) -> float:
    return float(statistics.median(xs))


def tail(xs) -> tuple[int, float, int] | None:
    """The highest percentile with at least ``TAIL_BEYOND`` samples
    beyond it: (percentile, value, sample count), or None when there
    are too few samples for any tail."""
    n = len(xs)
    if n <= TAIL_BEYOND:
        return None
    s = sorted(xs)
    pct = math.floor(100 * (n - TAIL_BEYOND) / n)
    return pct, float(s[n - TAIL_BEYOND - 1]), n


_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40, "PiB": 1 << 50}
_TIME = {"ns": 1e-9, "us": 1e-6, "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0}
_VALUE = re.compile(r"^\s*(-?[\d,]*\.?\d+(?:[eE][-+]?\d+)?)\s*([A-Za-z]*)")


def parse_metric(text: str | None) -> float | None:
    """A Spark SQL metric as the status store formats it → a float in
    base units (seconds, bytes or a plain count).

    Handles ``"1,234"``, ``"472.0 B"``, ``"12.3 MiB"``, ``"2 ms"``,
    ``"1.7 s"`` and the per-task form ``"total (min, med, max …)\\n1.7 s
    (…)"``, whose total is the first value on the second line."""
    if text is None:
        return None
    t = text.strip()
    if t.startswith("total"):
        parts = t.split("\n", 1)
        if len(parts) < 2:
            return None
        t = parts[1]
    m = _VALUE.match(t)
    if not m:
        return None
    v = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if unit in _SIZE:
        return v * _SIZE[unit]
    if unit in _TIME:
        return v * _TIME[unit]
    return v if unit == "" else None


def self_times(spans: list[dict]) -> dict:
    """Span id → its duration minus the part of its interval that its
    children cover (overlapping children are merged, and clipped to
    the parent)."""
    kids: dict = {}
    for s in spans:
        kids.setdefault(s.get("parent"), []).append(s)
    out = {}
    for s in spans:
        a, b = s["start"], s["end"]
        iv = sorted(
            (max(a, c["start"]), min(b, c["end"]))
            for c in kids.get(s["id"], [])
            if c["end"] > a and c["start"] < b
        )
        covered, cur_a, cur_b = 0.0, None, None
        for x, y in iv:
            if cur_b is None or x > cur_b:
                if cur_b is not None:
                    covered += cur_b - cur_a
                cur_a, cur_b = x, y
            else:
                cur_b = max(cur_b, y)
        if cur_b is not None:
            covered += cur_b - cur_a
        out[s["id"]] = (b - a) - covered
    return out
