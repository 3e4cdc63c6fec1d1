"""Small pure helpers: percentiles, golden-set and result comparison."""

from __future__ import annotations

import math
from collections import Counter

# candidate tail percentiles, highest first
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def tail_percentile(n_samples: int) -> float | None:
    """The highest percentile in TAIL_LADDER that leaves at least ten
    samples beyond it (n * (1 - p/100) >= 10); None below 20 samples."""
    for p in TAIL_LADDER:
        # rounded: 100 - 99.9 is not exactly 0.1 in binary
        if round(n_samples * (100.0 - p) / 100.0, 6) >= 10:
            return p
    return None


def percentile(values: list[float], p: float) -> float:
    """Linear-interpolated percentile of a non-empty list."""
    xs = sorted(values)
    if len(xs) == 1:
        return xs[0]
    pos = (len(xs) - 1) * p / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def compare_sets(got: set, want: set, label: str, show: int = 3) -> str | None:
    """None when equal, else a short diagnostic naming a few
    missing and unexpected members."""
    if got == want:
        return None
    missing = sorted(want - got, key=repr)[:show]
    extra = sorted(got - want, key=repr)[:show]
    return (
        f"{label}: {len(want - got)} missing {missing}, "
        f"{len(got - want)} unexpected {extra} (want {len(want)}, got {len(got)})"
    )


def _norm(v) -> str:
    """One value as text: NaN equal to itself, bytes as hex, lists
    element-wise."""
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if isinstance(v, bytes | bytearray):
        return v.hex()
    if isinstance(v, list | tuple):
        return "[" + ",".join(_norm(x) for x in v) + "]"
    return str(v)


def compare_rows(got: tuple[list, list], want: tuple[list, list], label: str) -> str | None:
    """Compare two results given as (column names, rows): the same
    column names in any order, and the same rows as a multiset. None
    when equal, else a short diagnostic."""
    (gcols, grows), (wcols, wrows) = got, want
    gcols, wcols = [c.lower() for c in gcols], [c.lower() for c in wcols]
    if sorted(gcols) != sorted(wcols):
        return f"{label}: columns {sorted(gcols)}, want {sorted(wcols)}"

    def bag(cols, rows) -> Counter:
        order = sorted(range(len(cols)), key=lambda i: cols[i])
        return Counter(tuple(_norm(r[i]) for i in order) for r in rows)

    g, w = bag(gcols, grows), bag(wcols, wrows)
    if g == w:
        return None
    missing, extra = sorted((w - g).elements())[:3], sorted((g - w).elements())[:3]
    return (
        f"{label}: {sum((w - g).values())} rows missing {missing}, "
        f"{sum((g - w).values())} unexpected {extra} (want {len(wrows)}, got {len(grows)})"
    )
