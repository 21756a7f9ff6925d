"""Pure helpers of the benchmark: percentiles, span self time, output
checksums and spread. No Spark import, so the tests run in milliseconds.
"""

from __future__ import annotations

import hashlib
import math
import statistics
from collections.abc import Iterable

MIN_BEYOND = 10


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile ``q`` in [0, 100] of ``values``."""
    if not values:
        raise ValueError("percentile of an empty sample")
    xs = sorted(values)
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def samples_beyond(n: int, q: float) -> int:
    """How many of ``n`` ordered samples lie strictly above percentile ``q``."""
    return n - math.floor((n - 1) * q / 100.0) - 1 if n else 0


def supported_percentile(n: int, candidates=(50, 75, 90, 95, 99)) -> float | None:
    """The highest candidate percentile with at least ``MIN_BEYOND``
    samples beyond it, or None when even the median lacks them."""
    ok = [q for q in candidates if samples_beyond(n, q) >= MIN_BEYOND]
    return max(ok) if ok else None


def self_time(span: tuple[float, float], children: Iterable[tuple[float, float]]) -> float:
    """Duration of ``span`` minus the part of it that child spans cover.

    Children may overlap each other or stick out of the parent; only their
    union inside the parent is subtracted. With Spark job intervals as the
    children, this is the driver time with no job running."""
    start, end = span
    clipped = sorted(
        (max(s, start), min(e, end)) for s, e in children if e > start and s < end
    )
    covered = 0.0
    cur_s = cur_e = None
    for s, e in clipped:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return (end - start) - covered


def weight_checksum(rows: Iterable[tuple]) -> str:
    """Order-independent checksum of (unique_id_l, unique_id_r, weight) rows.

    Each row hashes to 64 bits over the ids and the exact ``repr`` of the
    float, and the hashes are summed modulo 2**64: any reordering gives the
    same sum, while a changed id or a weight off by one ulp changes it."""
    total = 0
    for l, r, w in rows:
        h = hashlib.blake2b(f"{l}\x1f{r}\x1f{w!r}".encode(), digest_size=8)
        total = (total + int.from_bytes(h.digest(), "big")) % (1 << 64)
    return f"{total:016x}"


def quartile_spread(values: list[float]) -> float:
    """(Q3 - Q1) / median, with quartiles as ``statistics.quantiles(n=4)``."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2
