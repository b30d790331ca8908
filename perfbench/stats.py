"""Statistics the benchmark reports: percentiles, spreads, ratios and
span self-time.  Pure functions, no Spark, so they are unit-tested on
fixed inputs (``perfbench/tests/test_stats.py``).

Run as a script on files of saved result lines (one run's stdout each)
to see each metric's median and quartile spread over the runs, the
steadiness check a bound is set against:

    python3 perfbench/stats.py runs/*.out
"""

from __future__ import annotations

import json
import math
import statistics
import sys

#: A percentile is reported only when at least this many samples lie
#: beyond it; below that a single slow sample decides the value.
MIN_BEYOND = 10


def percentile(samples: list[float], q: float) -> float:
    """Nearest-rank ``q``-th percentile (0 < q < 100) of ``samples``.

    Raises ``ValueError`` unless at least ``MIN_BEYOND`` samples lie
    strictly beyond the rank, so a p90 needs at least 100 samples."""
    if not 0 < q < 100:
        raise ValueError(f"percentile must be in (0, 100), got {q}")
    n = len(samples)
    rank = math.ceil(q / 100.0 * n)  # 1-based nearest rank
    if n == 0 or n - rank < MIN_BEYOND:
        raise ValueError(
            f"p{q:g} needs {MIN_BEYOND} samples beyond it; have "
            f"{max(n - rank, 0)} of {n}")
    return sorted(samples)[rank - 1]


def quartile_spread(values: list[float]) -> float:
    """(Q3 - Q1) / median, with quartiles as
    ``statistics.quantiles(values, n=4)`` gives them."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    if q2 == 0:
        raise ValueError("spread of values whose median is 0")
    return (q3 - q1) / q2


def failure_ratio(failed: int, attempted: int) -> float:
    """Ops that raised or mismatched, over ops attempted."""
    if attempted < 1:
        raise ValueError("no ops attempted")
    if not 0 <= failed <= attempted:
        raise ValueError(f"failed={failed} outside [0, {attempted}]")
    return failed / attempted


def self_times(spans: list[dict]) -> dict[int, float]:
    """Self time of every span: its duration minus the part of its
    interval that its direct children cover.

    ``spans`` are dicts with ``id``, ``parent`` (an id or None),
    ``start`` and ``end``.  Overlapping children count once, and a
    child sticking out of its parent counts only inside it."""
    kids: dict[int, list[tuple[float, float]]] = {}
    by_id = {s["id"]: s for s in spans}
    for s in spans:
        p = s["parent"]
        if p is not None and p in by_id:
            lo = max(s["start"], by_id[p]["start"])
            hi = min(s["end"], by_id[p]["end"])
            if hi > lo:
                kids.setdefault(p, []).append((lo, hi))
    out = {}
    for s in spans:
        covered, reach = 0.0, -math.inf
        for lo, hi in sorted(kids.get(s["id"], [])):
            lo = max(lo, reach)
            if hi > lo:
                covered += hi - lo
                reach = hi
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def main(paths: list[str]) -> None:
    values: dict[str, list[float]] = {}
    for path in paths:
        with open(path) as fh:
            lines = fh.read().strip().splitlines()
        if not lines:
            raise SystemExit(f"{path}: no result line")
        result = json.loads(lines[-1])
        for name, m in result["metrics"].items():
            values.setdefault(name, []).append(m["value"])
    for name, xs in sorted(values.items()):
        try:
            spread = f"{quartile_spread(xs):7.4f}"
        except (ValueError, statistics.StatisticsError):
            spread = "    n/a"  # one run, or a median of 0
        print(f"{name:32s} n={len(xs):3d} median={statistics.median(xs):12.4f}"
              f" spread={spread}")


if __name__ == "__main__":
    main(sys.argv[1:])
