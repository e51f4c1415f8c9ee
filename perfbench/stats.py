"""Order statistics the benchmark reports: medians, quartile spread and the
tail percentile with at least ten samples beyond it.

Run as a script to summarise several runs of one workload, each saved as
the benchmark's standard output:

    python3 perfbench/stats.py run1.out run2.out ...

It prints each metric's median and quartile spread across the runs.
"""

from __future__ import annotations

import json
import statistics
import sys

# Percentiles the tail rule may report, highest first.
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
MIN_BEYOND = 10


def percentile(values: list[float], pct: float) -> float:
    """Linear-interpolated percentile (numpy's default method)."""
    if not values:
        raise ValueError("percentile of no values")
    xs = sorted(values)
    pos = (len(xs) - 1) * pct / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail(values: list[float]) -> dict:
    """The highest ladder percentile with at least ``MIN_BEYOND`` samples above it.

    Returns ``{"value", "pct", "n", "beyond"}``. A run with too few samples
    for any ladder percentile reports its maximum as ``pct`` 100 with
    ``beyond`` 0, so the reader sees that the tail rule was not met.
    """
    n = len(values)
    for pct in TAIL_LADDER:
        below = int(n * pct / 100.0 + 1e-9)
        if below > 0 and n - below >= MIN_BEYOND:
            return {"value": percentile(values, pct), "pct": pct, "n": n, "beyond": n - below}
    return {"value": max(values), "pct": 100.0, "n": n, "beyond": 0}


def quartile_spread(values: list[float]) -> float:
    """(Q3 - Q1) / median, with the quartiles of ``statistics.quantiles(n=4)``."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med


def summarize(results: list[dict]) -> dict[str, dict]:
    """Median and quartile spread of each metric over several runs' results."""
    out = {}
    for name in results[0]["metrics"]:
        values = [r["metrics"][name]["value"] for r in results]
        out[name] = {"median": statistics.median(values), "spread": quartile_spread(values), "n": len(values)}
    return out


if __name__ == "__main__":
    runs = []
    for path in sys.argv[1:]:
        with open(path, encoding="utf-8") as fh:
            runs.append(json.loads(fh.read().strip().splitlines()[-1]))
    for name, s in summarize(runs).items():
        print(f"{name:32s} median {s['median']:12.4f}  spread {s['spread']:.3f}  n={s['n']}")
