"""Order statistics shared by the end-to-end and per-layer metrics."""

from __future__ import annotations


def tail(values: list[float]) -> tuple[float, float]:
    """The highest percentile with at least ten samples beyond it, and its
    rank in percent. With fewer than 20 samples no percentile above the
    median has ten beyond it, and the slowest sample is reported."""
    xs = sorted(values)
    n = len(xs)
    if n < 20:
        return xs[-1], 100.0
    return xs[n - 11], 100.0 * (n - 10) / n
