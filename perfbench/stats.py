"""Summary statistics for one run's samples."""

from __future__ import annotations

import statistics

TAIL_BEYOND = 10


def tail(samples: list[float]) -> tuple[float, float, int]:
    """(value, percentile, n): the highest percentile that has at least
    TAIL_BEYOND samples above it — the (n - TAIL_BEYOND)-th smallest
    sample. Below TAIL_BEYOND + 1 samples no percentile qualifies and
    the maximum is returned, labelled as percentile 100."""
    xs = sorted(samples)
    n = len(xs)
    if n > TAIL_BEYOND:
        k = n - TAIL_BEYOND
        return xs[k - 1], 100.0 * k / n, n
    return xs[-1], 100.0, n


def median(samples: list[float]) -> float:
    return statistics.median(samples)


def items_per_s(rows_per_op: list[int], latencies: list[float]) -> float:
    """Rows the generator handed to completed operations, per second of
    those operations. Counted from the generator, never from Spark's
    ``numInputRows``: a foreachBatch body that reads its batch several
    times reports each read."""
    if len(rows_per_op) != len(latencies):
        raise ValueError("one row count per completed operation")
    return sum(rows_per_op) / sum(latencies)
