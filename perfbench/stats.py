"""Summary statistics the benchmark reports from one run's samples."""

from __future__ import annotations

import statistics

#: the tail is the highest percentile with at least this many executions beyond it
MIN_BEYOND = 10
#: fewest executions for which that percentile is not below the median
MIN_EXECUTIONS = 2 * MIN_BEYOND + 1


def tail(by_query: dict[str, list[float]]) -> tuple[float | None, float, int]:
    """``(percentile, value, n_beyond)``: the highest percentile of all
    executions that has ``MIN_BEYOND`` executions above it, i.e. the
    ``MIN_BEYOND + 1``-th slowest, at percentile ``100 * (n - MIN_BEYOND) / n``.

    Below ``MIN_EXECUTIONS`` executions that percentile would fall under the
    median. The tail is then the slowest query's median latency, returned with
    percentile ``None`` and 0 executions beyond.
    """
    s = sorted(v for vals in by_query.values() for v in vals)
    if not s:
        raise ValueError("no samples")
    n = len(s)
    if n >= MIN_EXECUTIONS:
        return 100.0 * (n - MIN_BEYOND) / n, s[n - MIN_BEYOND - 1], MIN_BEYOND
    return None, max(statistics.median(v) for v in by_query.values() if v), 0


def failed_frac(attempted: int, failed: int) -> float:
    """Failed operations over attempted ones; an exception and an oracle
    mismatch each count as one failed operation."""
    if attempted <= 0:
        raise ValueError("nothing attempted")
    if not 0 <= failed <= attempted:
        raise ValueError(f"failed={failed} outside [0, attempted={attempted}]")
    return failed / attempted


def count_outcomes(outcomes: list[dict]) -> tuple[int, int]:
    """``(attempted, failed)`` over per-operation records: a record failed
    when it raised (``error`` set) or its output did not check (``ok`` false)."""
    failed = sum(1 for o in outcomes if o.get("error") or not o.get("ok", True))
    return len(outcomes), failed

