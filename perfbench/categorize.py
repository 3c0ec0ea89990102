"""A timed stand-in for the keyword categorizer, used only in traced runs.

Categorization runs inside Spark's Python workers, where the tracer in
the benchmark's own process cannot see it. This wrapper times each
``categorize`` batch there and reports seconds and records back through
Spark accumulators. It lives in its own module so workers import it by
name.
"""

from __future__ import annotations

import time


class TimedCategorizer:
    def __init__(self, inner, seconds_acc, records_acc):
        self.inner = inner
        self.seconds = seconds_acc
        self.records = records_acc

    def categorize(self, records: list[dict]) -> list[dict]:
        t0 = time.perf_counter()
        out = self.inner.categorize(records)
        self.seconds.add(time.perf_counter() - t0)
        self.records.add(len(records))
        return out
