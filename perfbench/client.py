"""Enrichment client for the benchmark, importable by Spark's Python
workers (the runner puts the checkout root on ``PYTHONPATH``).

:class:`FixedDelayClient` wraps the engine's ``DeterministicMockClient``
(the values stay a pure function of the zip code) and waits a fixed
time before every call, standing in for the reference's HTTP round trip.
With ``stats`` set (the traced run), every call adds
``(calls, rows, failed_rows, busy_s, tasks)`` to a Spark accumulator.
"""

from __future__ import annotations

import threading
import time
from functools import partial

from pyspark.accumulators import AccumulatorParam

from net7_etl_bus_spark.operators.enrich import DeterministicMockClient


class StatsParam(AccumulatorParam):
    """Element-wise sum of ``(calls, rows, failed_rows, busy_s, tasks)``."""

    def zero(self, value):
        return (0, 0, 0, 0.0, 0)

    def addInPlace(self, a, b):
        return tuple(x + y for x, y in zip(a, b))


class FixedDelayClient:
    """``DeterministicMockClient`` behind a fixed per-call wait."""

    def __init__(self, delay_s: float = 0.0, fail_geocode=frozenset(), stats=None) -> None:
        self._inner = DeterministicMockClient(fail_geocode=set(fail_geocode))
        self._delay_s = delay_s
        self._stats = stats
        self._lock = threading.Lock()  # Accumulator.add is not thread-safe
        self._record(0, 0, 0, 0.0, 1)  # one client per enrichment task

    def _record(self, *delta) -> None:
        if self._stats is not None:
            with self._lock:
                self._stats.add(delta)

    def _call(self, fn, *args, row: bool = False):
        t0 = time.perf_counter()
        if self._delay_s:
            time.sleep(self._delay_s)
        failed = False
        try:
            return fn(*args)
        except RuntimeError:
            failed = True
            raise
        finally:
            self._record(1, int(row), int(row and failed), time.perf_counter() - t0, 0)

    def geocode(self, zipcode):
        return self._call(self._inner.geocode, zipcode, row=True)

    def elevation(self, zipcode, lat, lng):
        return self._call(self._inner.elevation, zipcode, lat, lng)

    def timezone(self, zipcode, lat, lng):
        return self._call(self._inner.timezone, zipcode, lat, lng)


def client_factory(delay_s: float = 0.0, fail_geocode=frozenset(), stats=None):
    """Zero-argument factory for ``run_etl(client_factory=...)``."""
    return partial(FixedDelayClient, delay_s, frozenset(fail_geocode), stats)
