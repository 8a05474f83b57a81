"""Per-row enrichment framework (reference T1-T4: the transform stage).

The reference enriches each row with three dependent HTTP calls inside
a bounded-parallelism TPL Dataflow TransformBlock
(DataflowProcessor.cs:158-285, MaxDOP default 5): geocode(zip) ->
(lat, lng), then — only if geocode succeeded — elevation(lat, lng) and
timezone(lat, lng), each failure tolerated independently
(DataflowProcessor.cs:188-214). A failed row passes through with null
enrichment columns; one bad row never fails the job.

Spark-first redesign:

* The whole 3-call dependency chain runs inside ONE ``mapInPandas``
  stage — no shuffle between calls (SURVEY.md §7.4.5).
* That stage always runs ``defaultParallelism`` tasks, one wave: its
  input is hash-spread on the zip column (``data.spread``) just
  before ``mapInPandas``. A CSV file plans one split, so without the
  spread the whole stage is ONE task waiting on calls while the other
  task slots idle. Each row costs three external calls (milliseconds);
  the exchange costs microseconds per row, so the spread always pays.
* Each task works on its Arrow batches in two call waves on one
  thread pool of ``2 x N`` workers (N = ``max_concurrency``; see
  :func:`enrich_rows`): N lanes geocode every row, then 2N lanes run
  the elevation and timezone calls of the geocoded rows together. So
  per task, geocode calls in flight stay <= N and all calls in flight
  peak at 2N, in wave 2; external-API concurrency is at most
  defaultParallelism x 2N. Size the cluster's cores and N against the
  API's concurrency limit.
* The API's RATE budget is ENFORCED, not just documented: a per-task
  :class:`TokenBucket` gates every outbound call of both waves, the
  overlapped elevation and timezone calls included. Its rate is
  ``per_task_rate(budget, defaultParallelism)`` — the exact share,
  since that is how many tasks the stage runs — so even if the
  scheduler feeds a task more batches than planned, aggregate
  pressure stays <= budget. The limiter is injected like the client
  (``rate_limiter_factory``) — there is no cross-executor coordination
  to depend on, which is exactly why the per-task quotient is the
  right mechanism on a shared-nothing cluster (SURVEY.md §7.4.5).
* The Python cost is per call, not per future: a wave submits one
  future per lane and every lane pulls row indices from one shared
  iterator, so a row's two dependent calls cost no future and no
  extra round trip — its critical path is two calls, not three.
* The client is injected (callable factory) — production wires an
  HTTP client; tests and the golden pipeline use the deterministic
  mock below, mirroring the reference's own mocked-API test strategy
  (Net7EtlBus.Tests/DataflowProcessorTests.cs:53-98).
"""

from __future__ import annotations

import concurrent.futures
from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import StructType

from ..data import spread

# Columns appended by the enrichment stage.
ENRICHMENT_COLUMNS = ("Latitude", "Longitude", "Elevation", "Timezone")


class DeterministicMockClient:
    """Pure-function enrichment: value = f(zipcode). Golden rows match
    the reference's own test fixtures (DataflowProcessorTests.cs:57-95
    mock 31.2562/-85.6229/101.1/'Central Daylight Time' for 35004;
    GoogleApiServiceTests.cs:11-12 lat/lng for 75074).

    ``fail_geocode`` / ``fail_elevation`` / ``fail_timezone`` inject
    per-zip failures to exercise the independence semantics.
    """

    GOLDEN = {
        "35004": (31.2562, -85.6229, 101.1, "Central Daylight Time"),
        "75074": (33.0118, -96.6946, None, None),  # elevation/tz fall through to f(zip)
    }

    def __init__(
        self,
        fail_geocode: set[str] | None = None,
        fail_elevation: set[str] | None = None,
        fail_timezone: set[str] | None = None,
    ) -> None:
        self.fail_geocode = fail_geocode or set()
        self.fail_elevation = fail_elevation or set()
        self.fail_timezone = fail_timezone or set()

    @staticmethod
    def _f(zipcode: str):
        h = int(zipcode) if zipcode.isdigit() else sum(ord(c) for c in zipcode)
        lat = round(24.0 + (h % 2500) / 100.0, 4)
        lng = round(-125.0 + (h % 5800) / 100.0, 4)
        elevation = round((h % 4400) / 10.0, 1)
        tz = [
            "Eastern Standard Time",
            "Central Daylight Time",
            "Mountain Standard Time",
            "Pacific Standard Time",
        ][h % 4]
        return lat, lng, elevation, tz

    def geocode(self, zipcode: str) -> tuple[float, float]:
        if zipcode in self.fail_geocode:
            raise RuntimeError(f"geocode failed for {zipcode}")
        g = self.GOLDEN.get(zipcode)
        if g:
            return g[0], g[1]
        f = self._f(zipcode)
        return f[0], f[1]

    def elevation(self, zipcode: str, lat: float, lng: float) -> float:
        if zipcode in self.fail_elevation:
            raise RuntimeError(f"elevation failed for {zipcode}")
        g = self.GOLDEN.get(zipcode)
        if g and g[2] is not None:
            return g[2]
        return self._f(zipcode)[2]

    def timezone(self, zipcode: str, lat: float, lng: float) -> str:
        if zipcode in self.fail_timezone:
            raise RuntimeError(f"timezone failed for {zipcode}")
        g = self.GOLDEN.get(zipcode)
        if g and g[3] is not None:
            return g[3]
        return self._f(zipcode)[3]


class TokenBucket:
    """Thread-safe token-bucket rate limiter: ``rate`` tokens/sec refill
    up to ``capacity`` (burst size, default 1 — strict pacing after the
    first call). :meth:`acquire` blocks until a token is available, so
    N pool threads sharing one bucket collectively never exceed
    ``rate`` sustained calls/sec no matter how wide the pool is.

    Deployment contract (the T4 budget): give every task
    ``rate = per_task_rate(global_budget, expected_tasks)``; aggregate
    external-API pressure is then <= global_budget regardless of batch
    sizes or how many Arrow batches the scheduler feeds each task —
    enforcement replaces the knob arithmetic the docstring used to
    merely document. Clock and sleeper are injectable so unit tests
    run on a fake timeline (no real sleeping, no flake)."""

    def __init__(
        self,
        rate: float,
        capacity: float = 1.0,
        clock=None,
        sleeper=None,
    ) -> None:
        import threading
        import time

        if rate <= 0:
            raise ValueError(f"rate must be > 0, got {rate}")
        self.rate = float(rate)
        self.capacity = float(max(capacity, 1.0))
        self._clock = clock if clock is not None else time.monotonic
        self._sleep = sleeper if sleeper is not None else time.sleep
        self._lock = threading.Lock()
        self._tokens = self.capacity
        self._last = self._clock()
        self.acquired = 0  # total tokens handed out (observability)

    def _refill_locked(self) -> None:
        now = self._clock()
        self._tokens = min(self.capacity, self._tokens + (now - self._last) * self.rate)
        self._last = now

    # Tolerance against float residue: refilling `wait * rate` tokens
    # can land at 0.999...8 instead of 1.0, making the next computed
    # wait ~2e-17 — too small to advance ANY clock (fake clocks hang,
    # real clocks spin hot). Accept a token within _EPS and never
    # sleep less than a microsecond.
    _EPS = 1e-9
    _MIN_SLEEP = 1e-6

    def acquire(self, n: float = 1.0) -> None:
        """Block until ``n`` tokens are available, then take them.

        ``n`` must fit the bucket: tokens are clamped to ``capacity``
        on refill, so a request for more than ``capacity`` could never
        be satisfied and would block forever — that latent hang is a
        ValueError instead."""
        if n > self.capacity + self._EPS:
            raise ValueError(
                f"cannot acquire {n} tokens from a bucket of capacity "
                f"{self.capacity}; raise capacity or split the request"
            )
        while True:
            with self._lock:
                self._refill_locked()
                if self._tokens + self._EPS >= n:
                    self._tokens = max(0.0, self._tokens - n)
                    self.acquired += n
                    return
                wait = max((n - self._tokens) / self.rate, self._MIN_SLEEP)
            # sleep OUTSIDE the lock so other threads can refill/take
            self._sleep(wait)


def per_task_rate(global_budget_per_sec: float, expected_tasks: int) -> float:
    """The per-task quotient of a cluster-wide API budget: each of the
    ``expected_tasks`` concurrently-running enrichment tasks gets an
    equal share, so the aggregate sustained rate is <= the budget with
    zero cross-executor coordination. :func:`enrich_dataframe` spreads
    its stage to exactly ``defaultParallelism`` tasks, so pass
    ``expected_tasks=spark.sparkContext.defaultParallelism`` for the
    exact share — overestimating wastes quota, underestimating
    overshoots by the ratio. The share does not change with the call
    waves: a task's bucket gates all of its calls, so overlapping a
    row's elevation and timezone calls changes when tokens are taken,
    not how many."""
    if expected_tasks <= 0:
        raise ValueError(f"expected_tasks must be > 0, got {expected_tasks}")
    return float(global_budget_per_sec) / float(expected_tasks)


class RateLimitedClient:
    """Decorator client: acquires one token per outbound call before
    delegating, so the 3-call chain (geocode -> elevation + timezone)
    costs up to 3 tokens per row — the unit the API quota is actually
    denominated in (requests, not rows)."""

    def __init__(self, inner, bucket: TokenBucket) -> None:
        self._inner = inner
        self._bucket = bucket

    def geocode(self, zipcode):
        self._bucket.acquire()
        return self._inner.geocode(zipcode)

    def elevation(self, zipcode, lat, lng):
        self._bucket.acquire()
        return self._inner.elevation(zipcode, lat, lng)

    def timezone(self, zipcode, lat, lng):
        self._bucket.acquire()
        return self._inner.timezone(zipcode, lat, lng)


def retrying(call, attempts: int = 3, base_delay: float = 0.1, sleeper=None):
    """Retry a zero-arg call with exponential backoff + deterministic
    jitter (hash of the attempt count — no RNG, so tests and reruns
    behave identically). ``sleeper`` is injectable so tests never
    sleep. The reference left rate-limiting/retry as a TODO
    (GoogleApiService.cs:27); this is that slot, done explicitly."""
    import time

    sleep = sleeper if sleeper is not None else time.sleep
    last = None
    for i in range(attempts):
        try:
            return call()
        except Exception as e:  # per-row tolerance: callers decide what to do
            last = e
            if i < attempts - 1:
                jitter = ((i * 2654435761) % 1000) / 10000.0  # 0-0.1s, deterministic
                sleep(base_delay * (2**i) + jitter)
    raise last


def _run_lanes(pool, lanes: int, work, n_items: int) -> None:
    """Run ``work(k)`` for every ``k`` in ``range(n_items)`` on up to
    ``lanes`` tasks of ``pool``; return when all of them are done. Each
    lane pulls the next item from one shared range iterator (a C
    iterator: ``next()`` on it is safe across threads, where a
    generator would raise "generator already executing"), so a wave
    costs one future per lane, not one per item."""
    items = iter(range(n_items))

    def lane() -> None:
        for k in items:
            work(k)

    for f in [pool.submit(lane) for _ in range(min(lanes, n_items))]:
        f.result()


def enrich_rows(client, zips, pool, lanes: int, attempts: int = 1, sleeper=None):
    """The reference's per-row chain over one batch of zip codes:
    geocode gates elevation+timezone; elevation and timezone failures
    are independent of each other (DataflowProcessor.cs:188-214).

    Two waves on ``pool`` (which must have ``2 * lanes`` workers):

    1. ``lanes`` lanes geocode every row — at most ``lanes`` geocode
       calls in flight;
    2. ``2 * lanes`` lanes run the elevation and timezone calls of the
       geocoded rows, interleaved ``[e0, t0, e1, t1, ...]`` — the two
       calls of a row overlap, so a row's critical path is two round
       trips, not three, and at most ``2 * lanes`` calls are in flight.

    Each call is retried on its own (:func:`retrying`). Returns the
    columns as lists aligned with ``zips``: Latitude, Longitude,
    Elevation, Timezone and EnrichmentError — null on full success,
    else ``"geocode: ..."`` or ``"elevation: ...; timezone: ..."`` (the
    parts that failed, in that order) for the quarantine channel."""
    n = len(zips)
    lat, lng, elev, tz = [None] * n, [None] * n, [None] * n, [None] * n
    err = [None] * n
    elev_err, tz_err = [None] * n, [None] * n

    def geocode(i: int) -> None:
        try:
            lat[i], lng[i] = retrying(
                lambda: client.geocode(zips[i]), attempts, sleeper=sleeper
            )
        except Exception as e:  # per-row tolerance: the row passes through null
            err[i] = f"geocode: {e}"

    _run_lanes(pool, lanes, geocode, n)
    done = [i for i in range(n) if err[i] is None]

    stages = (
        (client.elevation, elev, elev_err, "elevation"),
        (client.timezone, tz, tz_err, "timezone"),
    )

    def dependent(k: int) -> None:
        i = done[k >> 1]
        call, values, errors, stage = stages[k & 1]
        try:
            values[i] = retrying(
                lambda: call(zips[i], lat[i], lng[i]), attempts, sleeper=sleeper
            )
        except Exception as e:
            errors[i] = f"{stage}: {e}"

    _run_lanes(pool, 2 * lanes, dependent, 2 * len(done))
    for i in done:
        if elev_err[i] or tz_err[i]:
            err[i] = "; ".join(e for e in (elev_err[i], tz_err[i]) if e)
    return {
        "Latitude": lat,
        "Longitude": lng,
        "Elevation": elev,
        "Timezone": tz,
        "EnrichmentError": err,
    }


def enrich_dataframe(
    df: DataFrame,
    client_factory: Callable[[], object] = DeterministicMockClient,
    zip_column: str = "ZipCode",
    max_concurrency: int = 5,
    attempts: int = 1,
    with_error_column: bool = False,
    sleeper=None,
    rate_limiter_factory: Callable[[], TokenBucket] | None = None,
) -> DataFrame:
    """Append Latitude/Longitude/Elevation/Timezone via bounded-parallel
    enrichment (mapInPandas + per-task thread pool, two call waves per
    Arrow batch).

    The input is hash-spread on ``zip_column`` to ``defaultParallelism``
    partitions first (``data.spread``; a planned exchange, no
    Spark job runs here), so the stage runs ``defaultParallelism``
    tasks whatever the input's split count. ``max_concurrency`` is the
    reference's TransformMaxDegreeOfParallelism (Constants.cs:21
    default 5), per task: each task enriches its batches in two waves
    (:func:`enrich_rows`) on one pool of ``2 x max_concurrency``
    threads — at most ``max_concurrency`` geocode calls in flight, then
    at most ``2 x max_concurrency`` elevation and timezone calls. Total
    external-call parallelism is defaultParallelism x 2 x
    max_concurrency. The RATE budget is enforced, not inferred from the
    pool: pass ``rate_limiter_factory=lambda:
    TokenBucket(per_task_rate(budget, defaultParallelism))`` and every
    outbound call of both waves acquires a token first, capping each
    task's sustained call rate at its exact share of the cluster-wide
    API quota. Built once per task like the client, so there is no
    serialized shared state and no cross-executor coordination.

    ``attempts`` > 1 retries each call with backoff+jitter;
    ``with_error_column=True`` appends EnrichmentError (null on
    success) so callers can route failures to a quarantine sink
    (see :func:`split_quarantine`) instead of silently shipping
    null-enriched rows.
    """
    # copy the field list — StructType(...) keeps the list reference,
    # and .add() would otherwise mutate df.schema in place
    out_schema = (
        StructType(list(df.schema.fields))
        .add("Latitude", "double")
        .add("Longitude", "double")
        .add("Elevation", "double")
        .add("Timezone", "string")
    )
    if with_error_column:
        out_schema = out_schema.add("EnrichmentError", "string")

    columns = out_schema.names[len(df.schema.fields):]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        client = client_factory()  # one client per task (per connection pool)
        if rate_limiter_factory is not None:
            client = RateLimitedClient(client, rate_limiter_factory())
        with concurrent.futures.ThreadPoolExecutor(max_workers=2 * max_concurrency) as pool:
            for pdf in batches:
                out = enrich_rows(
                    client, pdf[zip_column].tolist(), pool, max_concurrency,
                    attempts, sleeper,
                )
                for c in columns:
                    pdf[c] = out[c]
                yield pdf

    return spread(df, zip_column).mapInPandas(run, out_schema)


def split_quarantine(enriched: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Split an error-column-enriched frame into (clean, quarantined).
    The quarantine side keeps the error reason for triage/replay; the
    clean side drops the column so downstream schemas are unchanged.
    Both sides are lazy views of one plan — no double enrichment."""
    from pyspark.sql import functions as F

    clean = enriched.filter(F.col("EnrichmentError").isNull()).drop("EnrichmentError")
    quarantined = enriched.filter(F.col("EnrichmentError").isNotNull())
    return clean, quarantined


# --- registry entry ---------------------------------------------------
# T1-T4 as an oracle-checked query: the mock client is a pure function
# of the zip code (mirroring the reference's mocked-API test strategy),
# so the whole bounded-parallel mapInPandas enrichment stage can be
# recomputed relationally by DuckDB — including the geocode-gates-
# elevation/timezone dependency and the golden rows from the
# reference's own tests (DataflowProcessorTests.cs:53-98 -> 35004;
# GoogleApiServiceTests.cs:11-12 -> 75074).

from ..plans.registry import register  # noqa: E402

_TZ_LIST_SQL = (
    "list_value('Eastern Standard Time','Central Daylight Time',"
    "'Mountain Standard Time','Pacific Standard Time')"
)


def _enrich_oracle() -> str:
    from ..data import ZIP_CSV_PATH

    h = "CAST(zipcode AS INT)"
    return f"""
    SELECT zipcode || '_' || state_abbr AS CompositeKey,
           zipcode AS ZipCode,
           CASE WHEN zipcode = '35004' THEN 31.2562
                WHEN zipcode = '75074' THEN 33.0118
                ELSE ROUND(24.0 + ({h} % 2500) / 100.0, 4) END AS Latitude,
           CASE WHEN zipcode = '35004' THEN -85.6229
                WHEN zipcode = '75074' THEN -96.6946
                ELSE ROUND(-125.0 + ({h} % 5800) / 100.0, 4) END AS Longitude,
           CASE WHEN zipcode = '35004' THEN 101.1
                ELSE ROUND(({h} % 4400) / 10.0, 1) END AS Elevation,
           CASE WHEN zipcode = '35004' THEN 'Central Daylight Time'
                ELSE {_TZ_LIST_SQL}[({h} % 4) + 1] END AS Timezone
    FROM read_csv('{ZIP_CSV_PATH}', header=true, all_varchar=true)
    """


@register("http_enrichment_mock", oracle=_enrich_oracle())
def http_enrichment_mock(spark, sf_dir: str) -> DataFrame:
    """T1-T4 (reference DataflowProcessor.cs:183-216): the 3-call
    dependent enrichment chain inside one Arrow-batched mapInPandas
    stage with a bounded per-task thread pool, run with the
    deterministic mock client and checked value-for-value by DuckDB."""
    from ..functions.scalar import composite_key
    from ..plans.reference_ops import read_zip_csv

    z = read_zip_csv(spark).withColumn(
        "CompositeKey", composite_key("ZipCode", "StateCode")
    )
    return enrich_dataframe(z).select(
        "CompositeKey", "ZipCode", "Latitude", "Longitude", "Elevation", "Timezone"
    )
