"""Enrichment framework unit tests (reference T1-T4 semantics)."""

from __future__ import annotations

import concurrent.futures
import threading

from pyspark.sql import functions as F

from net7_etl_bus_spark.operators.enrich import (
    DeterministicMockClient,
    enrich_dataframe,
    enrich_rows,
)


def _zip_df(spark, zips):
    return spark.createDataFrame([(z,) for z in zips], "ZipCode string")


def _enrich(client, zips, lanes=2, attempts=1):
    """``enrich_rows`` in-process, on a pool sized as each enrichment
    task sizes it, retries without sleeping; the rows as (lat, lng,
    elevation, tz, error)."""
    with concurrent.futures.ThreadPoolExecutor(max_workers=2 * lanes) as pool:
        out = enrich_rows(client, zips, pool, lanes, attempts, lambda s: None)
    cols = ("Latitude", "Longitude", "Elevation", "Timezone", "EnrichmentError")
    return list(zip(*(out[c] for c in cols)))


def test_golden_values(spark):
    out = enrich_dataframe(_zip_df(spark, ["35004"])).collect()[0]
    assert (out["Latitude"], out["Longitude"]) == (31.2562, -85.6229)
    assert out["Elevation"] == 101.1
    assert out["Timezone"] == "Central Daylight Time"


def test_reference_live_test_zip(spark):
    # GoogleApiServiceTests.cs:11-12 golden lat/lng for 75074.
    out = enrich_dataframe(_zip_df(spark, ["75074"])).collect()[0]
    assert (out["Latitude"], out["Longitude"]) == (33.0118, -96.6946)


def test_failure_independence():
    c = DeterministicMockClient(fail_elevation={"11111"})
    [(lat, _, elev, tz, err)] = _enrich(c, ["11111"])
    assert lat is not None and tz is not None
    assert elev is None
    assert err and err.startswith("elevation:")
    c2 = DeterministicMockClient(fail_timezone={"11111"})
    [(_, _, elev2, tz2, err2)] = _enrich(c2, ["11111"])
    assert elev2 is not None and tz2 is None
    assert err2 and err2.startswith("timezone:")


def test_both_dependent_failures_reported_in_order():
    """Elevation and timezone both failing on one row gives one error
    naming both, elevation first, although timezone fails first here;
    the other rows of the batch are untouched."""

    class SlowElevation(DeterministicMockClient):
        def elevation(self, z, lat, lng):
            import time

            time.sleep(0.05)
            return super().elevation(z, lat, lng)

    c = SlowElevation(fail_elevation={"11111"}, fail_timezone={"11111"})
    rows = _enrich(c, ["11111", "22222"])
    lat, lng, elev, tz, err = rows[0]
    assert (lat, lng) == c.geocode("11111") and elev is None and tz is None
    assert err == (
        "elevation: elevation failed for 11111; timezone: timezone failed for 11111"
    )
    assert rows[1][4] is None and rows[1][2] is not None and rows[1][3] is not None


def test_geocode_failure_gates_dependent_calls():
    calls = []

    class Spy(DeterministicMockClient):
        def geocode(self, z):
            if z == "99999":
                raise RuntimeError("down")
            return super().geocode(z)

        def elevation(self, z, *a):
            calls.append(("elevation", z))
            return 0.0

        def timezone(self, z, *a):
            calls.append(("timezone", z))
            return "x"

    rows = _enrich(Spy(), ["99999", "10001"])
    lat, _, _, _, err = rows[0]
    assert lat is None  # T2/T3 never attempted for the failed row
    assert sorted(calls) == [("elevation", "10001"), ("timezone", "10001")]
    assert err == "geocode: down"
    assert rows[1][4] is None


def test_elevation_and_timezone_of_a_row_overlap():
    """Wave 2 runs a row's elevation and timezone calls at the same
    time: the spy's elevation(z) waits (2 s at most) for timezone(z) of
    the same zip to start. A chain that runs them one after the other
    times out on every row and reports an elevation error."""
    lock = threading.Lock()
    started: dict[str, threading.Event] = {}

    def event(z):
        with lock:
            return started.setdefault(z, threading.Event())

    class Spy(DeterministicMockClient):
        def elevation(self, z, lat, lng):
            if not event(z).wait(2.0):
                raise RuntimeError("timezone did not overlap")
            return super().elevation(z, lat, lng)

        def timezone(self, z, lat, lng):
            event(z).set()
            return super().timezone(z, lat, lng)

    zips = [str(10000 + i) for i in range(9)]
    rows = _enrich(Spy(), zips, lanes=1)  # the narrowest pool: 2 threads
    assert [r[4] for r in rows] == [None] * len(zips)
    mock = DeterministicMockClient()
    assert [r[2] for r in rows] == [mock.elevation(z, 0, 0) for z in zips]


def test_rate_limiter_gates_every_call():
    """A task's token bucket is taken once per call of both waves: the
    overlapped elevation and timezone calls are gated too, and a row
    whose geocode failed costs one token."""
    from net7_etl_bus_spark.operators.enrich import RateLimitedClient, TokenBucket

    zips = [str(10000 + i) for i in range(50)]
    fail = {zips[3], zips[17], zips[40]}
    bucket = TokenBucket(rate=1e9)
    client = RateLimitedClient(DeterministicMockClient(fail_geocode=fail), bucket)
    rows = _enrich(client, zips, lanes=4)
    assert sum(r[0] is None for r in rows) == len(fail)
    assert bucket.acquired == 3 * len(zips) - 2 * len(fail)


def test_per_row_errors_never_fail_job(spark):
    failing = lambda: DeterministicMockClient(fail_geocode={"22222"})  # noqa: E731
    rows = enrich_dataframe(_zip_df(spark, ["22222", "33333"]), failing).collect()
    by_zip = {r["ZipCode"]: r for r in rows}
    assert by_zip["22222"]["Latitude"] is None
    assert by_zip["33333"]["Latitude"] is not None


def test_bounded_concurrency(spark):
    """Observed in-flight parallelism stays within the two-wave
    contract: at most max_concurrency geocode calls (the reference's
    MaxDegreeOfParallelism semantics) and at most 2 x max_concurrency
    calls of any kind, in wave 2. The caps are per task: the spy state
    is built once per factory call, which is once per task, and the
    stage runs defaultParallelism tasks. The spy client runs inside the
    executor's Python worker, so violations are reported in-band: a
    call observed above its limit raises, which would surface as a
    null column."""

    def factory():
        lock = threading.Lock()
        state = {"geocode": 0, "all": 0}
        cap = {"geocode": 3, "all": 6}

        class Slow(DeterministicMockClient):
            def _slow(self, call, kinds, *a):
                import time

                with lock:
                    for k in kinds:
                        state[k] += 1
                    over = [k for k in kinds if state[k] > cap[k]]
                try:
                    if over:
                        raise RuntimeError(f"concurrency cap exceeded: {over}")
                    time.sleep(0.02)
                    return call(*a)
                finally:
                    with lock:
                        for k in kinds:
                            state[k] -= 1

            def geocode(self, z):
                return self._slow(super().geocode, ("geocode", "all"), z)

            def elevation(self, *a):
                return self._slow(super().elevation, ("all",), *a)

            def timezone(self, *a):
                return self._slow(super().timezone, ("all",), *a)

        return Slow()

    df = _zip_df(spark, [f"{10000 + i}" for i in range(40)])
    rows = enrich_dataframe(df, factory, max_concurrency=3).collect()
    assert len(rows) == 40
    # no cap violations
    assert all(
        None not in (r["Latitude"], r["Elevation"], r["Timezone"]) for r in rows
    )


def test_null_columns_added_with_right_types(spark):
    out = enrich_dataframe(_zip_df(spark, ["35004"]))
    dt = dict(out.dtypes)
    assert dt["Latitude"] == "double"
    assert dt["Elevation"] == "double"
    assert dt["Timezone"] == "string"


def test_retries_recover_transient_failures():
    """A client failing twice then succeeding must enrich fully with
    attempts=3 and fail with attempts=1; no real sleeping (injected
    sleeper records the backoff schedule)."""
    from net7_etl_bus_spark.operators.enrich import retrying

    class Flaky:
        def __init__(self):
            self.n = 0

        def __call__(self):
            self.n += 1
            if self.n < 3:
                raise RuntimeError("transient")
            return "ok"

    delays = []
    assert retrying(Flaky(), attempts=3, sleeper=delays.append) == "ok"
    assert len(delays) == 2 and delays[1] > delays[0] >= 0.1  # backoff grows

    import pytest as _pytest

    with _pytest.raises(RuntimeError):
        retrying(Flaky(), attempts=1, sleeper=delays.append)


def test_retries_are_per_call_in_both_waves():
    """Each call retries on its own: a client whose geocode and timezone
    fail twice per zip before succeeding enriches fully with attempts=3,
    and with attempts=1 every row reports its geocode failure."""

    class Flaky(DeterministicMockClient):
        def __init__(self):
            super().__init__()
            self.lock = threading.Lock()
            self.seen = {}

        def _flaky(self, key):
            with self.lock:
                self.seen[key] = self.seen.get(key, 0) + 1
                if self.seen[key] <= 2:
                    raise RuntimeError(f"transient {key}")

        def geocode(self, z):
            self._flaky(("geocode", z))
            return super().geocode(z)

        def timezone(self, z, lat, lng):
            self._flaky(("timezone", z))
            return super().timezone(z, lat, lng)

    zips = [str(10000 + i) for i in range(8)]
    assert all(r[4] is None and r[3] is not None for r in _enrich(Flaky(), zips, attempts=3))
    assert [r[4] for r in _enrich(Flaky(), zips)] == [
        f"geocode: transient ('geocode', '{z}')" for z in zips
    ]


def test_quarantine_split(spark):
    """with_error_column + split_quarantine: failed rows carry the
    stage-tagged reason; clean rows drop the column; counts add up."""
    from net7_etl_bus_spark.operators.enrich import split_quarantine

    failing = lambda: DeterministicMockClient(fail_geocode={"22222"})  # noqa: E731
    enriched = enrich_dataframe(
        _zip_df(spark, ["22222", "33333", "44444"]), failing, with_error_column=True
    )
    clean, quarantined = split_quarantine(enriched)
    assert clean.count() == 2 and quarantined.count() == 1
    assert "EnrichmentError" not in clean.columns
    bad = quarantined.collect()[0]
    assert bad["ZipCode"] == "22222" and bad["EnrichmentError"].startswith("geocode:")


# --- global API rate budget (T4 deployment contract) -------------------


def test_token_bucket_paces_on_fake_clock():
    """Strict pacing, deterministically: with capacity 1 and rate 10/s,
    each acquire after the first must wait exactly 0.1 fake seconds."""
    from net7_etl_bus_spark.operators.enrich import TokenBucket

    t = [0.0]
    sleeps = []

    def clock():
        return t[0]

    def sleeper(dt):
        sleeps.append(round(dt, 9))
        t[0] += dt

    b = TokenBucket(rate=10.0, capacity=1.0, clock=clock, sleeper=sleeper)
    for _ in range(5):
        b.acquire()
    # first call burst-free, then 4 sleeps of exactly 1/rate
    assert sleeps == [0.1, 0.1, 0.1, 0.1]
    assert b.acquired == 5


def test_token_bucket_rejects_over_capacity_and_counts_tokens():
    """acquire(n) with n > capacity can never be satisfied (refill
    clamps at capacity) — it must raise, not hang; and the
    observability counter counts TOKENS, not calls."""
    import pytest

    from net7_etl_bus_spark.operators.enrich import TokenBucket

    t = [0.0]
    b = TokenBucket(
        rate=10.0, capacity=4.0, clock=lambda: t[0],
        sleeper=lambda dt: t.__setitem__(0, t[0] + dt),
    )
    with pytest.raises(ValueError, match="capacity"):
        b.acquire(5.0)
    b.acquire(3.0)
    b.acquire(1.0)
    assert b.acquired == 4.0


def test_aggregate_rate_under_concurrent_tasks_stays_within_budget():
    """The SURVEY §7.4.5 hard part: 4 concurrent 'tasks' (threads),
    each with its per_task_rate share of a global budget, hammering
    as fast as they can on wide pools — the measured SUSTAINED
    aggregate call rate (burst tokens excluded) must stay <= budget."""
    import concurrent.futures
    import time

    from net7_etl_bus_spark.operators.enrich import (
        DeterministicMockClient,
        RateLimitedClient,
        TokenBucket,
        per_task_rate,
    )

    budget = 200.0  # global calls/sec
    n_tasks = 4
    calls_per_task = 40
    share = per_task_rate(budget, n_tasks)
    assert share == 50.0

    stamps: list[float] = []
    lock = threading.Lock()

    class Recording(DeterministicMockClient):
        def geocode(self, z):
            with lock:
                stamps.append(time.monotonic())
            return super().geocode(z)

    def task():
        # each task builds its own bucket — exactly how enrich_dataframe
        # wires rate_limiter_factory per mapInPandas task
        client = RateLimitedClient(Recording(), TokenBucket(rate=share, capacity=1.0))
        # wide pool INSIDE the task: the bucket, not the pool, is the cap
        with concurrent.futures.ThreadPoolExecutor(max_workers=8) as pool:
            list(pool.map(lambda i: client.geocode(str(10000 + i)), range(calls_per_task)))

    threads = [threading.Thread(target=task) for _ in range(n_tasks)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()

    total = len(stamps)
    assert total == n_tasks * calls_per_task
    span = max(stamps) - min(stamps)
    # one burst token per task is rate-free; everything else is paced
    sustained = (total - n_tasks) / span
    assert sustained <= budget * 1.05, (sustained, span)
    # and the limiter is not pathologically slow either (>= half budget)
    assert sustained >= budget * 0.5, (sustained, span)


def test_enrich_dataframe_with_rate_limiter_same_results(spark):
    """Wiring check: rate_limiter_factory changes timing only — the
    enriched values are identical to the unlimited run, and the chain
    costs 3 tokens per fully-enriched row."""
    from net7_etl_bus_spark.operators.enrich import TokenBucket

    zips = ["35004", "75074", "10001", "60601"]
    base = enrich_dataframe(_zip_df(spark, zips)).orderBy("ZipCode").collect()
    limited = (
        enrich_dataframe(
            _zip_df(spark, zips),
            rate_limiter_factory=lambda: TokenBucket(rate=1e9),
        )
        .orderBy("ZipCode")
        .collect()
    )
    assert [r.asDict() for r in base] == [r.asDict() for r in limited]


def _csv_zips(spark, tmp_path, n):
    """A single-file CSV of ``n`` distinct zips: one planned split."""
    path = tmp_path / "zips.csv"
    path.write_text("ZipCode\n" + "".join(f"{10000 + i}\n" for i in range(n)))
    return spark.read.csv(str(path), header=True, schema="ZipCode string")


def test_enrichment_spreads_single_split_input(spark, tmp_path):
    """A one-split CSV still enriches on every task slot: the stage
    output has defaultParallelism non-empty partitions, and every row
    carries the mock client's value for its zip."""
    n = spark.sparkContext.defaultParallelism
    df = _csv_zips(spark, tmp_path, 3000)
    assert df.rdd.getNumPartitions() == 1
    out = enrich_dataframe(df).withColumn("pid", F.spark_partition_id()).collect()
    assert {r["pid"] for r in out} == set(range(n))
    assert len(out) == 3000
    mock = DeterministicMockClient()
    for r in out:
        lat, lng = mock.geocode(r["ZipCode"])
        want = (lat, lng, mock.elevation(r["ZipCode"], lat, lng),
                mock.timezone(r["ZipCode"], lat, lng))
        assert (r["Latitude"], r["Longitude"], r["Elevation"], r["Timezone"]) == want


def test_enrich_dataframe_runs_no_job(spark, tmp_path):
    """Building the enrichment plan submits no Spark job: the spread is
    a planned exchange, not an action. The input carries a broadcast
    anti-join, as ``run_etl``'s does, so a probe such as
    ``df.rdd.getNumPartitions()`` would run its broadcast stage."""
    done = spark.createDataFrame([("10001",)], "ZipCode string")
    df = _csv_zips(spark, tmp_path, 100).join(done, "ZipCode", "left_anti")
    sc = spark.sparkContext
    sc.setJobGroup("enrich-build", "enrich_dataframe plan build")
    try:
        enrich_dataframe(df)
        jobs = sc.statusTracker().getJobIdsForGroup("enrich-build")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert list(jobs) == []
