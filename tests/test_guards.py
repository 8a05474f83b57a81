"""Guard tests protecting documented past regressions, plus the pure-
kernel properties (sessionize / retrying / mock-client) that live
alongside them.

Restored after the round-3 test_properties.py rewrite dropped them
(ADVICE r3 item 1): the static parquet-read guard protects the round-1
driver failure mode (TIMESTAMP(NANOS) events read outside load_table),
and the shuffle-partition invariance test protects the cross-engine
determinism scheme against partial-aggregation reorderings — exactly
the nondeterminism a 1000-executor cluster injects.
"""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from net7_etl_bus_spark.operators.enrich import DeterministicMockClient, retrying
from net7_etl_bus_spark.streaming.windows import sessionize_pure

GAP_US = 10 * 60 * 1_000_000
CAP_US = 60 * 60 * 1_000_000

events = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=4 * CAP_US),
        st.sampled_from(["click", "view", "buy"]),
    ),
    max_size=200,
)


@given(events)
@settings(max_examples=200, deadline=None)
def test_sessionize_partitions_all_events(evs):
    evs = sorted(evs)
    closed, open_s = sessionize_pure(evs, GAP_US, CAP_US)
    total = sum(s[2] for s in closed) + (open_s[2] if open_s else 0)
    assert total == len(evs)


@given(events)
@settings(max_examples=200, deadline=None)
def test_sessionize_invariants(evs):
    evs = sorted(evs)
    closed, open_s = sessionize_pure(evs, GAP_US, CAP_US)
    all_sessions = closed + ([open_s] if open_s else [])
    prev_end = None
    for start, last, n, first_t, last_t in all_sessions:
        assert start <= last
        assert last - start <= CAP_US  # duration cap honored
        assert n >= 1
        if prev_end is not None:
            assert start >= prev_end  # sessions ordered, non-overlapping
        prev_end = last
    # Consecutive closed sessions split for a reason: gap exceeded or
    # cap would have been exceeded by the next session's first event.
    for a, b in zip(all_sessions, all_sessions[1:]):
        assert (b[0] - a[1] > GAP_US) or (b[0] - a[0] > CAP_US)


@given(events)
@settings(max_examples=100, deadline=None)
def test_sessionize_incremental_equals_batch(evs):
    """Feeding events in two chunks through the carried state must give
    the same sessions as one pass — the property that makes the
    streaming operator correct across micro-batches."""
    evs = sorted(evs)
    for cut in {0, len(evs) // 2, len(evs)}:
        c1, open1 = sessionize_pure(evs[:cut], GAP_US, CAP_US)
        c2, open2 = sessionize_pure(evs[cut:], GAP_US, CAP_US, state=open1)
        one_c, one_open = sessionize_pure(evs, GAP_US, CAP_US)
        assert c1 + c2 == one_c
        assert open2 == one_open


@given(st.integers(min_value=0, max_value=10), st.integers(min_value=1, max_value=12))
@settings(max_examples=100, deadline=None)
def test_retrying_succeeds_iff_enough_attempts(fail_n, attempts):
    calls = {"n": 0}

    def flaky():
        calls["n"] += 1
        if calls["n"] <= fail_n:
            raise RuntimeError("transient")
        return "ok"

    delays = []
    try:
        out = retrying(flaky, attempts=attempts, sleeper=delays.append)
        assert out == "ok" and attempts > fail_n
        assert calls["n"] == fail_n + 1
    except RuntimeError:
        assert attempts <= fail_n
        assert calls["n"] == attempts
    assert len(delays) == min(fail_n, attempts - 1)


@given(st.text(alphabet=st.characters(codec="ascii"), min_size=1, max_size=10))
@settings(max_examples=200, deadline=None)
def test_mock_client_total_and_in_range(zipcode):
    """The mock enrichment is total over arbitrary zip strings and
    stays in plausible geo ranges — per-row tolerance upstream never
    depends on input shape."""
    lat, lng, elev, tz = DeterministicMockClient._f(zipcode)
    assert 24.0 <= lat < 49.0
    assert -125.0 <= lng < -67.0
    assert 0.0 <= elev < 440.0
    assert tz.endswith("Time")


def test_no_direct_sfdir_parquet_reads():
    """Every testdata read must go through data.load_table: events.ts is
    TIMESTAMP(NANOS) and load_table is where the legacy conf + ns->us
    conversion live. A direct spark.read.parquet(sf_dir...) in an
    operator works in OUR session (conf set at build time) but crashes
    in any vanilla external session — the exact round-1 driver failure
    mode. Static guard so the trap can't come back."""
    import pathlib
    import re

    root = pathlib.Path(__file__).resolve().parent.parent / "net7_etl_bus_spark"
    bad = []
    for py in root.rglob("*.py"):
        if py.name == "data.py":
            continue
        src = py.read_text()
        for m in re.finditer(r"read\.parquet\(([^)]*)\)", src):
            arg = m.group(1)
            if "sf_dir" in arg or "table_path" in arg:
                bad.append(f"{py}:{arg}")
    assert not bad, f"direct sf_dir parquet reads (use data.load_table): {bad}"


def test_bitmap_chunking_sign_safe(spark):
    """The bitmap-distinct chunk/shift expressions must be exact for
    NEGATIVE and large ids (ADVICE r3: double division truncated toward
    zero and % produced negative shift counts, which Java masks mod 64
    — fixture ids being non-negative hid it). Popcount-sum over the
    floor-div/pmod chunks must equal exact COUNT(DISTINCT id) on a
    domain straddling zero."""
    from pyspark.sql import functions as F

    ids = list(range(-100, 100, 3)) + [-1, -32, -33, 31, 32, 2**40, -(2**40)]
    df = spark.createDataFrame([(i,) for i in ids], "user_id long")
    chunks = (
        df.select(
            F.expr("(user_id - pmod(user_id, 32)) div 32").alias("chunk"),
            F.expr("shiftleft(1L, CAST(pmod(user_id, 32) AS INT))").alias("bit"),
        )
        .groupBy("chunk")
        .agg(F.expr("bit_or(bit)").alias("mask"))
    )
    n = chunks.agg(F.sum(F.bit_count("mask"))).collect()[0][0]
    assert n == len(set(ids))


def test_minhash_verified_mega_doc_guard(spark):
    """The carried-hash-set cap (VERDICT r3 item 4) must not change
    results: pairs routed through the exploded-hash fallback (doc above
    cap -> empty xs) must get the IDENTICAL exact Jaccard the array
    path computes. Checked two ways: a synthetic corpus with two
    near-dup mega docs under a tiny cap, and the real sf0.001 documents
    with cap=8 (routing essentially every pair through the fallback)
    against the default cap."""
    from net7_etl_bus_spark.operators.dedup import _verified_pairs

    def run(docs, cap):
        return sorted(
            (r.doc_a, r.doc_b, round(r.jaccard, 12))
            for r in _verified_pairs(docs, cap=cap).collect()
        )

    # synthetic: two near-identical 60-word docs (mega under cap=16),
    # one unrelated small doc
    words = [f"w{i}" for i in range(60)]
    mega_a = " ".join(words)
    mega_b = " ".join(words[:-1] + ["changed"])
    docs = spark.createDataFrame(
        [(1, mega_a), (2, mega_b), (3, "tiny doc with few words here")],
        "doc_id long, text string",
    )
    uncapped = run(docs, 2**31)
    capped = run(docs, 16)
    assert uncapped == capped
    assert any(a == 1 and b == 2 and j > 0.9 for a, b, j in uncapped)

    # real corpus: fallback-for-everything == arrays-for-everything
    from net7_etl_bus_spark.data import load_table

    from .conftest import SF_SMALL

    real = load_table(spark, SF_SMALL, "documents")
    assert run(real, 8) == run(real, 2**31)


def test_results_invariant_under_shuffle_partitioning(spark):
    """The registry's determinism scheme (exact decimal sums, total
    orders, quantized accumulations) must make results IDENTICAL when
    the physical partitioning changes — 7 vs 32 shuffle partitions
    reorder every partial aggregation, which is exactly the
    nondeterminism a 1000-executor cluster injects. Checked on the
    float-heaviest queries.

    Note: ensure_runtime_confs only overrides shuffle.partitions when
    it still holds the stock default, so the explicit 7/32 set below
    sticks through the registry wrapper — this comparison is real, not
    32-vs-32.
    """
    from net7_etl_bus_spark.plans import registry

    from .conftest import SF_SMALL

    qs = registry.queries()
    saved = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        for name in (
            "q1_pricing_summary",
            "agg_stats_moments",
            "graph_pagerank",
            "anomaly_zscore",     # broadcast moments + per-row z cut
            "emb_pq_quantize",    # argmin over folded distances
            "ts_rolling_stats",   # exact sums inside window frames
        ):
            results = []
            for n in ("7", "32"):
                spark.conf.set("spark.sql.shuffle.partitions", n)
                results.append(sorted(map(tuple, qs[name](spark, SF_SMALL).collect())))
            assert results[0] == results[1], f"{name} varies with partitioning"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", saved)


def test_udaf_group_sum_exceeding_int64_is_exact(spark, tmp_path):
    """ADVICE r4 (medium): the udaf_applyInPandas kernel summed cents
    with numpy int64 — two in-domain rows (|price| < 9e16 each, so
    per-row cents up to ~9e18) silently WRAP int64 in one group (numpy
    does not raise), while the oracle accumulates in DECIMAL(38,0).
    The kernel now accumulates in unbounded Python ints; this pins the
    exact group total on a two-row group whose cent-sum exceeds 2^63,
    cross-checked against the DuckDB oracle on the same bytes."""
    import duckdb

    from net7_etl_bus_spark.plans import registry

    price = 8.9e16  # in-domain (< 9e16 bound), cents ~ 8.9e18 each
    orders = spark.createDataFrame(
        [(1, price), (1, price), (2, 10.25)],
        "o_custkey long, o_totalprice double",
    )
    orders.coalesce(1).write.parquet(str(tmp_path / "orders.parquet"))

    qs, oracles = registry.queries(), registry.oracles()
    rows = {
        r.o_custkey: r.total_spend
        for r in qs["udaf_applyInPandas"](spark, str(tmp_path)).collect()
    }
    cents = int(price * 100.0)  # exact: price*100 is an exact float64 int
    expected = float(2 * cents) / 100.0
    assert 2 * cents > 2**63  # the case numpy int64 silently wrapped
    assert rows[1] == expected and rows[1] > 0
    assert rows[2] == 10.25

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW orders AS SELECT * FROM read_parquet('{tmp_path}/orders.parquet/*.parquet')"
    )
    odf = con.execute(oracles["udaf_applyInPandas"]).df()
    con.close()
    oracle_rows = dict(zip(odf["o_custkey"], odf["total_spend"]))
    assert oracle_rows[1] == rows[1] and oracle_rows[2] == rows[2]


def test_histogram_null_measure_gets_its_own_bucket(spark, tmp_path):
    """ADVICE r4: NULL measures used to land in bucket 0 — floor(NULL)
    is NULL but greatest/least SKIP nulls in both engines, so NULL rows
    were counted as real low values. They must now surface in their own
    NULL bucket on BOTH engines."""
    import duckdb
    import math

    from net7_etl_bus_spark.plans import registry

    li = spark.createDataFrame(
        [(1.0,), (None,), (None,), (30_000.0,), (float("nan"),)],
        "l_extendedprice double",
    )
    li.coalesce(1).write.parquet(str(tmp_path / "lineitem.parquet"))

    qs, oracles = registry.queries(), registry.oracles()
    got = {
        (r.bucket if r.bucket is not None else "null"): r.n
        for r in qs["agg_histogram"](spark, str(tmp_path)).collect()
    }
    assert got == {"null": 2, -1: 1, 0: 1, 1: 1}

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW lineitem AS SELECT * FROM read_parquet('{tmp_path}/lineitem.parquet/*.parquet')"
    )
    odf = con.execute(oracles["agg_histogram"]).df()
    con.close()
    oracle = {
        ("null" if b is None or (isinstance(b, float) and math.isnan(b)) else int(b)): int(n)
        for b, n in zip(odf["bucket"], odf["n"])
    }
    assert oracle == got


def test_events_funnel_bot_user_routing_is_exact(spark):
    """The enforced bounded-collect contract (VERDICT r6 item 5): a
    user with more step events than the cap must route through the
    3-join conditional-min path and get the IDENTICAL per-user funnel
    times the array path computes — checked by running the same
    synthetic corpus (one bot with 20 views, several humans) under a
    tiny cap (forces routing) and an effectively-infinite cap (pure
    array path)."""
    import datetime as dt

    from net7_etl_bus_spark.operators.analytics import _funnel_per_user

    t0 = dt.datetime(2024, 1, 1)

    def ev(user, kind, hours):
        return (user, kind, t0 + dt.timedelta(hours=hours))

    rows = [
        # bot: signup, a flood of 20 views (some before signup), purchase
        ev(1, "signup", 10),
        *[ev(1, "view", h) for h in range(0, 40, 2)],  # views at h=0..38
        ev(1, "purchase", 30),
        # human converting normally
        ev(2, "signup", 0), ev(2, "view", 1), ev(2, "purchase", 2),
        # human whose only view precedes signup (must NOT convert)
        ev(3, "signup", 5), ev(3, "view", 1),
        # human with view outside the 7-day window
        ev(4, "signup", 0), ev(4, "view", 7 * 24 + 1),
        # viewer with no signup (t1 null)
        ev(5, "view", 1),
    ]
    e = spark.createDataFrame(rows, "user_id long, event_type string, ts timestamp")

    def run(cap):
        return sorted(
            (r.user_id, r.t1, r.t2, r.t3)
            for r in _funnel_per_user(e, cap).collect()
        )

    routed = run(5)        # bot's 20 views exceed cap -> join path
    unrouted = run(10**9)  # everyone on the array path
    assert routed == unrouted
    by_user = {u: (t1, t2, t3) for u, t1, t2, t3 in routed}
    # bot: t1 at h10, first view >= t1 is h10 exactly, purchase h30
    assert by_user[1] == (
        t0 + dt.timedelta(hours=10),
        t0 + dt.timedelta(hours=10),
        t0 + dt.timedelta(hours=30),
    )
    assert by_user[2][2] is not None            # full conversion
    assert by_user[3][1] is None                # view before signup
    assert by_user[4][1] is None                # view outside window
    assert by_user[5][0] is None                # no signup


def test_probe_row_cap_enforced_and_release(spark):
    """probes.materialized_nonempty relied on callers GUARANTEEING a
    bounded relation; nothing enforced it (VERDICT r8 item 6). Pin:
    (1) an over-cap relation raises (and releases its blocks) instead
    of riding into a broadcast and OOMing at scale; (2) in-cap
    relations work for both empty and non-empty cases; (3) release()
    on the discard path drops the checkpoint's storage level."""
    import pytest

    from net7_etl_bus_spark import probes

    with pytest.raises(ValueError, match="row_cap"):
        probes.materialized_nonempty(spark.range(100), row_cap=10)

    ok, nonempty = probes.materialized_nonempty(spark.range(3), row_cap=10)
    assert nonempty and ok.count() == 3

    empty, ne = probes.materialized_nonempty(
        spark.range(5).where("id < 0"), row_cap=10
    )
    assert not ne
    # discard path: release must actually drop the block storage level
    rdd = empty._jdf.queryExecution().analyzed().rdd()
    assert "Memory" in rdd.getStorageLevel().description()
    probes.release(empty)
    assert "Memory" not in rdd.getStorageLevel().description()


def test_bench_quiet_host_gate_paths():
    """BENCH_r09's validity rides on bench.py's quiet-host gate
    (VERDICT r8 item 2: BENCH_r08 started at loadavg 6.8 and recorded
    spread_max 116.9%). Pin all three gate paths with injected loadavg
    readings and a fake sleep — quiet start (no wait), hot start that
    recovers after one wait, and hot start that stays hot (runs anyway
    but stamps hot_start=true for the series reader)."""
    import bench

    slept: list[int] = []

    def fake_sleep(s):
        slept.append(s)

    # quiet: no sleep, clean gate block
    load, gate = bench.wait_for_quiet_host(loadavg=lambda: [1.0], sleep=fake_sleep)
    assert load == [1.0] and not slept
    assert gate == {"max_load": bench.LOAD_GATE, "waited_sec": 0, "hot_start": False}

    # hot then recovered: one sleep, measurement starts at the RE-read
    readings = iter([[9.0], [1.5]])
    load, gate = bench.wait_for_quiet_host(
        loadavg=lambda: next(readings), sleep=fake_sleep
    )
    assert slept == [bench.LOAD_RETRY_SEC] and load == [1.5]
    assert gate["waited_sec"] == bench.LOAD_RETRY_SEC and not gate["hot_start"]

    # still hot: annotated, never a second sleep
    slept.clear()
    load, gate = bench.wait_for_quiet_host(loadavg=lambda: [9.0], sleep=fake_sleep)
    assert slept == [bench.LOAD_RETRY_SEC] and gate["hot_start"]

    # platform without getloadavg: empty reading, gate stays quiet
    slept.clear()
    load, gate = bench.wait_for_quiet_host(loadavg=lambda: [], sleep=fake_sleep)
    assert load == [] and not slept and not gate["hot_start"]


def test_bench_compact_line_fits_tail_capture():
    """VERDICT r12 item 4: every BENCH_r*.json in the series landed
    parsed=null because the ~4 KB verbose JSON truncated inside the
    driver's 2000-char stdout tail capture. Pin the new stdout
    artifact: a realistic full record's compact projection parses,
    stays under the capture window, keeps the documented driver
    contract fields, and degrades by dropping the NORMALIZED per-query
    maps (never the raw ``queries`` map) when bloated."""
    import json

    import bench

    names = bench.BENCH_QUERIES
    full = {
        "metric": "headline_queries_total_wall",
        "value": 8.9,
        "unit": "sec",
        "sf": 0.1,
        "queries": {n: 0.512 for n in names},
        "close_total": 8.1,
        "drift_pct": -9.0,
        "spread_max_pct": 21.4,
        "canary_ref": bench.CANARY_REF,
        "open_total_canary_norm": 7.371,
        "close_total_canary_norm": 6.544,
        "composites_total": 4.2,
        "extended_total": 3.1,
        "queries_canary_norm": {n: 0.423 for n in names},
        "close_queries_canary_norm": {n: 0.401 for n in names},
        "host": {
            "cpu_canary_sec": [0.201, 0.206],
            "load_gate": {"hot_start": False},
        },
    }
    line = bench.compact_line(full)
    assert "\n" not in line and len(line) <= 1900
    got = json.loads(line)
    for k in ("metric", "value", "unit", "queries", "sf"):
        assert k in got  # the documented driver contract
    assert got["queries"] == full["queries"]
    assert got["canary"] == [0.201, 0.206] and got["hot_start"] is False
    assert got["close_queries_canary_norm"] == full["close_queries_canary_norm"]

    # bloat the names: normalized maps drop, raw queries stays
    big = dict(full)
    wide = {f"{'x' * 120}_{i}": 0.5 for i in range(16)}
    big["queries"] = wide
    big["queries_canary_norm"] = wide
    big["close_queries_canary_norm"] = wide
    got2 = json.loads(bench.compact_line(big))
    assert "queries" in got2
    assert "queries_canary_norm" not in got2
    assert "close_queries_canary_norm" not in got2


def test_driver_heap_default_is_half_of_memtotal_capped():
    """The local heap default follows the host: half of MemTotal, at
    most 16g, and 16g where no MemTotal line can be read."""
    from net7_etl_bus_spark.session import default_driver_mem

    def meminfo(kib):
        return f"MemFree:         1234 kB\nMemTotal:       {kib} kB\nBuffers: 1 kB\n"

    assert default_driver_mem(meminfo(15 * 1024 * 1024)) == "7680m"
    assert default_driver_mem(meminfo(128 * 1024 * 1024)) == "16384m"
    assert default_driver_mem(meminfo(4 * 1024 * 1024 + 1023)) == "2048m"
    assert default_driver_mem("") == "16g"
