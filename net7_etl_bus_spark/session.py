"""SparkSession factory with scale-oriented defaults.

The session is configured for correctness parity (UTC timestamps — the
reference stores ``timestamptz``/``DateTime.UtcNow`` everywhere, see
SURVEY.md §1.2) and for large-cluster behavior: AQE on (runtime
coalescing + skew-join splitting), Arrow transfer for the few Python
stages, and broadcast-join threshold sized so dimension tables
(region/nation/customer at any SF we test, and the control tables) are
broadcast rather than shuffled.

On a real 1000-executor cluster the only knobs expected to change are
``spark.sql.shuffle.partitions`` (AQE coalesces down from a high
initial number, so prod sets it ~2-3x total cores) and executor
memory sizing; nothing in the engine hard-codes partition counts.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Defaults chosen for the local[32] test harness; see module docstring
# for what changes on a real cluster.
_DEFAULT_CONF = {
    # Correctness: the reference persists UTC timestamps only
    # (Utilities -> DateTime.UtcNow; Postgres timestamptz).
    "spark.sql.session.timeZone": "UTC",
    # Adaptive execution: runtime shuffle-partition coalescing, skew
    # join splitting, and dynamic join-strategy switching. This is the
    # 100 TB safety net for skewed keys and misestimated sizes.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for any pandas UDF / toPandas boundary.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Dimension tables (region/nation/part/supplier, zip fixture,
    # control tables) should hash-broadcast, not shuffle.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # Scan parallelism: default 128m split size is right for the
    # target cluster; local test files are single-row-group anyway.
    "spark.sql.files.maxPartitionBytes": "134217728",
    # ANSI off matches both DuckDB's permissive casts and the
    # reference's tolerant per-row error handling.
    "spark.sql.ansi.enabled": "false",
    # The events table stores TIMESTAMP(NANOS) which Spark's parquet
    # reader rejects; read as raw nanos longs and convert in
    # data.load_table (ns -> us truncation, matching DuckDB).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # size(NULL) must be NULL (SQL semantics, what DuckDB len() and
    # every other engine return), not the Spark-1.x legacy -1 — found
    # by the null-injection fuzz differential: every size(split(...))
    # word count silently became -1 on NULL text.
    "spark.sql.legacy.sizeOfNull": "false",
}


# Confs that are RUNTIME-settable and required for correctness parity
# with the DuckDB oracle, applied to any externally-built session (the
# driver harness constructs its own SparkSession with vanilla defaults
# — Spark 4 defaults ANSI ON, which turns element_at/cast/divide on
# edge rows into exceptions where DuckDB and the reference's tolerant
# row handling return NULL).
#
# LOUD DOCUMENTATION OF THE CONF LEAK: these three settings are NOT
# restored after the query runs. They cannot be — registered queries
# return LAZY DataFrames, and ANSI/timezone/nanos semantics are bound
# when the plan finally executes (driver-side .collect()), which is
# after the wrapper has returned. A save/restore around the wrapper
# body would silently re-enable ANSI before the caller ever executes
# the plan. Callers who need ANSI-on behavior for their OWN queries on
# a shared session should set spark.sql.ansi.enabled back themselves.
_CORRECTNESS_CONF = {
    "spark.sql.ansi.enabled": "false",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.legacy.sizeOfNull": "false",
}

# Perf confs (also runtime-settable, also leaked for the same lazy-
# execution reason) applied ONLY when the session still carries the
# stock Spark default — i.e. the owner never tuned them. 200 default
# shuffle partitions is ~6x overhead at sf0.01 on the driver's vanilla
# sweep session; the 10 MB default broadcast threshold leaves the
# larger dimension tables shuffling. An owner-set value (anything
# other than the stock default) is always respected.
_PERF_CONF = {
    # key: (stock_default, ours)
    "spark.sql.shuffle.partitions": ("200", "32"),
    "spark.sql.autoBroadcastJoinThreshold": ("10485760", str(64 * 1024 * 1024)),
}


def ensure_runtime_confs(spark: SparkSession) -> SparkSession:
    """Apply correctness-critical runtime confs to an existing session.

    Idempotent and cheap (conf writes are driver-local). Called by the
    registry wrapper around every query and by data.load_table, so a
    query behaves identically whether it runs under our
    :func:`get_spark` session or the driver harness's own.

    Semantics confs (ANSI off, UTC, parquet nanos-as-long) are always
    asserted; perf confs (shuffle partitions, broadcast threshold) only
    when the current value is the stock Spark default, so an externally
    tuned session keeps its owner's tuning. Both classes persist on the
    session after the call — see the module comment above
    ``_CORRECTNESS_CONF`` for why restore-after-run is impossible.
    """
    for k, v in _CORRECTNESS_CONF.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            # A conf that became static in some Spark build must not
            # break the query path; the session-build defaults cover it.
            pass
    for k, (stock, ours) in _PERF_CONF.items():
        try:
            current = spark.conf.get(k, stock)
            if current in (stock, None):
                spark.conf.set(k, ours)
        except Exception:
            pass
    return spark


def default_driver_mem(meminfo: str | None = None) -> str:
    """The local JVM heap default: half of the host's ``MemTotal``, at
    most 16g — a 16g heap on a 15 GiB host would let the JVM grow past
    physical memory before it collects. ``meminfo`` is the text of
    ``/proc/meminfo`` (read when None); where it has no ``MemTotal``
    line (non-Linux hosts) the default stays 16g."""
    if meminfo is None:
        try:
            with open("/proc/meminfo", encoding="ascii") as f:
                meminfo = f.read()
        except OSError:
            meminfo = ""
    for line in meminfo.splitlines():
        if line.startswith("MemTotal:"):
            total_mib = int(line.split()[1]) // 1024
            return f"{min(16 * 1024, total_mib // 2)}m"
    return "16g"


def get_spark(
    app_name: str = "net7-etl-bus-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or reuse) the engine SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` when unset and
    no cluster master is configured — tests and bench run single-JVM,
    production passes its own master/deploy config.
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None and "SPARK_MASTER" not in os.environ:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if master:
        builder = builder.master(master)
    if master and master.startswith("local"):
        # local[N] runs driver + all N executor threads in ONE JVM,
        # and an unconfigured session gets Spark's 1g default heap —
        # 32 threads sharing 1 GiB on a 128 GiB host (r7 finding: the
        # GCLocker retry stalls in heavy cascades and an sf1 OOM in
        # the all-pairs containment baseline were this, not the
        # operators). Size the heap to the harness; applies only when
        # this call actually launches the JVM (getOrCreate ignores it
        # on an already-running session), and never overrides an
        # explicit submit-time setting.
        builder = builder.config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_mem(),
        )

    conf = dict(_DEFAULT_CONF)
    conf["spark.sql.shuffle.partitions"] = str(
        shuffle_partitions
        if shuffle_partitions is not None
        else int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"))
    )
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    return spark
