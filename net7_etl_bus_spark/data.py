"""Testdata and fixture loading helpers.

All loads are lazy DataFrame definitions — Catalyst sees the parquet
footer schema, so column pruning and predicate pushdown reach the scan
for free. No caching here: each registered query builds its own plan
and the optimizer prunes what it doesn't need.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .schemas import TESTDATA_TABLES

# Repo-absolute fixture dir (committed, deterministic; generated once
# by scripts/gen_fixtures.py). Oracles reference the same paths via
# DuckDB read_csv/read_parquet so Spark and the oracle see identical
# bytes.
REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
FIXTURES_DIR = os.path.join(REPO_ROOT, "fixtures")
ZIP_CSV_PATH = os.path.join(FIXTURES_DIR, "zip_codes.csv")
ZIP_DETAILS_PATH = os.path.join(FIXTURES_DIR, "zip_code_details.parquet")
ETL_IMPORTS_PATH = os.path.join(FIXTURES_DIR, "etl_bus_imports.parquet")
API_RESPONSES_PATH = os.path.join(FIXTURES_DIR, "api_responses.jsonl")
ZIP_XML_PATH = os.path.join(FIXTURES_DIR, "zip_codes.xml")
ZIP_FIXED_PATH = os.path.join(FIXTURES_DIR, "zip_codes_fixed.txt")

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # Re-assert runtime-settable parity confs (ANSI off, UTC, nanos
    # legacy read) — a vanilla session (e.g. the driver harness's)
    # throws PARQUET_TYPE_ILLEGAL on events.ts and ANSI errors on edge
    # rows otherwise. Idempotent, driver-local, cheap.
    from .session import ensure_runtime_confs

    ensure_runtime_confs(spark)
    df = spark.read.parquet(table_path(sf_dir, name))
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        # events.ts is TIMESTAMP(NANOS) in the file; with
        # spark.sql.legacy.parquet.nanosAsLong it arrives as a nanos
        # long. Truncate to micros with integer division (exactly what
        # DuckDB does) and rebuild the timestamp.
        from pyspark.sql import functions as F

        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load_table(spark, sf_dir, t) for t in TESTDATA_TABLES}


# --- adaptive scan parallelization (OPTIMIZATION_r13) ------------------
#
# Parquet is only splittable at ROW-GROUP granularity: no value of
# spark.sql.files.maxPartitionBytes can split a single row group, so a
# table written as one row group per file plans at most one scan task
# per file regardless of core count. The repo's testdata is exactly
# that shape (one file, one row group per table), which left every
# scan-side pipeline — tokenization, shingle md5, dsum partial
# aggregation — running on ONE core of local[32] through r12. The
# optimization guide's prescription for unsplittable input (§2.5
# "Input skew": one huge unsplittable file) is to repartition
# immediately after the read; this helper does that ADAPTIVELY, so at
# production scale it is a no-op decided by arithmetic, not a local
# tuning constant.

# Footer metadata cache: path -> (size, mtime, n_row_groups, n_rows).
# File METADATA only (never data, never results); keyed on
# (size, mtime) so a rewritten file re-reads its footer.
_RG_CACHE: dict[str, tuple[int, float, int, int]] = {}


def _file_meta(f: str) -> tuple[int, int]:
    """(row_groups, rows) of one parquet file, footer-cached."""
    import pyarrow.parquet as pq

    st = os.stat(f)
    hit = _RG_CACHE.get(f)
    if hit is None or hit[0] != st.st_size or hit[1] != st.st_mtime:
        md = pq.ParquetFile(f).metadata
        _RG_CACHE[f] = (st.st_size, st.st_mtime, md.num_row_groups, md.num_rows)
    hit = _RG_CACHE[f]
    return hit[2], hit[3]


def _parquet_files(path: str) -> list[str]:
    if os.path.isdir(path):
        out = []
        for root, _dirs, names in os.walk(path):
            out += [os.path.join(root, n) for n in names if n.endswith(".parquet")]
        return out
    return [path]


def _row_groups(path: str) -> int:
    """Total parquet row groups under ``path`` (file or directory) —
    the number of independently readable chunks, i.e. the maximum scan
    parallelism any split-size setting can achieve."""
    return sum(_file_meta(f)[0] for f in _parquet_files(path))


def table_rows(sf_dir: str, name: str) -> int | None:
    """Row count of a testdata table from parquet FOOTERS only (no
    Spark job, no data read) — sizing metadata for scale-adaptive
    operator parameters (e.g. the packing prefix-sum bucket width).
    None when the footers cannot be read; callers must fall back to
    their scale-safe default."""
    try:
        return sum(_file_meta(f)[1] for f in _parquet_files(table_path(sf_dir, name)))
    except Exception:
        return None


def scan_parallel(df: DataFrame, *key_cols: str) -> DataFrame:
    """Hash-repartition ``df`` to the session's default parallelism —
    but ONLY when the parquet files behind it cannot split into at
    least half that many scan tasks (few files x few row groups).

    The gate derives from input metadata and core count, never a
    constant: a production table (thousands of row groups across many
    files) takes the identity branch, and a lower ``local[N]`` lowers
    the target with it, so the driver's core-scaling bench still
    measures the operator, not a hard-coded width. Callers place this
    AFTER pushdown-eligible filters so PushedFilters still reach the
    scan, and pass a high-cardinality key so the hash spreads evenly
    (deterministic, unlike round-robin under retries — guide §2.5).
    Only worth it where real per-row CPU follows (tokenize / shingle /
    md5 / vector math): the A/B harness measured the same repartition
    LOSING 5-70% on cheap partial-aggregation scans (agg_hash, q1),
    so those call sites deliberately stay unparallelized.
    """
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    try:
        files = [f.removeprefix("file:") for f in df.inputFiles()]
        if not files:
            return df  # non-file-backed relation: nothing to infer
        units = sum(_row_groups(f) for f in files)
    except Exception:
        return df  # unreadable footer: never fail the query path
    if units * 2 >= target or target <= 2:
        return df
    return spread(df, *key_cols)


def spread(df: DataFrame, *key_cols: str) -> DataFrame:
    """Hash-repartition ``df`` to ``defaultParallelism`` partitions: one
    wave of tasks, one per task slot. A planned exchange only; no Spark
    job runs here.

    Partition on xxhash64(keys), NOT the raw keys: a raw-key
    HashPartitioning(doc_id) would satisfy a downstream
    groupBy(doc_id) distribution and make Catalyst elide that
    aggregation's Exchange — the very node AQE reuses to share one
    signature/aggregation computation across multi-consumer branches
    (dedup cascade, curation). Hashing the key keeps the spread even
    and deterministic under task retries while leaving every
    downstream exchange (and its reuse) in place. An explicit
    partition count is never coalesced by AQE.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(target, F.xxhash64(*[F.col(c) for c in key_cols]))
