"""Unit tests for data.scan_parallel's adaptive gate (OPTIMIZATION_r13).

The helper's CONTRACT — not just the plans it produces — must hold at
every core count the driver benches at: repartition fires only when
the parquet row groups behind the frame cannot split into at least
half the session's default parallelism, takes the identity branch on
well-split inputs, and never changes rows.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from net7_etl_bus_spark import data

from .conftest import SF_SMALL


def _docs(spark):
    return data.load_table(spark, SF_SMALL, "documents")


def test_repartition_fires_on_single_row_group(spark):
    """One file x one row group << cores/2: the scan must be spread to
    defaultParallelism partitions on a deterministic xxhash64 key."""
    target = spark.sparkContext.defaultParallelism
    if target <= 2:
        pytest.skip("gate is identity at <= 2 cores by design")
    path = data.table_path(SF_SMALL, "documents")
    assert data._row_groups(path) * 2 < target, "fixture no longer single-row-group"
    out = data.scan_parallel(_docs(spark), "doc_id")
    assert out.rdd.getNumPartitions() == target
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "xxhash64" in plan and "REPARTITION_BY_NUM" in plan, plan


def test_identity_when_input_is_well_split(spark, tmp_path):
    """A directory with >= ceil(cores/2) row groups must take the
    identity branch — at production layouts the helper is a no-op by
    arithmetic, not by configuration. The gate needs units*2 >= target,
    so writing ceil(target/2) non-empty files suffices even when the
    fixture has fewer rows than cores. Range partitioning on doc_id
    keeps every file non-empty; round-robin can leave some empty."""
    target = spark.sparkContext.defaultParallelism
    n_rows = _docs(spark).count()
    n_files = -(-target // 2)  # units * 2 >= target
    if n_rows < n_files:
        pytest.skip(f"fixture too small ({n_rows} rows) for {n_files} files")
    dst = str(tmp_path / "split_docs")
    _docs(spark).repartitionByRange(n_files, "doc_id").write.parquet(dst)
    assert data._row_groups(dst) * 2 >= target
    df = spark.read.parquet(dst)
    out = data.scan_parallel(df, "doc_id")
    assert out is df  # identity: no repartition node added


def test_values_unchanged_by_repartition(spark):
    df = _docs(spark).select("doc_id", F.length("text").alias("n"))
    base = sorted(tuple(r) for r in df.collect())
    spread = sorted(
        tuple(r) for r in data.scan_parallel(df, "doc_id").collect()
    )
    assert base == spread


def test_non_file_relation_is_identity(spark):
    df = spark.range(10).select(F.col("id").alias("doc_id"))
    assert data.scan_parallel(df, "doc_id") is df


def test_table_rows_matches_footer_and_count(spark):
    n = data.table_rows(SF_SMALL, "documents")
    assert n is not None and n == _docs(spark).count()
    assert data.table_rows(SF_SMALL, "no_such_table") is None
