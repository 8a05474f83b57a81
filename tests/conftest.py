from __future__ import annotations

import functools
import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_SMALL = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    from net7_etl_bus_spark.session import get_spark

    s = get_spark("net7-etl-bus-tests", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def duck():
    import duckdb

    from net7_etl_bus_spark.schemas import TESTDATA_TABLES

    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_SMALL}/{t}.parquet')"
        )
    yield con
    con.close()


def renders(df) -> dict[str, str]:
    """The ``formatted`` and ``simple`` explain renders of ONE
    QueryExecution of ``df`` (no action runs)."""
    qe = df._jdf.queryExecution()
    explain = df.sparkSession._jvm.PythonSQLUtils.explainString
    return {mode: explain(qe, mode) for mode in ("formatted", "simple")}


@functools.cache
def plan_renders(spark, name: str) -> dict[str, str]:
    """Both renders of registered query ``name`` at SF_SMALL, built
    once per session (construction-time probes and eager checkpoints
    included). Pins that must execute the plan first (AQE final plans)
    or that change session confs build their own DataFrame instead."""
    from net7_etl_bus_spark.plans import registry

    # Plan assertions must see the raw plan: the dedup cascade persists
    # its signature/shingle relations, and the CacheManager substitutes
    # InMemoryRelation into any later plan sharing that logical subtree.
    spark.catalog.clearCache()
    return renders(registry.queries()[name](spark, SF_SMALL))


def plan_of(spark, name: str, mode: str = "formatted") -> str:
    """One render of registered query ``name``; see plan_renders."""
    return plan_renders(spark, name)[mode]
