"""Output checks for the benchmark, run outside the timed region.

* ETL: the ``RunResult`` counters of each trigger, and the final target
  table against the state derived from the generated inputs and the mock
  client's pure function (``DeterministicMockClient._f``).
* Queries: each result against its DuckDB oracle from
  ``registry.oracles()``, compared by ``scripts.diffcheck.compare``.
"""

from __future__ import annotations

import glob
import os
from datetime import datetime

import duckdb
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from net7_etl_bus_spark.operators.enrich import DeterministicMockClient
from net7_etl_bus_spark.plans import registry
from scripts.diffcheck import compare

from perfbench.gen import ZipInputs

TARGET_COLUMNS = [
    "CompositeKey", "ZipCode", "State", "StateCode", "County", "City",
    "Latitude", "Longitude", "Elevation", "Timezone",
    "CreationDateUtc", "LastModifiedDateUtc", "ImportId",
]
ENRICHED_COLUMNS = TARGET_COLUMNS[:10]  # key, CSV columns and the four looked up


def _read_csv(path: str) -> pd.DataFrame:
    df = pd.read_csv(path, dtype=str, keep_default_na=False)
    return pd.DataFrame({
        "CompositeKey": df["zipcode"] + "_" + df["state_abbr"],
        "ZipCode": df["zipcode"], "State": df["state"], "StateCode": df["state_abbr"],
        "County": df["county"], "City": df["city"],
    })


def _enrich(df: pd.DataFrame, enriched: pd.Series) -> pd.DataFrame:
    """Set the four enrichment columns from the mock's pure function
    where ``enriched``, else null."""
    f = {z: DeterministicMockClient._f(z) for z in df["ZipCode"].unique()}
    for i, c in enumerate(("Latitude", "Longitude", "Elevation", "Timezone")):
        df[c] = df["ZipCode"].map(lambda z, i=i: f[z][i]).where(enriched, None)
    return df


def expected_target(
    inputs: ZipInputs, cold_now: datetime, incr_now: datetime | None = None
) -> pd.DataFrame:
    """Target state after a full run of ``full_csv`` (run 1, geocode
    failing for ``fail_zips``) and, when ``incr_now`` is given, an
    incremental run of ``incr_csv`` (run 2, no failures) that
    re-enriches every key of its file that is new or was left
    null-enriched."""
    full = _read_csv(inputs.full_csv)
    full = _enrich(full, ~full["ZipCode"].isin(inputs.fail_zips))
    full["CreationDateUtc"] = full["LastModifiedDateUtc"] = pd.Timestamp(cold_now)
    full["ImportId"] = 1
    if incr_now is None:
        return full[TARGET_COLUMNS]
    incr = _read_csv(inputs.incr_csv)
    created = full.set_index("CompositeKey")["CreationDateUtc"]
    valid = set(full.loc[full["Latitude"].notna(), "CompositeKey"])
    todo = incr[~incr["CompositeKey"].isin(valid)].copy()
    todo = _enrich(todo, pd.Series(True, index=todo.index))
    todo["CreationDateUtc"] = todo["CompositeKey"].map(created).fillna(pd.Timestamp(incr_now))
    todo["LastModifiedDateUtc"] = pd.Timestamp(incr_now)
    todo["ImportId"] = 2
    kept = full[~full["CompositeKey"].isin(set(todo["CompositeKey"]))]
    return pd.concat([kept, todo], ignore_index=True)[TARGET_COLUMNS]


def expected_counts(inputs: ZipInputs) -> dict[str, tuple[int, int]]:
    """(rows_incoming, rows_to_process) per run kind."""
    full, incr = _read_csv(inputs.full_csv), _read_csv(inputs.incr_csv)
    new = ~incr["CompositeKey"].isin(set(full["CompositeKey"]))
    retried = ~new & incr["ZipCode"].isin(inputs.fail_zips)
    return {"cold": (len(full), len(full)), "incr": (len(incr), int(new.sum() + retried.sum()))}


def read_target(path: str) -> pd.DataFrame:
    """The MERGE target's rows (pyarrow skips ``__bucket=k`` dirs by
    their leading underscore, so the part files are listed here)."""
    files = sorted(glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True))
    df = pa.concat_tables([pq.read_table(f) for f in files]).to_pandas()
    for c in ("CreationDateUtc", "LastModifiedDateUtc"):
        if getattr(df[c].dtype, "tz", None) is not None:
            df[c] = df[c].dt.tz_localize(None)
    return df[TARGET_COLUMNS]


def target_problems(actual: pd.DataFrame, expected: pd.DataFrame) -> list[str]:
    """Differences between two tables of the same columns, ``CompositeKey``
    first, keyed by it."""
    a = actual.sort_values("CompositeKey").reset_index(drop=True)
    e = expected.sort_values("CompositeKey").reset_index(drop=True)
    if len(a) != len(e):
        return [f"target rows {len(a)} != expected {len(e)}"]
    if not a["CompositeKey"].equals(e["CompositeKey"]):
        return ["target key set differs from expected"]
    problems = []
    for c in expected.columns[1:]:
        x, y = a[c], e[c]
        bad = ~((x == y) | (x.isna() & y.isna()))
        if bad.any():
            i = int(bad.to_numpy().nonzero()[0][0])
            problems.append(
                f"{int(bad.sum())} rows differ in {c}; first {a.at[i, 'CompositeKey']}: "
                f"{a.at[i, c]!r} != {e.at[i, c]!r}"
            )
    return problems


def query_problems(results: dict[str, pd.DataFrame], tables: dict[str, str]) -> dict[str, list[str]]:
    """Per query: differences between its Spark result and its oracle."""
    oracles = registry.oracles()
    con = duckdb.connect()
    try:
        con.execute("SET threads = 4")
        for name, path in tables.items():
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
        out = {}
        for name, sdf in results.items():
            if name not in oracles:
                out[name] = ["no oracle"]
                continue
            out[name] = compare(name, sdf, con.execute(oracles[name]).df())
        return out
    finally:
        con.close()
