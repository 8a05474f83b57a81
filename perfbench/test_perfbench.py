"""Tests for the benchmark itself.

    python3 -m pytest perfbench/test_perfbench.py -q

The last two tests run the benchmark end to end on tiny inputs (a few
minutes in all).
"""

from __future__ import annotations

import filecmp
import json
import os
import shutil
import subprocess
import sys
from datetime import datetime

import duckdb
import pandas as pd
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from net7_etl_bus_spark.plans import registry  # noqa: E402
from perfbench import gen, verify  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
    SPEC = json.load(f)


def test_same_seed_writes_identical_inputs(tmp_path):
    a = gen.zip_inputs(str(tmp_path / "a"), 7, 5_000)
    b = gen.zip_inputs(str(tmp_path / "b"), 7, 5_000)
    c = gen.zip_inputs(str(tmp_path / "c"), 8, 5_000)
    assert filecmp.cmp(a.full_csv, b.full_csv, shallow=False)
    assert filecmp.cmp(a.incr_csv, b.incr_csv, shallow=False)
    assert a.fail_zips == b.fail_zips
    assert not filecmp.cmp(a.full_csv, c.full_csv, shallow=False)

    ta = gen.query_tables(str(tmp_path / "qa"), 7, 0.001)
    tb = gen.query_tables(str(tmp_path / "qb"), 7, 0.001)
    assert all(filecmp.cmp(ta[t], tb[t], shallow=False) for t in ta)


def test_zip_inputs_shape(tmp_path):
    z = gen.zip_inputs(str(tmp_path), 3, 10_000)
    full = pd.read_csv(z.full_csv, dtype=str)
    incr = pd.read_csv(z.incr_csv, dtype=str)
    keys = full["zipcode"] + "_" + full["state_abbr"]
    assert keys.is_unique and len(full) == 10_000  # on_duplicate="error" holds
    incr_keys = incr["zipcode"] + "_" + incr["state_abbr"]
    assert incr_keys.is_unique
    assert incr_keys.isin(keys).sum() == 9_900 and (~incr_keys.isin(keys)).sum() == 100
    failing_rows = full["zipcode"].isin(z.fail_zips).sum()
    assert 100 <= failing_rows < 110


def test_target_verifier_catches_one_wrong_value(tmp_path):
    z = gen.zip_inputs(str(tmp_path), 5, 2_000)
    expected = verify.expected_target(z, datetime(2024, 3, 1), datetime(2024, 3, 2))
    assert verify.target_problems(expected.copy(), expected) == []
    planted = expected.copy()
    i = int(planted["Elevation"].first_valid_index())
    planted.loc[i, "Elevation"] += 0.1
    problems = verify.target_problems(planted, expected)
    assert len(problems) == 1 and "Elevation" in problems[0]
    missing = expected.drop(index=i)
    assert verify.target_problems(missing, expected)


def test_query_verifier_catches_one_wrong_value(tmp_path):
    tables = gen.query_tables(str(tmp_path), 5, 0.001)
    name = "q1_pricing_summary"
    con = duckdb.connect()
    for t, path in tables.items():
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    oracle = con.execute(registry.oracles()[name]).df()
    con.close()
    shuffled = oracle.sample(frac=1.0, random_state=1)
    assert verify.query_problems({name: shuffled}, tables) == {name: []}
    planted = oracle.copy()
    col = next(c for c in planted.columns if planted[c].dtype.kind == "f")
    planted.loc[len(planted) - 1, col] += 1e-3
    problems = verify.query_problems({name: planted}, tables)[name]
    assert len(problems) == 1 and col in problems[0]


def test_every_layer_metric_has_one_owner():
    """Each per-layer metric belongs to exactly one workload's layers or is
    reported for every workload, so a run zero-fills only the layers its
    workload bypasses and a metric its own layers stop returning goes
    missing from the output."""
    from perfbench.workloads import WORKLOADS

    common = {"session.launch_s", "cycle.wall_s", "trace.overhead_s"}
    for m in SPEC["per_layer"]:
        owners = [w for w, cls in WORKLOADS.items() if m["name"].startswith(cls.layers)]
        assert len(owners) == (m["name"] not in common), (m["name"], owners)


def _run(args, cwd=ROOT):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_run_reports_every_metric(workload):
    for trace, section in ((0, "end_to_end"), (1, "per_layer")):
        p = _run(["--workload", workload, "--seed", "1", "--seconds", "1",
                  "--trace", str(trace), "--small"])
        assert p.returncode == 0, p.stderr[-3000:]
        result = json.loads(p.stdout.strip().splitlines()[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
        assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
        want = {m["name"]: m["unit"] for m in SPEC[section]}
        assert {k: v["unit"] for k, v in result["metrics"].items()} == want


def test_run_fails_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = _run(["--workload", SPEC["workloads"][0]["name"], "--seed", "1",
              "--seconds", "1", "--trace", "0"], cwd=tmp_path)
    assert p.returncode != 0
    assert p.stdout.strip() == ""
