"""Golden ETL pipeline tests (SURVEY.md §5.2): the five-step run,
idempotent re-runs, the gate, duplicate policy, error channel, and
CreationDateUtc preservation — including the test the reference
commented out (exclusion on re-run, DataflowProcessorTests.cs:225-239).
"""

from __future__ import annotations

from datetime import datetime, timedelta

import pytest
from pyspark.sql import functions as F

from net7_etl_bus_spark.data import FIXTURES_DIR, ZIP_CSV_PATH
from net7_etl_bus_spark.operators.enrich import DeterministicMockClient
from net7_etl_bus_spark.pipeline import DuplicateKeyError, run_etl
from net7_etl_bus_spark.sources.batch import file_checksum

NOW = datetime(2024, 2, 1, 0, 0, 0)


@pytest.fixture()
def paths(tmp_path):
    return {
        "target": str(tmp_path / "zip_code_details.parquet"),
        "control": str(tmp_path / "etl_bus_imports.parquet"),
    }


def test_full_run_golden_values(spark, paths):
    res = run_etl(spark, ZIP_CSV_PATH, paths["target"], paths["control"], now=NOW)
    assert res.should_run and res.reason == "complete"
    assert res.rows_incoming == 254
    assert res.rows_to_process == 254  # empty target: everything processes

    target = spark.read.parquet(paths["target"])
    assert target.count() == 254
    # Golden enrichment row — the reference's own mock constants
    # (DataflowProcessorTests.cs:57-95).
    golden = target.filter(F.col("CompositeKey") == "35004_AL").collect()[0]
    assert golden["Latitude"] == 31.2562
    assert golden["Longitude"] == -85.6229
    assert golden["Elevation"] == 101.1
    assert golden["Timezone"] == "Central Daylight Time"
    assert golden["State"] == "Alabama"
    # Leading-zero zip survived the string schema.
    assert target.filter(F.col("ZipCode") == "00501").count() == 1

    control = spark.read.parquet(paths["control"])
    row = control.collect()[0]
    assert row["Status"] == "Complete"
    assert not row["IsActive"]
    assert row["EndDateTimeUtc"] is not None
    assert row["FileChecksum"] == file_checksum(ZIP_CSV_PATH)


def _job_ids(sc, group, fn, *a, **kw):
    """Run fn under job group ``group``; return (fn's result, the ids of
    the Spark jobs submitted in that group). Restores the caller's
    group, so calls may nest."""
    outer = sc.getLocalProperty("spark.jobGroup.id")
    sc.setJobGroup(group, group)
    try:
        out = fn(*a, **kw)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", outer)
        sc.setLocalProperty("spark.job.description", None)
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def test_rerun_same_file_gated(spark, paths, monkeypatch):
    """The gate and the control-table bookkeeping are driver-side: the
    gate, insert and finalize calls of a full run submit no Spark job,
    and a gated trigger submits none at all."""
    from net7_etl_bus_spark import pipeline
    from net7_etl_bus_spark.sources import sinks

    sc = spark.sparkContext
    for mod, name in (
        (pipeline, "evaluate_run_gate"),
        (sinks, "control_insert_running"),
        (sinks, "control_finalize"),
    ):
        real = getattr(mod, name)
        monkeypatch.setattr(
            mod, name, lambda *a, _f=real, **kw: _job_ids(sc, "control", _f, *a, **kw)[0]
        )
    res, run_jobs = _job_ids(
        sc, "full-run", run_etl, spark, ZIP_CSV_PATH, paths["target"], paths["control"], now=NOW
    )
    assert res.should_run and run_jobs  # the counting sees the run's own jobs
    res2, gated_jobs = _job_ids(
        sc,
        "gated-run",
        run_etl,
        spark,
        ZIP_CSV_PATH,
        paths["target"],
        paths["control"],
        now=NOW + timedelta(hours=1),
    )
    assert not res2.should_run  # same checksum, completed within TTL
    assert list(sc.statusTracker().getJobIdsForGroup("control")) == []
    assert gated_jobs == []


@pytest.mark.parametrize("layout", ["fixture_file", "spark_dir"])
def test_control_rows_round_trip(spark, paths, layout):
    """A run appends its row to an existing control table, read as the
    committed single pyarrow file or as a Spark-written directory:
    Spark reads the rewritten table with ETL_IMPORT_SCHEMA's types, the
    fixture's rows 1-4 are unchanged and row 5 is finalized."""
    import shutil

    import pyarrow.parquet as pq

    from net7_etl_bus_spark.data import ETL_IMPORTS_PATH
    from net7_etl_bus_spark.schemas import ETL_IMPORT_SCHEMA

    fixture_rows = pq.read_table(ETL_IMPORTS_PATH).to_pylist()
    if layout == "fixture_file":
        shutil.copy(ETL_IMPORTS_PATH, paths["control"])
    else:
        spark.createDataFrame(fixture_rows, ETL_IMPORT_SCHEMA).write.parquet(paths["control"])
    res = run_etl(spark, ZIP_CSV_PATH, paths["target"], paths["control"], now=NOW)
    assert res.run_id == 5

    control = spark.read.parquet(paths["control"])
    assert [f.dataType for f in control.schema] == [f.dataType for f in ETL_IMPORT_SCHEMA]
    rows = [r.asDict() for r in control.orderBy("Id").collect()]
    assert rows[:4] == fixture_rows
    assert rows[4] == {
        "Id": 5,
        "FileName": ZIP_CSV_PATH.rsplit("/", 1)[-1],
        "FileChecksum": file_checksum(ZIP_CSV_PATH),
        "IsActive": False,
        "Status": "Complete",
        "ImportStartTimeUtc": NOW,
        "EndDateTimeUtc": NOW,
    }


def test_control_path_in_new_directory(spark, tmp_path):
    """The first run creates the control table's parent directory, as
    it does the target's: a control path under a directory that does
    not exist yet commits its Running row and finalizes it."""
    from net7_etl_bus_spark.sources import sinks

    control = str(tmp_path / "state" / "imports" / "etl_bus_imports.parquet")
    target = str(tmp_path / "out" / "zip_code_details.parquet")
    res = run_etl(spark, ZIP_CSV_PATH, target, control, now=NOW)
    assert res.should_run and res.run_id == 1 and res.rows_upserted > 0
    [row] = sinks.read_control(control)
    assert (row["Id"], row["Status"], row["IsActive"]) == (1, "Complete", False)


def test_force_run_bypasses_gate_and_antijoin_skips_rows(spark, paths):
    run_etl(spark, ZIP_CSV_PATH, paths["target"], paths["control"], now=NOW)
    res2 = run_etl(
        spark,
        ZIP_CSV_PATH,
        paths["target"],
        paths["control"],
        force_run=True,
        now=NOW + timedelta(hours=1),
    )
    # The reference's commented-out exclusion test, made to pass: all
    # rows are fresh+complete, so the anti-join excludes everything.
    assert res2.should_run
    assert res2.rows_incoming == 254
    assert res2.rows_to_process == 0


def test_stale_rows_reprocessed_and_creation_preserved(spark, paths):
    run_etl(spark, ZIP_CSV_PATH, paths["target"], paths["control"], now=NOW)
    later = NOW + timedelta(days=40)  # beyond the 30-day TTL
    res2 = run_etl(
        spark, ZIP_CSV_PATH, paths["target"], paths["control"], force_run=True, now=later
    )
    assert res2.rows_to_process == 254  # everything stale -> reprocess
    target = spark.read.parquet(paths["target"])
    row = target.filter(F.col("CompositeKey") == "35004_AL").collect()[0]
    # LastModified advanced; CreationDateUtc preserved from the first
    # run (the reference's stated-intent TODO, SURVEY.md §7.4.3).
    assert row["LastModifiedDateUtc"] == later
    assert row["CreationDateUtc"] == NOW
    assert row["ImportId"] == 2


def test_partial_enrichment_failures_rerun_until_complete(spark, paths):
    # Elevation fails for one zip -> row lands incomplete (null
    # elevation), others complete. The next run re-processes ONLY the
    # incomplete row (completeness filter), and a healthy client heals it.
    failing = lambda: DeterministicMockClient(fail_elevation={"35004"})  # noqa: E731
    run_etl(
        spark, ZIP_CSV_PATH, paths["target"], paths["control"], client_factory=failing, now=NOW
    )
    target = spark.read.parquet(paths["target"])
    bad = target.filter(F.col("CompositeKey") == "35004_AL").collect()[0]
    assert bad["Elevation"] is None
    assert bad["Latitude"] == 31.2562  # independence: geocode still set
    assert bad["Timezone"] == "Central Daylight Time"

    res2 = run_etl(
        spark,
        ZIP_CSV_PATH,
        paths["target"],
        paths["control"],
        force_run=True,
        now=NOW + timedelta(hours=2),
    )
    assert res2.rows_to_process == 1  # only the incomplete row
    healed = (
        spark.read.parquet(paths["target"])
        .filter(F.col("CompositeKey") == "35004_AL")
        .collect()[0]
    )
    assert healed["Elevation"] == 101.1


def test_geocode_failure_nulls_all_enrichment(spark, paths):
    failing = lambda: DeterministicMockClient(fail_geocode={"35004"})  # noqa: E731
    run_etl(
        spark, ZIP_CSV_PATH, paths["target"], paths["control"], client_factory=failing, now=NOW
    )
    row = (
        spark.read.parquet(paths["target"])
        .filter(F.col("CompositeKey") == "35004_AL")
        .collect()[0]
    )
    assert row["Latitude"] is None and row["Longitude"] is None
    assert row["Elevation"] is None and row["Timezone"] is None


def test_duplicate_key_error_mode(spark, paths):
    dup_csv = f"{FIXTURES_DIR}/zip_codes_with_dups.csv"
    with pytest.raises(DuplicateKeyError):
        run_etl(spark, dup_csv, paths["target"], paths["control"], now=NOW)
    # C2: the run was marked Error in the control table.
    control = spark.read.parquet(paths["control"])
    assert control.filter(F.col("Status") == "Error").count() == 1


def test_duplicate_key_first_mode(spark, paths):
    dup_csv = f"{FIXTURES_DIR}/zip_codes_with_dups.csv"
    res = run_etl(
        spark, dup_csv, paths["target"], paths["control"], on_duplicate="first", now=NOW
    )
    assert res.should_run
    target = spark.read.parquet(paths["target"])
    assert target.count() == 254  # dups collapsed to one row per key
    assert target.groupBy("CompositeKey").count().filter("count > 1").count() == 0


def test_compact_parquet_reduces_file_count(spark, tmp_path):
    """64 tiny files -> 1 file at a 128 MB target; data identical."""
    from net7_etl_bus_spark.data import load_table
    from net7_etl_bus_spark.sources.sinks import compact_parquet

    from .conftest import SF_SMALL

    path = str(tmp_path / "shattered")
    orders = load_table(spark, SF_SMALL, "orders")
    orders.repartition(64).write.parquet(path)
    import glob
    assert len(glob.glob(f"{path}/*.parquet")) >= 32
    before = orders.count()
    n = compact_parquet(spark, path)
    assert n == 1
    assert len(glob.glob(f"{path}/*.parquet")) == 1
    after = spark.read.parquet(path)
    assert after.count() == before
    assert after.exceptAll(orders).count() == 0


def test_gate_reruns_stale_completed_run_after_ttl(spark, paths):
    """Deliberate deviation from the reference pinned down: the
    reference's SetImportRecordCompleteAsync leaves IsActive true, so a
    completed run's checksum would block the gate forever. This engine
    clears IsActive on finalize, so once the TTL window lapses the same
    file re-runs (and its now-stale rows reprocess)."""
    run_etl(spark, ZIP_CSV_PATH, paths["target"], paths["control"], now=NOW)
    res = run_etl(
        spark,
        ZIP_CSV_PATH,
        paths["target"],
        paths["control"],
        now=NOW + timedelta(days=31),  # past DEFAULT_TTL_DAYS=30
    )
    assert res.should_run and res.reason == "complete"
    assert res.rows_to_process == 254  # all rows stale -> all reprocess


def _bucket_file_digests(path):
    import glob
    import hashlib
    import os

    out = {}
    for sub in glob.glob(f"{path}/__bucket=*"):
        files = {}
        for f in sorted(glob.glob(f"{sub}/*.parquet")):
            with open(f, "rb") as fh:
                files[os.path.basename(f)] = hashlib.sha256(fh.read()).hexdigest()
        out[os.path.basename(sub)] = files
    return out


def test_upsert_rewrites_only_touched_buckets(spark, tmp_path):
    """The MERGE emulation is partition-pruned: an upsert batch must
    leave every bucket its keys don't hash into byte-identical on disk
    (same files, same bytes) — the parquet-dir analogue of a lakehouse
    MERGE rewriting only matching files."""
    from net7_etl_bus_spark.sources import sinks

    path = str(tmp_path / "target.parquet")
    base = spark.range(200).select(
        F.concat(F.lit("k"), F.col("id")).alias("CompositeKey"),
        F.col("id").alias("v"),
        F.lit(NOW).alias("CreationDateUtc"),
    )
    sinks.upsert_parquet(spark, base, path)
    before = _bucket_file_digests(path)
    assert len(before) > 1  # bucketed layout materialized

    one = base.filter(F.col("CompositeKey") == "k7").withColumn(
        "v", F.lit(10_000).cast("long")
    )
    sinks.upsert_parquet(spark, one, path)
    after = _bucket_file_digests(path)

    [touched] = [
        r[0]
        for r in spark.createDataFrame([("k7",)], "CompositeKey string")
        .select(F.pmod(F.xxhash64("CompositeKey"), F.lit(sinks.N_UPSERT_BUCKETS)))
        .collect()
    ]
    touched_dir = f"__bucket={touched}"
    assert before[touched_dir] != after[touched_dir]
    for sub, files in before.items():
        if sub != touched_dir:
            assert after[sub] == files  # untouched: byte-identical

    got = sinks.read_merge_target(spark, path)
    assert got.filter("CompositeKey = 'k7'").collect()[0]["v"] == 10_000
    assert got.count() == 200
    assert "__bucket" not in got.columns


def test_quarantine_path_routes_failed_rows(spark, paths, tmp_path):
    """Opt-in quarantine sink: enrichment-failed rows go to the
    quarantine table (with error reason + run id) and are NOT merged
    into the target; clean rows merge normally. Default (no
    quarantine_path) keeps reference behavior — covered by
    test_geocode_failure_nulls_all_enrichment."""
    quarantine = str(tmp_path / "quarantine.parquet")
    failing = lambda: DeterministicMockClient(fail_geocode={"35004"})  # noqa: E731
    res = run_etl(
        spark,
        ZIP_CSV_PATH,
        paths["target"],
        paths["control"],
        client_factory=failing,
        now=NOW,
        quarantine_path=quarantine,
    )
    assert res.should_run
    assert res.rows_to_process == 253  # clean rows only

    target = spark.read.parquet(paths["target"])
    assert target.count() == 253
    assert target.filter(F.col("CompositeKey") == "35004_AL").count() == 0

    q = spark.read.parquet(quarantine)
    qrow = q.collect()
    assert len(qrow) == 1
    assert qrow[0]["CompositeKey"] == "35004_AL"
    assert "geocode" in qrow[0]["EnrichmentError"]
    assert qrow[0]["ImportId"] == res.run_id

    # The quarantined row was never MERGEd, so a later healthy run
    # still sees it as unprocessed and heals it into the target.
    res2 = run_etl(
        spark,
        ZIP_CSV_PATH,
        paths["target"],
        paths["control"],
        force_run=True,
        now=NOW + timedelta(hours=2),
        quarantine_path=quarantine,
    )
    assert res2.rows_to_process == 1
    assert spark.read.parquet(paths["target"]).count() == 254
    assert spark.read.parquet(quarantine).count() == 1  # nothing new


def test_config_driven_run_matches_direct_call(spark, paths, tmp_path):
    """run_etl_from_config (the appsettings-style entry, reference
    Program.cs:26-33) must produce the same target table as the direct
    API call, reject unknown keys loudly, and fail fast on a missing
    Paths section — a config typo must never silently change a run."""
    import json

    import pytest as _pytest

    from net7_etl_bus_spark.pipeline import load_config, run_etl, run_etl_from_config

    cfg = {
        "Paths": {
            "InputCsv": ZIP_CSV_PATH,
            "Target": paths["target"],
            "Control": paths["control"],
        },
        "ValidRecordDaysTtl": 30,
        "TransformMaxDegreeOfParallelism": 5,
    }
    cfg_path = tmp_path / "run.json"
    cfg_path.write_text(json.dumps(cfg))
    res = run_etl_from_config(spark, load_config(str(cfg_path)), now=NOW)
    assert res.should_run and res.rows_upserted > 0

    direct_target = str(tmp_path / "direct_target")
    direct_control = str(tmp_path / "direct_control")
    res2 = run_etl(spark, ZIP_CSV_PATH, direct_target, direct_control, now=NOW)
    a = spark.read.parquet(paths["target"]).drop("ImportId").sort("CompositeKey").collect()
    b = spark.read.parquet(direct_target).drop("ImportId").sort("CompositeKey").collect()
    assert a == b and res.rows_upserted == res2.rows_upserted

    # the reference's sink-side settings have no counterpart here
    for key in ("BatchRecordSaveCount", "ActionMaxDegreesOfParallelism"):
        with _pytest.raises(ValueError, match="unknown config keys"):
            run_etl_from_config(spark, {**cfg, key: 5}, now=NOW)
    with _pytest.raises(ValueError, match="Paths"):
        run_etl_from_config(spark, {"ValidRecordDaysTtl": 30}, now=NOW)


def test_errored_run_does_not_block_retry(spark, paths, monkeypatch):
    """Deliberate deviation from the reference, pinned: a crashed run
    leaves a control row with Status='Error' AND EndDateTimeUtc stamped
    (exactly like the reference, DataflowProcessor.cs:292-301), but our
    gate's finished-arm counts only Status='Complete' — so the SAME
    file retries WITHOUT force within TTL and converges. Under the
    reference's predicate (DataflowProcessor.cs:88) the failed file
    would be stranded behind its own Error row for TTL days."""
    from net7_etl_bus_spark.sources import sinks

    def boom(*a, **k):
        raise RuntimeError("injected crash before MERGE")

    real = sinks.upsert_parquet
    monkeypatch.setattr(sinks, "upsert_parquet", boom)
    with pytest.raises(RuntimeError, match="injected crash"):
        run_etl(spark, ZIP_CSV_PATH, paths["target"], paths["control"], now=NOW)
    monkeypatch.setattr(sinks, "upsert_parquet", real)

    row = spark.read.parquet(paths["control"]).collect()[0]
    assert row["Status"] == "Error"
    assert row["EndDateTimeUtc"] is not None  # the arm that used to block
    assert not row["IsActive"]

    res = run_etl(
        spark,
        ZIP_CSV_PATH,
        paths["target"],
        paths["control"],
        now=NOW + timedelta(hours=1),  # well within TTL, no force
    )
    assert res.should_run and res.reason == "complete"
    assert spark.read.parquet(paths["target"]).count() == 254
    statuses = {
        r["Id"]: r["Status"] for r in spark.read.parquet(paths["control"]).collect()
    }
    assert statuses == {1: "Error", 2: "Complete"}
