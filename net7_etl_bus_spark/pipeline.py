"""The reference's five-step ETL run, Spark-first (SURVEY.md §3.2).

One call = one run of the reference's message-triggered pipeline:

1. run gate     — SHA-256 checksum vs control table (+TTL, +forceRun)
2. scan + key   — typed CSV scan, rename/drop projection, composite key,
                  duplicate handling (fail-fast like the reference, or
                  scalable keep-first)
3. incremental  — anti-join against valid+fresh processed keys
4. transform    — bounded-parallel enrichment (3 dependent calls/row,
                  per-row error tolerance)
5. load+finalize— keyed MERGE upsert + control row Complete/Error

The whole batch body (steps 2-4 and the MERGE source) is ONE lazy
logical plan — Catalyst sees scan->project->dedup->anti-join->enrich
and optimizes it end-to-end. The gate decision and the control-table
bookkeeping are plain Python over the table's few rows
(``sinks.read_control``): they submit no Spark job, so a gated trigger
runs none at all. The streaming entry point
(streaming/trigger.py) calls exactly this function from foreachBatch.
"""

from __future__ import annotations

from dataclasses import dataclass
from datetime import datetime, timedelta, timezone

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .functions.scalar import composite_key
from .operators.enrich import DeterministicMockClient, enrich_dataframe
from .plans.reference_ops import read_zip_csv
from .schemas import STATUS_COMPLETE
from .sources import sinks
from .sources.batch import file_checksum

DEFAULT_TTL_DAYS = 30  # reference Constants.cs:20 / appSettings.json:10


@dataclass
class RunResult:
    """Mirror of the reference's EtlRunConditions + outcome counters."""

    should_run: bool
    reason: str
    run_id: int | None = None
    rows_incoming: int = 0
    rows_to_process: int = 0
    rows_upserted: int = 0


def evaluate_run_gate(
    control_path: str,
    checksum: str,
    force_run: bool,
    now: datetime,
    ttl_days: int = DEFAULT_TTL_DAYS,
) -> bool:
    """F1 (reference DataflowProcessor.cs:86-99): skip when a control
    row with the same checksum is active, or started within TTL and
    finished SUCCESSFULLY. The control table is a few rows — this is a
    Python predicate over them, no Spark job. A naive ``now`` is UTC.

    DELIBERATE DEVIATION: the reference's finished-arm is
    ``EndDateTimeUtc != null`` with no status check
    (DataflowProcessor.cs:88), and it stamps EndDateTimeUtc on Error
    too (SetImportRecordCompleteAsync, DataflowProcessor.cs:292-301 via
    ServiceBusWorker.cs:146) — so one failed run blocks every retry of
    the same file for TTL days. Harmless under the reference's
    at-most-once queue (a failed message is never redelivered), but
    fatal to this engine's at-least-once -> idempotent-replay contract
    (streaming/trigger.py:17-22): a crash mid-run marks the control
    row Error, and the checkpoint-replayed trigger message would be
    gated out by its own failed attempt. The finished-arm therefore
    counts only Status='Complete' rows; an errored run never blocks.
    Pinned by the errored-run-retries gate test and the
    kill-mid-foreachBatch recovery test (tests/test_streaming.py)."""
    if force_run:
        return True
    if now.tzinfo is None:
        now = now.replace(tzinfo=timezone.utc)
    cutoff = now - timedelta(days=ttl_days)
    return not any(
        r["FileChecksum"] == checksum
        and (
            r["IsActive"]
            or (
                r["ImportStartTimeUtc"] is not None
                and r["ImportStartTimeUtc"] > cutoff
                and r["EndDateTimeUtc"] is not None
                and r["Status"] == STATUS_COMPLETE
            )
        )
        for r in sinks.read_control(control_path)
    )


def valid_processed_keys(
    spark: SparkSession, target_path: str, now: datetime, ttl_days: int = DEFAULT_TTL_DAYS
) -> DataFrame:
    """F2+F3 over the live target table: fully-enriched AND fresh."""
    import os

    if not os.path.exists(target_path):
        return spark.createDataFrame([], "CompositeKey string")
    cutoff = now - timedelta(days=ttl_days)
    return (
        sinks.read_merge_target(spark, target_path)
        .filter(
            F.col("ZipCode").isNotNull()
            & (F.col("ZipCode") != "")
            & F.col("Latitude").isNotNull()
            & F.col("Longitude").isNotNull()
            & F.col("Elevation").isNotNull()
            & F.col("Timezone").isNotNull()
            & (F.col("LastModifiedDateUtc") >= F.lit(cutoff))
        )
        .select("CompositeKey")
    )


class DuplicateKeyError(ValueError):
    """Raised in on_duplicate='error' mode — the reference's
    fail-fast ToDictionary semantics (ServiceBusWorker.cs:115)."""


def dedup_incoming(df: DataFrame, on_duplicate: str = "error") -> DataFrame:
    """J3 with explicit duplicate policy (SURVEY.md §7.4.2).

    'error'  -> reference-exact: any (ZipCode, StateCode) collision
                aborts the run.
    'first'  -> scalable: keep the deterministically-first row per key
                (smallest (County, City)).
    """
    if on_duplicate == "error":
        dup = (
            df.groupBy("ZipCode", "StateCode")
            .count()
            .filter(F.col("count") > 1)
            .limit(1)
            .collect()
        )
        if dup:
            r = dup[0]
            raise DuplicateKeyError(
                f"duplicate composite key {r['ZipCode']}_{r['StateCode']} in input"
            )
        return df
    if on_duplicate == "first":
        w = Window.partitionBy("ZipCode", "StateCode").orderBy("County", "City")
        return (
            df.withColumn("__rk", F.row_number().over(w))
            .filter(F.col("__rk") == 1)
            .drop("__rk")
        )
    raise ValueError(f"on_duplicate must be 'error' or 'first', got {on_duplicate!r}")


def run_etl(
    spark: SparkSession,
    csv_path: str,
    target_path: str,
    control_path: str,
    force_run: bool = False,
    now: datetime | None = None,
    client_factory=DeterministicMockClient,
    on_duplicate: str = "error",
    ttl_days: int = DEFAULT_TTL_DAYS,
    max_concurrency: int = 5,
    quarantine_path: str | None = None,
) -> RunResult:
    """One full reference run. Returns counters mirroring the
    reference's logging (ServiceBusWorker.cs:117-128).

    ``quarantine_path`` (opt-in) routes rows whose enrichment failed
    to a separate append-only parquet table (with the error reason and
    run id) instead of MERGEing them null-enriched into the target —
    the C2 error channel per ROW rather than per run. Default keeps
    the reference's behavior: failed rows land null-enriched and
    retry on the next run via the completeness filter
    (DataflowProcessor.cs:117-129 logs-and-continues per row)."""
    now = now or datetime.now(timezone.utc).replace(tzinfo=None)

    # Step 1 — gate and Running row: driver-side reads and one write of
    # the control table (pyarrow), no Spark job.
    checksum = file_checksum(csv_path)
    if not evaluate_run_gate(control_path, checksum, force_run, now, ttl_days):
        return RunResult(False, "duplicate-run gate: checksum already active/fresh")
    run_id = sinks.control_insert_running(
        control_path, csv_path.rsplit("/", 1)[-1], checksum, now
    )

    try:
        # Step 2 — scan + projection + key + duplicate policy.
        incoming = read_zip_csv(spark, csv_path).withColumn(
            "CompositeKey", composite_key("ZipCode", "StateCode")
        )
        incoming = dedup_incoming(incoming, on_duplicate)
        rows_incoming = incoming.count()
        if rows_incoming == 0:
            sinks.control_finalize(control_path, run_id, True, now)
            return RunResult(True, "empty input", run_id, 0, 0, 0)

        # Step 3 — incremental anti-join (J2). Broadcast the (small)
        # valid-key set; at 100 TB AQE flips this to a shuffle anti-join
        # automatically when the snapshot outgrows the threshold.
        processed = valid_processed_keys(spark, target_path, now, ttl_days)
        todo = incoming.join(processed, "CompositeKey", "left_anti")

        # Step 4 — enrichment (T1-T4) + audit columns (P4).
        # enrich_dataframe hash-spreads ``todo`` to defaultParallelism
        # tasks, so the single-split CSV does not leave the stage on one
        # core. Each task geocodes its rows on max_concurrency lanes,
        # then runs their elevation and timezone calls together on
        # 2 x max_concurrency lanes of one pool.
        # Persisted: every downstream action (quarantine write, count,
        # MERGE write) reads the one cached enrichment pass — without
        # it each action re-executes the mapInPandas stage, multiplying
        # every external HTTP call with a real client, and the counted
        # rows could diverge from the written rows if responses vary
        # between executions.
        enriched = enrich_dataframe(
            todo,
            client_factory,
            max_concurrency=max_concurrency,
            with_error_column=quarantine_path is not None,
        ).persist()
        try:
            if quarantine_path is not None:
                from .operators.enrich import split_quarantine

                clean, quarantined = split_quarantine(enriched)
                quarantined.withColumn(
                    "ImportId", F.lit(run_id).cast("int")
                ).write.mode("append").parquet(quarantine_path)
            else:
                clean = enriched
            ts = F.lit(now)
            updates = clean.select(
                "CompositeKey",
                "ZipCode",
                "State",
                "StateCode",
                "County",
                "City",
                "Latitude",
                "Longitude",
                "Elevation",
                "Timezone",
                ts.alias("CreationDateUtc"),
                ts.alias("LastModifiedDateUtc"),
                F.lit(run_id).cast("int").alias("ImportId"),
            )
            rows_to_process = updates.count()

            # Step 5 — keyed MERGE upsert (S5); CreationDateUtc preserved
            # for existing keys (SURVEY.md §7.4.3).
            sinks.upsert_parquet(spark, updates, target_path)
        finally:
            enriched.unpersist()
        sinks.control_finalize(control_path, run_id, True, now)
        return RunResult(
            True, "complete", run_id, rows_incoming, rows_to_process, rows_to_process
        )
    except Exception:
        # C2 run-level error channel: mark Error, rethrow. An errored
        # control row does NOT block the gate (see evaluate_run_gate's
        # deviation note), so the streaming layer's checkpoint replay
        # of the trigger message re-runs this file WITHOUT force and
        # converges through the keyed MERGE (idempotent) — the
        # at-least-once -> idempotent-replay contract. The reference
        # instead acknowledges the message and strands the failed file
        # behind its own Error row for TTL days
        # (ServiceBusWorker.cs:140-155).
        sinks.control_finalize(control_path, run_id, False, now)
        raise


# --- the whole run, oracle-checked ------------------------------------
# The five-step pipeline registered as a driver-checkable query: run it
# against copies of the committed fixtures with the fixed REFERENCE_NOW
# clock, return the final target-table state, and let DuckDB recompute
# that state relationally (gate -> anti-join -> deterministic mock
# enrichment -> MERGE with CreationDateUtc preservation). This is the
# golden end-to-end test the reference's authors could not write
# (their sink was unmockable, DataflowProcessorTests.cs:110-117),
# promoted to a whole-relation differential check.

from .data import ETL_IMPORTS_PATH, ZIP_CSV_PATH as _ZIP_CSV, ZIP_DETAILS_PATH
from .plans.registry import register

_TZ_LIST = (
    "list_value('Eastern Standard Time','Central Daylight Time',"
    "'Mountain Standard Time','Pacific Standard Time')"
)
_H = "CAST(ZipCode AS INT)"

_SNAPSHOT_ORACLE = f"""
WITH incoming AS (
  SELECT zipcode || '_' || state_abbr AS CompositeKey,
         zipcode AS ZipCode, state AS State, state_abbr AS StateCode,
         county AS County, city AS City
  FROM read_csv('{{csv}}', header=true, all_varchar=true)
),
details AS (SELECT * FROM read_parquet('{{details}}')),
valid AS (
  SELECT CompositeKey FROM details
  WHERE ZipCode IS NOT NULL AND ZipCode <> ''
    AND Latitude IS NOT NULL AND Longitude IS NOT NULL
    AND Elevation IS NOT NULL AND Timezone IS NOT NULL
    AND LastModifiedDateUtc >= TIMESTAMP '2024-01-02 00:00:00'
),
todo AS (
  SELECT i.* FROM incoming i LEFT JOIN valid v USING (CompositeKey)
  WHERE v.CompositeKey IS NULL
),
enr AS (
  SELECT CompositeKey, ZipCode, State, StateCode, County, City,
         CASE WHEN ZipCode = '35004' THEN 31.2562
              WHEN ZipCode = '75074' THEN 33.0118
              ELSE ROUND(24.0 + ({_H} % 2500) / 100.0, 4) END AS Latitude,
         CASE WHEN ZipCode = '35004' THEN -85.6229
              WHEN ZipCode = '75074' THEN -96.6946
              ELSE ROUND(-125.0 + ({_H} % 5800) / 100.0, 4) END AS Longitude,
         CASE WHEN ZipCode = '35004' THEN 101.1
              ELSE ROUND(({_H} % 4400) / 10.0, 1) END AS Elevation,
         CASE WHEN ZipCode = '35004' THEN 'Central Daylight Time'
              ELSE {_TZ_LIST}[({_H} % 4) + 1] END AS Timezone
  FROM todo
),
merged AS (
  SELECT e.CompositeKey, e.ZipCode, e.State, e.StateCode, e.County, e.City,
         e.Latitude, e.Longitude, e.Elevation, e.Timezone,
         COALESCE(d.CreationDateUtc, TIMESTAMP '2024-02-01 00:00:00') AS CreationDateUtc,
         TIMESTAMP '2024-02-01 00:00:00' AS LastModifiedDateUtc,
         CAST(5 AS INT) AS ImportId
  FROM enr e LEFT JOIN details d USING (CompositeKey)
),
untouched AS (
  SELECT d.CompositeKey, d.ZipCode, d.State, d.StateCode, d.County, d.City,
         d.Latitude, d.Longitude, d.Elevation, d.Timezone,
         d.CreationDateUtc, d.LastModifiedDateUtc, d.ImportId
  FROM details d LEFT JOIN enr e USING (CompositeKey)
  WHERE e.CompositeKey IS NULL
)
SELECT * FROM merged UNION ALL SELECT * FROM untouched
""".format(csv=_ZIP_CSV, details=ZIP_DETAILS_PATH)


@register("etl_run_snapshot", oracle=_SNAPSHOT_ORACLE)
def etl_run_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run the REAL five-step pipeline (gate, scan/key, anti-join, mock
    enrichment, MERGE upsert, control finalize) against temp copies of
    the fixtures at the fixed REFERENCE_NOW instant, and return the
    final target table. The oracle recomputes the expected end state in
    pure SQL — including which rows the anti-join skips (their old
    values survive verbatim) and CreationDateUtc preservation for
    updated keys (run_id = 5: the fixture control table holds Ids 1-4).
    """
    import os
    import shutil
    import tempfile

    work = tempfile.mkdtemp(prefix="etl_snap_")
    target = os.path.join(work, "details.parquet")
    control = os.path.join(work, "control.parquet")
    shutil.copy(ZIP_DETAILS_PATH, target)
    shutil.copy(ETL_IMPORTS_PATH, control)
    result = run_etl(
        spark,
        _ZIP_CSV,
        target,
        control,
        now=datetime(2024, 2, 1, 0, 0, 0),
    )
    assert result.should_run and result.run_id == 5
    return sinks.read_merge_target(spark, target)


def run_etl_from_config(
    spark: SparkSession,
    config: dict,
    client_factory=DeterministicMockClient,
    now: datetime | None = None,
) -> RunResult:
    """Config-driven run — the reference is configuration-first (DI
    binds `ProcessingSettings` from appSettings.json, Program.cs:26-33,
    and throws if the section is missing). Same posture here: a dict
    (or parsed JSON file, see ``load_config``) fully describes a run,
    so pipelines ship as config, not code.

    Recognized keys mirror the reference's setting names
    (appSettings.json `ProcessingSettings`):

    * ``ValidRecordDaysTtl``     -> TTL for the freshness gate/filter
    * ``TransformMaxDegreeOfParallelism`` -> enrichment concurrency cap
      (``max_concurrency``; the reference's transform-block MaxDOP,
      appSettings.json:11, Constants.cs:21)
    * plus engine-side ``Paths`` {InputCsv, Target, Control,
      Quarantine?} and ``OnDuplicate`` / ``ForceRun`` policies.

    The reference's sink-side settings (``ActionMaxDegreesOfParallelism``,
    ``BatchRecordSaveCount``) have no Spark counterpart (Catalyst
    stages and writer batching subsume them) — unknown keys are rejected rather than silently
    ignored, so a config typo can't quietly change behavior.
    """
    known = {
        "Paths",
        "ValidRecordDaysTtl",
        "TransformMaxDegreeOfParallelism",
        "OnDuplicate",
        "ForceRun",
    }
    unknown = set(config) - known
    if unknown:
        raise ValueError(f"unknown config keys: {sorted(unknown)}")
    paths = config.get("Paths")
    if not paths or not {"InputCsv", "Target", "Control"} <= set(paths):
        # mirrors the reference's fail-fast on a missing settings section
        raise ValueError("config must provide Paths.{InputCsv,Target,Control}")
    return run_etl(
        spark,
        csv_path=paths["InputCsv"],
        target_path=paths["Target"],
        control_path=paths["Control"],
        quarantine_path=paths.get("Quarantine"),
        ttl_days=int(config.get("ValidRecordDaysTtl", DEFAULT_TTL_DAYS)),
        max_concurrency=int(config.get("TransformMaxDegreeOfParallelism", 5)),
        on_duplicate=config.get("OnDuplicate", "error"),
        force_run=bool(config.get("ForceRun", False)),
        client_factory=client_factory,
        now=now,
    )


def load_config(path: str) -> dict:
    """Parse a JSON config file for :func:`run_etl_from_config`."""
    import json

    with open(path, encoding="utf-8") as f:
        return json.load(f)
