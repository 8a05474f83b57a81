"""Keyed upsert sink and control-table lifecycle (reference S4, S5, C1).

The reference bulk-upserts batches into Postgres by primary key
(DataflowProcessor.cs:172-181, BulkInsertOrUpdateAsync on CompositeKey)
and brackets each run with control-table rows (insert Running at
start DataflowProcessor.cs:76-83; finalize Complete/Error + end
timestamp DataflowProcessor.cs:292-308).

Spark-first redesign: the sink is a keyed MERGE. On a lakehouse
deployment this is exactly ``MERGE INTO target USING updates ON
target.key = updates.key WHEN MATCHED UPDATE ... WHEN NOT MATCHED
INSERT ...`` (Delta/Iceberg — transactional, partition-pruned, scales
to 100 TB because only touched files rewrite). This container has no
lakehouse format, so ``upsert_parquet`` implements the identical MERGE
semantics as read -> anti-join -> union -> atomic directory swap; the
semantics (including CreationDateUtc preservation, SURVEY.md §7.4.3)
are what the golden tests pin down, and the Delta MERGE text is
recorded here for the production path.

Keyed MERGE is naturally idempotent: replaying the same batch
(same keys, same values) converges to the same table state — that is
the engine's exactly-once story per SURVEY.md §7.4.1 (the reference
is at-most-once: it completes the queue message even on failure).

The control table holds one row per run. It is read and rewritten in
the driver with pyarrow, as Structured Streaming keeps its offset and
commit logs, so its bookkeeping submits no Spark job. Both the table
writes and the control writes commit through one swap step,
:func:`_swap_in`.
"""

from __future__ import annotations

import os
import shutil
import uuid
from datetime import datetime, timezone

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema

from ..schemas import ETL_IMPORT_SCHEMA, STATUS_COMPLETE, STATUS_ERROR, STATUS_RUNNING

# The production MERGE this sink emulates (Delta/Iceberg deployment):
DELTA_MERGE_SQL = """
MERGE INTO zip_code_details t
USING updates u
  ON t.CompositeKey = u.CompositeKey
WHEN MATCHED THEN UPDATE SET
  t.ZipCode = u.ZipCode, t.State = u.State, t.StateCode = u.StateCode,
  t.County = u.County, t.City = u.City,
  t.Latitude = u.Latitude, t.Longitude = u.Longitude,
  t.Elevation = u.Elevation, t.Timezone = u.Timezone,
  t.LastModifiedDateUtc = u.LastModifiedDateUtc,
  t.ImportId = u.ImportId
  -- CreationDateUtc intentionally NOT updated (set on insert only)
WHEN NOT MATCHED THEN INSERT *
"""


def _atomic_overwrite(
    df: DataFrame, path: str, partition_by: tuple[str, ...] = ()
) -> None:
    """Write df to a temp dir SIBLING of the target, then swap it into
    place (:func:`_swap_in`). Parquet-dir emulation of a transactional
    commit (a lakehouse table gets this from its log; see
    DELTA_MERGE_SQL)."""
    tmp = f"{path}.tmp-{uuid.uuid4().hex}"
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(tmp)
    _swap_in(tmp, path)


def _swap_in(tmp: str, path: str) -> None:
    """Commit the fully written sibling ``tmp`` (file or dir) as
    ``path`` with same-filesystem os.rename only (a cross-filesystem
    shutil.move degrades to copy+delete and is not atomic). The old
    target is kept until the new rename has succeeded, so a crash in
    the swap window leaves either the old or the new table, never
    neither."""
    old = f"{path}.old-{uuid.uuid4().hex}"
    had_old = os.path.exists(path)
    if had_old:
        os.rename(path, old)
    try:
        os.rename(tmp, path)
    except OSError:
        if had_old:
            os.rename(old, path)  # restore; target never absent
        raise
    if os.path.isdir(old):
        shutil.rmtree(old)
    elif os.path.exists(old):
        os.remove(old)  # target may be a single parquet file


N_UPSERT_BUCKETS = 16
_BUCKET = "__bucket"


def _bucket_of(key: str, n_buckets: int) -> F.Column:
    # Partition-discovery reads the dir value back as int, so the
    # computed column is cast to int to keep unionByName type-stable.
    return F.pmod(F.xxhash64(F.col(key)), F.lit(n_buckets)).cast("int")


def _is_bucketed(path: str) -> bool:
    return os.path.isdir(path) and any(
        e.startswith(f"{_BUCKET}=") for e in os.listdir(path)
    )


def read_merge_target(spark: SparkSession, path: str) -> DataFrame:
    """Read an upsert target regardless of layout, without the
    internal bucket partition column."""
    df = spark.read.parquet(path)
    return df.drop(_BUCKET) if _BUCKET in df.columns else df


def upsert_parquet(
    spark: SparkSession,
    updates: DataFrame,
    path: str,
    key: str = "CompositeKey",
    preserve_on_update: tuple[str, ...] = ("CreationDateUtc",),
    n_buckets: int = N_UPSERT_BUCKETS,
) -> None:
    """MERGE semantics onto a parquet target, partition-pruned.

    The target is laid out hash-bucketed on the merge key
    (``__bucket=k/`` hive dirs). A batch rewrites ONLY the buckets its
    keys hash into; untouched buckets' files are never read or
    rewritten (byte-identical across upserts) — the parquet-dir
    analogue of Delta/Iceberg MERGE touching only matching files. A
    legacy flat target (or single-file fixture copy) is migrated to
    the bucketed layout on its first upsert (one full rewrite,
    after which every batch is pruned).

    ``preserve_on_update`` columns keep the *existing* row's value for
    matched keys (the reference overwrites CreationDateUtc on every
    update and flags it TODO, DataflowProcessor.cs:221; we implement
    the stated intent — set on insert only).
    """
    updates = updates.dropDuplicates([key])  # one row per key per batch
    if _BUCKET in updates.columns:  # e.g. replaying rows read back from a target
        updates = updates.drop(_BUCKET)
    updates = updates.withColumn(_BUCKET, _bucket_of(key, n_buckets))
    if not os.path.exists(path):
        _atomic_overwrite(updates, path, partition_by=(_BUCKET,))
        return

    bucketed = _is_bucketed(path)
    target = spark.read.parquet(path)
    if _BUCKET in target.columns and not bucketed:
        target = target.drop(_BUCKET)  # compacted-flat remnant; recomputed below
    if bucketed:
        # Partition pruning: only buckets containing updated keys are
        # read. The touched-bucket list is <= n_buckets values — an
        # O(1)-bounded driver action, like the reference's run gate.
        touched = sorted(
            r[0] for r in updates.select(_BUCKET).distinct().collect()
        )
        target = target.filter(F.col(_BUCKET).isin(touched))
    else:
        target = target.withColumn(_BUCKET, _bucket_of(key, n_buckets))

    # Preserve selected columns from existing rows.
    existing = target.select(
        F.col(key).alias("__k"), *[F.col(c).alias(f"__old_{c}") for c in preserve_on_update]
    )
    merged_updates = updates.join(existing, updates[key] == F.col("__k"), "left")
    for c in preserve_on_update:
        merged_updates = merged_updates.withColumn(
            c, F.coalesce(F.col(f"__old_{c}"), F.col(c))
        )
    merged_updates = merged_updates.select(*updates.columns)
    untouched = target.join(updates.select(key), on=key, how="left_anti")
    # Canonical column order: the USING-style anti-join moves the key
    # column first, and per-bucket swaps must not leave files with
    # heterogeneous column orders next to untouched ones.
    merged = untouched.unionByName(merged_updates).select(*updates.columns)

    if not bucketed:
        # One-time migration of a flat/file target to the bucketed layout.
        _atomic_overwrite(merged, path, partition_by=(_BUCKET,))
        return
    _swap_touched_buckets(merged, path, touched)


def _swap_touched_buckets(merged: DataFrame, path: str, touched: list[int]) -> None:
    """Write the merged rows (touched buckets only) partitioned by
    bucket, then swap each touched ``__bucket=k`` dir into the target
    with same-filesystem renames. Old dirs are parked OUTSIDE the
    target dir (a ``__bucket=3.old`` sibling inside it would corrupt
    partition discovery) and kept until every swap succeeded."""
    token = uuid.uuid4().hex
    tmp = f"{path}.tmp-{token}"
    merged.write.mode("overwrite").partitionBy(_BUCKET).parquet(tmp)
    park = f"{path}.old-{token}"
    os.makedirs(park, exist_ok=True)
    for k in touched:
        sub = f"{_BUCKET}={k}"
        src = os.path.join(tmp, sub)
        dst = os.path.join(path, sub)
        if os.path.isdir(dst):
            os.rename(dst, os.path.join(park, sub))
        if os.path.isdir(src):  # absent iff every row of the bucket was deleted
            os.rename(src, dst)
    shutil.rmtree(park)
    shutil.rmtree(tmp)


# --- control table ------------------------------------------------------
# Timestamps are written UTC-adjusted, so Spark reads them back as
# TIMESTAMP, as it does a Spark-written table (naive ones would read as
# TIMESTAMP_NTZ); a naive datetime passed in is taken as UTC.

_CONTROL_ARROW = to_arrow_schema(ETL_IMPORT_SCHEMA)


def read_control(path: str) -> list[dict]:
    """The control rows as dicts (UTC-aware timestamps), ``[]`` when
    the table does not exist yet. Reads a single parquet file (the
    fixture) and a Spark-written directory alike."""
    if not os.path.exists(path):
        return []
    return pq.read_table(path).cast(_CONTROL_ARROW).to_pylist()


def _write_control(rows: list[dict], path: str) -> None:
    # the first run may name a control path in a directory not made yet
    os.makedirs(os.path.dirname(os.path.abspath(path)), exist_ok=True)
    tmp = f"{path}.tmp-{uuid.uuid4().hex}"
    pq.write_table(pa.Table.from_pylist(rows, schema=_CONTROL_ARROW), tmp)
    _swap_in(tmp, path)


def control_insert_running(
    path: str, file_name: str, checksum: str, now: datetime | None = None
) -> int:
    """S4: append a Running control row; returns its Id (max+1 over the
    driver-side rows — the reference uses a DB identity)."""
    rows = read_control(path)
    next_id = max((r["Id"] for r in rows), default=0) + 1
    start = now or datetime.now(timezone.utc)
    row = (next_id, file_name, checksum, True, STATUS_RUNNING, start, None)
    rows.append(dict(zip(_CONTROL_ARROW.names, row)))
    _write_control(rows, path)
    return next_id


def control_finalize(
    path: str, run_id: int, success: bool, now: datetime | None = None
) -> None:
    """C1: set Status Complete/Error and stamp the end time (reference
    DataflowProcessor.cs:292-308, SetImportRecordCompleteAsync).

    DELIBERATE DEVIATION: the reference leaves IsActive true on
    completion, so a completed run's checksum blocks the gate forever
    (the IsActive arm of EtlRunConditions never expires). This engine
    clears IsActive, so a stale completed run only blocks within the
    TTL window and the same file can legitimately re-run after the TTL
    lapses — pinned by the gate tests (stale-completed-run re-run
    case in tests/test_pipeline.py)."""
    rows = read_control(path)
    for r in rows:
        if r["Id"] == run_id:
            r["Status"] = STATUS_COMPLETE if success else STATUS_ERROR
            r["IsActive"] = False
            r["EndDateTimeUtc"] = now or datetime.now(timezone.utc)
    _write_control(rows, path)


def compact_parquet(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> int:
    """Small-files compaction: rewrite a parquet directory into
    ~target_file_bytes files and atomically swap it in. Returns the
    output file count.

    The small-files problem is the quiet killer of streaming sinks at
    scale — every micro-batch appends a few files, and a year later the
    scan spends longer listing/opening files than reading bytes. A
    lakehouse table runs OPTIMIZE/rewrite_data_files for this; on raw
    parquet this is the equivalent: size-based repartition + swap.
    Sizing uses the on-disk bytes (already encoded+compressed), so the
    output file sizes land near the target without sampling."""
    total = sum(
        os.path.getsize(os.path.join(dp, f))
        for dp, _, fs in os.walk(path)
        for f in fs
        if f.endswith(".parquet")
    )
    n_files = max(1, -(-total // target_file_bytes))  # ceil div
    df = spark.read.parquet(path)
    if _is_bucketed(path):
        # Keep the upsert sink's bucket layout (compaction must not
        # silently un-prune future MERGEs): ~n_files per bucket dir.
        per_bucket = df.repartition(max(1, n_files), F.col(_BUCKET))
        _atomic_overwrite(per_bucket, path, partition_by=(_BUCKET,))
        return n_files
    _atomic_overwrite(df.repartition(n_files), path)
    return n_files
