"""The reference's own operator surface (SURVEY.md §2.1), re-expressed
Spark-first over the committed fixtures.

Each op cites the reference location it matches (paths under
/root/reference/). Fixture paths are repo-absolute and committed, so
the DuckDB oracle reads the same bytes via read_csv/read_parquet.
Time-dependent predicates (TTL, gate) use the fixed REFERENCE_NOW
instant from scripts/gen_fixtures.py so both engines evaluate the same
literals; the live pipeline (pipeline.py) substitutes the real clock.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    StringType,
    StructField,
    StructType,
)

from ..data import (
    ZIP_FIXED_PATH,
    API_RESPONSES_PATH,
    ETL_IMPORTS_PATH,
    FIXTURES_DIR,
    ZIP_CSV_PATH,
    ZIP_DETAILS_PATH,
    ZIP_XML_PATH,
)
from ..functions.scalar import composite_key
from ..schemas import ZIP_CSV_SCHEMA, ZIP_RECORD_COLUMNS
from .registry import register

REFERENCE_NOW = "2024-02-01 00:00:00"
TTL_CUTOFF = "2024-01-02 00:00:00"  # REFERENCE_NOW - 30 days

_SQL_CSV = f"read_csv('{ZIP_CSV_PATH}', header=true, all_varchar=true)"
_SQL_CSV_DUPS = f"read_csv('{FIXTURES_DIR}/zip_codes_with_dups.csv', header=true, all_varchar=true)"
_SQL_DETAILS = f"read_parquet('{ZIP_DETAILS_PATH}')"
_SQL_IMPORTS = f"read_parquet('{ETL_IMPORTS_PATH}')"


def read_zip_csv(spark: SparkSession, path: str = ZIP_CSV_PATH) -> DataFrame:
    """S2 csv_scan: header CSV with explicit typed schema (inference
    would corrupt leading-zero zips) + the reference's header-binding
    projection: rename 5 columns, drop state_fips.
    Reference: CsvDataHandler.cs:15-22, ZipCodeRecord.cs:8-17."""
    raw = spark.read.option("header", True).schema(ZIP_CSV_SCHEMA).csv(path)
    return raw.select(
        *[F.col(src).alias(dst) for src, dst in ZIP_RECORD_COLUMNS.items()]
    )


@register(
    "csv_scan",
    oracle=f"""
    SELECT state AS State, state_abbr AS StateCode, zipcode AS ZipCode,
           county AS County, city AS City
    FROM {_SQL_CSV}
    """,
)
def csv_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    return read_zip_csv(spark)


_XML_FIELDS = ("state", "state_abbr", "zipcode", "county", "city")

@register(
    "xml_scan",
    oracle=f"""
    SELECT {', '.join(
        f"regexp_extract(rec, '<{c}>(.*?)</{c}>', 1) AS {alias}"
        for c, alias in zip(_XML_FIELDS, ("State", "StateCode", "ZipCode", "County", "City"))
    )}
    FROM (
      SELECT unnest(regexp_extract_all(content, '<record>.*?</record>')) AS rec
      FROM read_text('{{xml}}')
    )
    """.replace("{xml}", ZIP_XML_PATH),
)
def xml_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2' xml_scan: the reference's IFileDataHandler names CSV, XML
    and JSON handlers (Core/Interfaces/IFileDataHandler.cs:7-11) but
    only ever ships the CSV one — this closes the XML slot. Spark 4
    built-in XML source, explicit string schema (same leading-zero-zip
    rationale as csv_scan), then the identical header-binding
    projection. The oracle re-parses the committed XML fixture with
    regexps (exact for the machine-generated, escape-free fixture)."""
    from ..sources.batch import xml_scan as xml_read

    raw = xml_read(spark, ZIP_XML_PATH, ZIP_CSV_SCHEMA, row_tag="record")
    return raw.select(
        *[F.col(src).alias(dst) for src, dst in ZIP_RECORD_COLUMNS.items()]
    )


@register(
    "orc_scan",
    oracle=f"""
    SELECT state AS State, state_abbr AS StateCode, zipcode AS ZipCode,
           county AS County, city AS City
    FROM {_SQL_CSV}
    """,
)
def orc_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC scan over the committed ORC twin of the zip fixture (same
    rows as the CSV, written by scripts/gen_fixtures.py via pyarrow).
    DuckDB cannot read ORC, so the oracle reads the CSV twin — the
    differential check therefore also proves the two fixtures agree.
    Same header-binding projection as csv_scan (CsvDataHandler.cs:15-22
    generalized to the columnar format a lake actually stores)."""
    from ..data import FIXTURES_DIR as _FD
    from ..sources.batch import orc_scan as orc_read

    raw = orc_read(spark, f"{_FD}/zip_codes.orc")
    return raw.select(
        *[F.col(src).alias(dst) for src, dst in ZIP_RECORD_COLUMNS.items()]
    )


@register(
    "derive_composite_key",
    oracle=f"""
    SELECT zipcode || '_' || state_abbr AS CompositeKey,
           zipcode AS ZipCode, state_abbr AS StateCode
    FROM {_SQL_CSV}
    """,
)
def derive_composite_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2: f"{zip}_{stateCode}" — the upsert/dedup identity (zip codes
    cross state borders). Reference: Utilities/ZipCodeHelpers.cs:11-14."""
    z = read_zip_csv(spark)
    return z.select(
        composite_key("ZipCode", "StateCode").alias("CompositeKey"),
        "ZipCode",
        "StateCode",
    )


@register(
    "project_widen",
    oracle=f"""
    SELECT zipcode || '_' || state_abbr AS CompositeKey,
           zipcode AS ZipCode, state AS State, state_abbr AS StateCode,
           county AS County, city AS City,
           CAST(NULL AS DOUBLE) AS Latitude,
           CAST(NULL AS DOUBLE) AS Longitude,
           CAST(NULL AS DOUBLE) AS Elevation,
           CAST(NULL AS VARCHAR) AS Timezone,
           TIMESTAMP '{REFERENCE_NOW}' AS CreationDateUtc,
           TIMESTAMP '{REFERENCE_NOW}' AS LastModifiedDateUtc,
           CAST(7 AS INT) AS ImportId
    FROM {_SQL_CSV}
    """,
)
def project_widen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3+P4: widen ZipCodeRecord -> ZipCodeDetails (derived key, null
    enrichment columns, audit timestamps, run-id FK). Reference:
    DataflowProcessor.cs:252-261, 221-222. The fixed timestamp stands
    in for current_timestamp() so the op is oracle-checkable; the live
    pipeline passes the batch start time."""
    z = read_zip_csv(spark)
    ts = F.lit(REFERENCE_NOW).cast("timestamp")
    return z.select(
        composite_key("ZipCode", "StateCode").alias("CompositeKey"),
        "ZipCode",
        "State",
        "StateCode",
        "County",
        "City",
        F.lit(None).cast("double").alias("Latitude"),
        F.lit(None).cast("double").alias("Longitude"),
        F.lit(None).cast("double").alias("Elevation"),
        F.lit(None).cast("string").alias("Timezone"),
        ts.alias("CreationDateUtc"),
        ts.alias("LastModifiedDateUtc"),
        F.lit(7).cast("int").alias("ImportId"),
    )


@register(
    "dedup_by_key",
    oracle=f"""
    SELECT ZipCode, StateCode, County, City FROM (
      SELECT zipcode AS ZipCode, state_abbr AS StateCode, county AS County, city AS City,
             ROW_NUMBER() OVER (PARTITION BY zipcode, state_abbr
                                ORDER BY county, city) AS rk
      FROM {_SQL_CSV_DUPS}) t
    WHERE rk = 1
    """,
)
def dedup_by_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3 with on_duplicate='first': keep one row per composite key,
    deterministically (smallest (county, city)). The reference instead
    fail-fasts on duplicates (ToDictionary throws,
    ServiceBusWorker.cs:115) — that mode is exposed as
    pipeline.dedup_or_fail and unit-tested; this is the scalable
    variant."""
    raw = spark.read.option("header", True).schema(ZIP_CSV_SCHEMA).csv(
        f"{FIXTURES_DIR}/zip_codes_with_dups.csv"
    )
    w = Window.partitionBy("zipcode", "state_abbr").orderBy("county", "city")
    return (
        raw.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            F.col("zipcode").alias("ZipCode"),
            F.col("state_abbr").alias("StateCode"),
            F.col("county").alias("County"),
            F.col("city").alias("City"),
        )
    )


# "Valid processed" predicate shared by semi/anti joins below.
# Reference: DataflowProcessor.cs:128-138 — completeness AND freshness.
_SQL_VALID_PROCESSED = f"""
SELECT CompositeKey FROM {_SQL_DETAILS}
WHERE ZipCode IS NOT NULL AND ZipCode <> ''
  AND Latitude IS NOT NULL AND Longitude IS NOT NULL
  AND Elevation IS NOT NULL AND Timezone IS NOT NULL
  AND LastModifiedDateUtc >= TIMESTAMP '{TTL_CUTOFF}'
"""


def _details(spark: SparkSession) -> DataFrame:
    return spark.read.parquet(ZIP_DETAILS_PATH)


def valid_processed_keys(spark: SparkSession) -> DataFrame:
    """F2+F3: completeness filter AND TTL freshness filter."""
    d = _details(spark)
    return d.filter(
        F.col("ZipCode").isNotNull()
        & (F.col("ZipCode") != "")
        & F.col("Latitude").isNotNull()
        & F.col("Longitude").isNotNull()
        & F.col("Elevation").isNotNull()
        & F.col("Timezone").isNotNull()
        & (F.col("LastModifiedDateUtc") >= F.lit(TTL_CUTOFF).cast("timestamp"))
    ).select("CompositeKey")


@register("completeness_filter", oracle=f"""
    SELECT CompositeKey, Latitude, Longitude, Elevation, Timezone FROM {_SQL_DETAILS}
    WHERE ZipCode IS NOT NULL AND ZipCode <> ''
      AND Latitude IS NOT NULL AND Longitude IS NOT NULL
      AND Elevation IS NOT NULL AND Timezone IS NOT NULL
    """)
def completeness_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2: fully-enriched rows only. Reference: DataflowProcessor.cs:130-135."""
    d = _details(spark)
    return d.filter(
        F.col("ZipCode").isNotNull()
        & (F.col("ZipCode") != "")
        & F.col("Latitude").isNotNull()
        & F.col("Longitude").isNotNull()
        & F.col("Elevation").isNotNull()
        & F.col("Timezone").isNotNull()
    ).select("CompositeKey", "Latitude", "Longitude", "Elevation", "Timezone")


@register("ttl_freshness_filter", oracle=f"""
    SELECT CompositeKey, LastModifiedDateUtc FROM {_SQL_DETAILS}
    WHERE LastModifiedDateUtc >= TIMESTAMP '{TTL_CUTOFF}'
    """)
def ttl_freshness_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F3: LastModified within the 30-day TTL. Reference:
    DataflowProcessor.cs:121,136; TTL default Constants.cs:20."""
    d = _details(spark)
    return d.filter(
        F.col("LastModifiedDateUtc") >= F.lit(TTL_CUTOFF).cast("timestamp")
    ).select("CompositeKey", "LastModifiedDateUtc")


@register(
    "semi_join_incoming",
    oracle=f"""
    SELECT d.CompositeKey, d.City, d.Latitude FROM {_SQL_DETAILS} d
    WHERE EXISTS (SELECT 1 FROM {_SQL_CSV} z
                  WHERE z.zipcode || '_' || z.state_abbr = d.CompositeKey)
    """,
)
def semi_join_incoming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1: restrict the target-table snapshot to keys present in the
    incoming batch. Reference pushes a giant SQL IN list
    (DataflowProcessor.cs:124-131); at scale this must be a broadcast
    semi-join of the incoming key set — which is what this is."""
    d = _details(spark)
    z = read_zip_csv(spark).select(
        composite_key("ZipCode", "StateCode").alias("CompositeKey")
    )
    return d.join(F.broadcast(z), "CompositeKey", "left_semi").select(
        "CompositeKey", "City", "Latitude"
    )


@register(
    "anti_join_processed",
    oracle=f"""
    SELECT z.zipcode || '_' || z.state_abbr AS CompositeKey,
           z.zipcode AS ZipCode, z.state_abbr AS StateCode
    FROM {_SQL_CSV} z
    WHERE z.zipcode || '_' || z.state_abbr NOT IN ({_SQL_VALID_PROCESSED})
    """,
)
def anti_join_processed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2: the load-bearing incremental op — incoming rows minus
    already-valid-and-fresh keys; only new/stale/incomplete rows
    proceed to (expensive) enrichment. Reference:
    DataflowProcessor.cs:140-148 (client-side hash anti-join)."""
    z = read_zip_csv(spark).withColumn(
        "CompositeKey", composite_key("ZipCode", "StateCode")
    )
    return z.join(valid_processed_keys(spark), "CompositeKey", "left_anti").select(
        "CompositeKey", "ZipCode", "StateCode"
    )


# Gate candidates: sentinel checksums from scripts/gen_fixtures.py.
_GATE_CANDIDATES = [
    ("aa" * 32, False),  # active run with same checksum -> skip
    ("bb" * 32, False),  # completed fresh -> skip
    ("cc" * 32, False),  # completed stale -> run
    ("dd" * 32, False),  # errored fresh -> RUN (retry allowed; see deviation)
    ("ee" * 32, False),  # unknown checksum -> run
    ("bb" * 32, True),   # forceRun bypasses the gate -> run
]
_SQL_GATE_CANDIDATES = ", ".join(
    f"('{cs}', {str(force).upper()})" for cs, force in _GATE_CANDIDATES
)


@register(
    "run_gate_predicate",
    oracle=f"""
    WITH cand(checksum, force_run) AS (VALUES {_SQL_GATE_CANDIDATES})
    SELECT c.checksum, c.force_run,
           c.force_run OR NOT EXISTS (
             SELECT 1 FROM {_SQL_IMPORTS} i
             WHERE i.FileChecksum = c.checksum
               AND (i.IsActive OR (i.ImportStartTimeUtc > TIMESTAMP '{TTL_CUTOFF}'
                                   AND i.EndDateTimeUtc IS NOT NULL
                                   AND i.Status = 'Complete'))
           ) AS should_run
    FROM cand c
    """,
)
def run_gate_predicate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1: duplicate-run gate. Skip when a control row has the same
    checksum AND (still active OR (started within TTL AND finished
    with Status='Complete')); forceRun bypasses. Reference:
    DataflowProcessor.cs:86-99, TTL ProcessingSettings.cs:7 — with the
    deliberate deviation that errored runs do NOT block (the reference
    stamps EndDateTimeUtc on Error and would strand the file for TTL
    days; see pipeline.evaluate_run_gate). Evaluated as a broadcast
    join against the (tiny) control table — the live pipeline applies
    the same predicate in Python to the control rows, no Spark job."""
    cand = spark.createDataFrame(_GATE_CANDIDATES, "checksum string, force_run boolean")
    imports = spark.read.parquet(ETL_IMPORTS_PATH)
    blocking = imports.filter(
        F.col("IsActive")
        | (
            (F.col("ImportStartTimeUtc") > F.lit(TTL_CUTOFF).cast("timestamp"))
            & F.col("EndDateTimeUtc").isNotNull()
            & (F.col("Status") == "Complete")
        )
    ).select(F.col("FileChecksum").alias("checksum"), F.lit(True).alias("blocked"))
    return (
        cand.join(F.broadcast(blocking.distinct()), "checksum", "left")
        .select(
            "checksum",
            "force_run",
            (F.col("force_run") | F.col("blocked").isNull()).alias("should_run"),
        )
    )


@register(
    "lookup_by_id",
    oracle=f"SELECT Id, FileChecksum, Status, EndDateTimeUtc FROM {_SQL_IMPORTS} WHERE Id = 2",
)
def lookup_by_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4: finalize-time lookup of the run's control row. Reference:
    DataflowProcessor.cs:295."""
    return (
        spark.read.parquet(ETL_IMPORTS_PATH)
        .filter(F.col("Id") == 2)
        .select("Id", "FileChecksum", "Status", "EndDateTimeUtc")
    )


@register(
    "count_agg",
    oracle=f"SELECT Status, COUNT(*) AS n_runs FROM {_SQL_IMPORTS} GROUP BY Status",
)
def count_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1: record counts driving flow decisions/logging. Reference:
    ServiceBusWorker.cs:117-128."""
    return (
        spark.read.parquet(ETL_IMPORTS_PATH)
        .groupBy("Status")
        .agg(F.count(F.lit(1)).alias("n_runs"))
    )


@register(
    "exists_agg",
    oracle=f"""
    SELECT EXISTS (SELECT 1 FROM {_SQL_IMPORTS} WHERE IsActive) AS any_active,
           EXISTS (SELECT 1 FROM {_SQL_IMPORTS} WHERE Status = 'Error') AS any_errored
    """,
)
def exists_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2: existence probes (FirstOrDefault()?.Id > 0 in the
    reference, DataflowProcessor.cs:88) — limit(1)-style short-circuit
    aggregates."""
    imports = spark.read.parquet(ETL_IMPORTS_PATH)
    return imports.agg(
        (F.count(F.when(F.col("IsActive"), 1)) > 0).alias("any_active"),
        (F.count(F.when(F.col("Status") == "Error", 1)) > 0).alias("any_errored"),
    )


# --- JSON source + nested extraction + audit columns ------------------

_SQL_API = f"read_json('{API_RESPONSES_PATH}', format='newline_delimited')"

API_RESPONSE_SCHEMA = StructType(
    [
        StructField("composite_key", StringType()),
        StructField("status", StringType()),
        StructField("error_message", StringType()),
        StructField(
            "results",
            ArrayType(
                StructType(
                    [
                        StructField(
                            "geometry",
                            StructType(
                                [
                                    StructField(
                                        "location",
                                        StructType(
                                            [
                                                StructField("lat", DoubleType()),
                                                StructField("lng", DoubleType()),
                                            ]
                                        ),
                                    )
                                ]
                            ),
                        ),
                        StructField("elevation", DoubleType()),
                    ]
                )
            ),
        ),
        StructField(
            "timezone",
            StructType([StructField("timeZoneName", StringType())]),
        ),
    ]
)


@register(
    "json_scan",
    oracle=f"""
    SELECT composite_key, status, error_message,
           CAST(len(results) AS BIGINT) AS n_results
    FROM {_SQL_API}
    """,
)
def json_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines scan with an explicit schema (inference on a 100 TB
    JSON lake means a second full read — never at scale). The anticipated
    JSON handler slot in the reference: Core/Interfaces/IFileDataHandler.cs:7-11.
    Error responses ride in-band (GoogleApiResponseBase.cs:5-12)."""
    raw = spark.read.schema(API_RESPONSE_SCHEMA).json(API_RESPONSES_PATH)
    return raw.select(
        "composite_key",
        "status",
        "error_message",
        F.size("results").cast("bigint").alias("n_results"),
    )


@register(
    "extract_nested_json",
    oracle=f"""
    SELECT composite_key, status,
           results[1].geometry.location.lat AS latitude,
           results[1].geometry.location.lng AS longitude,
           results[1].elevation AS elevation,
           timezone.timeZoneName AS timezone_name
    FROM {_SQL_API}
    """,
)
def extract_nested_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5: from_json on a raw string column + nested field extraction —
    the API-response flattening path (GeocodeResponse.cs:9-12,
    ElevationResponse.cs:10-11, TimeZoneResponse.cs:11). Reads the file
    as *text* deliberately: this is the shape of a queue payload column,
    not a JSON datasource scan (that's json_scan)."""
    raw = spark.read.text(API_RESPONSES_PATH)
    parsed = raw.select(F.from_json("value", API_RESPONSE_SCHEMA).alias("r"))
    # try_element_at: rows whose results array is empty (API error
    # responses) yield NULL enrichments — identical to DuckDB's
    # results[1] on an empty list, and safe under ANSI mode (plain
    # element_at throws INVALID_ARRAY_INDEX there, which is what broke
    # this query in the driver's vanilla ANSI-on session in round 2).
    first = F.try_element_at("r.results", F.lit(1))
    return parsed.select(
        F.col("r.composite_key").alias("composite_key"),
        F.col("r.status").alias("status"),
        first["geometry"]["location"]["lat"].alias("latitude"),
        first["geometry"]["location"]["lng"].alias("longitude"),
        first["elevation"].alias("elevation"),
        F.col("r.timezone")["timeZoneName"].alias("timezone_name"),
    )


@register(
    "audit_timestamps",
    oracle=f"""
    SELECT zipcode || '_' || state_abbr AS CompositeKey,
           TIMESTAMP '{REFERENCE_NOW}' AS CreationDateUtc,
           TIMESTAMP '{REFERENCE_NOW}' AS LastModifiedDateUtc
    FROM {_SQL_CSV}
    """,
)
def audit_timestamps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4: stamp CreationDateUtc/LastModifiedDateUtc audit columns
    (DataflowProcessor.cs:221-222). Oracle-checked with the fixed
    REFERENCE_NOW instant; the live pipeline uses current_timestamp()
    and sets Creation only on the MERGE insert branch — the fix the
    reference flags as 'TODO: Do not overwrite this'."""
    z = read_zip_csv(spark)
    now = F.lit(REFERENCE_NOW).cast("timestamp")
    return z.select(
        composite_key("ZipCode", "StateCode").alias("CompositeKey"),
        now.alias("CreationDateUtc"),
        now.alias("LastModifiedDateUtc"),
    )


@register(
    "file_checksum",
    oracle=f"""
    SELECT string_split(filename, '/')[-1] AS file_name,
           CAST(size AS BIGINT) AS n_bytes,
           sha256(content) AS checksum
    FROM read_text('{ZIP_CSV_PATH}')
    """,
)
def file_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3: SHA-256 file identity (Utilities/FileSystem.cs:17-24),
    distributed: the binaryFile source reads whole files as rows and
    sha2 hashes executor-side — the shape for checksumming a landing
    zone of thousands of files in parallel (the driver-side hashlib
    path in pipeline.py is the single-file gate)."""
    f = spark.read.format("binaryFile").load(ZIP_CSV_PATH)
    return f.select(
        F.element_at(F.split("path", "/"), -1).alias("file_name"),
        F.col("length").alias("n_bytes"),
        F.lower(F.sha2("content", 256)).alias("checksum"),
    )


_FIXED_PATH = ZIP_FIXED_PATH


@register(
    "fixedwidth_scan",
    oracle=f"""
    WITH lines AS (
      SELECT unnest(string_split(content, chr(10))) AS line
      FROM read_text('{_FIXED_PATH}')
    )
    SELECT substring(line, 1, 2) AS state_fips,
           rtrim(substring(line, 3, 12), ' ') AS state,
           substring(line, 15, 2) AS state_abbr,
           substring(line, 17, 5) AS zipcode,
           rtrim(substring(line, 22, 12), ' ') AS county,
           rtrim(substring(line, 34, 12), ' ') AS city
    FROM lines WHERE line <> ''
    """,
)
def fixedwidth_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom format PLUGIN scan: fixed-width (copybook-style) files
    via a Spark 4 Python DataSource — the engine-native counterpart of
    the reference's pluggable IFileDataHandler
    (Core/Interfaces/IFileDataHandler.cs:7-11). Once registered, the
    format composes with everything: this is an ordinary
    spark.read.format(...) whose output feeds any operator in the
    registry. See sources/plugin.py for the scale notes.
    """
    from ..sources.plugin import ZIP_FIXED_LAYOUT, register_fixedwidth

    register_fixedwidth(spark)
    schema = ", ".join(f"{c} string" for c, _ in ZIP_FIXED_LAYOUT)
    widths = ",".join(str(w) for _, w in ZIP_FIXED_LAYOUT)
    return (
        spark.read.format("fixedwidth")
        .schema(schema)
        .option("path", ZIP_FIXED_PATH)
        .option("widths", widths)
        .load()
    )
