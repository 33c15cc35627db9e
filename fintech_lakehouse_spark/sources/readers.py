"""Batch sources (ref: src/utils/spark_utils.py:60-195, S1-S3 in SURVEY §2.1).

Schema-on-read everywhere: explicit StructType when the caller has one
(skips the inference scan), PERMISSIVE mode with a ``_corrupt_record``
column instead of fail-fast, so a bad row quarantines rather than kills
a 100 TB job.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

CORRUPT_RECORD_COLUMN = "_corrupt_record"

# The driver-generated test lake (TESTDATA.md): one parquet per table.
TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def _with_corrupt_column(schema: StructType | None) -> StructType | None:
    """PERMISSIVE mode only captures bad rows if the schema carries the
    corrupt-record column; add it to explicit schemas transparently."""
    if schema is None:
        return None
    if CORRUPT_RECORD_COLUMN in schema.fieldNames():
        return schema
    return StructType(
        list(schema.fields) + [StructField(CORRUPT_RECORD_COLUMN, StringType(), True)]
    )


def read_csv_to_df(
    spark: SparkSession,
    path: str,
    schema: StructType | None = None,
    header: bool = True,
    delimiter: str = ",",
    options: dict[str, str] | None = None,
) -> DataFrame:
    """CSV scan (ref: src/utils/spark_utils.py:60-112)."""
    reader = (
        spark.read.format("csv")
        .option("header", str(header).lower())
        .option("delimiter", delimiter)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_RECORD_COLUMN)
    )
    if schema is None:
        # Inference alone can't quarantine: the inferred schema never
        # contains the corrupt-record column, so PERMISSIVE mode turns
        # malformed rows into silent all-nulls. Infer first, then
        # re-read with the corrupt column appended — the stated
        # quarantine guarantee holds on both paths (review finding
        # r6s5; cost is the inference scan the caller already chose).
        probe = (
            spark.read.format("csv")
            .option("header", str(header).lower())
            .option("delimiter", delimiter)
            .option("inferSchema", "true")
        )
        for key, value in (options or {}).items():
            probe = probe.option(key, value)
        schema = probe.load(path).schema
    schema = _with_corrupt_column(schema)
    reader = reader.schema(schema)
    for key, value in (options or {}).items():
        reader = reader.option(key, value)
    return reader.load(path)


def read_json_to_df(
    spark: SparkSession,
    path: str,
    schema: StructType | None = None,
    multiline: bool = False,
    options: dict[str, str] | None = None,
) -> DataFrame:
    """JSON scan, JSON-Lines by default (ref: src/utils/spark_utils.py:115-157)."""
    reader = (
        spark.read.format("json")
        .option("multiLine", str(multiline).lower())
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_RECORD_COLUMN)
    )
    schema = _with_corrupt_column(schema)
    if schema is not None:
        reader = reader.schema(schema)
    for key, value in (options or {}).items():
        reader = reader.option(key, value)
    return reader.load(path)


def read_parquet_to_df(
    spark: SparkSession, path: str, options: dict[str, str] | None = None
) -> DataFrame:
    """Parquet scan — [NEW] vs the reference (SURVEY §2.1 S12); the test
    lake and any serious 100 TB deployment are columnar."""
    reader = spark.read.format("parquet")
    for key, value in (options or {}).items():
        reader = reader.option(key, value)
    return reader.load(path)


def read_orc_to_df(
    spark: SparkSession, path: str, options: dict[str, str] | None = None
) -> DataFrame:
    """ORC scan — the other columnar format Spark ships natively
    (same pushdown/pruning machinery as parquet; SURVEY §2.1 S12)."""
    reader = spark.read.format("orc")
    for key, value in (options or {}).items():
        reader = reader.option(key, value)
    return reader.load(path)


# Schema catalog for the driver test lake (r15 optimization round):
# ``spark.read.parquet`` runs schema inference on EVERY call — measured
# 245 ms per table at sf0.1 vs 37 ms with an explicit schema (the
# footer read + merge dominates the per-query fixed cost: every bench
# repeat re-paid it for each of its 1-5 tables). Production engines
# resolve table schemas from a catalog/metastore once, not per query;
# this dict is that catalog for the path-addressed test lake. It holds
# METADATA ONLY (StructType per (path, mtime)) — never rows, plans, or
# results — so the bench cold-run protocol (reset_stage_caches) is
# unaffected: every repeat still computes from the parquet inputs.
# The mtime key invalidates on rewrite (a new file/dir timestamp →
# fresh inference), matching Spark's own session-level file-index
# cache semantics. r16 (ADVICE r15): inserting a key EVICTS older
# entries for the same path (the catalog stays one entry per live
# table instead of growing per rewrite), and an unstattable path
# (mtime None) is never cached — a later successful stat must always
# re-infer. The value carries (schema, estimated scan splits): the
# split estimate is pure file metadata (sizes + Spark's split-packing
# arithmetic) used by the conditional scan spread below.
_SCHEMA_CATALOG: dict[tuple[str, float | None], tuple["StructType", int]] = {}


def _estimate_scan_splits(spark: SparkSession, path: str) -> int:
    """Estimated scan-task count for a parquet path from file metadata
    alone (no Spark job): Spark packs files into splits of the session's
    spark.sql.files.maxPartitionBytes, charging openCostInBytes per
    file — splits ≈ ceil((bytes + n_files·openCost) / maxPartitionBytes),
    floored at 1. Both sizes come from the parsed SQLConf (the raw
    ``spark.conf.get`` strings carry units like '64m'). The estimate
    only feeds a LESS-THAN-CORES comparison, so row-group granularity
    (which can only reduce effective parallelism further) never flips
    the decision the wrong way."""
    import os as _os

    total = 0
    n_files = 0
    try:
        if _os.path.isfile(path):
            total, n_files = _os.path.getsize(path), 1
        else:
            for dirpath, _dirs, files in _os.walk(path):
                for f in files:
                    if f.startswith((".", "_")):
                        continue
                    total += _os.path.getsize(_os.path.join(dirpath, f))
                    n_files += 1
    except OSError:
        return 1
    conf = spark._jsparkSession.sessionState().conf()
    padded = total + n_files * conf.filesOpenCostInBytes()
    return max(1, -(-padded // conf.filesMaxPartitionBytes()))


def reset_table_schema_catalog() -> None:
    """Drop every cached table schema (tests that rewrite a lake path
    in place within one mtime granule can force re-inference)."""
    _SCHEMA_CATALOG.clear()


def load_table(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    spread: str | None = None,
) -> DataFrame:
    """One driver test table (TESTDATA.md): ``{sf_dir}/{name}.parquet``.

    ``spread`` (r16 optimization round, guide §2.5 "input skew: one
    huge unsplittable file → repartition immediately after the read"):
    when set to a column name AND the table's file layout yields fewer
    scan splits than the session's core count, the frame is hash-
    repartitioned on that column to ``defaultParallelism``. The test
    lake stores every table as ONE single-row-group parquet file, so
    every scan — and everything Spark pipelines into the scan stage:
    shingle/gram derivations, partial aggregations, winnowing — ran as
    ONE task on one core (measured 1.10–1.99× whole-query wins across
    ten bench queries from this one change; OPTIMIZATION_r16.md §1).
    The condition is pure file metadata (cached in the schema
    catalog): at production scale the same table has splits ≥ cores
    and the repartition VANISHES from the plan, so this is layout
    remediation, not a local-mode constant — a real cluster reading a
    few small files gets the same protection. Hash on a provided
    unique key (not round-robin) keeps the exchange deterministic
    under retry (§2.5) and skips round-robin's sort-before-repartition.

    The events table stores ``ts`` as parquet TIMESTAMP(NANOS), which
    Spark reads only as LongType nanos (legacy.parquet.nanosAsLong) —
    convert back to a proper timestamp (microsecond precision, the data
    has no sub-microsecond components). The conf is runtime-settable,
    so set it here too: callers may hand us a session built without
    fintech_lakehouse_spark.session.get_spark (e.g. the verify
    driver's own session), which would otherwise fail the read with
    PARQUET_TYPE_ILLEGAL."""
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    if name == "documents":
        # Perf self-heal for caller-supplied sessions (the verify
        # driver builds its own): InferFiltersFromGenerate pushes the
        # derived shingle array into scan filters — 5-8× on every
        # shingle-explode query (see session.py). Runtime-settable;
        # correctness is unaffected either way. APPEND to whatever the
        # caller already excluded — a wholesale overwrite would
        # silently re-enable their own opt-outs (review finding r6s5).
        rule = "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"
        current = spark.conf.get("spark.sql.optimizer.excludedRules", None) or ""
        rules = [r for r in current.split(",") if r]
        if rule not in rules:
            rules.append(rule)
        spark.conf.set("spark.sql.optimizer.excludedRules", ",".join(rules))
    path = f"{sf_dir}/{name}.parquet"
    import os as _os

    try:
        mtime: float | None = _os.path.getmtime(path)
    except OSError:
        mtime = None
    key = (path, mtime)
    hit = _SCHEMA_CATALOG.get(key) if mtime is not None else None
    if hit is None:
        df = spark.read.parquet(path)
        splits = _estimate_scan_splits(spark, path)
        if mtime is not None:
            # evict stale same-path entries before inserting (ADVICE
            # r15: the catalog must not grow per rewrite, and a stale
            # mtime key must never be served again)
            for old in [k for k in _SCHEMA_CATALOG if k[0] == path]:
                del _SCHEMA_CATALOG[old]
            _SCHEMA_CATALOG[key] = (df.schema, splits)
    else:
        schema, splits = hit
        df = spark.read.schema(schema).parquet(path)
    if name == "events":
        from pyspark.sql.types import LongType

        if isinstance(df.schema["ts"].dataType, LongType):
            # NTZ, like every other timestamp in the lake: TimestampType
            # values are rendered through the OS timezone at collect(),
            # so a non-UTC host would shift results; NTZ is
            # tz-independent end to end. The conversion is PURE
            # ARITHMETIC — epoch NTZ + a day-time interval of exact
            # decimal seconds — so it needs NO session-timezone pin
            # (the previous instant→NTZ cast read the session tz at
            # execution, which forced a session-wide UTC mutation on
            # caller-supplied sessions; review finding r6s5). The
            # micros derivation floor-divides, so pre-1970 nanos land
            # on the correct microsecond (DIV truncates toward zero).
            df = df.withColumn(
                "ts",
                F.expr(
                    "TIMESTAMP_NTZ '1970-01-01 00:00:00' + make_dt_interval("
                    "0, 0, 0, CAST(ts DIV 1000 - (CASE WHEN ts % 1000 < 0 "
                    "THEN 1 ELSE 0 END) AS DECIMAL(20, 0)) / 1000000)"
                ),
            )
    if spread is not None and splits < spark.sparkContext.defaultParallelism:
        df = df.repartition(spark.sparkContext.defaultParallelism, F.col(spread))
    return df


def load_tables(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TESTDATA_TABLES
) -> dict[str, DataFrame]:
    """All (or selected) driver test tables as lazy DataFrames."""
    return {name: load_table(spark, sf_dir, name) for name in names}
