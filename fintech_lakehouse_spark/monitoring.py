"""Pipeline monitoring (ref: src/utils/monitoring.py — SURVEY §2.10).

PipelineMonitor records per-stage metrics rows; freshness and volume
checks are small Spark jobs. Differences from the reference at scale
(SURVEY §4.4): the volume-anomaly trailing mean is computed IN Spark
via a window over the daily rollup, not a driver-side loop over
collect() — only the verdict row comes back.
"""

from __future__ import annotations

import time
import uuid
from dataclasses import dataclass, field
from datetime import datetime, timezone
from enum import Enum

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)
from pyspark.sql.window import Window

METRICS_SCHEMA = StructType(
    [
        StructField("run_id", StringType(), False),
        StructField("pipeline_name", StringType(), False),
        StructField("stage_name", StringType(), False),
        StructField("status", StringType(), False),
        StructField("started_at", TimestampType(), True),
        StructField("ended_at", TimestampType(), True),
        StructField("duration_seconds", DoubleType(), True),
        StructField("rows_read", LongType(), True),
        StructField("rows_written", LongType(), True),
        StructField("rows_quarantined", LongType(), True),
        StructField("error_message", StringType(), True),
    ]
)


class PipelineStatus(Enum):
    """Run states (ref: src/utils/monitoring.py:48-54)."""

    RUNNING = "RUNNING"
    SUCCESS = "SUCCESS"
    FAILED = "FAILED"
    PARTIAL = "PARTIAL"


@dataclass
class StageMetrics:
    """Per-stage metrics record (ref: src/utils/monitoring.py:57-78) —
    the public row shape; PipelineMonitor emits dicts with these
    fields (plus the engine's column names in METRICS_SCHEMA)."""

    run_id: str
    pipeline_name: str
    stage_name: str
    status: str = "RUNNING"
    start_time: datetime | None = None
    end_time: datetime | None = None
    duration_seconds: float | None = None
    records_read: int = 0
    records_written: int = 0
    records_quarantined: int = 0
    error_message: str | None = None


def create_metrics_table(spark: SparkSession, table_name: str) -> None:
    """Metrics table DDL (ref: src/utils/monitoring.py:284-312), its
    columns taken from METRICS_SCHEMA; parquet here, Delta when the
    package is present."""
    from fintech_lakehouse_spark.sources.writers import lake_format

    columns = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in METRICS_SCHEMA.fields
    )
    spark.sql(
        f"CREATE TABLE IF NOT EXISTS {table_name} ({columns})"
        f" USING {lake_format().upper()}"
    )


@dataclass
class _Stage:
    name: str
    started_at: datetime
    t0: float
    status: str = "RUNNING"


@dataclass
class PipelineMonitor:
    """Stage tracker (ref: PipelineMonitor, src/utils/monitoring.py:
    97-235). ``metrics_table`` may be a metastore name or a path; when
    None, metrics accumulate in-memory only (``finish()`` returns
    them)."""

    spark: SparkSession
    pipeline_name: str
    metrics_table: str | None = None
    run_id: str = field(default_factory=lambda: uuid.uuid4().hex)
    _stages: dict[str, _Stage] = field(default_factory=dict)
    _rows: list[dict] = field(default_factory=list)

    def start_stage(self, stage_name: str) -> None:
        self._stages[stage_name] = _Stage(
            name=stage_name,
            started_at=datetime.now(timezone.utc),
            t0=time.monotonic(),
        )

    def end_stage(
        self,
        stage_name: str,
        status: str = "SUCCESS",
        rows_read: int | None = None,
        rows_written: int | None = None,
        rows_quarantined: int | None = None,
        error_message: str | None = None,
    ) -> dict:
        # Tolerant pop: ending an unstarted (or already-ended) stage is
        # a caller bug worth RECORDING, not a KeyError from the one
        # component whose write path deliberately never raises — the
        # row goes in with null start/duration so the anomaly is
        # visible in the metrics table instead of crashing the run.
        stage = self._stages.pop(stage_name, None)
        now = datetime.now(timezone.utc)
        row = {
            "run_id": self.run_id,
            "pipeline_name": self.pipeline_name,
            "stage_name": stage_name,
            "status": status,
            "started_at": stage.started_at if stage else None,
            "ended_at": now,
            "duration_seconds": (
                time.monotonic() - stage.t0 if stage else None
            ),
            "rows_read": rows_read,
            "rows_written": rows_written,
            "rows_quarantined": rows_quarantined,
            "error_message": error_message
            if stage or error_message
            else "end_stage called without matching start_stage",
        }
        self._rows.append(row)
        if self.metrics_table:
            # Append failure must not kill the pipeline
            # (ref: monitoring.py:233-235).
            try:
                df = self.spark.createDataFrame([row], METRICS_SCHEMA)
                writer = df.write.format(self._metrics_format()).mode("append")
                if self._is_table_name(self.metrics_table):
                    # a metastore name written via .save() would create
                    # a literal './db.table' directory and the real
                    # table would stay silently empty forever
                    writer.saveAsTable(self.metrics_table)
                else:
                    writer.save(self.metrics_table)
            except Exception:
                pass
        return row

    @staticmethod
    def _is_table_name(target: str) -> bool:
        """Metastore name (db.table / table) vs filesystem path: paths
        carry a separator or URI scheme, names never do."""
        return "/" not in target and "\\" not in target and "://" not in target

    @staticmethod
    def _metrics_format() -> str:
        # must match create_metrics_table's USING clause — a raw
        # parquet append into a Delta table's path is invisible to the
        # transaction log and vacuumed away as untracked files
        from fintech_lakehouse_spark.sources.writers import lake_format

        return lake_format()

    def finish(self) -> dict:
        """Driver-side summary (ref: monitoring.py:237-281).

        Stages that were STARTED but never reached end_stage (a crash
        between the two calls) are closed here as ABANDONED and listed
        in failed_stages — without this sweep a stage that died
        mid-write simply vanished from the summary and the run read as
        fully successful."""
        for name in list(self._stages):
            self.end_stage(
                name,
                status="ABANDONED",
                error_message="stage never reached end_stage",
            )
        return {
            "run_id": self.run_id,
            "pipeline": self.pipeline_name,
            "stages": len(self._rows),
            "failed_stages": [
                r["stage_name"] for r in self._rows if r["status"] != "SUCCESS"
            ],
            "total_duration_seconds": sum(
                r["duration_seconds"] or 0 for r in self._rows
            ),
            "rows": self._rows,
        }


def check_data_freshness(
    df: DataFrame,
    timestamp_column: str,
    max_age_hours: float = 24,
    now: datetime | None = None,
) -> dict:
    """M2 (ref: check_data_freshness, src/utils/monitoring.py:317-384):
    max(ts) vs now; stale if older than the SLA. One tiny agg job."""
    import datetime as _dt

    now = now or datetime.now(timezone.utc)
    if now.tzinfo is None:
        now = now.replace(tzinfo=timezone.utc)
    row = df.agg(F.max(timestamp_column).alias("latest")).collect()[0]
    latest = row["latest"]
    if latest is None:
        return {"fresh": False, "latest": None, "age_hours": None}
    # coerce the three shapes a "timestamp column" actually collects
    # as: datetime (TimestampType), date (DateType — daily-partitioned
    # tables), ISO string (raw bronze) — .tzinfo on a date raised
    # AttributeError before.
    if isinstance(latest, str):
        latest = _dt.datetime.fromisoformat(latest)
    elif isinstance(latest, _dt.date) and not isinstance(latest, _dt.datetime):
        latest = _dt.datetime.combine(latest, _dt.time.min)
    if latest.tzinfo is None:
        latest = latest.replace(tzinfo=timezone.utc)
    age_hours = (now - latest).total_seconds() / 3600
    return {
        "fresh": age_hours <= max_age_hours,
        "latest": latest,
        "age_hours": age_hours,
    }


def check_volume_anomaly(
    df: DataFrame,
    date_column: str,
    threshold_percent: float = 50,
    lookback_days: int = 7,
) -> DataFrame:
    """M3 (ref: check_volume_anomaly, src/utils/monitoring.py:392-468)
    — distributed rewrite: daily rollup → calendar densify →
    trailing-mean window → anomaly flag. Returns the flagged daily
    DataFrame (callers filter ``is_anomaly``); nothing collects until
    the caller decides to.

    Days with ZERO rows are materialized (row_count 0, pct_change
    −100%) by densifying onto the full calendar between the observed
    min and max dates — a full outage day produced NO groupBy row
    before, so the single most important volume anomaly was
    structurally undetectable. Densifying also makes rows ≡ calendar
    days, so the rowsBetween trailing frame IS the trailing
    ``lookback_days`` window even across gaps (with holes it averaged
    the previous N PRESENT days, spanning arbitrarily more calendar
    time)."""
    observed = df.groupBy(
        F.col(date_column).cast("date").alias("event_date")
    ).agg(F.count(F.lit(1)).alias("row_count"))
    calendar = (
        observed.agg(
            F.min("event_date").alias("lo"), F.max("event_date").alias("hi")
        )
        .select(F.explode(F.sequence("lo", "hi")).alias("event_date"))
    )
    daily = calendar.join(observed, "event_date", "left").select(
        "event_date",
        F.coalesce("row_count", F.lit(0)).alias("row_count"),
    )
    trailing = Window.orderBy("event_date").rowsBetween(-lookback_days, -1)
    avg_prev = F.avg("row_count").over(trailing)
    # a zero trailing average (outage window) would turn the percent
    # change into a double Infinity — keep pct NULL there and flag any
    # nonzero day directly
    pct = F.when(avg_prev.isNull() | (avg_prev == 0), F.lit(None)).otherwise(
        100.0 * (F.col("row_count") - avg_prev) / avg_prev
    )
    return daily.select(
        "event_date",
        "row_count",
        avg_prev.alias("trailing_avg"),
        pct.alias("pct_change"),
    ).withColumn(
        "is_anomaly",
        F.when(F.col("trailing_avg").isNull(), F.lit(False))
        .when(F.col("trailing_avg") == 0, F.col("row_count") > 0)
        .otherwise(F.abs(F.col("pct_change")) > threshold_percent),
    )
