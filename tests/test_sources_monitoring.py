"""Source/sink + monitoring tests (SURVEY §2.1, §2.10, §2.11)."""

from __future__ import annotations

import datetime

from pyspark.sql import functions as F

from fintech_lakehouse_spark.monitoring import (
    PipelineMonitor,
    check_data_freshness,
    check_volume_anomaly,
)
from fintech_lakehouse_spark.sources import (
    read_csv_to_df,
    upsert_lake_table,
    write_lake_table,
)
from fintech_lakehouse_spark.sources.readers import load_table


def test_csv_permissive_corrupt_capture(spark, tmp_path):
    p = tmp_path / "raw.csv"
    p.write_text("id,amount\n1,10.5\n2,oops\n3,30.0\n")
    from pyspark.sql.types import DoubleType, LongType, StructField, StructType

    schema = StructType(
        [
            StructField("id", LongType(), True),
            StructField("amount", DoubleType(), True),
        ]
    )
    df = read_csv_to_df(spark, str(p), schema=schema).cache()
    assert df.count() == 3
    bad = df.filter(F.col("_corrupt_record").isNotNull()).collect()
    assert len(bad) == 1 and bad[0]["id"] == 2


def test_write_partitioned_and_read_back(spark, tmp_path, sf_dir):
    orders = load_table(spark, sf_dir, "orders").withColumn(
        "order_year", F.year("o_orderdate")
    )
    path = str(tmp_path / "orders_lake")
    write_lake_table(orders, path, partition_by=["order_year"])
    back = spark.read.parquet(path)
    assert back.count() == orders.count()
    # partition pruning: a year filter must prune input files
    pruned = back.filter(F.col("order_year") == 1997)
    plan = pruned.explain(extended=False) or pruned._jdf.queryExecution().simpleString()
    assert pruned.count() > 0


def test_upsert_merge_semantics(spark, tmp_path):
    path = str(tmp_path / "dim")
    base = spark.createDataFrame(
        [("C1", "old", 1), ("C2", "keep", 1)], ["id", "val", "v"]
    )
    write_lake_table(base, path)
    updates = spark.createDataFrame(
        [("C1", "new", 2), ("C3", "insert", 1)], ["id", "val", "v"]
    )
    upsert_lake_table(spark, updates, path, merge_keys=["id"])
    got = {r["id"]: r["val"] for r in spark.read.parquet(path).collect()}
    assert got == {"C1": "new", "C2": "keep", "C3": "insert"}


def test_upsert_selective_partition_overwrite(spark, tmp_path):
    """Partition-pruned upsert: only partitions holding source rows or
    matched keys are rewritten — untouched partition dirs keep their
    exact files (same paths AND mtimes)."""
    import os

    path = str(tmp_path / "fact")
    base = spark.createDataFrame(
        [
            ("K1", "2024-01-01", "old"),
            ("K2", "2024-01-02", "keep"),
            ("K3", "2024-01-03", "keep"),
        ],
        ["id", "dt", "val"],
    )
    write_lake_table(base, path, partition_by=["dt"])

    def files(day):
        d = os.path.join(path, f"dt={day}")
        return {
            f: os.path.getmtime(os.path.join(d, f))
            for f in os.listdir(d)
            if f.endswith(".parquet")
        }

    untouched_before = {d: files(d) for d in ("2024-01-02", "2024-01-03")}
    updates = spark.createDataFrame(
        [("K1", "2024-01-01", "new"), ("K4", "2024-01-04", "insert")],
        ["id", "dt", "val"],
    )
    upsert_lake_table(
        spark, updates, path, merge_keys=["id"], partition_by=["dt"]
    )
    # partition values come back date-inferred; compare as strings
    got = {r["id"]: (str(r["dt"]), r["val"]) for r in spark.read.parquet(path).collect()}
    assert got == {
        "K1": ("2024-01-01", "new"),
        "K2": ("2024-01-02", "keep"),
        "K3": ("2024-01-03", "keep"),
        "K4": ("2024-01-04", "insert"),
    }
    for day, before in untouched_before.items():
        assert files(day) == before, f"partition dt={day} was rewritten"


def test_upsert_selective_handles_partition_move(spark, tmp_path):
    """A key whose partition value changes must lose its old row (the
    old partition is found via the key semi-join, not the source's
    partition values)."""
    path = str(tmp_path / "fact_move")
    base = spark.createDataFrame(
        [("K1", "2024-01-01", "old"), ("K2", "2024-01-02", "keep")],
        ["id", "dt", "val"],
    )
    write_lake_table(base, path, partition_by=["dt"])
    moved = spark.createDataFrame([("K1", "2024-01-05", "moved")], ["id", "dt", "val"])
    upsert_lake_table(spark, moved, path, merge_keys=["id"], partition_by=["dt"])
    rows = [(r["id"], str(r["dt"]), r["val"]) for r in spark.read.parquet(path).collect()]
    assert sorted(rows) == [("K1", "2024-01-05", "moved"), ("K2", "2024-01-02", "keep")]


def test_upsert_aligns_source_types_to_target(spark, tmp_path):
    """A source batch with a drifted (widened) column type must not
    change the target's physical schema — MERGE semantics: the
    target's schema wins."""
    path = str(tmp_path / "typed")
    base = spark.createDataFrame(
        [("K1", "2024-01-01", 10.50), ("K2", "2024-01-02", 20.25)],
        "id string, dt string, amt string",
    ).selectExpr("id", "dt", "CAST(amt AS DECIMAL(18,2)) AS amt")
    write_lake_table(base, path, partition_by=["dt"])
    drifted = spark.createDataFrame(
        [("K1", "2024-01-01", 21.00)], "id string, dt string, amt double"
    ).selectExpr("id", "dt", "CAST(amt AS DECIMAL(20,4)) AS amt")
    upsert_lake_table(spark, drifted, path, merge_keys=["id"], partition_by=["dt"])
    back = spark.read.parquet(path)
    assert dict(back.dtypes)["amt"] == "decimal(18,2)"
    got = {r["id"]: float(r["amt"]) for r in back.collect()}
    assert got == {"K1": 21.0, "K2": 20.25}


def test_pipeline_monitor(spark):
    mon = PipelineMonitor(spark, "test_pipeline")
    mon.start_stage("ingest")
    row = mon.end_stage("ingest", rows_read=100, rows_written=95, rows_quarantined=5)
    assert row["status"] == "SUCCESS"
    assert row["duration_seconds"] >= 0
    summary = mon.finish()
    assert summary["stages"] == 1 and not summary["failed_stages"]


def test_freshness(spark):
    df = spark.createDataFrame(
        [("2024-01-30 22:00:00",)], ["ts"]
    ).withColumn("ts", F.to_timestamp("ts"))
    now = datetime.datetime(2024, 1, 31, tzinfo=datetime.timezone.utc)
    res = check_data_freshness(df, "ts", max_age_hours=4, now=now)
    assert res["fresh"] and res["age_hours"] == 2.0
    res = check_data_freshness(df, "ts", max_age_hours=1, now=now)
    assert not res["fresh"]


def test_volume_anomaly(spark):
    rows = [(f"2024-01-{d:02d}", 100) for d in range(1, 8)] + [("2024-01-08", 300)]
    df = (
        spark.createDataFrame(rows, ["d", "n"])
        .withColumn("d", F.to_date("d"))
        .selectExpr("d", "explode(sequence(1, n)) as i")
    )
    out = check_volume_anomaly(df, "d", threshold_percent=50)
    flagged = [r["event_date"] for r in out.filter("is_anomaly").collect()]
    assert flagged == [datetime.date(2024, 1, 8)]


def test_volume_anomaly_detects_zero_row_outage(spark):
    """A day with NO rows must surface as row_count 0 and flag — the
    groupBy alone produced no row for it, so a full outage was
    structurally invisible (review finding r6s5)."""
    from fintech_lakehouse_spark.monitoring import check_volume_anomaly

    rows = []
    for day in (1, 2, 3, 4, 6):  # day 5 is a full outage
        rows += [(datetime.datetime(2024, 1, day, 12, 0),)] * 100
    df = spark.createDataFrame(rows, "d timestamp")
    out = {r["event_date"]: r for r in check_volume_anomaly(df, "d").collect()}
    outage = out[datetime.date(2024, 1, 5)]
    assert outage["row_count"] == 0
    assert outage["is_anomaly"]
    assert outage["pct_change"] == -100.0
    # the trailing window spans calendar days, not present rows
    assert out[datetime.date(2024, 1, 6)]["trailing_avg"] == 80.0  # (100*4+0)/5


def test_monitor_finish_surfaces_abandoned_stages(spark):
    """A stage that crashed between start_stage and end_stage must
    appear in failed_stages as ABANDONED, not vanish (review finding
    r6s5)."""
    from fintech_lakehouse_spark.monitoring import PipelineMonitor

    m = PipelineMonitor(spark, "p")
    m.start_stage("ok")
    m.end_stage("ok")
    m.start_stage("crashed")  # never ended
    summary = m.finish()
    assert summary["stages"] == 2
    assert summary["failed_stages"] == ["crashed"]
    (row,) = [r for r in summary["rows"] if r["stage_name"] == "crashed"]
    assert row["status"] == "ABANDONED"


def test_monitor_end_without_start_is_recorded_not_keyerror(spark):
    from fintech_lakehouse_spark.monitoring import PipelineMonitor

    m = PipelineMonitor(spark, "p")
    row = m.end_stage("typo_stage", status="FAILED")
    assert row["started_at"] is None
    assert "without matching start_stage" in row["error_message"]


def test_monitor_metrics_table_name_goes_through_catalog(spark):
    """A metastore table name target must append THROUGH the catalog —
    .save('db.t') wrote a literal './db.t' directory and the real
    table stayed silently empty (review finding r6s5, confirmed)."""
    import os

    from fintech_lakehouse_spark.monitoring import (
        METRICS_SCHEMA,
        PipelineMonitor,
        create_metrics_table,
    )

    spark.sql("CREATE DATABASE IF NOT EXISTS mmon")
    create_metrics_table(spark, "mmon.metrics")
    try:
        # the DDL is derived from METRICS_SCHEMA: same names and types
        assert [
            (f.name, f.dataType) for f in spark.table("mmon.metrics").schema
        ] == [(f.name, f.dataType) for f in METRICS_SCHEMA]
        m = PipelineMonitor(spark, "p", metrics_table="mmon.metrics")
        m.start_stage("s")
        m.end_stage("s", rows_read=5)
        assert spark.table("mmon.metrics").count() == 1
        assert not os.path.exists("mmon.metrics")  # no literal dir
    finally:
        spark.sql("DROP TABLE IF EXISTS mmon.metrics")
        spark.sql("DROP DATABASE IF EXISTS mmon")


def test_freshness_handles_date_and_string_columns(spark):
    from fintech_lakehouse_spark.monitoring import check_data_freshness

    now = datetime.datetime(2024, 1, 10, tzinfo=datetime.timezone.utc)
    dates = spark.createDataFrame(
        [(datetime.date(2024, 1, 9),)], "d date"
    )
    out = check_data_freshness(dates, "d", max_age_hours=48, now=now)
    assert out["fresh"] and 23 < out["age_hours"] < 25
    strings = spark.createDataFrame([("2024-01-01 00:00:00",)], "t string")
    out = check_data_freshness(strings, "t", max_age_hours=24, now=now)
    assert not out["fresh"]
