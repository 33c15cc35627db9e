"""DQ checker tests (pattern from reference tests/unit/
test_data_quality.py: completeness/uniqueness/range/set/split)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from fintech_lakehouse_spark.quality import (
    DataQualityChecker,
    DQSeverity,
    quick_quality_check,
)


@pytest.fixture()
def txns(spark):
    return spark.createDataFrame(
        [
            ("TXN1", "C1", 100.0, "USD", "COMPLETED"),
            ("TXN2", "C2", 250.0, "EUR", "COMPLETED"),
            ("TXN3", None, 50.0, "USD", "PENDING"),  # null customer
            ("TXN4", "C4", -5.0, "XXX", "COMPLETED"),  # bad amount+currency
            ("TXN4", "C5", 75.0, "USD", "WEIRD"),  # dup id, bad status
        ],
        ["transaction_id", "customer_id", "amount", "currency", "status"],
    )


def test_completeness(txns):
    report = (
        DataQualityChecker(txns, "txns")
        .check_completeness(["customer_id"], threshold=0.95)
        .run()
    )
    result = report.results[0]
    assert result.failed_records == 1
    assert result.pass_rate == pytest.approx(0.8)
    assert not result.passed  # 0.8 < 0.95
    assert not report.passed  # CRITICAL failure


def test_completeness_threshold_pass(txns):
    report = (
        DataQualityChecker(txns, "txns")
        .check_completeness(["customer_id"], threshold=0.75)
        .run()
    )
    assert report.results[0].passed
    assert report.passed


def test_uniqueness(txns):
    report = (
        DataQualityChecker(txns, "txns").check_uniqueness(["transaction_id"]).run()
    )
    result = report.results[0]
    assert result.failed_records == 1  # 5 rows, 4 distinct ids
    assert not result.passed


def test_range_and_set(txns):
    report = (
        DataQualityChecker(txns, "txns")
        .check_range("amount", 0.01, 100_000)
        .check_values_in_set("currency", ["USD", "EUR"])
        .run()
    )
    by_name = {r.check_name: r for r in report.results}
    assert by_name["range_amount"].failed_records == 1  # -5.0
    assert by_name["values_in_set_currency"].failed_records == 1  # XXX
    # set check defaults to WARNING → report still fails on range only
    assert by_name["values_in_set_currency"].severity == DQSeverity.WARNING


def test_custom_and_one_pass(txns):
    """5 registered checks must produce 5 results from one scan."""
    report = (
        DataQualityChecker(txns, "txns")
        .check_completeness(["transaction_id", "customer_id"])
        .check_range("amount", 0.01, 100_000)
        .check_values_in_set("status", ["COMPLETED", "PENDING", "FAILED"])
        .check_custom("nonneg", F.col("amount") < 0, "NEGATIVE_AMOUNT")
        .run()
    )
    assert report.total_checks == 5
    assert {r.check_name for r in report.results} == {
        "completeness_transaction_id",
        "completeness_customer_id",
        "range_amount",
        "values_in_set_status",
        "nonneg",
    }


def test_referential(spark, txns):
    customers = spark.createDataFrame(
        [("C1",), ("C2",), ("C4",)], ["customer_id"]
    )
    report = (
        DataQualityChecker(txns, "txns")
        .check_referential(customers, ["customer_id"])
        .run()
    )
    # C5 is orphaned; NULL customer_id also has no parent
    assert report.results[0].failed_records == 2


def test_two_referential_checks_one_checker(spark, txns):
    """Two referential registrations used to both add _dq_parent_hit
    and crash run() with an ambiguous reference."""
    customers = spark.createDataFrame([("C1",), ("C2",), ("C4",)], ["customer_id"])
    statuses = spark.createDataFrame(
        [("COMPLETED",), ("PENDING",)], ["status"]
    )
    report = (
        DataQualityChecker(txns, "txns")
        .check_referential(customers, ["customer_id"])
        .check_referential(statuses, ["status"])
        .run()
    )
    by_name = {r.check_name: r for r in report.results}
    assert by_name["referential_customer_id"].failed_records == 2  # C5 + NULL
    assert by_name["referential_status"].failed_records == 1  # WEIRD


def test_all_checks_single_action(spark, txns, monkeypatch):
    """Row checks AND multiple uniqueness checks must run as ONE
    aggregate action (single-scan mixed distinct/non-distinct
    aggregate) — N primary-key checks must not add N jobs. Job counts
    are AQE-noisy, so assert one collect() on one single-scan plan."""
    try:  # PySpark 4: the concrete class lives under sql.classic
        from pyspark.sql.classic.dataframe import DataFrame
    except ImportError:  # pragma: no cover - PySpark 3.x
        from pyspark.sql import DataFrame

    checker = (
        DataQualityChecker(txns, "txns")
        .check_completeness(["customer_id"])
        .check_range("amount", 0.01, 100_000)
        .check_uniqueness(["transaction_id"])
        .check_uniqueness(["transaction_id", "customer_id"])
        .check_uniqueness(["currency"], severity=DQSeverity.WARNING)
    )
    calls = []
    real_collect = DataFrame.collect
    monkeypatch.setattr(
        DataFrame, "collect", lambda self: calls.append(self) or real_collect(self)
    )
    report = checker.run()
    assert len(calls) == 1, f"expected 1 action, saw {len(calls)}"
    # and that one action reads the source exactly once
    plan = calls[0]._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("LogicalRDD") == 1
    by_name = {r.check_name: r for r in report.results}
    assert by_name["uniqueness_transaction_id"].failed_records == 1
    assert by_name["uniqueness_transaction_id_customer_id"].failed_records == 0
    assert by_name["uniqueness_currency"].failed_records == 2  # 5 rows, 3 ccys
    # the quarantine count rides in the same action: TXN3 + TXN4
    assert (report.total_records, report.quarantined_records) == (5, 2)


def test_valid_invalid_split(txns):
    checker = (
        DataQualityChecker(txns, "txns")
        .check_completeness(["customer_id"])
        .check_range("amount", 0.01, 100_000)
        .check_values_in_set("currency", ["USD", "EUR"])
    )
    valid, invalid = checker.get_valid_invalid_dfs()
    assert valid.count() == 3
    assert invalid.count() == 2
    report = checker.run()
    assert (report.total_records, report.quarantined_records) == (5, 2)
    assert "_validation_failures" not in valid.columns
    reasons = {
        r["transaction_id"]: set(r["_validation_failures"])
        for r in invalid.collect()
    }
    assert reasons["TXN3"] == {"NULL_OR_EMPTY_CUSTOMER_ID"}
    assert reasons["TXN4"] == {"OUT_OF_RANGE_AMOUNT", "INVALID_VALUE_CURRENCY"}
    assert invalid.collect()[0]["_quarantine_timestamp"] is not None


def test_quick_quality_check(txns):
    report = quick_quality_check(
        txns, "txns", pk_columns=["transaction_id"], required_columns=["customer_id"]
    )
    assert report.total_checks == 2
    assert not report.passed


def test_timeliness(spark):
    df = spark.createDataFrame(
        [("2024-01-01 00:00:00",), ("2024-01-30 00:00:00",)], ["ts"]
    ).withColumn("ts", F.to_timestamp("ts"))
    report = (
        DataQualityChecker(df, "events")
        .check_timeliness("ts", max_age_hours=48, now="2024-01-31 00:00:00")
        .run()
    )
    assert report.results[0].failed_records == 1  # the January 1 row


def test_completeness_on_complex_typed_column_does_not_crash(spark):
    """A completeness check on an array/map column is null-ness only —
    the unconditional try_cast('double') was an AnalysisException that
    killed the whole one-pass run() (review finding r6s5)."""
    from fintech_lakehouse_spark.quality import DataQualityChecker

    df = spark.createDataFrame(
        [(1, ["a"], {"k": 1}), (2, None, None)],
        "id long, tags array<string>, props map<string,int>",
    )
    report = (
        DataQualityChecker(df, "t")
        .check_completeness(["id", "tags", "props"], threshold=0.9)
        .run()
    )
    by_name = {r.check_name: r for r in report.results}
    assert by_name["completeness_tags"].failed_records == 1
    assert by_name["completeness_props"].failed_records == 1
    assert by_name["completeness_id"].passed


def test_timeliness_cutoff_is_pinned_across_queries(spark):
    """The default now() resolves ONCE at registration: run(), the
    valid filter and the invalid filter must agree on the cutoff, so a
    boundary row cannot land in both splits or in neither (review
    finding r6s5). Pinned by asserting the registered condition embeds
    a literal, not current_timestamp()."""
    import datetime as dt

    from fintech_lakehouse_spark.quality import DataQualityChecker

    df = spark.createDataFrame(
        [(1, dt.datetime(2020, 1, 1)), (2, dt.datetime(2099, 1, 1))],
        "id long, ts timestamp",
    )
    checker = DataQualityChecker(df, "t").check_timeliness("ts", 24)
    cond = str(checker._row_checks[-1].condition._jc)
    assert "current_timestamp" not in cond.lower()
    valid, invalid = checker.get_valid_invalid_dfs()
    assert {r["id"] for r in valid.collect()} == {2}
    assert {r["id"] for r in invalid.collect()} == {1}


def test_referential_broadcast_modes(spark):
    """broadcast_parent: None lets Spark decide, True forces the
    hint, False forbids it — the unconditional force would OOM the
    driver on a transaction-scale parent (review finding r6s5)."""
    from fintech_lakehouse_spark.quality import DataQualityChecker

    child = spark.createDataFrame([(1,), (2,), (9,)], "k long")
    parent = spark.createDataFrame([(1,), (2,)], "k long")
    for mode in (None, True, False):
        report = (
            DataQualityChecker(child, "t")
            .check_referential(parent, ["k"], broadcast_parent=mode)
            .run()
        )
        (res,) = [r for r in report.results if "referential" in r.check_name]
        assert res.failed_records == 1  # k=9 orphan under every strategy
