"""End-to-end medallion pipeline orchestration (SURVEY §3.2-3.4):
bronze ingestion → DQ gate + quarantine → silver → gold star schema,
with stage monitoring. This is the composed flow the reference's
utilities imply but never assemble (its orchestrating notebooks are
absent from the repo).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from fintech_lakehouse_spark.config import (
    MAX_TRANSACTION_AMOUNT,
    MIN_TRANSACTION_AMOUNT,
    VALID_CURRENCIES,
    VALID_TRANSACTION_STATUSES,
    EngineConfig,
)
from fintech_lakehouse_spark.monitoring import PipelineMonitor
from fintech_lakehouse_spark.operators.gold import (
    build_agg_customer_360,
    build_agg_daily_metrics,
    build_agg_merchant_performance,
    build_dim_customer,
    build_dim_date,
    build_dim_merchant,
    build_fact_transactions,
)
from fintech_lakehouse_spark.operators.medallion import bronze_to_silver
from fintech_lakehouse_spark.operators.metadata import (
    add_ingestion_metadata,
    add_processing_metadata,
)
from fintech_lakehouse_spark.quality import DataQualityChecker
from fintech_lakehouse_spark.sources.writers import (
    read_existing_table,
    read_lake_table,
    replace_lake_rows,
    upsert_lake_table,
    write_lake_table,
)


class MedallionPipeline:
    """bronze (raw strings) → silver (typed + validated + quarantine)
    → gold (star schema + aggregates), each layer written to the lake.

    DQ gate behavior follows the environment config: in prod a CRITICAL
    check failure aborts (ref DQ_FAIL_ON_CRITICAL, src/config/prod.py:50);
    in dev it proceeds with the quarantine split.
    """

    def __init__(self, spark: SparkSession, config: EngineConfig):
        self.spark = spark
        self.config = config
        self.monitor = PipelineMonitor(spark, f"medallion_{config.env}")

    def ingest_bronze(self, table: str, raw_df: DataFrame) -> DataFrame:
        """Raw → bronze: stamp lineage, persist as-is (SURVEY §3.2)."""
        self.monitor.start_stage(f"bronze_{table}")
        bronze = add_ingestion_metadata(raw_df)
        write_lake_table(bronze, self.config.layer_path("bronze", table))
        n = bronze.count()
        self.monitor.end_stage(f"bronze_{table}", rows_read=n, rows_written=n)
        return bronze

    @staticmethod
    def _spec_nonnull_columns(table: str, df: DataFrame) -> list[str]:
        """The silver schema's NOT-NULL contract, derived from
        TABLE_SPECS so the DQ gate and the schema cannot drift: a
        bronze cell whose permissive cast NULLed (garbage timestamp →
        NULL transaction_date) must quarantine, not write a
        schema-violating row into a __HIVE_DEFAULT_PARTITION__ dir
        (review finding r6s5)."""
        from fintech_lakehouse_spark.schemas.spec import TABLE_SPECS

        return [
            name
            for name, _dtype, nullable, _derive in TABLE_SPECS.get(table, [])
            if not nullable and name in df.columns
        ]

    def _transaction_checker(self, df: DataFrame) -> DataQualityChecker:
        """The reference's canonical transaction rule set
        (ref: src/config/base.py:19-50 business rules), plus the
        spec-derived NOT-NULL contract columns."""
        from pyspark.sql import functions as F

        from fintech_lakehouse_spark.quality import DQCheckType

        return (
            DataQualityChecker(df, "transactions")
            .check_completeness(self._spec_nonnull_columns("transactions", df))
            .check_uniqueness(["transaction_id"])
            .check_range("amount", MIN_TRANSACTION_AMOUNT, MAX_TRANSACTION_AMOUNT)
            .check_values_in_set("currency", VALID_CURRENCIES)
            .check_values_in_set("status", VALID_TRANSACTION_STATUSES)
            # CONSISTENCY (Q9, the reference's canonical example at
            # src/utils/data_quality.py:470): net ≠ amount − fee is bad.
            .check_custom(
                "net_amount_consistency",
                F.col("net_amount").isNotNull()
                & (F.col("net_amount") != F.col("amount_usd") - F.col("fee_amount")),
                failure_reason="NET_AMOUNT_MISMATCH",
                check_type=DQCheckType.CONSISTENCY,
            )
        )

    def promote_silver(self, table: str, bronze: DataFrame) -> DataFrame:
        """Bronze → silver: cast/derive, DQ gate, quarantine split,
        persist valid side partitioned by the date column when present
        (SURVEY §3.3)."""
        self.monitor.start_stage(f"silver_{table}")
        # persist: the cast/derive/tag chain otherwise re-executes for
        # the DQ run and BOTH split writes
        typed = add_processing_metadata(bronze_to_silver(bronze, table)).persist()
        checker = (
            self._transaction_checker(typed)
            if table == "transactions"
            # generic tables gate on the spec's NOT-NULL columns — the
            # old fabricated '<singular>_id' guess crashed for any
            # irregular name (exchange_rates → exchange_rate_id, a
            # column that exists in no layer)
            else DataQualityChecker(typed, table).check_completeness(
                self._spec_nonnull_columns(table, typed)
            )
        )
        report = checker.run()
        if self.config.dq_fail_on_critical and not report.passed:
            self.monitor.end_stage(
                f"silver_{table}", status="FAILED",
                error_message=str(report.summary()["critical_failures"]),
            )
            raise RuntimeError(f"DQ CRITICAL failure on {table}: {report.summary()}")
        valid, invalid = checker.get_valid_invalid_dfs()
        partition = ["transaction_date"] if table == "transactions" else None
        write_lake_table(
            valid,
            self.config.layer_path("silver", table),
            partition_by=partition,
        )
        n_invalid = report.quarantined_records
        if n_invalid:
            write_lake_table(
                invalid, self.config.layer_path("quarantine", table)
            )
        typed.unpersist()
        self.monitor.end_stage(
            f"silver_{table}",
            rows_read=report.total_records,
            rows_written=report.total_records - n_invalid,
            rows_quarantined=n_invalid,
        )
        return read_lake_table(self.spark, self.config.layer_path("silver", table))

    def build_gold(
        self,
        transactions: DataFrame,
        customers: DataFrame,
        merchants: DataFrame,
    ) -> dict[str, DataFrame]:
        """Silver → gold star schema + aggregates (SURVEY §2.4 A6-A8)."""
        self.monitor.start_stage("gold")
        # persist the shared frames: fact feeds four writes and each
        # dim feeds two — unpersisted, the dense-surrogate-key range
        # shuffles would re-execute per consumer
        dim_customer = build_dim_customer(customers).persist()
        dim_merchant = build_dim_merchant(merchants).persist()
        dim_date = build_dim_date(transactions)
        fact = build_fact_transactions(
            transactions, dim_customer, dim_merchant
        ).persist()
        gold = {
            "dim_date": dim_date,
            "dim_customer": dim_customer,
            "dim_merchant": dim_merchant,
            "fact_transactions": fact,
            "agg_daily_metrics": build_agg_daily_metrics(fact),
            "agg_customer_360": build_agg_customer_360(fact, dim_customer),
            "agg_merchant_performance": build_agg_merchant_performance(
                fact, dim_merchant
            ),
        }
        for name, df in gold.items():
            partition = ["transaction_date"] if name == "fact_transactions" else None
            write_lake_table(
                df,
                self.config.layer_path("gold", name),
                partition_by=partition,
            )
        for df in (fact, dim_customer, dim_merchant):
            df.unpersist()
        self.monitor.end_stage("gold")
        return {
            name: read_lake_table(self.spark, self.config.layer_path("gold", name))
            for name in gold
        }

    def update_dimension_scd2(
        self,
        name: str,
        updates: DataFrame,
        key: str,
        tracked_cols: list[str],
        ts_col: str = "effective_ts",
    ) -> DataFrame:
        """Gold dimension with full attribute history (SCD Type 2):
        routes a batch of dimension updates through
        ``sources.writers.scd2_upsert`` into
        gold/<name> and returns the refreshed table. Point-in-time
        joins (fact.ts BETWEEN effective_from AND effective_to) are
        what make restated risk ratings / addresses auditable — the
        fintech requirement a current-only dim cannot serve."""
        from fintech_lakehouse_spark.sources.writers import scd2_upsert

        self.monitor.start_stage(f"scd2_{name}")
        path = self.config.layer_path("gold", name)
        scd2_upsert(
            self.spark, updates, path, key=key,
            tracked_cols=tracked_cols, ts_col=ts_col,
        )
        out = self.spark.read.parquet(path)
        n = updates.count()
        self.monitor.end_stage(f"scd2_{name}", rows_read=n, rows_written=n)
        return out

    def _refresh_dim_stable(
        self,
        name: str,
        build_fn,
        snapshot: DataFrame,
        sk_col: str,
        natural_keys: list[str],
    ) -> DataFrame:
        """Read the stored gold dim (None on first run), extend it with
        stable surrogate keys from the snapshot, write it back, return
        the refreshed dim."""
        from fintech_lakehouse_spark.operators.keys import (
            extend_dense_surrogate_key,
        )

        path = self.config.layer_path("gold", name)
        existing = read_existing_table(self.spark, path)
        if existing is None:
            refreshed = build_fn(snapshot).persist()
        else:
            refreshed = extend_dense_surrogate_key(
                existing, snapshot, sk_col, natural_keys
            ).persist()
        refreshed.count()  # materialize BEFORE overwriting its source
        write_lake_table(refreshed, path)
        refreshed.unpersist()
        return read_lake_table(self.spark, path)

    def incremental_fact_update(
        self,
        transactions: DataFrame,
        customers: DataFrame,
        merchants: DataFrame,
    ) -> None:
        """Steady-state gold refresh (SURVEY §3.2 at day N): a new
        silver batch MERGEs into fact_transactions with the
        partition-pruned selective overwrite (only the dates present in
        the batch — or holding a restated key — are rewritten), and
        agg_daily_metrics is recomputed ONLY for the affected dates via
        a partition-pruned fact read. Cost is proportional to the
        batch's date span, not table size — the property that makes a
        daily refresh of a 100 TB fact affordable."""
        from pyspark.sql import functions as F

        self.monitor.start_stage("gold_incremental")
        # STABLE dims: rebuilding positional 1..N keys on a grown
        # snapshot renumbers every key after an insertion point, so
        # fact rows written in earlier runs would silently misjoin
        # (review finding r6s5). extend_dense_surrogate_key keeps the
        # stored dim's keys, appends max+rank for new natural keys,
        # and the refreshed dims are WRITTEN BACK so the numbering is
        # durable for the next refresh.
        dim_customer = self._refresh_dim_stable(
            "dim_customer", build_dim_customer, customers,
            "customer_sk", ["customer_id"],
        )
        dim_merchant = self._refresh_dim_stable(
            "dim_merchant", build_dim_merchant, merchants,
            "merchant_sk", ["merchant_id"],
        )
        # persist: the delta feeds the dates collect, the old-dates
        # semi-join, the MERGE and the final count — four actions
        fact_delta = build_fact_transactions(
            transactions, dim_customer, dim_merchant
        ).persist()
        fact_path = self.config.layer_path("gold", "fact_transactions")
        # Affected dates = dates in the batch ∪ the CURRENT dates of
        # matched keys (collected BEFORE the upsert — a restated
        # transaction whose date changed removes its old fact row, so
        # the old date's aggregate must be recomputed too, possibly to
        # zero rows). Both collects are date-cardinality bounded.
        dates = {
            r["transaction_date"]
            for r in fact_delta.select("transaction_date").distinct().collect()
        }
        # ONLY a missing fact table is "first run": a transient read
        # error swallowed here would skip the old-date recompute and
        # leave a restated transaction's stale agg_daily_metrics row
        # in place — the staleness bug this collect exists to fix.
        fact = read_existing_table(self.spark, fact_path)
        old_dates = set() if fact is None else {
            r["transaction_date"]
            for r in fact.join(
                fact_delta.select("transaction_id").distinct(),
                "transaction_id",
                "left_semi",
            )
            .select("transaction_date")
            .distinct()
            .collect()
        }
        # None-safe sort: a NULL transaction_date (quarantine gap) must
        # not TypeError the whole refresh mid-flight
        dates = sorted(dates | old_dates, key=lambda d: (d is None, d))
        upsert_lake_table(
            self.spark,
            fact_delta,
            fact_path,
            merge_keys=["transaction_id"],
            partition_by=["transaction_date"],
        )
        fact_touched = read_lake_table(self.spark, fact_path).filter(
            F.col("transaction_date").isin(dates)  # partition-pruned scan
        )
        # replace (not MERGE): a refreshed date with zero remaining
        # fact rows must DELETE its stale aggregate row.
        replace_lake_rows(
            self.spark,
            build_agg_daily_metrics(fact_touched),
            self.config.layer_path("gold", "agg_daily_metrics"),
            key_col="transaction_date",
            values=dates,
        )
        n = fact_delta.count()
        fact_delta.unpersist()
        self.monitor.end_stage(
            "gold_incremental", rows_read=n, rows_written=n
        )
