"""Reference-API compatibility layer: every public utility name from
the reference's ``src/utils/spark_utils.py`` / ``data_quality.py`` /
``monitoring.py``, callable with the same signatures, backed by this
engine's implementations. A user of the reference can switch imports
to ``fintech_lakehouse_spark.compat`` and run their existing pipeline
code unchanged (SURVEY goal: 'a user of the reference could switch').

Names that differ only because this engine is storage-agnostic
(delta→lake) keep the reference spelling here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from fintech_lakehouse_spark.monitoring import (  # noqa: F401
    PipelineMonitor,
    PipelineStatus,
    StageMetrics,
    check_volume_anomaly,
    create_metrics_table,
)
from fintech_lakehouse_spark.monitoring import (
    check_data_freshness as _freshness,
)
from fintech_lakehouse_spark.operators.dedup import deduplicate_by_key  # noqa: F401
from fintech_lakehouse_spark.operators.keys import add_dense_surrogate_key
from fintech_lakehouse_spark.operators.metadata import (  # noqa: F401
    add_ingestion_metadata,
    add_processing_metadata,
)
from fintech_lakehouse_spark.operators.standardize import (  # noqa: F401
    standardize_string_columns,
)
from fintech_lakehouse_spark.quality import (  # noqa: F401
    DataQualityChecker,
    DQCheckResult,
    DQCheckType,
    DQReport,
    DQSeverity,
    quick_quality_check,
)
from fintech_lakehouse_spark.session import get_spark  # noqa: F401
from fintech_lakehouse_spark.alerting import (  # noqa: F401
    Alert,
    AlertManager,
    Severity,
    send_dq_failure_alert,
    send_freshness_alert,
    send_pipeline_failure_alert,
)
from fintech_lakehouse_spark.sources.readers import (  # noqa: F401
    read_csv_to_df,
    read_json_to_df,
)
from fintech_lakehouse_spark.sources.writers import (
    optimize_lake_table,
    read_lake_table,
    register_lake_table,
    table_exists,
    upsert_lake_table,
    vacuum_lake_table,
    write_lake_table,
)


def read_delta_table(
    spark: SparkSession, path: str | None = None, table_name: str | None = None
) -> DataFrame:
    """ref: src/utils/spark_utils.py:160-195 (path XOR metastore name)."""
    if (path is None) == (table_name is None):
        raise ValueError("exactly one of path / table_name required")
    return read_lake_table(spark, path) if path else spark.table(table_name)


def write_delta_table(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
    merge_schema: bool = True,
    optimize_write: bool = True,
) -> None:
    """ref: src/utils/spark_utils.py:203-245."""
    write_lake_table(
        df, path, mode=mode, partition_by=partition_by, merge_schema=merge_schema
    )


def register_delta_table(
    spark: SparkSession, path: str, database: str, table: str
) -> None:
    """ref: src/utils/spark_utils.py:248-282."""
    register_lake_table(spark, path, database, table)


def upsert_delta_table(
    spark: SparkSession,
    source_df: DataFrame,
    target_path: str,
    merge_keys: list[str],
    update_columns: list[str] | None = None,
) -> None:
    """ref: src/utils/spark_utils.py:285-344 (update_columns accepted
    for signature parity; the MERGE updates all columns, the
    reference's default)."""
    upsert_lake_table(spark, source_df, target_path, merge_keys)


def add_surrogate_key(
    df: DataFrame, key_column_name: str, natural_key_columns: list[str]
) -> DataFrame:
    """ref: src/utils/spark_utils.py:486-511 — dense 1..N ordered by
    the natural key, in the reference's own form: ``row_number()`` over
    a global window (see operators.keys.add_dense_surrogate_key)."""
    return add_dense_surrogate_key(df, key_column_name, natural_key_columns)


def optimize_delta_table(
    spark: SparkSession,
    path: str | None = None,
    table_name: str | None = None,
    z_order_columns: list[str] | None = None,
) -> bool:
    """ref: src/utils/spark_utils.py:519-555 (no-op False without
    Delta). Exactly one of ``path`` / ``table_name`` (same XOR
    contract as read_delta_table); a metastore name resolves to its
    storage LOCATION first — optimize_lake_table operates on paths,
    and feeding it a bare ``db.table`` string treated the name as a
    relative directory (review finding r6s5)."""
    if (path is None) == (table_name is None):
        raise ValueError("provide exactly one of path / table_name")
    if table_name is not None:
        rows = spark.sql(f"DESCRIBE FORMATTED {table_name}").collect()
        locations = [r["data_type"] for r in rows if r["col_name"] == "Location"]
        if not locations:
            raise ValueError(f"no storage location found for {table_name}")
        path = locations[0]
    return optimize_lake_table(spark, path, z_order_columns)


def vacuum_delta_table(
    spark: SparkSession, path: str, retention_hours: int = 168
) -> bool:
    """ref: src/utils/spark_utils.py:558-588."""
    return vacuum_lake_table(spark, path, retention_hours)


def _fresh_table(spark: SparkSession, name: str) -> DataFrame:
    """Catalog read with a REFRESH first: external-path writes (e.g.
    the parquet-mode upsert's rewrite) leave the metastore relation
    cache pointing at deleted files — refreshByPath alone does not
    invalidate it."""
    spark.sql(f"REFRESH TABLE {name}")
    return spark.table(name)


def get_table_row_count(spark: SparkSession, database: str, table: str) -> int:
    """ref: src/utils/spark_utils.py:596-614."""
    return _fresh_table(spark, f"{database}.{table}").count()


def check_data_freshness(
    spark: SparkSession,
    table_name: str,
    timestamp_column: str,
    max_age_hours: float = 24,
) -> dict:
    """ref: src/utils/monitoring.py:317-384 (metastore-name form)."""
    return _freshness(
        _fresh_table(spark, table_name), timestamp_column, max_age_hours
    )


def delta_table_exists(spark: SparkSession, path: str) -> bool:
    """ref: src/utils/spark_utils.py (path-form existence probe). In
    parquet mode: readable lake data at the path; with delta-spark
    present: a real Delta table check."""
    from fintech_lakehouse_spark.session import delta_available

    if delta_available():
        from delta.tables import DeltaTable

        return DeltaTable.isDeltaTable(spark, path)
    try:
        read_lake_table(spark, path).schema
        return True
    except Exception:
        return False


# ---------------------------------------------------------------------------
# Reference configuration surface (ref: src/config/base.py:14-118,
# dev.py:21-82, prod.py:22-91, __init__.py:8-23). The constants ARE
# the API contract (business thresholds, layer naming), so the field
# names and values match the reference; the classes are re-backed by
# plain dataclasses with the engine's storage-agnostic path handling.
# ---------------------------------------------------------------------------

import os as _os
from dataclasses import dataclass as _dataclass, field as _field


@_dataclass
class BusinessRules:
    """ref: src/config/base.py:14-57."""

    MIN_TRANSACTION_AMOUNT: float = 0.01
    MAX_TRANSACTION_AMOUNT: float = 100_000.00
    VALID_TRANSACTION_TYPES: list[str] = _field(
        default_factory=lambda: ["PURCHASE", "REFUND", "TRANSFER", "WITHDRAWAL"]
    )
    VALID_PAYMENT_METHODS: list[str] = _field(
        default_factory=lambda: [
            "CREDIT_CARD",
            "DEBIT_CARD",
            "DIGITAL_WALLET",
            "BANK_TRANSFER",
            "CRYPTO",
        ]
    )
    VALID_CHANNELS: list[str] = _field(
        default_factory=lambda: ["WEB", "MOBILE_APP", "POS", "ATM"]
    )
    VALID_STATUSES: list[str] = _field(
        default_factory=lambda: ["COMPLETED", "PENDING", "FAILED", "REVERSED"]
    )
    VALID_KYC_STATUSES: list[str] = _field(
        default_factory=lambda: ["VERIFIED", "PENDING", "REJECTED", "EXPIRED"]
    )
    # Aligned with the segments this engine's generator actually
    # emits (datagen.py / config.VALID_CUSTOMER_SEGMENTS): the
    # reference's behavioral labels (HIGH_VALUE/REGULAR/…) would fail
    # 100% of generated rows in a membership check — a vocabulary the
    # data never carries is not a usable validation contract (review
    # finding r6s5).
    VALID_SEGMENTS: list[str] = _field(
        default_factory=lambda: [
            "RETAIL",
            "PREMIUM",
            "BUSINESS",
            "PRIVATE",
        ]
    )
    VALID_RISK_TIERS: list[str] = _field(
        default_factory=lambda: ["LOW", "MEDIUM", "HIGH"]
    )
    CTR_THRESHOLD: float = 10_000.00
    STRUCTURING_THRESHOLD: float = 9_000.00


@_dataclass
class DataQualityThresholds:
    """ref: src/config/base.py:60-67."""

    COMPLETENESS_THRESHOLD: float = 0.95
    UNIQUENESS_THRESHOLD: float = 1.00
    FRESHNESS_HOURS: int = 24
    VOLUME_CHANGE_THRESHOLD: float = 0.50


@_dataclass
class BaseConfig:
    """ref: src/config/base.py:70-118."""

    DATABASE_PREFIX: str = "fintech"
    BRONZE_SUFFIX: str = "bronze"
    SILVER_SUFFIX: str = "silver"
    GOLD_SUFFIX: str = "gold"
    QUARANTINE_SUFFIX: str = "quarantine"
    business_rules: BusinessRules = _field(default_factory=BusinessRules)
    dq_thresholds: DataQualityThresholds = _field(
        default_factory=DataQualityThresholds
    )
    TABLES: dict[str, list[str]] = _field(
        default_factory=lambda: {
            "bronze": ["transactions", "customers", "merchants", "exchange_rates"],
            "silver": ["transactions", "customers", "merchants"],
            "gold": [
                "dim_date",
                "dim_customer",
                "dim_merchant",
                "fact_transactions",
                "agg_daily_metrics",
                "agg_customer_360",
                "agg_merchant_performance",
            ],
        }
    )

    def get_table_path(self, layer: str, table: str) -> str:
        """ref: src/config/dev.py:63-71 / prod.py:70-78."""
        layer_paths = {
            "bronze": self.BRONZE_PATH,
            "silver": self.SILVER_PATH,
            "gold": self.GOLD_PATH,
            "quarantine": self.QUARANTINE_PATH,
        }
        return f"{layer_paths[layer]}/{table}"

    def get_database(self, layer: str) -> str:
        """ref: src/config/dev.py:73-82 / prod.py:80-89."""
        databases = {
            "bronze": self.BRONZE_DB,
            "silver": self.SILVER_DB,
            "gold": self.GOLD_DB,
            "quarantine": self.QUARANTINE_DB,
        }
        return databases[layer]


def _layered_paths(base: str) -> dict[str, str]:
    return {
        "BASE_PATH": base,
        "RAW_PATH": f"{base}/raw",
        "BRONZE_PATH": f"{base}/bronze",
        "SILVER_PATH": f"{base}/silver",
        "GOLD_PATH": f"{base}/gold",
        "QUARANTINE_PATH": f"{base}/quarantine",
        "CHECKPOINT_PATH": f"{base}/checkpoints",
    }


@_dataclass
class DevConfig(BaseConfig):
    """ref: src/config/dev.py:21-82 (local path root instead of the
    reference's Databricks /FileStore mount)."""

    ENVIRONMENT: str = "dev"
    BRONZE_DB: str = "fintech_bronze_dev"
    SILVER_DB: str = "fintech_silver_dev"
    GOLD_DB: str = "fintech_gold_dev"
    QUARANTINE_DB: str = "fintech_quarantine_dev"
    BASE_PATH: str = "/tmp/fintech_lakehouse_dev"
    RAW_PATH: str = "/tmp/fintech_lakehouse_dev/raw"
    BRONZE_PATH: str = "/tmp/fintech_lakehouse_dev/bronze"
    SILVER_PATH: str = "/tmp/fintech_lakehouse_dev/silver"
    GOLD_PATH: str = "/tmp/fintech_lakehouse_dev/gold"
    QUARANTINE_PATH: str = "/tmp/fintech_lakehouse_dev/quarantine"
    CHECKPOINT_PATH: str = "/tmp/fintech_lakehouse_dev/checkpoints"
    DQ_FAIL_ON_CRITICAL: bool = False
    DQ_LOG_WARNINGS: bool = True
    ENABLE_PAGERDUTY: bool = False
    LOG_LEVEL: str = "DEBUG"
    BATCH_SIZE: int = 10_000
    ENABLE_OPTIMIZATION: bool = False
    SLACK_WEBHOOK_URL: str | None = None
    ALERT_CHANNEL: str = "#data-alerts-dev"


@_dataclass
class ProdConfig(BaseConfig):
    """ref: src/config/prod.py:22-91."""

    ENVIRONMENT: str = "prod"
    BRONZE_DB: str = "fintech_bronze"
    SILVER_DB: str = "fintech_silver"
    GOLD_DB: str = "fintech_gold"
    QUARANTINE_DB: str = "fintech_quarantine"
    BASE_PATH: str = "/data/fintech_lakehouse"
    RAW_PATH: str = "/data/fintech_lakehouse/raw"
    BRONZE_PATH: str = "/data/fintech_lakehouse/bronze"
    SILVER_PATH: str = "/data/fintech_lakehouse/silver"
    GOLD_PATH: str = "/data/fintech_lakehouse/gold"
    QUARANTINE_PATH: str = "/data/fintech_lakehouse/quarantine"
    CHECKPOINT_PATH: str = "/data/fintech_lakehouse/checkpoints"
    DQ_FAIL_ON_CRITICAL: bool = True
    DQ_LOG_WARNINGS: bool = True
    ENABLE_PAGERDUTY: bool = True
    PAGERDUTY_ROUTING_KEY: str | None = None
    LOG_LEVEL: str = "INFO"
    BATCH_SIZE: int = 100_000
    ENABLE_OPTIMIZATION: bool = True
    PIPELINE_SLA_MINUTES: int = 60
    DATA_FRESHNESS_SLA_HOURS: int = 4
    SLACK_WEBHOOK_URL: str | None = None
    ALERT_CHANNEL: str = "#data-alerts-prod"


def get_config() -> DevConfig | ProdConfig:
    """ref: src/config/__init__.py:8-15 ($ENVIRONMENT switch)."""
    env = _os.environ.get("ENVIRONMENT", "dev").lower()
    return ProdConfig() if env == "prod" else DevConfig()


def get_config_for_env(env: str) -> DevConfig | ProdConfig:
    """ref: src/config/__init__.py:18-23."""
    return ProdConfig() if env.lower() == "prod" else DevConfig()


# ---------------------------------------------------------------------------
# Reference generator surface (ref: src/data_generator/generator.py:
# 32-44, 224-655). The reference builds row dicts in a driver-side
# loop and writes CSV; this wrapper keeps the class API (config, the
# four generate_* methods, save_to_csv, generate_all) but each method
# returns/uses the engine's DISTRIBUTED seeded generators (datagen.py)
# — same shapes, cluster-parallel, deterministic per seed.
# ---------------------------------------------------------------------------


@_dataclass
class GeneratorConfig:
    """ref: src/data_generator/generator.py:32-44."""

    seed: int = 42
    start_date: object | None = None
    end_date: object | None = None

    def __post_init__(self) -> None:
        from datetime import datetime, timedelta

        if self.start_date is None:
            self.start_date = datetime.now() - timedelta(days=90)
        if self.end_date is None:
            self.end_date = datetime.now()


class DataGenerator:
    """ref: src/data_generator/generator.py:47-655 (class API parity;
    distributed execution). Methods return DataFrames instead of
    row-dict lists — the one deliberate signature difference, because
    a driver-side list is exactly what a 100 TB generator cannot be."""

    def __init__(
        self,
        spark: SparkSession,
        config: GeneratorConfig | None = None,
    ) -> None:
        self.spark = spark
        self.config = config or GeneratorConfig()

    def generate_customers(self, n: int = 10_000) -> DataFrame:
        from fintech_lakehouse_spark.datagen import generate_customers

        return generate_customers(self.spark, n=n, seed=self.config.seed)

    def generate_merchants(self, n: int = 500) -> DataFrame:
        from fintech_lakehouse_spark.datagen import generate_merchants

        return generate_merchants(self.spark, n=n, seed=self.config.seed)

    def generate_transactions(
        self, n: int = 100_000, n_customers: int = 10_000, n_merchants: int = 500
    ) -> DataFrame:
        from fintech_lakehouse_spark.datagen import generate_transactions

        # the configured date range drives the event window — it was
        # accepted and silently ignored before (review finding r6s5)
        days = max(1, (self.config.end_date - self.config.start_date).days)
        return generate_transactions(
            self.spark,
            n=n,
            n_customers=n_customers,
            n_merchants=n_merchants,
            seed=self.config.seed,
            days=days,
        )

    def generate_exchange_rates(self, days: int = 90) -> DataFrame:
        from fintech_lakehouse_spark.datagen import generate_exchange_rates

        return generate_exchange_rates(self.spark, days=days, seed=self.config.seed)

    def save_to_csv(self, df: DataFrame, filepath: str) -> None:
        """ref: generator.py:608-622 — a single CSV FILE at exactly
        ``filepath``, like the reference writes: Spark's csv() emits a
        DIRECTORY of part files, which breaks every file-at-path
        consumer (pd.read_csv(paths['customers']) raises
        IsADirectoryError — review finding r6s5). Write the part file
        to a staging dir, then move it onto the requested path."""
        import os
        import shutil

        staging = filepath.rstrip("/") + "__csv_staging"
        df.coalesce(1).write.mode("overwrite").option("header", "true").csv(
            staging
        )
        part = next(
            name for name in os.listdir(staging)
            if name.startswith("part-") and name.endswith(".csv")
        )
        os.makedirs(os.path.dirname(filepath) or ".", exist_ok=True)
        if os.path.isdir(filepath):
            shutil.rmtree(filepath)
        shutil.move(os.path.join(staging, part), filepath)
        shutil.rmtree(staging)

    def generate_all(self, output_dir: str = "data/raw") -> dict[str, str]:
        """ref: generator.py:624-655."""
        out = {}
        for name, df in (
            ("customers", self.generate_customers()),
            ("merchants", self.generate_merchants()),
            ("transactions", self.generate_transactions()),
            ("exchange_rates", self.generate_exchange_rates()),
        ):
            path = f"{output_dir}/{name}.csv"
            self.save_to_csv(df, path)
            out[name] = path
        return out
