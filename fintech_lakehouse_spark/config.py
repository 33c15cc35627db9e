"""Business rules / layer config (ref: src/config/base.py, dev.py,
prod.py — SURVEY §1.1, §1.3). Environment split realized as plain
dataclasses instead of module inheritance."""

from __future__ import annotations

from dataclasses import dataclass

# Business rules (ref: src/config/base.py:19-50)
MIN_TRANSACTION_AMOUNT = 0.01
MAX_TRANSACTION_AMOUNT = 100_000.00
VALID_CURRENCIES = ["USD", "EUR", "GBP", "JPY", "CAD", "AUD", "CHF", "CNY", "INR"]
VALID_TRANSACTION_STATUSES = ["PENDING", "COMPLETED", "FAILED", "REVERSED"]
VALID_KYC_STATUSES = ["VERIFIED", "PENDING", "REJECTED", "EXPIRED"]
VALID_CUSTOMER_SEGMENTS = ["RETAIL", "PREMIUM", "PRIVATE", "BUSINESS"]

# AML thresholds (ref: src/config/base.py:49-50)
CTR_THRESHOLD_USD = 10_000.00
STRUCTURING_THRESHOLD_USD = 9_000.00

# DQ thresholds (ref: src/config/base.py:57-60)
COMPLETENESS_THRESHOLD = 0.95
UNIQUENESS_THRESHOLD = 1.0
FRESHNESS_MAX_AGE_HOURS = 24
VOLUME_ANOMALY_THRESHOLD_PERCENT = 50

LAYERS = ("bronze", "silver", "gold", "quarantine")

# Layer → tables (ref: src/config/base.py:83-97)
TABLES = {
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


@dataclass
class EngineConfig:
    """Per-environment knobs (ref: src/config/dev.py / prod.py)."""

    env: str = "dev"
    base_path: str = "/tmp/fintech_lakehouse"
    dq_fail_on_critical: bool = False  # dev.py:48 / prod.py:50

    def layer_path(self, layer: str, table: str) -> str:
        return f"{self.base_path}/{layer}/{table}"


def dev_config(base_path: str = "/tmp/fintech_lakehouse_dev") -> EngineConfig:
    return EngineConfig(env="dev", base_path=base_path)


def prod_config(base_path: str) -> EngineConfig:
    return EngineConfig(
        env="prod",
        base_path=base_path,
        dq_fail_on_critical=True,
    )
