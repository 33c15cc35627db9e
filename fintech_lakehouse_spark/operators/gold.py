"""Gold-layer builders (SURVEY §2.3 J3, §2.4 A6-A8): the star schema
the reference DECLARES (src/config/base.py:83-97) but never implements
— dim_date, fact, and the three aggregate tables, built Spark-first.
The customer and merchant dims take stable dense surrogate keys from
``operators.keys.extend_dense_surrogate_key``.

Scale notes baked in:
* dims are small → dense surrogate keys are fine; fact keeps natural
  keys AND resolves surrogate keys via BROADCAST joins (dims ≪ fact).
* fact partitions by transaction_date on write — the dominant filter.
* aggregates group on low-cardinality keys with map-side partials.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def build_dim_date(transactions: DataFrame) -> DataFrame:
    """Calendar dim spanning the fact's date range (gold.dim_date,
    ref src/config/base.py:87)."""
    bounds = transactions.agg(
        F.min("transaction_date").alias("lo"), F.max("transaction_date").alias("hi")
    )
    return (
        bounds.select(
            F.explode(F.sequence(F.col("lo"), F.col("hi"))).alias("date")
        )
        .select(
            F.date_format("date", "yyyyMMdd").cast("int").alias("date_sk"),
            F.col("date"),
            F.year("date").alias("year"),
            F.quarter("date").alias("quarter"),
            F.month("date").alias("month"),
            F.dayofmonth("date").alias("day"),
            F.dayofweek("date").alias("day_of_week"),
            F.dayofweek("date").isin(1, 7).alias("is_weekend"),
        )
    )


def build_fact_transactions(
    transactions: DataFrame,
    dim_customer: DataFrame,
    dim_merchant: DataFrame,
) -> DataFrame:
    """gold.fact_transactions (ref src/config/base.py:91): silver txns
    with surrogate keys resolved via broadcast joins (dims are orders
    of magnitude smaller than the fact — never shuffle the fact for a
    key lookup)."""
    cust_keys = F.broadcast(dim_customer.select("customer_id", "customer_sk"))
    merch_keys = F.broadcast(dim_merchant.select("merchant_id", "merchant_sk"))
    return (
        transactions.join(cust_keys, "customer_id", "left")
        .join(merch_keys, "merchant_id", "left")
        .withColumn(
            "date_sk", F.date_format("transaction_date", "yyyyMMdd").cast("int")
        )
    )


def build_agg_daily_metrics(fact: DataFrame) -> DataFrame:
    """gold.agg_daily_metrics (ref src/config/base.py:92)."""
    return fact.groupBy("transaction_date").agg(
        F.count(F.lit(1)).alias("n_transactions"),
        F.sum("amount_usd").alias("total_amount_usd"),
        F.avg("amount_usd").alias("avg_amount_usd"),
        F.countDistinct("customer_id").alias("n_customers"),
        F.countDistinct("merchant_id").alias("n_merchants"),
        F.sum("fee_amount").alias("total_fees"),
        F.sum(F.when(F.col("is_flagged"), 1).otherwise(0)).alias("n_flagged"),
        F.sum(F.when(F.col("status") == "COMPLETED", 1).otherwise(0)).alias(
            "n_completed"
        ),
    )


def build_agg_customer_360(fact: DataFrame, dim_customer: DataFrame) -> DataFrame:
    """gold.agg_customer_360 (ref src/config/base.py:93)."""
    metrics = fact.groupBy("customer_id").agg(
        F.count(F.lit(1)).alias("n_transactions"),
        F.sum("amount_usd").alias("lifetime_value_usd"),
        F.avg("amount_usd").alias("avg_transaction_usd"),
        F.max("transaction_timestamp").alias("last_transaction_at"),
        F.min("transaction_timestamp").alias("first_transaction_at"),
        F.countDistinct("merchant_id").alias("n_merchants_used"),
        F.sum(F.when(F.col("is_flagged"), 1).otherwise(0)).alias("n_flagged"),
    )
    profile = dim_customer.select(
        "customer_sk", "customer_id", "full_name", "segment", "kyc_status",
        "risk_score", "country",
    )
    return metrics.join(F.broadcast(profile), "customer_id", "left")


def build_agg_merchant_performance(
    fact: DataFrame, dim_merchant: DataFrame
) -> DataFrame:
    """gold.agg_merchant_performance (ref src/config/base.py:94):
    volumes + fee revenue per merchant."""
    metrics = fact.groupBy("merchant_id").agg(
        F.count(F.lit(1)).alias("n_transactions"),
        F.sum("amount_usd").alias("gross_volume_usd"),
        F.sum("fee_amount").alias("fee_revenue_usd"),
        F.avg("amount_usd").alias("avg_ticket_usd"),
        F.countDistinct("customer_id").alias("n_customers"),
        F.sum(F.when(F.col("status") == "FAILED", 1).otherwise(0)).alias("n_failed"),
    )
    profile = dim_merchant.select(
        "merchant_sk", "merchant_id", "merchant_name", "mcc_category", "risk_tier",
        "fee_rate",
    )
    return metrics.join(F.broadcast(profile), "merchant_id", "left")
