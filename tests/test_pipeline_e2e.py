"""End-to-end medallion integration test: Spark-native generator →
bronze → DQ/quarantine → silver → gold star schema. This is the
composed flow from SURVEY §3.2-3.3 (absent from the reference repo,
whose integration suite is empty — SURVEY §5.3)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from fintech_lakehouse_spark.config import EngineConfig
from fintech_lakehouse_spark.datagen import (
    generate_customers,
    generate_exchange_rates,
    generate_merchants,
    generate_transactions,
)
from fintech_lakehouse_spark.pipeline import MedallionPipeline

N_TXN, N_CUST, N_MERCH = 2_000, 300, 40


@pytest.fixture(scope="module")
def lake(spark, tmp_path_factory):
    config = EngineConfig(
        env="dev", base_path=str(tmp_path_factory.mktemp("lake"))
    )
    pipe = MedallionPipeline(spark, config)
    raw = {
        "transactions": generate_transactions(
            spark, N_TXN, n_customers=N_CUST, n_merchants=N_MERCH
        ),
        "customers": generate_customers(spark, N_CUST),
        "merchants": generate_merchants(spark, N_MERCH),
    }
    silver = {}
    for table, df in raw.items():
        bronze = pipe.ingest_bronze(table, df)
        silver[table] = pipe.promote_silver(table, bronze)
    gold = pipe.build_gold(
        silver["transactions"], silver["customers"], silver["merchants"]
    )
    return {"pipe": pipe, "silver": silver, "gold": gold, "config": config}


def test_generator_determinism(spark):
    a = generate_transactions(spark, 100).collect()
    b = generate_transactions(spark, 100).collect()
    assert a == b  # same seed → identical rows
    c = generate_transactions(spark, 100, seed=7).collect()
    assert a != c


def test_silver_typed_and_gated(lake):
    txns = lake["silver"]["transactions"]
    assert dict(txns.dtypes)["amount"] == "decimal(18,2)"
    assert dict(txns.dtypes)["transaction_date"] == "date"
    # silver + quarantine = bronze row count
    spark = txns.sparkSession
    quarantined = 0
    try:
        quarantined = spark.read.parquet(
            lake["config"].layer_path("quarantine", "transactions")
        ).count()
    except Exception:
        pass
    assert txns.count() + quarantined == N_TXN


def test_gold_star_schema(lake):
    gold = lake["gold"]
    fact = gold["fact_transactions"]
    assert fact.filter(F.col("customer_sk").isNull()).count() == 0
    assert fact.filter(F.col("merchant_sk").isNull()).count() == 0
    # dims dense from 1
    for dim, key in [("dim_customer", "customer_sk"), ("dim_merchant", "merchant_sk")]:
        keys = [r[0] for r in gold[dim].select(key).orderBy(key).collect()]
        assert keys == list(range(1, len(keys) + 1))
    # daily metrics reconcile with the fact
    daily = gold["agg_daily_metrics"]
    assert daily.agg(F.sum("n_transactions")).collect()[0][0] == fact.count()
    # customer 360 covers every transacting customer
    assert (
        gold["agg_customer_360"].count()
        == fact.select("customer_id").distinct().count()
    )


def test_monitoring_recorded(lake):
    summary = lake["pipe"].monitor.finish()
    stage_names = {r["stage_name"] for r in summary["rows"]}
    assert {"bronze_transactions", "silver_transactions", "gold"} <= stage_names
    assert not summary["failed_stages"]


def test_silver_monitor_counts_match_lake(spark, tmp_path):
    """The silver_<table> monitor row takes its counts from the DQ
    pass; they must equal what actually landed in the silver and
    quarantine tables. Known-bad bronze rows: an unknown currency
    (a WARNING check — still quarantined) and a negative amount."""
    config = EngineConfig(env="dev", base_path=str(tmp_path))
    pipe = MedallionPipeline(spark, config)
    raw = generate_transactions(spark, 200, n_customers=20, n_merchants=5)
    bad_currency = [f"TXN{i:09d}" for i in (3, 50, 51)]
    bad_amount = [f"TXN{i:09d}" for i in (7, 120)]
    tid = F.col("transaction_id")
    raw = raw.withColumn(
        "currency",
        F.when(tid.isin(bad_currency), "XXX").otherwise(F.col("currency")),
    ).withColumn(
        "amount", F.when(tid.isin(bad_amount), "-5.00").otherwise(F.col("amount"))
    )
    pipe.promote_silver("transactions", pipe.ingest_bronze("transactions", raw))
    row = next(
        r for r in pipe.monitor.finish()["rows"]
        if r["stage_name"] == "silver_transactions"
    )
    silver = spark.read.parquet(config.layer_path("silver", "transactions"))
    quarantine = spark.read.parquet(
        config.layer_path("quarantine", "transactions")
    )
    assert {r["transaction_id"] for r in quarantine.collect()} >= {
        *bad_currency, *bad_amount
    }
    assert row["rows_read"] == 200
    assert row["rows_written"] == silver.count()
    assert row["rows_quarantined"] == quarantine.count()
    assert row["rows_written"] + row["rows_quarantined"] == 200


def test_fx_rates_shape(spark):
    fx = generate_exchange_rates(spark, days=10)
    assert fx.count() == 80  # 10 days × 8 currencies
    assert fx.select("rate_date").distinct().count() == 10


def test_incremental_fact_update_touches_only_batch_dates(lake, spark):
    """Day-N refresh: a one-date incremental batch must update the
    fact and daily metrics for that date only — untouched fact date
    partitions keep their exact files."""
    import os

    config = lake["config"]
    pipe = lake["pipe"]
    fact_path = config.layer_path("gold", "fact_transactions")

    # pick a date present in the fact and build a batch restating one
    # existing transaction (bigger amount) + one brand-new transaction
    silver = lake["silver"]["transactions"]
    some = silver.orderBy("transaction_id").limit(1).collect()[0]
    target_date = some["transaction_date"]
    batch = silver.filter(F.col("transaction_id") == some["transaction_id"])
    restated = batch.withColumn(
        "amount_usd", (F.col("amount_usd") * 2).cast("decimal(18,2)")
    )
    new_row = batch.withColumn(
        "transaction_id", F.concat(F.col("transaction_id"), F.lit("_NEW"))
    )
    delta = restated.unionByName(new_row)

    def part_files():
        out = {}
        for d in os.listdir(fact_path):
            if d.startswith("transaction_date=") and str(target_date) not in d:
                full = os.path.join(fact_path, d)
                out[d] = {
                    f: os.path.getmtime(os.path.join(full, f))
                    for f in os.listdir(full)
                    if f.endswith(".parquet")
                }
        return out

    untouched_before = part_files()
    before_count = spark.read.parquet(fact_path).count()

    pipe.incremental_fact_update(
        delta, lake["silver"]["customers"], lake["silver"]["merchants"]
    )
    # the stage's counts are the batch's rows: one restated, one new
    stage = [
        r for r in pipe.monitor.finish()["rows"]
        if r["stage_name"] == "gold_incremental"
    ][-1]
    assert stage["rows_read"] == stage["rows_written"] == 2

    fact = spark.read.parquet(fact_path)
    assert fact.count() == before_count + 1  # one insert, one update
    doubled = fact.filter(
        F.col("transaction_id") == some["transaction_id"]
    ).collect()[0]
    assert float(doubled["amount_usd"]) == pytest.approx(
        2 * float(some["amount_usd"])
    )
    assert part_files() == untouched_before  # other dates untouched

    # daily metrics refreshed for the touched date, others preserved
    daily = spark.read.parquet(config.layer_path("gold", "agg_daily_metrics"))
    row = daily.filter(F.col("transaction_date") == target_date).collect()[0]
    expect = fact.filter(F.col("transaction_date") == target_date).count()
    assert row["n_transactions"] == expect
    assert daily.select("transaction_date").distinct().count() == (
        fact.select("transaction_date").distinct().count()
    )


def test_incremental_restated_date_refreshes_old_aggregate(lake, spark):
    """A restated transaction whose transaction_date CHANGES must
    refresh the OLD date's aggregate too — and when the old date ends
    with zero fact rows, its stale aggregate row is DELETED rather
    than left behind (ADVICE r2 medium: MERGE updates and inserts but
    can never delete)."""
    import datetime as dt

    config = lake["config"]
    pipe = lake["pipe"]
    fact_path = config.layer_path("gold", "fact_transactions")
    agg_path = config.layer_path("gold", "agg_daily_metrics")

    fact = spark.read.parquet(fact_path)
    smallest = (
        fact.groupBy("transaction_date")
        .count()
        .orderBy("count", "transaction_date")
        .limit(1)
        .collect()[0]
    )
    old_date = smallest["transaction_date"]
    moved_ids = [
        r["transaction_id"]
        for r in fact.filter(F.col("transaction_date") == old_date)
        .select("transaction_id")
        .collect()
    ]
    assert moved_ids
    new_date = dt.date(2031, 6, 1)  # far outside the generated range
    silver = lake["silver"]["transactions"]
    batch = silver.filter(F.col("transaction_id").isin(moved_ids)).withColumn(
        "transaction_date", F.lit(new_date)
    )
    assert batch.count() == len(moved_ids)

    pipe.incremental_fact_update(
        batch, lake["silver"]["customers"], lake["silver"]["merchants"]
    )

    fact_after = spark.read.parquet(fact_path)
    assert fact_after.filter(F.col("transaction_date") == old_date).count() == 0
    assert (
        fact_after.filter(F.col("transaction_date") == new_date).count()
        == len(moved_ids)
    )
    daily = spark.read.parquet(agg_path)
    stale = daily.filter(F.col("transaction_date") == old_date).collect()
    assert stale == [], f"stale aggregate row survived: {stale}"
    row = daily.filter(F.col("transaction_date") == new_date).collect()[0]
    assert row["n_transactions"] == len(moved_ids)


def test_refresh_keeps_every_derived_gold_table_current(lake, spark, tmp_path):
    """After a day-N refresh every gold table derived from the fact
    must equal its builder re-run over the stored fact and dims. The
    batch holds a new customer, a restated amount and a transaction
    moved past the fact's last date; the customer snapshot changes the
    profile of a customer who is not in the batch."""
    import datetime as dt

    from fintech_lakehouse_spark.operators.gold import (
        build_agg_customer_360,
        build_agg_daily_metrics,
        build_agg_merchant_performance,
        build_dim_date,
    )

    config = EngineConfig(env="dev", base_path=str(tmp_path))
    pipe = MedallionPipeline(spark, config)
    silver = lake["silver"]
    txns, custs = silver["transactions"], silver["customers"]
    pipe.build_gold(txns, custs, silver["merchants"])

    tid, cid = F.col("transaction_id"), F.col("customer_id")
    first, second = txns.orderBy("transaction_id").limit(2).collect()
    next_day = txns.agg(F.max("transaction_date")).first()[0] + dt.timedelta(1)
    restated = txns.filter(tid == first["transaction_id"]).withColumn(
        "amount_usd", (F.col("amount_usd") * 2).cast("decimal(18,2)")
    )
    moved = (
        txns.filter(tid == second["transaction_id"])
        .withColumn("transaction_date", F.lit(next_day))
        .withColumn("transaction_timestamp", F.lit(next_day).cast("timestamp"))
    )
    by_new_customer = restated.withColumn(
        "transaction_id", F.concat(tid, F.lit("_NEW"))
    ).withColumn("customer_id", F.lit("CUSTNEW"))
    batch = restated.unionByName(moved).unionByName(by_new_customer)
    in_batch = [first["customer_id"], second["customer_id"]]
    bystander = (
        txns.filter(~cid.isin(in_batch)).agg(F.min("customer_id")).first()[0]
    )
    snapshot = custs.withColumn(
        "segment",
        F.when(cid == bystander, F.lit("REPROFILED")).otherwise(F.col("segment")),
    ).unionByName(
        custs.filter(cid == first["customer_id"]).withColumn(
            "customer_id", F.lit("CUSTNEW")
        )
    )

    pipe.incremental_fact_update(batch, snapshot, silver["merchants"])

    def stored(name):
        return spark.read.parquet(config.layer_path("gold", name))

    fact = stored("fact_transactions")
    rebuilt = {
        "dim_date": build_dim_date(fact),
        "agg_daily_metrics": build_agg_daily_metrics(fact),
        "agg_customer_360": build_agg_customer_360(fact, stored("dim_customer")),
        "agg_merchant_performance": build_agg_merchant_performance(
            fact, stored("dim_merchant")
        ),
    }
    for name, want in rebuilt.items():
        got = stored(name)
        want = want.select(*got.columns)
        assert got.exceptAll(want).count() == 0, f"{name}: stale rows"
        assert want.exceptAll(got).count() == 0, f"{name}: missing rows"
    # the scenario reached every table it should have
    assert stored("dim_date").agg(F.max("date")).first()[0] == next_day
    c360 = stored("agg_customer_360")
    assert c360.filter(cid == "CUSTNEW").count() == 1
    assert c360.filter(cid == bystander).first()["segment"] == "REPROFILED"


def test_build_gold_rebuilds_over_an_existing_gold_layer(lake, spark, tmp_path):
    """A second build_gold on the same base path, over a smaller batch
    (fewer customers, their transactions only, the last date gone),
    must leave exactly the gold layer a build on a fresh path writes:
    no fact rows, dim keys or daily aggregates from the first build."""
    silver = lake["silver"]
    txns, custs, merch = (
        silver["transactions"], silver["customers"], silver["merchants"]
    )
    small_custs = custs.orderBy("customer_id").limit(N_CUST // 2)
    last_day = txns.agg(F.max("transaction_date")).first()[0]
    small_txns = txns.join(
        small_custs.select("customer_id"), "customer_id", "left_semi"
    ).filter(F.col("transaction_date") < last_day)

    def pipe_at(name):
        config = EngineConfig(env="dev", base_path=str(tmp_path / name))
        return MedallionPipeline(spark, config)

    reused = pipe_at("reused")
    reused.build_gold(txns, custs, merch)
    got = reused.build_gold(small_txns, small_custs, merch)
    want = pipe_at("fresh").build_gold(small_txns, small_custs, merch)
    assert got["fact_transactions"].count() == small_txns.count()
    for name in want:
        w = want[name].select(*got[name].columns)
        assert got[name].exceptAll(w).count() == 0, f"{name}: stale rows"
        assert w.exceptAll(got[name]).count() == 0, f"{name}: missing rows"


def test_scd2_dimension_in_pipeline(lake, spark):
    """Pipeline-level SCD2: customer risk restatements accumulate
    history in the gold layer and point-in-time lookups resolve."""
    import datetime as dt

    pipe = lake["pipe"]
    schema = (
        "customer_id string, risk_rating string, city string, "
        "effective_ts timestamp"
    )
    t1, t2 = dt.datetime(2024, 1, 1), dt.datetime(2024, 6, 1)
    pipe.update_dimension_scd2(
        "dim_customer_history",
        spark.createDataFrame([("C1", "LOW", "oslo", t1)], schema),
        key="customer_id", tracked_cols=["risk_rating"],
    )
    dim = pipe.update_dimension_scd2(
        "dim_customer_history",
        spark.createDataFrame([("C1", "HIGH", "oslo", t2)], schema),
        key="customer_id", tracked_cols=["risk_rating"],
    )
    # point-in-time: a March fact sees LOW, a July fact sees HIGH
    march = dt.datetime(2024, 3, 1)
    row = dim.filter(
        (F.col("effective_from") <= march)
        & (F.col("effective_to").isNull() | (F.col("effective_to") > march))
    ).collect()
    assert len(row) == 1 and row[0]["risk_rating"] == "LOW"
    assert dim.filter("is_current").collect()[0]["risk_rating"] == "HIGH"


def test_incremental_refresh_keeps_surrogate_keys_stable(spark, tmp_path):
    """A new customer inserted between existing natural keys must NOT
    renumber them: positional 1..N rebuilds shifted every key after
    the insertion point, so fact rows from earlier runs misjoined the
    dims (review finding r6s5)."""
    import datetime

    from pyspark.sql import functions as F

    from fintech_lakehouse_spark.config import EngineConfig
    from fintech_lakehouse_spark.pipeline import MedallionPipeline

    config = EngineConfig(env="dev", base_path=str(tmp_path / "lake"))
    pipe = MedallionPipeline(spark, config)

    def txns(ids):
        return spark.createDataFrame(
            [
                (f"T{i}", f"C{c}", "M1", 10.0, 10.0, 0.0, 10.0,
                 datetime.date(2024, 1, 1), datetime.datetime(2024, 1, 1, 9),
                 False, "COMPLETED")
                for i, c in enumerate(ids)
            ],
            "transaction_id string, customer_id string, merchant_id string, "
            "amount double, amount_usd double, fee_amount double, "
            "net_amount double, transaction_date date, "
            "transaction_timestamp timestamp, is_flagged boolean, "
            "status string",
        )

    def custs(ids):
        return spark.createDataFrame(
            [(f"C{c}", f"Name{c}", "RETAIL", "VERIFIED", "10", "US") for c in ids],
            "customer_id string, full_name string, segment string, "
            "kyc_status string, risk_score string, country string",
        )

    merch = spark.createDataFrame(
        [("M1", "Shop", "GROCERY", "LOW", "0.02")],
        "merchant_id string, merchant_name string, mcc_category string, "
        "risk_tier string, fee_rate string",
    )

    # day 1: customers C1, C3
    pipe.incremental_fact_update(txns([1, 3]), custs([1, 3]), merch)
    dim1 = {
        r["customer_id"]: r["customer_sk"]
        for r in spark.read.parquet(
            config.layer_path("gold", "dim_customer")
        ).collect()
    }
    # day 2: C2 appears BETWEEN C1 and C3
    pipe.incremental_fact_update(txns([2]), custs([1, 2, 3]), merch)
    dim2 = {
        r["customer_id"]: r["customer_sk"]
        for r in spark.read.parquet(
            config.layer_path("gold", "dim_customer")
        ).collect()
    }
    assert dim2["C1"] == dim1["C1"] and dim2["C3"] == dim1["C3"]  # stable
    assert dim2["C2"] not in (dim1["C1"], dim1["C3"])  # new key, new sk
    # every fact row joins its dim row back to the RIGHT customer
    fact = spark.read.parquet(config.layer_path("gold", "fact_transactions"))
    dim = spark.read.parquet(config.layer_path("gold", "dim_customer"))
    joined = fact.join(dim, "customer_sk").select(
        fact["customer_id"].alias("fact_cust"), dim["customer_id"].alias("dim_cust")
    )
    assert joined.filter(F.col("fact_cust") != F.col("dim_cust")).count() == 0
    assert joined.count() == fact.count()
