"""The benchmark's workloads. Each drives the engine only through its
public functions: ``MedallionPipeline`` methods, the query registry via
``bench.run_query``, and ``get_spark``.

A workload's ``run`` performs one unit of work and returns the timed
operations in it as ``(name, wall_s, cpu_s)``; everything else it does
(preparing inputs, checking outputs) is untimed. ``problems`` collects
every output that failed its oracle.
"""

from __future__ import annotations

import os
import random
import shutil
import time
from contextlib import ExitStack, contextmanager

from stats import tree_cpu_s

MEDALLION_SIZES = {"transactions": 10_000, "customers": 1_000,
                   "merchants": 100, "days": 10}
QUERY_SF = 0.05
QUERY_DATA_SEED = 42
# One query from every plan module the headline set spans, so each
# module's layer numbers come from every run. The full 38 (45-54 s per
# warm pass at sf0.1, plus a cold oracle pass) do not fit the
# benchmark's time budget on a 4-core host.
HEADLINE_SUBSET = [
    "pricing_summary",               # relational
    "user_velocity_24h",             # windows
    "purchase_click_interval_join",  # events
    "dq_lineitem_report",            # quality
    "aml_structuring_alerts",        # analytics
    "customer_proximity_pairs",      # relational_r6
    "ngram_jaccard_pairs",           # text
    "knn_bruteforce_cosine",         # vectors
    "winnowing_candidate_pairs",     # curation (a MapInArrow kernel)
]
# Set-up is repeated and its median reported where a repeat is cheap:
# the NumPy query tables take ~0.5 s, a Spark datagen pass ~8 s.
QUERY_SETUP_REPEATS = 3


def dir_stats(path: str) -> tuple[int, int]:
    """(data files, bytes) under ``path``, not counting checksums and
    commit markers."""
    files = size = 0
    for root, _dirs, names in os.walk(path):
        for f in names:
            if f.endswith(".crc") or f.startswith(("_", ".")):
                continue
            files += 1
            size += os.path.getsize(os.path.join(root, f))
    return files, size


class Workload:
    def __init__(self, spark, tracer, work: str, seed: int, trace: bool):
        self.spark = spark
        self.tracer = tracer
        self.work = work
        self.seed = seed
        self.trace = trace
        self.problems: list[str] = []
        self.attempted = 0
        self.failed = 0
        self.layer_extra: dict[str, float] = {}

    def warm_and_check(self) -> float:
        """Untimed set-up work after the inputs exist; its duration."""
        return 0.0

    def op(self, name: str, fn, *args, **kwargs):
        """One timed engine call; returns (result, (name, wall_s, cpu_s))."""
        self.attempted += 1
        with self.tracer.span(name):
            c0, t0 = tree_cpu_s(), time.perf_counter()
            try:
                out = fn(*args, **kwargs)
            except Exception:
                self.failed += 1
                raise
            wall = time.perf_counter() - t0
            return out, (name, wall, tree_cpu_s() - c0)


class Medallion(Workload):
    """One cycle: load an empty lake from the bronze inputs (bronze →
    DQ gate + quarantine → silver → gold, SCD2 history seeded), then
    apply a seeded day-N refresh (incremental fact MERGE, dimension SCD2
    for ~1% of customers)."""

    def setup(self) -> float:
        from fintech_lakehouse_spark.datagen import (
            generate_customers, generate_merchants, generate_transactions)

        s = MEDALLION_SIZES
        out = self.inputs = f"{self.work}/inputs"
        with self.tracer.span("datagen.generate"):
            t0 = time.perf_counter()
            raw = {
                "transactions": generate_transactions(
                    self.spark, s["transactions"], n_customers=s["customers"],
                    n_merchants=s["merchants"], seed=self.seed, days=s["days"]),
                "customers": generate_customers(
                    self.spark, s["customers"], seed=self.seed),
                "merchants": generate_merchants(
                    self.spark, s["merchants"], seed=self.seed),
            }
            for name, df in raw.items():
                df.write.mode("overwrite").parquet(f"{out}/{name}")
            gen_s = time.perf_counter() - t0
        self.input_bytes = dir_stats(out)[1]
        return gen_s

    @contextmanager
    def traced_children(self):
        """Spans for the layers beneath the pipeline, installed on the
        names the pipeline module calls."""
        import fintech_lakehouse_spark.pipeline as pipeline
        import fintech_lakehouse_spark.sources.writers as writers
        from fintech_lakehouse_spark.quality import DataQualityChecker

        patches = [
            (pipeline, "write_lake_table", "writers.write"),
            (pipeline, "upsert_lake_table", "writers.merge"),
            (pipeline, "replace_lake_rows", "writers.merge"),
            (writers, "scd2_upsert", "writers.merge"),
            (DataQualityChecker, "run", "quality.run"),
            (DataQualityChecker, "get_valid_invalid_dfs", "quality.run"),
        ]
        with ExitStack() as stack:
            for owner, attr, span in patches:
                orig = getattr(owner, attr)
                setattr(owner, attr, self.tracer.wrap(span, orig))
                stack.callback(setattr, owner, attr, orig)
            yield

    def run(self) -> list[tuple[str, float, float]]:
        from fintech_lakehouse_spark.config import EngineConfig
        from fintech_lakehouse_spark.pipeline import MedallionPipeline

        import checks

        lake = f"{self.work}/lake"
        shutil.rmtree(lake, ignore_errors=True)
        pipe = MedallionPipeline(self.spark, EngineConfig(env="dev", base_path=lake))
        ops = []
        with ExitStack() as stack:
            if self.trace:
                stack.enter_context(self.traced_children())
            silver = {}
            for table in checks.TABLES:
                with self.tracer.span("bench.prepare"):
                    raw = self.spark.read.parquet(f"{self.inputs}/{table}")
                bronze, rec = self.op("pipeline.ingest_bronze",
                                      pipe.ingest_bronze, table, raw)
                ops.append(rec)
                silver[table], rec = self.op("pipeline.promote_silver",
                                             pipe.promote_silver, table, bronze)
                ops.append(rec)
            _, rec = self.op("pipeline.build_gold", pipe.build_gold,
                             silver["transactions"], silver["customers"],
                             silver["merchants"])
            ops.append(rec)
            _, rec = self.op(
                "pipeline.update_dimension_scd2", pipe.update_dimension_scd2,
                "dim_customer_history", self._history(silver["customers"]),
                key="customer_id", tracked_cols=["segment", "risk_score",
                                                 "kyc_status"])
            ops.append(rec)
            with self.tracer.span("bench.check"):
                self.problems += checks.check_batch(lake)
            with self.tracer.span("bench.prepare"):
                day_n = self._refresh_inputs(silver)
                before = checks.snapshot(lake, day_n["batch"])
                batch, customers, updates = (
                    self.spark.read.parquet(day_n[k])
                    for k in ("batch", "customers", "updates"))
            _, rec = self.op(
                "pipeline.incremental_fact_update", pipe.incremental_fact_update,
                batch, customers, silver["merchants"])
            ops.append(rec)
            _, rec = self.op(
                "pipeline.update_dimension_scd2", pipe.update_dimension_scd2,
                "dim_customer_history", updates,
                key="customer_id", tracked_cols=["segment", "risk_score",
                                                 "kyc_status"])
            ops.append(rec)
            with self.tracer.span("bench.check"):
                self.problems += checks.check_refresh(
                    lake, before, day_n["batch"], day_n["updates"],
                    day_n["customers"])
        files, size = dir_stats(lake)
        self.layer_extra = {"lake.files": files,
                            "lake.stored_bytes_ratio": size / self.input_bytes}
        return ops

    @staticmethod
    def _history(customers):
        from pyspark.sql import functions as F

        return customers.select(
            "customer_id", "segment", "risk_score", "kyc_status",
            F.lit("2024-01-01 00:00:00").cast("timestamp").alias("effective_ts"))

    def _refresh_inputs(self, silver: dict) -> dict[str, str]:
        """Materialize a seeded day-N batch from the silver layer: every
        transaction of the last day again under a new id on the next day
        (an eighth of them by new customers), ~3% of the last week's
        transactions restated with doubled amounts (a third of those
        moved to the new day), the customer snapshot grown by 20 new
        customers, and a segment change for ~1% of customers."""
        from pyspark.sql import functions as F
        from pyspark.sql.window import Window

        from fintech_lakehouse_spark.schemas.spec import MONEY

        txn, cust = silver["transactions"], silver["customers"]
        last = txn.agg(F.max("transaction_date")).first()[0]
        new_day = F.date_add(F.lit(last), 1)
        h = F.pmod(F.xxhash64("transaction_id", F.lit(self.seed)), F.lit(1000))
        money = ["amount", "amount_usd", "fee_amount", "net_amount"]
        shift = F.col("transaction_timestamp") + F.expr("INTERVAL 1 DAY")
        new = txn.filter(F.col("transaction_date") == F.lit(last)).select(
            *[F.concat(F.lit("TXNN"), F.substring("transaction_id", 4, 20))
              .alias(c) if c == "transaction_id"
              else F.when(h % 8 == 0, F.format_string("CUSTN%07d", h % 20))
              .otherwise(F.col(c)).alias(c) if c == "customer_id"
              else shift.alias(c) if c == "transaction_timestamp"
              else new_day.alias(c) if c == "transaction_date"
              else F.col(c) for c in txn.columns])
        restated = txn.filter(
            (F.col("transaction_date") > F.date_sub(F.lit(last), 7)) & (h < 30)
        ).select(*[
            (F.col(c) * 2).cast(MONEY).alias(c) if c in money
            else F.when(h < 10, new_day).otherwise(F.col(c)).alias(c)
            if c == "transaction_date" else F.col(c) for c in txn.columns])
        hc = F.xxhash64("customer_id", F.lit(self.seed))
        joiners = (cust.orderBy(hc).limit(20)
                   .withColumn("customer_id", F.format_string(
                       "CUSTN%07d",
                       F.row_number().over(Window.orderBy("customer_id")) - 1)))
        updates = cust.filter(F.pmod(hc, F.lit(100)) == 0).select(
            "customer_id",
            F.when(F.col("segment") == "RETAIL", "PREMIUM")
            .otherwise("RETAIL").alias("segment"),
            "risk_score", "kyc_status",
            F.to_timestamp(new_day).alias("effective_ts"))
        out = f"{self.work}/day_n"
        paths = {"batch": f"{out}/batch", "customers": f"{out}/customers",
                 "updates": f"{out}/updates"}
        new.unionByName(restated).write.mode("overwrite").parquet(paths["batch"])
        cust.unionByName(joiners).write.mode("overwrite").parquet(paths["customers"])
        updates.write.mode("overwrite").parquet(paths["updates"])
        return paths


class HeadlineQueries(Workload):
    """One pass over the headline subset, in an order the seed permutes,
    through ``bench.run_query`` (stage caches reset, noop sink)."""

    def setup(self) -> float:
        import inputs

        times = []
        for k in range(QUERY_SETUP_REPEATS):
            with self.tracer.span("datagen.generate"):
                t0 = time.perf_counter()
                self.sf_dir = f"{self.work}/tables{k}"
                inputs.write_query_tables(self.sf_dir, QUERY_SF, QUERY_DATA_SEED)
                times.append(time.perf_counter() - t0)
        self.order = list(HEADLINE_SUBSET)
        random.Random(self.seed).shuffle(self.order)
        return sorted(times)[len(times) // 2]

    def warm_and_check(self) -> float:
        """Run every query once against its DuckDB oracle with the
        comparator of ``scripts/check_oracles.py``; doubles as warm-up."""
        import threading

        import check_oracles
        from fintech_lakehouse_spark.plans import QUERIES

        local = threading.local()
        t0 = time.perf_counter()
        with self.tracer.span("bench.check"):
            for name in self.order:
                line, ok = check_oracles.check_one(
                    self.spark, self.sf_dir, name, QUERIES[name], local)
                if not ok:
                    self.problems.append(line)
        if getattr(local, "con", None) is not None:
            local.con.close()
        return time.perf_counter() - t0

    def run(self) -> list[tuple[str, float, float]]:
        import bench
        from fintech_lakehouse_spark.plans import QUERIES

        ops = []
        for name in self.order:
            module = QUERIES[name].__module__.rsplit(".", 1)[-1]
            orig = QUERIES[name]
            if self.trace:
                QUERIES[name] = self.tracer.wrap(f"plans.{module}.build", orig)
            try:
                _, rec = self.op(f"plans.{module}", bench.run_query,
                                 self.spark, name, self.sf_dir)
            finally:
                QUERIES[name] = orig
            ops.append(rec)
        return ops


WORKLOADS = {"medallion": Medallion, "headline_queries": HeadlineQueries}
