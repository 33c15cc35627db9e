"""Operator unit tests (pattern from reference tests/unit/
test_spark_utils.py — inline micro-fixtures, collect-based asserts)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from fintech_lakehouse_spark.operators import (
    add_dense_surrogate_key,
    add_ingestion_metadata,
    add_processing_metadata,
    add_surrogate_key,
    asof_join,
    deduplicate_by_key,
    standardize_string_columns,
)


@pytest.fixture()
def txns(spark):
    return spark.createDataFrame(
        [
            ("TXN1", "C1", "2024-01-01 10:00:00", 100.0),
            ("TXN1", "C1", "2024-01-02 10:00:00", 120.0),  # later dup
            ("TXN2", "C2", "2024-01-01 09:00:00", 50.0),
        ],
        ["transaction_id", "customer_id", "updated_at", "amount"],
    ).withColumn("updated_at", F.to_timestamp("updated_at"))


def test_dedup_keep_latest(txns):
    out = deduplicate_by_key(txns, ["transaction_id"], "updated_at")
    rows = {r["transaction_id"]: r["amount"] for r in out.collect()}
    assert rows == {"TXN1": 120.0, "TXN2": 50.0}


def test_dedup_keep_first(txns):
    out = deduplicate_by_key(
        txns, ["transaction_id"], "updated_at", order_ascending=True
    )
    rows = {r["transaction_id"]: r["amount"] for r in out.collect()}
    assert rows == {"TXN1": 100.0, "TXN2": 50.0}


def test_surrogate_key_unique(spark):
    df = spark.range(1000).withColumnRenamed("id", "x")
    out = add_surrogate_key(df, "sk")
    assert out.select("sk").distinct().count() == 1000


def test_dense_surrogate_key_dense_and_ordered(spark):
    df = spark.createDataFrame(
        [("b",), ("a",), ("d",), ("c",)], ["k"]
    ).repartition(3)
    out = add_dense_surrogate_key(df, "sk", ["k"]).orderBy("sk").collect()
    assert [r["sk"] for r in out] == [1, 2, 3, 4]  # dense, 1-based
    assert [r["k"] for r in out] == ["a", "b", "c", "d"]  # natural-key order


def test_cached_dim_is_coalesced_and_keys_stay_dense(spark):
    """session.py lets AQE coalesce the last shuffle of a persisted
    plan (canChangeCachedPlanOutputPartitioning). Without it a cached
    ~1k-row dim keeps spark.sql.shuffle.partitions partitions and
    every consumer schedules that many tasks. Pinned at the production
    default of 200, so a Spark upgrade or a conf edit that brings the
    exemption back fails here; the dense key must not move either."""
    from fintech_lakehouse_spark.operators.keys import extend_dense_surrogate_key

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "200")
    dim = None
    try:
        customers = spark.range(1000).selectExpr(
            "format_string('C%05d', (id * 7919) % 1000) AS customer_id", "id AS x"
        )
        dim = extend_dense_surrogate_key(
            None, customers, "customer_sk", ["customer_id"]
        ).persist()
        assert dim.count() == 1000
        assert dim.rdd.getNumPartitions() <= spark.sparkContext.defaultParallelism
        rows = sorted(dim.select("customer_id", "customer_sk").collect())
        assert [r["customer_sk"] for r in rows] == list(range(1, 1001))
    finally:
        if dim is not None:
            dim.unpersist()
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def test_standardize_strings(spark):
    df = spark.createDataFrame([("  usd ", "x"), ("eur", "y")], ["cur", "other"])
    out = standardize_string_columns(df, ["cur", "missing_col"]).collect()
    assert [r["cur"] for r in out] == ["USD", "EUR"]
    assert [r["other"] for r in out] == ["x", "y"]  # untouched


def test_metadata_columns(spark):
    df = spark.createDataFrame([(1,)], ["x"])
    out = add_processing_metadata(add_ingestion_metadata(df))
    assert {"_source_file", "_ingestion_timestamp", "_processing_timestamp"} <= set(
        out.columns
    )
    assert out.collect()[0]["_processing_timestamp"] is not None


def test_asof_join_currency_conversion(spark):
    """The currency-conversion shape (SURVEY §2.3 J4): each txn gets
    the latest rate at or before its timestamp."""
    rates = spark.createDataFrame(
        [
            ("EUR", "2024-01-01 00:00:00", 1.10),
            ("EUR", "2024-01-03 00:00:00", 1.20),
            ("GBP", "2024-01-02 00:00:00", 1.30),
        ],
        ["currency", "rate_ts", "rate"],
    ).withColumn("rate_ts", F.to_timestamp("rate_ts"))
    txns = spark.createDataFrame(
        [
            ("T1", "EUR", "2024-01-02 12:00:00", 100.0),
            ("T2", "EUR", "2024-01-03 00:00:00", 100.0),  # exactly at rate ts
            ("T3", "GBP", "2024-01-01 00:00:00", 100.0),  # before any rate
        ],
        ["txn_id", "currency", "txn_ts", "amount"],
    ).withColumn("txn_ts", F.to_timestamp("txn_ts"))
    out = asof_join(
        txns, rates, on=["currency"], left_time="txn_ts", right_time="rate_ts"
    )
    got = {r["txn_id"]: r["rate_asof"] for r in out.collect()}
    assert got == {"T1": 1.10, "T2": 1.20, "T3": None}
    assert out.count() == 3  # left join: every txn survives


def test_asof_join_null_axes(spark):
    """The three NULL edges of as-of semantics (review finding r6s5):
    a NULL right value must NOT be backfilled from an older row (the
    latest right ROW wins atomically), a NULL right_time row can never
    match, and NULL keys never match each other."""
    from fintech_lakehouse_spark.operators.joins import asof_join

    left = spark.createDataFrame(
        [("usd", 30), (None, 30)], "ccy string, t long"
    )
    right = spark.createDataFrame(
        [
            ("usd", 10, 1.0, 100.0),
            ("usd", 20, None, 200.0),   # latest row: rate legitimately NULL
            ("usd", None, 9.9, 999.0),  # null-time row: never matches
            (None, 5, 7.7, 777.0),      # null-key row: never matches
        ],
        "ccy string, t long, rate double, vol double",
    )
    rows = {
        r["ccy"]: (r["rate_asof"], r["vol_asof"])
        for r in asof_join(
            left, right, on=["ccy"], left_time="t", right_time="t"
        ).collect()
    }
    # latest right row (t=20) wins ATOMICALLY: rate NULL, vol 200
    assert rows["usd"] == (None, 200.0)
    # null-key left row matches nothing
    assert rows[None] == (None, None)


def test_point_in_time_join_column_collision(spark):
    """A dim column sharing a fact column's name must come out as
    <name>_dim, and a fact's own effective_from must survive (review
    finding r6s5)."""
    import datetime as dt

    from fintech_lakehouse_spark.operators.joins import point_in_time_join

    fact = spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 2), "F_STATUS", dt.datetime(2020, 1, 1))],
        "k long, ts timestamp, status string, effective_from timestamp",
    )
    dim = spark.createDataFrame(
        [(1, "D_STATUS", dt.datetime(2024, 1, 1), None, True)],
        "k long, status string, effective_from timestamp, "
        "effective_to timestamp, is_current boolean",
    )
    out = point_in_time_join(fact, dim, key="k", fact_time="ts")
    assert out.columns.count("status") == 1
    assert "status_dim" in out.columns
    assert "effective_from" in out.columns  # the FACT's own column
    (row,) = out.collect()
    assert row["status"] == "F_STATUS" and row["status_dim"] == "D_STATUS"
    assert row["effective_from"] == dt.datetime(2020, 1, 1)


def test_lsh_band_validation(spark):
    import pytest as _pytest

    from fintech_lakehouse_spark.functions.text import (
        lsh_band_pairs_md5,
        minhash_signatures_md5,
        shingle_rows,
    )

    docs = spark.createDataFrame(
        [(1, "a b c d e f"), (2, "a b c d e g")], ["doc_id", "text"]
    )
    sig = minhash_signatures_md5(shingle_rows(docs, 3), n_hashes=8)
    with _pytest.raises(ValueError, match="n_bands"):
        lsh_band_pairs_md5(sig, n_hashes=8, n_bands=16)  # 0 rows/band
    with _pytest.raises(ValueError, match="n_bands"):
        lsh_band_pairs_md5(sig, n_hashes=8, n_bands=3)  # non-divisor


def test_language_best_guess_und_for_zero_overlap(spark):
    from fintech_lakehouse_spark.functions.text import language_best_guess

    df = spark.createDataFrame(
        [(1, "quarterly revenue increased substantially")], ["doc_id", "text"]
    )
    (row,) = df.select(language_best_guess().alias("g")).collect()
    assert row["g"]["lang"] == "und" and row["g"]["score"] == 0


class TestR7S2AnalyticsSemantics:
    """Semantic pins for the round-7 session-2 metric family: each
    metric is checked against a hand-computable synthetic distribution
    (the oracle sweep proves engine parity; these prove the MATH)."""

    def test_tvd_bounds_on_identical_and_disjoint(self, spark, tmp_path):
        import pyspark.sql.functions as F
        from fintech_lakehouse_spark.plans.analytics import (
            order_price_drift_tvd,
        )

        # identical periods -> TVD 0; disjoint value ranges -> TVD 1e6
        rows = []
        for i in range(200):
            rows.append((i, "1996-06-01", 100.0 + i))          # period A
            rows.append((10_000 + i, "1999-06-01", 100.0 + i))  # period B, same dist
        self._write_orders(spark, tmp_path / "same", rows)
        out = {
            r["bucket"]: r
            for r in order_price_drift_tvd(
                spark, str(tmp_path / "same")
            ).collect()
        }
        assert out[-1]["drift_ppm"] == 0

        rows = []
        for i in range(200):
            rows.append((i, "1996-06-01", 1000.0))      # A: all bucket 0
            rows.append((10_000 + i, "1999-06-01", 450_000.0))  # B: top bucket
        self._write_orders(spark, tmp_path / "disj", rows)
        out = {
            r["bucket"]: r
            for r in order_price_drift_tvd(
                spark, str(tmp_path / "disj")
            ).collect()
        }
        assert out[-1]["drift_ppm"] == 1_000_000

    def test_gini_zero_for_equal_spend(self, spark, tmp_path):
        from fintech_lakehouse_spark.plans.analytics import (
            revenue_concentration,
        )

        rows = [(i, "1996-06-01", 500.0) for i in range(100)]
        self._write_orders(spark, tmp_path / "flat", rows, custkey_from_id=True)
        row = revenue_concentration(spark, str(tmp_path / "flat")).collect()[0]
        assert row["gini"] == 0.0
        assert row["n_customers"] == 100
        # equal spend: top 1% (1 customer) holds exactly 1/100
        assert row["top1pct_share_ppm"] == 10_000
        assert row["top10pct_share_ppm"] == 100_000

    def test_benford_flags_uniform_digits(self, spark, tmp_path):
        from fintech_lakehouse_spark.plans.analytics import (
            benford_first_digit_audit,
        )

        # fabricated books: every leading digit equally likely (1/9 =
        # 111111 ppm) -> digit 1 (expected 301030) must flag
        rows = []
        k = 0
        for d in range(1, 10):
            for i in range(100):
                rows.append((k, "1996-06-01", float(d * 1000 + i)))
                k += 1
        self._write_orders(spark, tmp_path / "uni", rows)
        out = {
            r["digit"]: r
            for r in benford_first_digit_audit(
                spark, str(tmp_path / "uni")
            ).collect()
        }
        assert len(out) == 9
        assert all(r["observed_ppm"] == 111_111 for r in out.values())
        assert out[1]["review_flag"] and out[2]["review_flag"]
        # digit 3 (expected 124939 ppm) sits within 20k of uniform
        assert not out[3]["review_flag"]
        # digit 8/9 expectations (~51k/46k ppm) differ by >20k -> flag
        assert out[9]["review_flag"]

    def test_rfm_quintiles_partition_evenly(self, spark, tmp_path):
        from fintech_lakehouse_spark.plans.analytics import (
            rfm_segment_counts,
        )

        # 100 customers, one order each, distinct amounts -> every
        # quintile holds exactly 20 customers in every dimension
        rows = [(i, "1996-06-01", 100.0 + i) for i in range(100)]
        self._write_orders(spark, tmp_path / "rfm", rows, custkey_from_id=True)
        out = rfm_segment_counts(spark, str(tmp_path / "rfm")).collect()
        assert sum(r["n_customers"] for r in out) == 100
        from collections import defaultdict

        per_m = defaultdict(int)
        for r in out:
            per_m[r["m_score"]] += r["n_customers"]
        assert per_m == {1: 20, 2: 20, 3: 20, 4: 20, 5: 20}

    @staticmethod
    def _write_orders(spark, path, rows, custkey_from_id=False):
        import pyspark.sql.functions as F

        df = spark.createDataFrame(
            [
                (
                    i,
                    (i if custkey_from_id else i % 37),
                    "O",
                    float(price),
                    date,
                    "1-URGENT",
                    "clerk",
                    0,
                    "",
                )
                for (i, date, price) in rows
            ],
            "o_orderkey long, o_custkey long, o_orderstatus string,"
            " o_totalprice double, _d string, o_orderpriority string,"
            " o_clerk string, o_shippriority int, o_comment string",
        ).select(
            "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
            F.to_timestamp("_d").alias("o_orderdate"),
            "o_orderpriority", "o_clerk", "o_shippriority", "o_comment",
        )
        df.write.mode("overwrite").parquet(f"{path}/orders.parquet")


class TestR7S3Semantics:
    """Synthetic-fixture pins for the round-7 session-3 queries (and
    the two session-2 stragglers that landed without units): each
    asserts the exact arithmetic the docstring promises on inputs
    where the right answer is computable by hand."""

    @staticmethod
    def _write_events(spark, path, rows):
        """rows: (event_id, 'YYYY-MM-DD HH:MM:SS', user_id, event_type)"""
        df = spark.createDataFrame(
            [(i, d, u, t, 10.0, "{}") for (i, d, u, t) in rows],
            "event_id long, _d string, user_id long, event_type string,"
            " value double, props string",
        ).select(
            "event_id",
            F.col("_d").cast("timestamp_ntz").alias("ts"),
            "user_id", "event_type", "value", "props",
        )
        df.write.mode("overwrite").parquet(f"{path}/events.parquet")

    @staticmethod
    def _write_documents(spark, path, rows):
        """rows: (doc_id, text)"""
        df = spark.createDataFrame(
            [(i, t, "en", "unit", len(t)) for (i, t) in rows],
            "doc_id long, text string, lang string, source string,"
            " n_chars long",
        )
        df.write.mode("overwrite").parquet(f"{path}/documents.parquet")

    def test_cohort_ltv_accumulates_per_cohort(self, spark, tmp_path):
        from fintech_lakehouse_spark.plans.analytics import cohort_ltv_curve

        import pyspark.sql.functions as SF

        # explicit custkeys: cust 1 orders in Jan AND Feb, cust 2 in
        # Jan only, cust 3 first appears in Feb
        df = spark.createDataFrame(
            [
                (1, 1, "O", 10.0, "1996-01-05"),
                (2, 2, "O", 10.0, "1996-01-20"),
                (3, 1, "O", 30.0, "1996-02-10"),
                (4, 3, "O", 40.0, "1996-02-15"),
            ],
            "o_orderkey long, o_custkey long, o_orderstatus string,"
            " o_totalprice double, _d string",
        ).select(
            "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
            SF.to_timestamp("_d").alias("o_orderdate"),
            SF.lit("1-URGENT").alias("o_orderpriority"),
        )
        df.write.mode("overwrite").parquet(f"{tmp_path}/ltv/orders.parquet")
        out = {
            (str(r["cohort_month"]), r["age_months"]): r
            for r in cohort_ltv_curve(spark, str(tmp_path / "ltv")).collect()
        }
        jan0 = out[("1996-01-01", 0)]
        assert jan0["n_active"] == 2 and jan0["cohort_size"] == 2
        assert jan0["cum_revenue_cents"] == 2000
        assert jan0["ltv_per_customer_cents"] == 1000
        jan1 = out[("1996-01-01", 1)]
        assert jan1["n_active"] == 1 and jan1["cohort_size"] == 2
        assert jan1["cum_revenue_cents"] == 5000
        assert jan1["ltv_per_customer_cents"] == 2500
        feb0 = out[("1996-02-01", 0)]
        assert feb0["cohort_size"] == 1
        assert feb0["cum_revenue_cents"] == 4000

    def test_autocorrelation_alternating_series(self, spark, tmp_path):
        from fintech_lakehouse_spark.plans.analytics import (
            daily_order_autocorrelation,
        )

        # day i carries 1 order (even) or 3 orders (odd): x_{t+1} is an
        # affine function of x_t with negative slope -> acf(1) = -1.0
        # exactly; acf(2) = +1.0 exactly. Odd lags -1, even lags +1.
        rows, k = [], 0
        for day in range(1, 29):
            n = 1 if day % 2 == 0 else 3
            for _ in range(n):
                rows.append((k, f"1996-03-{day:02d}", 100.0))
                k += 1
        TestR7S2AnalyticsSemantics._write_orders(spark, tmp_path / "acf", rows)
        out = {
            r["lag_days"]: r
            for r in daily_order_autocorrelation(
                spark, str(tmp_path / "acf")
            ).collect()
        }
        assert out[1]["acf"] == -1.0 and out[3]["acf"] == -1.0
        assert out[2]["acf"] == 1.0 and out[4]["acf"] == 1.0
        assert out[1]["n_pairs"] == 27

    def test_drawdown_tracks_running_peak(self, spark, tmp_path):
        from fintech_lakehouse_spark.plans.analytics import (
            revenue_peak_drawdown,
        )

        rows = [
            (0, "1996-04-01", 100.0),
            (1, "1996-04-02", 50.0),   # dd 5000 cents vs peak 10000
            (2, "1996-04-03", 200.0),  # new peak, dd 0
            (3, "1996-04-04", 120.0),  # dd 8000 cents vs peak 20000
        ]
        TestR7S2AnalyticsSemantics._write_orders(spark, tmp_path / "dd", rows)
        out = revenue_peak_drawdown(spark, str(tmp_path / "dd")).collect()
        assert [r["drawdown_cents"] for r in out] == [8000, 5000, 0, 0]
        top = out[0]
        assert top["peak_cents"] == 20000 and top["revenue_cents"] == 12000
        assert top["drawdown_ppm"] == 400_000  # 8000/20000 floor-div ppm

    def test_rapid_repeat_purchase_gaps(self, spark, tmp_path):
        from fintech_lakehouse_spark.plans.events import (
            rapid_repeat_purchases,
        )

        rows = [
            (0, "2024-01-01 10:00:00", 1, "purchase"),
            (1, "2024-01-01 10:00:05", 1, "purchase"),  # 5 s gap
            (2, "2024-01-01 11:00:05", 1, "purchase"),  # 1 h gap
            (3, "2024-01-01 10:00:00", 2, "purchase"),  # singleton: drop
            (4, "2024-01-01 10:00:00", 3, "purchase"),
            (5, "2024-01-01 13:00:00", 3, "purchase"),  # 3 h gap: no flag
            (6, "2024-01-01 10:00:01", 1, "click"),     # wrong type: inert
        ]
        self._write_events(spark, tmp_path / "rapid", rows)
        out = {
            r["user_id"]: r
            for r in rapid_repeat_purchases(
                spark, str(tmp_path / "rapid")
            ).collect()
        }
        assert set(out) == {1, 3}
        u1 = out[1]
        assert u1["n_purchases"] == 3
        assert u1["min_gap_ms"] == 5000
        assert u1["n_rapid_2h"] == 2
        assert u1["review_flag"] is True
        u3 = out[3]
        assert u3["min_gap_ms"] == 3 * 3600 * 1000
        assert u3["n_rapid_2h"] == 0
        assert u3["review_flag"] is False

    def test_vocab_growth_one_new_type_per_doc(self, spark, tmp_path):
        from fintech_lakehouse_spark.plans.text import vocab_growth_curve

        # 8 docs, each contributing exactly ONE never-seen bigram and
        # 2 tokens -> at checkpoint k: k docs, 2k tokens, k types,
        # ttr = 500000 ppm everywhere
        docs = [(i, f"w{i}a w{i}b") for i in range(8)]
        self._write_documents(spark, tmp_path / "heaps", docs)
        out = vocab_growth_curve(spark, str(tmp_path / "heaps")).collect()
        assert len(out) == 8
        for r in out:
            k = r["prefix_eighth"]
            assert r["n_docs"] == k
            assert r["n_tokens"] == 2 * k
            assert r["vocab_size"] == k
            assert r["type_token_ppm"] == 500_000

    def test_session_paths_order_and_boundaries(self, spark, tmp_path):
        from fintech_lakehouse_spark.plans.events import top_session_paths

        rows = [
            (0, "2024-01-01 10:00:00", 1, "click"),
            (1, "2024-01-01 10:10:00", 1, "view"),      # same session
            (2, "2024-01-01 13:00:00", 1, "purchase"),  # new session
            (3, "2024-01-02 09:00:00", 2, "click"),
            (4, "2024-01-02 09:05:00", 2, "view"),
        ]
        self._write_events(spark, tmp_path / "paths", rows)
        out = {
            r["path"]: r
            for r in top_session_paths(spark, str(tmp_path / "paths")).collect()
        }
        assert out["click>view"]["n_sessions"] == 2
        assert out["click>view"]["n_users"] == 2
        assert out["click>view"]["path_len"] == 2
        assert out["purchase"]["n_sessions"] == 1

    def test_nearest_centroid_separable_labels(self, spark, tmp_path):
        from fintech_lakehouse_spark.plans.vectors import (
            KM_DIM,
            nearest_centroid_accuracy,
        )

        rows = []
        for i in range(10):
            v = [0.0] * KM_DIM
            v[0] = 0.9 + 0.001 * i
            rows.append((i, v, 0))
        for i in range(10, 20):
            v = [0.0] * KM_DIM
            v[0] = -0.9 - 0.001 * i
            rows.append((i, v, 1))
        spark.createDataFrame(
            rows, "vec_id long, embedding array<float>, label int"
        ).write.mode("overwrite").parquet(f"{tmp_path}/ncc/embeddings.parquet")
        out = nearest_centroid_accuracy(spark, str(tmp_path / "ncc")).collect()
        cells = {(r["label"], r["predicted"]): r for r in out}
        assert set(cells) == {(0, 0), (1, 1)}  # perfect diagonal
        for r in cells.values():
            assert r["n_vectors"] == 10
            assert r["cell_correct_ppm"] == 1_000_000

    def test_ann_recall_consistent_with_subqueries(self, spark, sf_dir):
        from fintech_lakehouse_spark.plans.vectors import (
            ann_recall_eval,
            ivf_approx_neighbors,
            knn_bruteforce_cosine,
        )

        exact = {}
        for r in knn_bruteforce_cosine(spark, sf_dir).collect():
            exact.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        approx = {}
        for r in ivf_approx_neighbors(spark, sf_dir).collect():
            approx.setdefault(r["query_id"], set()).add(r["vec_id"])
        out = ann_recall_eval(spark, sf_dir).collect()
        assert len(out) == len(exact) == 10
        for r in out:
            hits = len(exact[r["query_id"]] & approx.get(r["query_id"], set()))
            assert r["n_exact"] == 5
            assert r["n_hit"] == hits
            assert r["recall_ppm"] == hits * 1_000_000 // 5


class TestR7S3PrivacyGraph:
    def test_l_diversity_homogeneous_groups_flagged(self, spark, tmp_path):
        from fintech_lakehouse_spark.plans.quality import l_diversity_audit

        # nation 1 / one bucket: 4 customers ALL in segment A (div 1);
        # nation 2: 3 customers across 2 segments (div 2);
        # nation 3: 5 customers across 5 segments (div 5)
        rows = []
        cid = 0
        for _ in range(4):
            rows.append((cid, f"c{cid}", 1, 100.0, "AUTOMOBILE")); cid += 1
        for seg in ["AUTOMOBILE", "BUILDING", "BUILDING"]:
            rows.append((cid, f"c{cid}", 2, 100.0, seg)); cid += 1
        for seg in ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                    "MACHINERY"]:
            rows.append((cid, f"c{cid}", 3, 100.0, seg)); cid += 1
        spark.createDataFrame(
            rows,
            "c_custkey long, c_name string, c_nationkey int,"
            " c_acctbal double, c_mktsegment string",
        ).write.mode("overwrite").parquet(f"{tmp_path}/ldiv/customer.parquet")
        out = {
            r["l"]: r
            for r in l_diversity_audit(spark, str(tmp_path / "ldiv")).collect()
        }
        # l=2: only the homogeneous nation-1 group is below
        assert out[2]["n_low_div_groups"] == 1
        assert out[2]["n_exposed_customers"] == 4
        assert out[2]["exposed_ppm"] == 4 * 1_000_000 // 12
        # l=3: nation-1 (div 1) and nation-2 (div 2) are below
        assert out[3]["n_low_div_groups"] == 2
        assert out[3]["n_exposed_customers"] == 7
        # l=5: nation-3 (div 5) still satisfies 5-diversity
        assert out[5]["n_low_div_groups"] == 2
        assert out[5]["n_groups_total"] == 3

    def test_kcore_matches_python_peeling(self, spark, sf_dir):
        from collections import defaultdict

        from fintech_lakehouse_spark.plans.curation import (
            KCORE_K,
            dup_graph_kcore,
        )
        from fintech_lakehouse_spark.plans.curation import (
            winnowing_candidate_pairs,
        )

        adj = defaultdict(set)
        for r in winnowing_candidate_pairs(spark, sf_dir).collect():
            adj[r["doc_a"]].add(r["doc_b"])
            adj[r["doc_b"]].add(r["doc_a"])
        nodes = set(adj)
        while True:
            drop = {
                n for n in nodes
                if sum(1 for m in adj[n] if m in nodes) < KCORE_K
            }
            if not drop:
                break
            nodes -= drop
        expected = {
            n: sum(1 for m in adj[n] if m in nodes) for n in nodes
        }
        out = dup_graph_kcore(spark, sf_dir).collect()
        got = {r["doc_id"]: r["core_degree"] for r in out}
        assert got == expected and len(expected) > 0
        assert all(r["converged"] for r in out)


class TestNearestJoin:
    def _run(self, spark, left_rows, right_rows):
        from fintech_lakehouse_spark.operators import nearest_join

        left = spark.createDataFrame(left_rows, "k string, t long, lid long")
        right = spark.createDataFrame(right_rows, "k string, t long, rid long")
        return {
            (r["k"], r["lid"]): (r["rid_nearest"], r["t_nearest"])
            for r in nearest_join(
                left, right, on=["k"], left_time="t", right_time="t"
            ).collect()
        }

    def test_picks_closer_side_and_ties_prefer_earlier(self, spark):
        got = self._run(
            spark,
            [("a", 100, 1), ("b", 100, 2), ("c", 100, 3)],
            [
                ("a", 90, 10), ("a", 105, 11),   # forward closer
                ("b", 95, 20), ("b", 105, 21),   # tie -> earlier wins
                ("c", 100, 30), ("c", 101, 31),  # exact match: delta 0
            ],
        )
        assert got[("a", 1)] == (11, 105)
        assert got[("b", 2)] == (20, 95)
        assert got[("c", 3)] == (30, 100)

    def test_null_axes_and_unmatched(self, spark):
        got = self._run(
            spark,
            [("a", 100, 1), ("z", 100, 2), (None, 100, 3)],
            [
                ("a", 50, 10),
                (None, 100, 99),   # null-key right: never matches
            ],
        )
        assert got[("a", 1)] == (10, 50)       # only backward exists
        assert got[("z", 2)] == (None, None)   # no rights for key
        assert got[(None, 3)] == (None, None)  # null-key left flows through

    def test_equal_time_rights_dedup_max(self, spark):
        got = self._run(
            spark,
            [("a", 100, 1)],
            [("a", 99, 10), ("a", 99, 12)],  # tied rights reduce via max
        )
        assert got[("a", 1)] == (12, 99)

    def test_reserved_internal_names_fail_fast(self, spark):
        """Inputs carrying the operator's internal column names (_t,
        _stream, ..., _l_<col>) must raise at entry instead of
        silently corrupting the union-stream window (advice r7)."""
        import pytest

        from fintech_lakehouse_spark.operators import nearest_join

        ok = spark.createDataFrame([("a", 1, 2)], "k string, t long, v long")
        for bad_name in ("_t", "_stream", "_r_vals", "_chosen", "_l_v"):
            bad = spark.createDataFrame(
                [("a", 1, 2)], f"k string, t long, `{bad_name}` long"
            )
            with pytest.raises(ValueError, match="reserved"):
                nearest_join(bad, ok, on=["k"], left_time="t", right_time="t")
            with pytest.raises(ValueError, match="reserved"):
                nearest_join(ok, bad, on=["k"], left_time="t", right_time="t")


def test_pareto_coverage_hand_distribution(spark, tmp_path):
    from fintech_lakehouse_spark.plans.analytics import (
        revenue_pareto_coverage,
    )

    rows = [
        (0, "1996-06-01", 70.0),
        (1, "1996-06-01", 20.0),
        (2, "1996-06-01", 9.0),
        (3, "1996-06-01", 1.0),
    ]
    TestR7S2AnalyticsSemantics._write_orders(
        spark, tmp_path / "pareto", rows, custkey_from_id=True
    )
    out = {
        r["threshold_pct"]: r
        for r in revenue_pareto_coverage(spark, str(tmp_path / "pareto")).collect()
    }
    assert out[50]["n_customers"] == 1
    assert out[50]["revenue_share_ppm"] == 700_000
    assert out[50]["customer_share_ppm"] == 250_000
    assert out[80]["n_customers"] == 2
    assert out[80]["revenue_share_ppm"] == 900_000
    assert out[90]["n_customers"] == 2  # 90 exactly covered by top 2
    assert out[99]["n_customers"] == 3  # 99 needs the third customer


def test_signup_conversion_latency_hand_timeline(spark, tmp_path):
    from fintech_lakehouse_spark.plans.events import (
        signup_conversion_latency,
    )

    rows = [
        # user 1: signup at 10:00, purchases 09:00 (before! ignored)
        # and 10:30 -> latency 1800 s
        (0, "2024-01-01 09:00:00", 1, "purchase"),
        (1, "2024-01-01 10:00:00", 1, "signup"),
        (2, "2024-01-01 10:30:00", 1, "purchase"),
        # user 2: signup, converts 2 days later -> 172800 s, not <=1d
        (3, "2024-01-01 00:00:00", 2, "signup"),
        (4, "2024-01-03 00:00:00", 2, "purchase"),
        # user 3: signup, never purchases
        (5, "2024-01-01 00:00:00", 3, "signup"),
        # user 4: purchases only (no signup) -> not a signup row
        (6, "2024-01-01 00:00:00", 4, "purchase"),
    ]
    TestR7S3Semantics._write_events(spark, tmp_path / "conv", rows)
    (out,) = signup_conversion_latency(spark, str(tmp_path / "conv")).collect()
    assert out["n_signups"] == 3
    assert out["n_converted"] == 2
    assert out["conversion_ppm"] == 666_666
    # exact latencies 1800 s and 172800 s -> p50 interpolates midpoint
    assert out["p50_latency_s"] == (1800 + 172800) // 2
    assert out["p90_latency_s"] == 1800 + (172800 - 1800) * 9 // 10
    assert out["within_1d_ppm"] == 500_000


class TestBucketedMinGap:
    def _model(self, rows, rapid):
        from collections import defaultdict

        per = defaultdict(list)
        for k, us in rows:
            per[k].append(us)
        out = {}
        for k, v in per.items():
            v.sort()
            gaps = [b - a for a, b in zip(v, v[1:])]
            out[k] = (
                len(v),
                min(gaps) if gaps else None,
                sum(1 for g in gaps if g <= rapid),
            )
        return out

    @pytest.mark.parametrize("seed", [0, 1, 2])
    def test_equals_python_model_random(self, spark, seed):
        import random

        from fintech_lakehouse_spark.operators.skew import bucketed_min_gap

        rng = random.Random(seed)
        rows = [
            (rng.randrange(5), rng.randrange(0, 10_000_000))
            for _ in range(400)
        ]
        df = spark.createDataFrame(rows, "k long, us long")
        got = {
            r["k"]: (r["n_events"], r["min_gap_us"], r["n_rapid"])
            for r in bucketed_min_gap(
                df, "k", "us", bucket_us=250_000, rapid_us=1000
            ).collect()
        }
        assert got == self._model(rows, 1000)

    def test_equals_exact_lag_profile_on_lake(self, spark, sf_dir):
        import pyspark.sql.functions as F

        from fintech_lakehouse_spark.operators.skew import bucketed_min_gap
        from fintech_lakehouse_spark.plans.events import (
            RAPID_GAP_US,
            purchase_gap_profile,
        )
        from fintech_lakehouse_spark.sources.readers import load_table

        events = load_table(spark, sf_dir, "events")
        purchases = events.filter(F.col("event_type") == "purchase").select(
            "user_id",
            F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
        )
        got = {
            r["user_id"]: (r["n_events"], r["min_gap_us"] // 1000, r["n_rapid"])
            for r in bucketed_min_gap(
                purchases, "user_id", "us", rapid_us=RAPID_GAP_US
            ).collect()
            if r["min_gap_us"] is not None
        }
        exact = {
            r["user_id"]: (r["n_purchases"], r["min_gap_ms"], r["n_rapid_2h"])
            for r in purchase_gap_profile(events).collect()
        }
        assert got == exact and len(exact) > 0


def test_conversion_latency_percentile_floor_cross_engine(spark, tmp_path):
    """r7s3 review finding #1 (live-reproduced): a fractional
    interpolated percentile straddling a whole microsecond flipped the
    cross-engine hash — Spark CAST(double AS BIGINT) truncates, DuckDB
    CAST rounds half-away. Both sides must FLOOR explicitly. Fixture:
    latencies 1,000,000 and 2,999,999 µs → raw p50 = 1,999,999.5."""
    import duckdb

    from fintech_lakehouse_spark.plans.events import (
        signup_conversion_latency,
    )
    from fintech_lakehouse_spark.plans.registry import ORACLES

    rows = [
        (0, "2024-01-01 00:00:00", 1, "signup"),
        (1, "2024-01-01 00:00:01", 1, "purchase"),          # 1,000,000 us
        (2, "2024-01-01 00:00:00", 2, "signup"),
        (3, "2024-01-01 00:00:02.999999", 2, "purchase"),   # 2,999,999 us
    ]
    TestR7S3Semantics._write_events(spark, tmp_path / "pctl", rows)
    (got,) = signup_conversion_latency(spark, str(tmp_path / "pctl")).collect()
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"'{tmp_path}/pctl/events.parquet/*.parquet'"
    )
    oracle = con.sql(ORACLES["signup_conversion_latency"]).df().iloc[0]
    assert got["p50_latency_s"] == int(oracle["p50_latency_s"]) == 1
    assert got["p90_latency_s"] == int(oracle["p90_latency_s"])


def test_chi2_independence_planted_association(spark, tmp_path):
    """Perfectly DEPENDENT table -> diagonal cells flagged with the
    exact expected values; perfectly INDEPENDENT uniform table -> zero
    contributions, no flags."""
    import pyspark.sql.functions as SF

    from fintech_lakehouse_spark.plans.analytics import (
        segment_priority_independence,
    )

    def write(path, rows):
        spark.createDataFrame(
            [(i, c, "O", 100.0, "1996-06-01", p) for i, (c, p) in enumerate(rows)],
            "o_orderkey long, o_custkey long, o_orderstatus string,"
            " o_totalprice double, _d string, o_orderpriority string",
        ).select(
            "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
            SF.to_timestamp("_d").alias("o_orderdate"), "o_orderpriority",
        ).write.mode("overwrite").parquet(f"{path}/orders.parquet")
        custs = sorted({c for c, _ in rows})
        spark.createDataFrame(
            [(c, f"c{c}", 1, 0.0, "AUTOMOBILE" if c < 100 else "BUILDING")
             for c in custs],
            "c_custkey long, c_name string, c_nationkey int,"
            " c_acctbal double, c_mktsegment string",
        ).write.mode("overwrite").parquet(f"{path}/customer.parquet")

    # dependent: AUTOMOBILE customers (ids <100) always 1-URGENT,
    # BUILDING always 5-LOW; 50 orders each
    dep = [(i % 50, "1-URGENT") for i in range(50)] + [
        (100 + i % 50, "5-LOW") for i in range(50)
    ]
    write(tmp_path / "dep", dep)
    out = {
        (r["segment"], r["priority"]): r
        for r in segment_priority_independence(
            spark, str(tmp_path / "dep")
        ).collect()
    }
    diag = out[("AUTOMOBILE", "1-URGENT")]
    # E = 50*50/100 = 25 -> expected_milli 25000; (O-E)^2/E = 25
    assert diag["expected_milli"] == 25_000
    assert diag["chi2_contribution"] == 25.0
    assert diag["residual_flag"] is True  # |50-25| = 25 > 3*sqrt(25)
    # independent: every (cust-segment, priority) combination equally
    ind = [
        (c, p)
        for c in (0, 100)
        for p in ("1-URGENT", "5-LOW")
        for _ in range(25)
    ]
    write(tmp_path / "ind", ind)
    for r in segment_priority_independence(
        spark, str(tmp_path / "ind")
    ).collect():
        assert r["chi2_contribution"] == 0.0
        assert r["residual_flag"] is False
        assert r["n_observed"] * 1000 == r["expected_milli"]


def test_neyman_allocation_zero_variance_stratum(spark, tmp_path):
    """A zero-variance stratum needs NO sample under Neyman allocation
    (its mean is known exactly from one row); the whole budget goes to
    the varying stratum."""
    import pyspark.sql.functions as SF

    from fintech_lakehouse_spark.plans.sampling import (
        NEYMAN_BUDGET,
        stratified_allocation_plan,
    )

    rows = [
        (0, "1-URGENT", 100.0), (1, "1-URGENT", 300.0),  # varying
        (2, "5-LOW", 200.0), (3, "5-LOW", 200.0),        # constant
    ]
    spark.createDataFrame(
        [(i, 1, "O", v, "1996-06-01", p) for i, p, v in rows],
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, _d string, o_orderpriority string",
    ).select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        SF.to_timestamp("_d").alias("o_orderdate"), "o_orderpriority",
    ).write.mode("overwrite").parquet(f"{tmp_path}/ney/orders.parquet")
    out = {
        r["stratum"]: r
        for r in stratified_allocation_plan(spark, str(tmp_path / "ney")).collect()
    }
    assert out["1-URGENT"]["neyman_share"] == 1.0
    assert out["1-URGENT"]["allocated_rows"] == NEYMAN_BUDGET
    assert out["5-LOW"]["neyman_share"] == 0.0
    assert out["5-LOW"]["allocated_rows"] == 0
    # the full budget is always spent (largest-remainder top-up)
    assert sum(r["allocated_rows"] for r in out.values()) == NEYMAN_BUDGET


def test_neyman_allocation_spends_budget_and_degenerate_null(
    spark, tmp_path
):
    import pyspark.sql.functions as SF

    from fintech_lakehouse_spark.plans.sampling import (
        NEYMAN_BUDGET,
        stratified_allocation_plan,
    )

    def write(path, rows):
        spark.createDataFrame(
            [(i, 1, "O", v, "1996-06-01", p) for i, (p, v) in enumerate(rows)],
            "o_orderkey long, o_custkey long, o_orderstatus string,"
            " o_totalprice double, _d string, o_orderpriority string",
        ).select(
            "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
            SF.to_timestamp("_d").alias("o_orderdate"), "o_orderpriority",
        ).write.mode("overwrite").parquet(f"{path}/orders.parquet")

    # three equal-weight strata: 1000/3 floors to 333 each — the
    # remainder row must be topped up so the budget is spent exactly
    rows = [
        (p, v)
        for p in ("1-URGENT", "3-MEDIUM", "5-LOW")
        for v in (100.0, 300.0)
    ]
    write(tmp_path / "eq", rows)
    out = stratified_allocation_plan(spark, str(tmp_path / "eq")).collect()
    assert sum(r["allocated_rows"] for r in out) == NEYMAN_BUDGET
    assert sorted(r["allocated_rows"] for r in out) == [333, 333, 334]
    # degenerate: every stratum constant -> NULL shares/allocations
    # (never a NaN crash/divergence)
    write(tmp_path / "deg", [("1-URGENT", 100.0), ("5-LOW", 200.0)])
    for r in stratified_allocation_plan(spark, str(tmp_path / "deg")).collect():
        assert r["neyman_share"] is None
        assert r["allocated_rows"] is None


def test_fano_burstiness_constant_vs_bursty(spark, tmp_path):
    """Constant hourly arrivals -> Fano 0; a spiky series -> the
    hand-computed overdispersed Fano."""
    from fintech_lakehouse_spark.plans.events import (
        event_burstiness_profile,
    )

    rows, eid = [], 0
    # 'view': exactly 3 events in each of 5 hours -> variance 0
    for h in range(5):
        for _ in range(3):
            rows.append((eid, f"2024-01-01 {h:02d}:10:00", 1, "view"))
            eid += 1
    # 'click': hours [10,1,1,1,1] -> Fano = 324e6 DIV (5*14... ) hand:
    # n=5, S=14, Sxx=104 -> (5*104-196)*1e6 DIV (5*14) = 4628571
    counts = [10, 1, 1, 1, 1]
    for h, k in enumerate(counts):
        for _ in range(k):
            rows.append((eid, f"2024-01-02 {h:02d}:20:00", 2, "click"))
            eid += 1
    TestR7S3Semantics._write_events(spark, tmp_path / "fano", rows)
    out = {
        r["event_type"]: r
        for r in event_burstiness_profile(spark, str(tmp_path / "fano")).collect()
    }
    assert out["view"]["fano_ppm"] == 0
    assert out["view"]["overdispersed"] is False
    assert out["click"]["fano_ppm"] == (5 * 104 - 14 * 14) * 1_000_000 // (5 * 14)
    assert out["click"]["fano_ppm"] == 4_628_571
    assert out["click"]["overdispersed"] is True
    assert out["click"]["peak_hour_events"] == 10


def test_mp4_frame_table_consistent_with_summary_walk():
    """The per-frame expansion must agree with the summary walk on
    every synthesized parameterization: frame count, byte sum, and
    duration reconcile exactly."""
    from fintech_lakehouse_spark.functions.multimodal import (
        read_mp4_frame_table,
        read_mp4_sample_table,
        synthesize_mp4_sample_table,
    )

    for n, fps, base, uniform in [
        (24, 24, 400, True),
        (25, 25, 450, False),
        (119, 30, 499, False),
        (1, 24, 400, False),
    ]:
        p = synthesize_mp4_sample_table(
            n_samples=n, fps=fps, base_sample_bytes=base, uniform=uniform
        )
        n_s, dur, nbytes, ts_s = read_mp4_sample_table(p)
        ts, deltas, sizes = read_mp4_frame_table(p)
        assert ts == ts_s and len(deltas) == len(sizes) == n_s == n
        assert sum(sizes) == nbytes
        assert sum(deltas) // ts == dur


def test_priority_mix_drift_bounds(spark, tmp_path):
    """Identical mixes -> TVD 0; fully swapped mixes -> TVD 1e6 ppm
    (the same bounds pin the numeric monitor carries)."""
    import pyspark.sql.functions as SF

    from fintech_lakehouse_spark.plans.analytics import (
        priority_mix_drift_tvd,
    )

    def write(path, rows):
        spark.createDataFrame(
            [(i, 1, "O", 100.0, d, p) for i, (d, p) in enumerate(rows)],
            "o_orderkey long, o_custkey long, o_orderstatus string,"
            " o_totalprice double, _d string, o_orderpriority string",
        ).select(
            "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
            SF.to_timestamp("_d").alias("o_orderdate"), "o_orderpriority",
        ).write.mode("overwrite").parquet(f"{path}/orders.parquet")

    # identical mix before/after the 1998-01-01 split
    same = [(d, p) for d in ("1996-06-01", "1999-06-01")
            for p in ("1-URGENT", "5-LOW") for _ in range(10)]
    write(tmp_path / "same", same)
    rows = priority_mix_drift_tvd(spark, str(tmp_path / "same")).collect()
    assert len(rows) == 2
    assert all(r["tvd_ppm"] == 0 and r["drift_flag"] is False for r in rows)
    # disjoint: URGENT only before, LOW only after
    disj = [("1996-06-01", "1-URGENT")] * 10 + [("1999-06-01", "5-LOW")] * 10
    write(tmp_path / "disj", disj)
    rows = priority_mix_drift_tvd(spark, str(tmp_path / "disj")).collect()
    assert len(rows) == 2
    assert all(r["tvd_ppm"] == 1_000_000 and r["drift_flag"] is True
               for r in rows)


def test_isolation_anomaly_planted_outlier(spark, tmp_path):
    """A far-away (value, day) point isolates at a SHALLOW depth and
    ranks first; clustered points isolate deep; exact duplicates never
    isolate (sentinel depth)."""
    import pyspark.sql.functions as SF

    from fintech_lakehouse_spark.plans.analytics import (
        ISO_NOT_ISOLATED,
        order_isolation_anomalies,
    )

    # cluster keys start at 10 so the low-keyed duplicate pair (1, 2)
    # stays inside the top-20 on the sentinel-depth tie (wave-5
    # finding #2: with keys above the cluster the sentinel assertion
    # was dead code)
    rows = [(10 + i, "1996-06-01", 100.0 + i) for i in range(30)]
    rows.append((100, "2000-01-01", 400_000.0))   # joint outlier
    rows.append((1, "1996-06-01", 150.0))         # duplicate pair...
    rows.append((2, "1996-06-01", 150.0))         # ...same cell forever
    spark.createDataFrame(
        [(i, 1, "O", v, d, "1-URGENT") for i, d, v in rows],
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, _d string, o_orderpriority string",
    ).select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        SF.to_timestamp("_d").alias("o_orderdate"), "o_orderpriority",
    ).write.mode("overwrite").parquet(f"{tmp_path}/iso/orders.parquet")
    out = order_isolation_anomalies(spark, str(tmp_path / "iso")).collect()
    assert out[0]["o_orderkey"] == 100  # the planted outlier ranks first
    depths = {r["o_orderkey"]: r["iso_depth"] for r in out}
    assert depths[100] <= 8  # isolates shallow
    assert depths[100] < min(
        d for k, d in depths.items() if k != 100
    )
    # the duplicated (value, day) pair carries the sentinel — and IS
    # present in the top-20 (low keys win the depth tie-break)
    assert depths[1] == ISO_NOT_ISOLATED
    assert depths[2] == ISO_NOT_ISOLATED


class TestIterateEdges:
    """operators/graph.py::iterate_edges — the shared checkpointed
    iterative-graph runner (VERDICT r7 item 2). The load-bearing
    contract: the checkpointed form computes EXACTLY what the lazy
    unrolled loop computes, while keeping the static plan O(one step)
    instead of O(step^rounds)."""

    def _edges(self, spark):
        # path a-b-c-d plus a 4-clique e,f,g,h (undirected, both dirs)
        pairs = [("a", "b"), ("b", "c"), ("c", "d"),
                 ("e", "f"), ("e", "g"), ("e", "h"),
                 ("f", "g"), ("f", "h"), ("g", "h")]
        sym = pairs + [(b, a) for a, b in pairs]
        return spark.createDataFrame(sym, "src string, dst string")

    @staticmethod
    def _peel(e, _i):
        keep = (
            e.groupBy("src")
            .agg(F.count(F.lit(1)).alias("_deg"))
            .filter(F.col("_deg") >= 2)
            .select("src")
        )
        return e.join(keep, "src", "left_semi").join(
            keep.select(F.col("src").alias("dst")), "dst", "left_semi"
        )

    def test_checkpointed_equals_unrolled(self, spark):
        from fintech_lakehouse_spark.operators import iterate_edges

        edges = self._edges(spark)
        unrolled = edges
        for i in range(3):
            unrolled = self._peel(unrolled, i)
        got, n, stopped = iterate_edges(
            edges, self._peel, 3, checkpoint_input=True
        )
        assert n == 3 and not stopped
        assert sorted(map(tuple, got.collect())) == sorted(
            map(tuple, unrolled.collect())
        )
        # 2-core of the fixture = the 4-clique only (path peels away)
        verts = {r["src"] for r in got.collect()}
        assert verts == {"e", "f", "g", "h"}

    def test_plan_stays_flat_across_rounds(self, spark):
        """The whole point: the final plan after N rounds references
        ONE step over a checkpoint leaf, not the input subtree N-deep.
        Measured via optimized-plan length, which grows ~3x/round in
        the unrolled form."""
        from fintech_lakehouse_spark.operators import iterate_edges

        edges = self._edges(spark)
        plans = []
        for rounds in (2, 4):
            got, _, _ = iterate_edges(
                edges, self._peel, rounds, checkpoint_input=True
            )
            plans.append(
                got._jdf.queryExecution().optimizedPlan().toString()
            )
        # checkpoint leaf: no parquet/in-memory source survives, and
        # doubling the rounds must not grow the plan at all
        assert len(plans[1]) <= len(plans[0]) + 64
        unrolled = edges
        for i in range(4):
            unrolled = self._peel(unrolled, i)
        lazy_plan = unrolled._jdf.queryExecution().optimizedPlan().toString()
        assert len(lazy_plan) > 4 * len(plans[1])

    def test_stop_early_reports_rounds(self, spark):
        from fintech_lakehouse_spark.operators import iterate_edges

        edges = self._edges(spark)
        seen = []

        def step(e, i):
            seen.append(i)
            return self._peel(e, i)

        # fixture's 2-core stabilizes after round 1: stop when a round
        # removes nothing
        counts = []

        def stop(e):
            counts.append(e.count())
            return len(counts) >= 2 and counts[-1] == counts[-2]

        got, n, stopped = iterate_edges(
            edges, step, 10, checkpoint_input=True, stop=stop
        )
        assert stopped and n < 10 and seen == list(range(n))
        assert {r["src"] for r in got.collect()} == {"e", "f", "g", "h"}

    def test_zero_rounds_and_validation(self, spark):
        import pytest

        from fintech_lakehouse_spark.operators import iterate_edges

        edges = self._edges(spark)
        got, n, stopped = iterate_edges(edges, self._peel, 0)
        assert n == 0 and not stopped
        assert got.count() == edges.count()
        with pytest.raises(ValueError, match="rounds"):
            iterate_edges(edges, self._peel, -1)
        with pytest.raises(ValueError, match="checkpoint_every"):
            iterate_edges(edges, self._peel, 2, checkpoint_every=0)

    def test_checkpoint_every_batches_truncation(self, spark):
        from fintech_lakehouse_spark.operators import iterate_edges

        edges = self._edges(spark)
        got, n, stopped = iterate_edges(
            edges, self._peel, 3, checkpoint_every=2, checkpoint_input=True
        )
        assert n == 3 and not stopped
        assert {r["src"] for r in got.collect()} == {"e", "f", "g", "h"}


def test_last_touch_attribution_hand_timeline(spark, tmp_path):
    """Planted timeline pins the attribution semantics: a purchase
    credits the nearest PRECEDING non-purchase type; consecutive
    purchases share their last real touch (the frame excludes
    purchase rows); a purchase with no prior event credits
    'direct'."""
    import datetime as dt

    from fintech_lakehouse_spark.plans import QUERIES

    t0 = dt.datetime(2024, 1, 1)

    def ev(eid, uid, sec, etype, value):
        return (eid, t0 + dt.timedelta(seconds=sec), uid, etype, value, "{}")

    rows = [
        # u1: click → purchase(10) → purchase(20): both credit click
        ev(1, 1, 0, "click", 0.0),
        ev(2, 1, 10, "purchase", 10.0),
        ev(3, 1, 20, "purchase", 20.0),
        # u2: view → error → purchase: credits error (nearest)
        ev(4, 2, 0, "view", 0.0),
        ev(5, 2, 5, "error", 0.0),
        ev(6, 2, 9, "purchase", 5.5),
        # u3: purchase with no prior event: direct
        ev(7, 3, 0, "purchase", 7.25),
    ]
    sf = tmp_path / "attr_sf"
    sf.mkdir()
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).write.parquet(str(sf / "events.parquet"))
    got = {
        r["channel"]: (r["n_purchases"], r["attributed_cents"])
        for r in QUERIES["last_touch_attribution"](spark, str(sf)).collect()
    }
    assert got == {
        "click": (2, 3000),
        "error": (1, 550),
        "direct": (1, 725),
    }


def test_label_balance_ess_exact_math(spark, tmp_path):
    """ESS fixture math: perfectly balanced labels give ESS == k
    (balance 1e6 ppm); a dominated distribution gives the exact
    Kish value (Σn)²/Σn² in micro-units."""
    from fintech_lakehouse_spark.plans import QUERIES

    sf = tmp_path / "ess_sf"
    sf.mkdir()

    def table(counts):
        rows = [
            (i * 1000 + j, [0.0] * 4, lbl)
            for i, (lbl, n) in enumerate(counts)
            for j in range(n)
        ]
        spark.createDataFrame(
            rows, "vec_id long, embedding array<float>, label int"
        ).write.mode("overwrite").parquet(str(sf / "embeddings.parquet"))

    table([(0, 5), (1, 5), (2, 5)])  # balanced: ESS = 3
    (row,) = QUERIES["label_balance_ess"](spark, str(sf)).collect()
    assert row["n_labels"] == 3 and row["n_vectors"] == 15
    assert row["ess_labels_micro"] == 3_000_000
    assert row["balance_ppm"] == 1_000_000

    table([(0, 8), (1, 1), (2, 1)])  # dominated: 100²/66 = 151.51..
    (row,) = QUERIES["label_balance_ess"](spark, str(sf)).collect()
    assert row["ess_labels_micro"] == (10 * 10 * 1_000_000) // 66
    assert row["balance_ppm"] == (10 * 10 * 1_000_000) // (66 * 3)
    assert row["max_share_ppm"] == 800_000


def test_pq_distortion_matches_python_model(spark, tmp_path):
    """PQ encode replayed in pure Python: per-subspace argmin with
    centroid-id tie-break and the summed squared error must equal the
    Spark pipeline on a planted mini-corpus, including a vector placed
    EXACTLY on a centroid (sq_err contribution 0 for that subspace)."""
    from fintech_lakehouse_spark.plans import QUERIES
    from fintech_lakehouse_spark.plans._pq_codebook import (
        CODEBOOK,
        K,
        M,
        SUBDIM,
    )

    import random

    rng = random.Random(7)
    vecs = [[rng.uniform(-1, 1) for _ in range(M * SUBDIM)] for _ in range(5)]
    # vector 5: subspace 0 sits exactly on centroid 3
    on_centroid = [c / 1000.0 for c in CODEBOOK[0][3]] + [
        rng.uniform(-1, 1) for _ in range((M - 1) * SUBDIM)
    ]
    vecs.append(on_centroid)

    def encode(v):
        code, err = [], 0.0
        for s in range(M):
            best = None
            for c in range(K):
                d = sum(
                    (v[s * SUBDIM + j] - CODEBOOK[s][c][j] / 1000.0) ** 2
                    for j in range(SUBDIM)
                )
                if best is None or (d, c) < best:
                    best = (d, c)
            code.append(best[1])
            err += best[0]
        return "-".join(map(str, code)), round(err, 6)

    sf = tmp_path / "pq_sf"
    sf.mkdir()
    spark.createDataFrame(
        [(i, [float(x) for x in v], 0) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>, label int",
    ).write.parquet(str(sf / "embeddings.parquet"))
    got = {
        r["vec_id"]: (r["pq_code"], r["sq_err"])
        for r in QUERIES["pq_quantization_distortion"](
            spark, str(sf)
        ).collect()
    }
    # the table stores float32: replay the model on the FLOAT32 values
    import struct as _struct

    def f32(x):
        return _struct.unpack("f", _struct.pack("f", x))[0]

    for i, v in enumerate(vecs):
        code, err = encode([f32(x) for x in v])
        assert got[i][0] == code, (i, got[i], code)
        assert abs(got[i][1] - err) < 1e-9, (i, got[i], err)
    # the planted vector's subspace-0 symbol is centroid 3
    assert got[5][0].split("-")[0] == "3"


def test_pq_adc_consistency_with_encode(spark, sf_dir):
    """The ADC distance must equal the exact L2 distance from the
    query to the DECODED corpus vector — replayed in Python from the
    encode query's codes on a sampled overlap (the relationship pin,
    the ann_recall_eval pattern)."""
    from fintech_lakehouse_spark.plans import QUERIES
    from fintech_lakehouse_spark.plans._pq_codebook import (
        CODEBOOK,
        M,
        SUBDIM,
    )

    codes = {
        r["vec_id"]: [int(c) for c in r["pq_code"].split("-")]
        for r in QUERIES["pq_quantization_distortion"](
            spark, sf_dir
        ).collect()
    }
    emb = {
        r["vec_id"]: [float(x) for x in r["embedding"]]
        for r in __import__(
            "fintech_lakehouse_spark.sources.readers",
            fromlist=["load_table"],
        ).load_table(spark, sf_dir, "embeddings").collect()
    }
    rows = QUERIES["pq_adc_topk"](spark, sf_dir).collect()
    assert len(rows) == 15  # 3 queries x top-5
    for r in rows:
        q = emb[r["query_id"]]
        code = codes[r["vec_id"]]
        adc = sum(
            (q[s * SUBDIM + j] - CODEBOOK[s][code[s]][j] / 1000.0) ** 2
            for s in range(M)
            for j in range(SUBDIM)
        )
        assert abs(r["adc_dist_sq"] - round(adc, 6)) < 1e-6, (r, adc)
    # ranking sanity: per query the adc distances are non-decreasing
    from collections import defaultdict

    per_q = defaultdict(list)
    for r in rows:
        per_q[r["query_id"]].append(r["adc_dist_sq"])
    assert all(v == sorted(v) for v in per_q.values())


def test_kmeans_checkpointed_equals_lazy(spark, sf_dir):
    """Lloyd via iterate_edges (centroid leaf per iteration — one
    corpus scan each) must produce EXACTLY the lazy unroll's centroids
    at a deeper-than-registry iteration count: the strategy is an
    execution choice, never a semantics one."""
    from fintech_lakehouse_spark.plans.vectors import kmeans_lloyd_train

    def rows(df):
        return sorted(
            (r["cid"], tuple(r["c"])) for r in df.collect()
        )

    lazy = rows(kmeans_lloyd_train(spark, sf_dir, iterations=4))
    ckpt_df = kmeans_lloyd_train(spark, sf_dir, iterations=4, checkpoint=True)
    assert rows(ckpt_df) == lazy
    # checkpointed form: the final plan reads a leaf, not parquet
    plan = ckpt_df._jdf.queryExecution().executedPlan().toString()
    assert "Scan parquet" not in plan.split("== Initial Plan ==")[0]


class TestBucketedFillForward:
    """operators/skew.py::bucketed_fill_forward — the two-phase carry
    must EQUAL the exact last-non-null window on randomized frames,
    including an all-one-key hot frame, for both frame variants."""

    def _frame(self, spark, n_keys, n_rows, seed):
        import random

        rng = random.Random(seed)
        ts = rng.sample(range(1, 500_000), n_rows)  # unique times
        rows = [
            (
                rng.randrange(n_keys),
                t,
                None if rng.random() < 0.4 else f"v{rng.randrange(5)}",
            )
            for t in ts
        ]
        return spark.createDataFrame(rows, "k int, t long, v string")

    def _exact(self, df, include_current):
        from pyspark.sql.window import Window as W

        w = (
            W.partitionBy("k")
            .orderBy("t")
            .rowsBetween(W.unboundedPreceding, 0 if include_current else -1)
        )
        return df.withColumn(
            "v_ffill", F.last("v", ignorenulls=True).over(w)
        )

    @staticmethod
    def _rows(df):
        return sorted(
            (r["k"], r["t"], r["v"], r["v_ffill"]) for r in df.collect()
        )

    def test_equals_exact_window_random(self, spark):
        from fintech_lakehouse_spark.operators.skew import (
            bucketed_fill_forward,
        )

        for seed in (1, 2):
            for inc in (True, False):
                df = self._frame(spark, n_keys=7, n_rows=400, seed=seed)
                got = bucketed_fill_forward(
                    df, "k", "t", "v", bucket_us=10_000,
                    include_current=inc,
                )
                assert self._rows(got) == self._rows(
                    self._exact(df, inc)
                ), (seed, inc)

    def test_hot_key_and_tiny_buckets(self, spark):
        """One key holding every row (the skew case the operator
        exists for) with buckets small enough that most are empty or
        single-row — the cross-bucket carry does the work."""
        from fintech_lakehouse_spark.operators.skew import (
            bucketed_fill_forward,
        )

        df = self._frame(spark, n_keys=1, n_rows=300, seed=3)
        got = bucketed_fill_forward(df, "k", "t", "v", bucket_us=100)
        assert self._rows(got) == self._rows(self._exact(df, True))

    def test_null_keys_and_null_time_kept(self, spark):
        """ADVICE r8: the carry join must be NULL-SAFE — the exact
        window groups NULL keys into one partition (and a NULL time
        sorts first), so null-key/null-time rows must survive with the
        same fill, not silently drop through an inner equi-join."""
        from fintech_lakehouse_spark.operators.skew import (
            bucketed_fill_forward,
        )

        rows = [
            (None, 10, "a"), (None, 25, None), (None, 40, "b"),
            (1, None, "seed"), (1, 5, None), (1, 30, "x"), (1, 55, None),
            (2, 7, None), (2, 90, "z"),
        ]
        df = spark.createDataFrame(rows, "k int, t long, v string")
        for inc in (True, False):
            got = bucketed_fill_forward(
                df, "k", "t", "v", bucket_us=20, include_current=inc
            )
            assert got.count() == len(rows), inc  # no rows dropped
            key = lambda r: (
                r[0] is None, r[0] or 0, r[1] is None, r[1] or 0
            )
            ext = lambda d: sorted(
                ((r["k"], r["t"], r["v"], r["v_ffill"]) for r in d.collect()),
                key=key,
            )
            assert ext(got) == ext(self._exact(df, inc)), inc

    def test_reserved_and_output_collisions(self, spark):
        import pytest

        from fintech_lakehouse_spark.operators.skew import (
            bucketed_fill_forward,
        )

        df = spark.createDataFrame([(1, 1, "a")], "k int, t long, v string")
        bad = df.withColumn("_carry", F.lit(1))
        with pytest.raises(ValueError, match="collide"):
            bucketed_fill_forward(bad, "k", "t", "v")
        bad2 = df.withColumn("v_ffill", F.lit(1))
        with pytest.raises(ValueError, match="collide"):
            bucketed_fill_forward(bad2, "k", "t", "v")

    def test_matches_attribution_channels(self, spark, sf_dir):
        """Tie to the registry: rebuilding last_touch_attribution's
        channel column with the bucketed operator (strictly-before
        frame over a (ts, event_id)-unique time axis) reproduces the
        exact query's per-channel totals."""
        from fintech_lakehouse_spark.plans import QUERIES
        from fintech_lakehouse_spark.operators.skew import (
            bucketed_fill_forward,
        )
        from fintech_lakehouse_spark.sources.readers import load_table

        events = load_table(spark, sf_dir, "events")
        # unique numeric order axis: epoch micros * 2^20 + event_id
        df = events.select(
            "user_id",
            "event_type",
            "value",
            # millis * 2^20 + event_id stays inside int64 (micros
            # would overflow); the lake's ts is second-granularity so
            # millis preserves the (ts, event_id) total order
            (
                F.unix_millis(F.col("ts").cast("timestamp")) * 1048576
                + F.col("event_id")
            ).alias("tkey"),
            F.when(
                F.col("event_type") != "purchase", F.col("event_type")
            ).alias("touch"),
        )
        filled = bucketed_fill_forward(
            df, "user_id", "tkey", "touch",
            bucket_us=3_600_000_000 * 1048576,
            include_current=False,
        )
        got = {
            r["channel"]: (r["n"], r["cents"])
            for r in filled.filter(F.col("event_type") == "purchase")
            .groupBy(
                F.coalesce(F.col("touch_ffill"), F.lit("direct")).alias(
                    "channel"
                )
            )
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(
                    F.expr(
                        "CAST(CAST(value AS DECIMAL(14,2)) * 100 AS BIGINT)"
                    )
                ).alias("cents"),
            )
            .collect()
        }
        expected = {
            r["channel"]: (r["n_purchases"], r["attributed_cents"])
            for r in QUERIES["last_touch_attribution"](
                spark, sf_dir
            ).collect()
        }
        assert got == expected


def test_peel_to_kcore_fixpoint(spark):
    """Convergence-driven k-core: a long chain feeding a 4-clique needs
    MANY peel rounds (each round only removes the current chain
    endpoints' degree-1 vertices), and the fixpoint must equal the
    pure-Python peel replay."""
    from fintech_lakehouse_spark.operators.graph import peel_to_kcore

    # chain 0-1-2-...-9 attached to a 4-clique {100,101,102,103}
    pairs = [(i, i + 1) for i in range(9)] + [(9, 100)]
    clique = [(100, 101), (100, 102), (100, 103),
              (101, 102), (101, 103), (102, 103)]
    pairs += clique
    sym = pairs + [(b, a) for a, b in pairs]
    edges = spark.createDataFrame(sym, "src long, dst long")
    out = peel_to_kcore(edges, 2)
    got = sorted(map(tuple, out.collect()))
    expected = sorted(clique + [(b, a) for a, b in clique])
    assert got == expected

    # python replay cross-check on the same fixture
    from collections import defaultdict

    adj = defaultdict(set)
    for a, b in pairs:
        adj[a].add(b)
        adj[b].add(a)
    nodes = set(adj)
    while True:
        drop = {n for n in nodes
                if sum(1 for m in adj[n] if m in nodes) < 2}
        if not drop:
            break
        nodes -= drop
    assert {a for a, _ in got} == nodes

    # k too high: everything peels to an EMPTY fixpoint, no raise
    assert peel_to_kcore(edges, 7).count() == 0

    import pytest

    with pytest.raises(ValueError, match="k must be"):
        peel_to_kcore(edges, 0)
    with pytest.raises(RuntimeError, match="did not converge"):
        peel_to_kcore(edges, 2, max_rounds=2)  # chain needs ~5 rounds


def test_first_vs_last_touch_divergence(spark, tmp_path):
    """The two attribution ends must DIVERGE on a view→error→purchase
    timeline: first-touch credits the acquisition event (view),
    last-touch the closing one (error); single-touch and no-touch
    users agree on both."""
    import datetime as dt

    from fintech_lakehouse_spark.plans import QUERIES

    t0 = dt.datetime(2024, 1, 1)

    def ev(eid, uid, sec, etype, value):
        return (eid, t0 + dt.timedelta(seconds=sec), uid, etype, value, "{}")

    rows = [
        ev(1, 2, 0, "view", 0.0),
        ev(2, 2, 5, "error", 0.0),
        ev(3, 2, 9, "purchase", 5.5),
        ev(4, 3, 0, "purchase", 7.25),  # no touch: direct on both
        ev(5, 4, 0, "click", 0.0),
        ev(6, 4, 2, "purchase", 1.0),   # single touch: same on both
    ]
    sf = tmp_path / "attr2_sf"
    sf.mkdir()
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).write.parquet(str(sf / "events.parquet"))

    def chans(name):
        return {
            r["channel"]: r["attributed_cents"]
            for r in QUERIES[name](spark, str(sf)).collect()
        }

    first = chans("first_touch_attribution")
    last = chans("last_touch_attribution")
    assert first == {"view": 550, "direct": 725, "click": 100}
    assert last == {"error": 550, "direct": 725, "click": 100}


class TestR11Evals:
    """Semantic pins for the round-11 audit/eval queries (each is also
    3-SF oracle-checked; these pin the MATH on constructed inputs and
    the cross-query invariants the hash can't express)."""

    @staticmethod
    def _write_docs(spark, path, rows):
        import pyarrow as pa
        import pyarrow.parquet as pq
        import os as _os

        _os.makedirs(path, exist_ok=True)
        pq.write_table(
            pa.table(
                {
                    "doc_id": pa.array([r[0] for r in rows], pa.int64()),
                    "text": pa.array([r[1] for r in rows], pa.string()),
                    "lang": pa.array([r[2] for r in rows], pa.string()),
                    "source": pa.array([r[3] for r in rows], pa.string()),
                    "n_chars": pa.array(
                        [len(r[1]) for r in rows], pa.int64()
                    ),
                }
            ),
            str(path) + "/documents.parquet",
        )

    def test_source_lang_impurity_pure_and_even(self, spark, tmp_path):
        from fintech_lakehouse_spark.plans.text import source_lang_impurity

        rows = [(i, f"text {i}", "en", "s_pure") for i in range(10)]
        rows += [
            (100 + i, f"more {i}", "en" if i % 2 == 0 else "de", "s_even")
            for i in range(10)
        ]
        self._write_docs(spark, tmp_path / "imp", rows)
        out = {
            r["source"]: r
            for r in source_lang_impurity(
                spark, str(tmp_path / "imp")
            ).collect()
        }
        pure, even = out["s_pure"], out["s_even"]
        assert pure["n_langs"] == 1
        assert pure["majority_share_ppm"] == 1_000_000
        assert pure["gini_impurity_ppm"] == 0
        assert even["n_langs"] == 2
        assert even["majority_share_ppm"] == 500_000
        # 1e6 - (500000^2 + 500000^2) // 1e6 = 500000
        assert even["gini_impurity_ppm"] == 500_000

    def test_tokenizer_fertility_known_text(self, spark, tmp_path):
        from fintech_lakehouse_spark.plans.text import (
            tokenizer_fertility_by_lang,
        )

        # "ab cd!" -> ws = 2, bpe-ish = ['ab','cd','!'] = 3, chars = 6
        rows = [(i, "ab cd!", "en", "s") for i in range(4)]
        self._write_docs(spark, tmp_path / "fert", rows)
        row = tokenizer_fertility_by_lang(
            spark, str(tmp_path / "fert")
        ).collect()[0]
        assert row["lang"] == "en"
        assert row["n_docs"] == 4
        assert row["ws_tokens"] == 8
        assert row["bpe_ish_tokens"] == 12
        assert row["n_chars"] == 24
        assert row["fertility_ppm"] == 1_500_000  # 12e6 DIV 8
        assert row["chars_per_token_ppm"] == 2_000_000  # 24e6 DIV 12

    def test_retrieval_mrr_invariants(self, spark, sf_dir):
        from fintech_lakehouse_spark.plans.vectors import (
            knn_bruteforce_cosine,
            retrieval_mrr_eval,
        )

        rows = retrieval_mrr_eval(spark, sf_dir).collect()
        assert len(rows) == 10  # one per query vector
        bf = knn_bruteforce_cosine(spark, sf_dir).collect()
        top1 = {}
        for r in bf:
            cur = top1.get(r["query_id"])
            key = (-r["cosine_sim"], r["neighbor_id"])
            if cur is None or key < cur[0]:
                top1[r["query_id"]] = (key, r["neighbor_id"])
        for r in rows:
            assert r["top1_id"] == top1[r["query_id"]][1]
            if r["approx_rank"] is None:
                assert r["rr_ppm"] == 0
            else:
                assert 1 <= r["approx_rank"] <= 5
                assert r["rr_ppm"] == 1_000_000 // r["approx_rank"]

    def test_lsh_recall_audit_consistency(self, spark, sf_dir):
        from fintech_lakehouse_spark.plans.text import lsh_recall_audit

        row = lsh_recall_audit(spark, sf_dir).collect()[0]
        assert row["n_exact_pairs"] > 0  # non-vacuous at every sf
        assert row["n_common"] + row["n_missed"] == row["n_exact_pairs"]
        assert row["n_common"] + row["n_extra"] == row["n_lsh_pairs"]
        assert (
            row["recall_ppm"]
            == row["n_common"] * 1_000_000 // row["n_exact_pairs"]
        )


class TestFifoLotMatching:
    """Pin the interval-intersection formulation against a literal
    SEQUENTIAL FIFO simulator on constructed lots — the claim the
    oracle hash can't express (the oracle runs the same set form)."""

    @staticmethod
    def _write_lineitem(spark, path, rows):
        import datetime as _dt
        import os as _os

        import pyarrow as pa
        import pyarrow.parquet as pq

        _os.makedirs(path, exist_ok=True)
        pq.write_table(
            pa.table(
                {
                    "l_orderkey": pa.array(
                        [r[0] for r in rows], pa.int64()
                    ),
                    "l_partkey": pa.array([r[1] for r in rows], pa.int64()),
                    "l_suppkey": pa.array([1] * len(rows), pa.int64()),
                    "l_linenumber": pa.array(
                        [r[2] for r in rows], pa.int32()
                    ),
                    "l_quantity": pa.array(
                        [float(r[3]) for r in rows], pa.float64()
                    ),
                    "l_extendedprice": pa.array(
                        [100.0] * len(rows), pa.float64()
                    ),
                    "l_discount": pa.array([0.0] * len(rows), pa.float64()),
                    "l_tax": pa.array([0.0] * len(rows), pa.float64()),
                    "l_returnflag": pa.array(
                        [r[4] for r in rows], pa.string()
                    ),
                    "l_linestatus": pa.array(
                        ["O"] * len(rows), pa.string()
                    ),
                    "l_shipdate": pa.array(
                        [
                            _dt.datetime(1996, 1, 1) + _dt.timedelta(days=r[5])
                            for r in rows
                        ],
                        pa.timestamp("us"),
                    ),
                }
            ),
            str(path) + "/lineitem.parquet",
        )

    def test_matches_sequential_fifo(self, spark, tmp_path):
        from fintech_lakehouse_spark.plans.analytics import fifo_lot_matching

        # part 7: buys 10, 5, 8 — sells 12, 6 (partially unmatched: 23
        # bought vs 18 sold → fully matched). part 8: buys 4 — sells 9
        # (5 unmatched). (orderkey, partkey, line, qty, flag, day)
        rows = [
            (1, 7, 1, 10, "N", 0),
            (2, 7, 1, 5, "A", 1),
            (3, 7, 1, 8, "N", 2),
            (4, 7, 1, 12, "R", 3),
            (5, 7, 1, 6, "R", 4),
            (6, 8, 1, 4, "N", 0),
            (7, 8, 1, 9, "R", 1),
        ]
        self._write_lineitem(spark, tmp_path / "fifo", rows)
        got = {
            r["part_key"]: r
            for r in fifo_lot_matching(spark, str(tmp_path / "fifo")).collect()
        }

        # literal sequential FIFO replay
        def fifo(buys, sells):
            import collections

            lots = collections.deque(buys)
            matched = 0
            pairs = 0
            for s in sells:
                need = s
                while need and lots:
                    take = min(need, lots[0])
                    matched += take
                    pairs += 1
                    need -= take
                    if take == lots[0]:
                        lots.popleft()
                    else:
                        lots[0] -= take
            return matched, pairs

        m7, p7 = fifo([10, 5, 8], [12, 6])
        m8, p8 = fifo([4], [9])
        assert (got[7]["matched_qty"], got[7]["n_matched_pairs"]) == (m7, p7)
        assert got[7]["unmatched_sell_qty"] == 18 - m7
        assert (got[8]["matched_qty"], got[8]["n_matched_pairs"]) == (m8, p8)
        assert got[8]["unmatched_sell_qty"] == 9 - m8
