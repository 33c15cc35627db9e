"""Second-wave analytics coverage (SURVEY §2.4 A9, §2.5 W3, §2.8):
cube/grouping sets, exact percentiles, AML structuring detection,
regexp extraction, conditional aggregation pivots.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from fintech_lakehouse_spark.functions.sampling import (
    hash_bucket,
    sql_hash_bucket,
)
from fintech_lakehouse_spark.plans._num import dsum, money, sql_dsum, sql_money
from fintech_lakehouse_spark.plans.registry import register
from fintech_lakehouse_spark.sources.readers import load_table


@register(
    "order_status_cube",
    oracle=f"""
    SELECT o_orderstatus, o_orderpriority,
           GROUPING(o_orderstatus)   AS grp_status,
           GROUPING(o_orderpriority) AS grp_priority,
           COUNT(*)                  AS n_orders,
           {sql_dsum(sql_money('o_totalprice'))} AS total_value
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def order_status_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full CUBE with GROUPING() indicators (SURVEY §2.4 A9 — grouping
    sets were [ABSENT] in the reference): all 2^2 aggregation levels in
    one pass; grouping flags disambiguate subtotal rows from genuine
    NULL group keys."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.cube("o_orderstatus", "o_orderpriority").agg(
        F.grouping("o_orderstatus").cast("long").alias("grp_status"),
        F.grouping("o_orderpriority").cast("long").alias("grp_priority"),
        F.count(F.lit(1)).alias("n_orders"),
        dsum(money("o_totalprice")).alias("total_value"),
    )


@register(
    "quantity_percentiles",
    oracle="""
    SELECT l_returnflag,
           quantile_cont(l_quantity, 0.25) AS q25,
           quantile_cont(l_quantity, 0.50) AS q50,
           quantile_cont(l_quantity, 0.75) AS q75,
           MIN(l_quantity) AS q_min,
           MAX(l_quantity) AS q_max
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def quantity_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentiles (SURVEY §2.4) — integer-valued quantity keeps
    the linear interpolation exactly representable in doubles, so the
    engines agree bit-for-bit. At 100 TB use approx_percentile (KLL/
    GK sketch); exact kept here because the oracle is exact."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    return lineitem.groupBy("l_returnflag").agg(
        F.percentile("l_quantity", 0.25).alias("q25"),
        F.percentile("l_quantity", 0.50).alias("q50"),
        F.percentile("l_quantity", 0.75).alias("q75"),
        F.min("l_quantity").alias("q_min"),
        F.max("l_quantity").alias("q_max"),
    )


@register(
    "aml_structuring_alerts",
    oracle="""
    WITH flagged AS (
        SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice,
               COUNT(*) FILTER (WHERE o_totalprice BETWEEN 9000 AND 100000) OVER w
                 AS near_threshold_30d,
               COUNT(*) OVER w AS orders_30d
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate
                     RANGE BETWEEN INTERVAL 30 DAYS PRECEDING AND CURRENT ROW)
    )
    SELECT o_custkey AS custkey,
           o_orderkey AS orderkey,
           CAST(o_orderdate AS DATE) AS order_date,
           ROUND(o_totalprice, 2) AS total_price,
           near_threshold_30d, orders_30d
    FROM flagged
    WHERE near_threshold_30d >= 2
      AND o_totalprice BETWEEN 9000 AND 100000
    """,
)
def aml_structuring_alerts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AML structuring detector (SURVEY §2.5 W3): the reference's fraud
    config implies flagging repeated just-under-CTR-threshold amounts
    (STRUCTURING_THRESHOLD at ref src/config/base.py:50, simulated
    9-10k pattern in its generator:511-515; band/window here widened
    to fire on the synthetic lake's price distribution).

    REGISTRY DEFAULT = the skew-BOUNDED plan (VERDICT r6 item 3).
    ``o_orderdate`` is date-granular, so the 30-day RANGE frame
    boundary is date-granular too: every order on the same day shares
    the same frame, which makes a daily pre-rollup + window over
    bucket rows OUTPUT-IDENTICAL to the exact per-order range window
    (:func:`exact_structuring_alerts`, kept as the unit-tested
    semantics twin). Plan shape:

    1. groupBy (custkey, day) → per-day order/near counts. Map-side
       combinable, so a bot-scale hot account collapses to one partial
       per input partition — no skewed task.
    2. range window over daily buckets: ≤31 rows per frame per
       customer REGARDLESS of order volume. This is the step that was
       O(orders × frame_orders) in one task in the exact form
       (measured unfinishable at 2M rows with an 80%-hot key,
       BASELINE.md §2); here it is O(days × 31).
    3. equi-join back to the near-threshold orders for per-order
       output — linear fan-out (one daily row per key), AQE-skew-
       splittable, unlike a window no semantic need for single-task
       keys."""
    orders = load_table(spark, sf_dir, "orders")
    near = F.col("o_totalprice").between(9000, 100000)
    daily = orders.groupBy("o_custkey", "o_orderdate").agg(
        F.sum(F.when(near, 1).otherwise(0)).alias("_day_near"),
        F.count(F.lit(1)).alias("_day_n"),
    )
    window = (
        Window.partitionBy("o_custkey")
        .orderBy(F.unix_timestamp("o_orderdate"))
        .rangeBetween(-30 * 86400, 0)
    )
    daily_win = daily.select(
        "o_custkey",
        "o_orderdate",
        F.sum("_day_near").over(window).alias("near_threshold_30d"),
        F.sum("_day_n").over(window).alias("orders_30d"),
    ).filter(F.col("near_threshold_30d") >= 2)
    return (
        orders.filter(near)
        .join(daily_win, ["o_custkey", "o_orderdate"])
        .select(
            F.col("o_custkey").alias("custkey"),
            F.col("o_orderkey").alias("orderkey"),
            F.col("o_orderdate").cast("date").alias("order_date"),
            F.round("o_totalprice", 2).alias("total_price"),
            "near_threshold_30d",
            "orders_30d",
        )
    )


def exact_structuring_alerts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-order range-window twin of
    :func:`aml_structuring_alerts` — the reference-implied shape, kept
    as a library function for semantics tests (the registry default is
    the bounded plan; this one is O(frame) per row in a single task
    per customer and dies on bot-scale hot keys — BASELINE.md §2)."""
    orders = load_table(spark, sf_dir, "orders")
    near = F.col("o_totalprice").between(9000, 100000)
    window = (
        Window.partitionBy("o_custkey")
        .orderBy(F.unix_timestamp("o_orderdate"))
        .rangeBetween(-30 * 86400, 0)
    )
    return (
        orders.select(
            F.col("o_custkey").alias("custkey"),
            F.col("o_orderkey").alias("orderkey"),
            F.col("o_orderdate").cast("date").alias("order_date"),
            F.round("o_totalprice", 2).alias("total_price"),
            F.sum(F.when(near, 1).otherwise(0)).over(window).alias(
                "near_threshold_30d"
            ),
            F.count(F.lit(1)).over(window).alias("orders_30d"),
            near.alias("_near"),
        )
        .filter((F.col("near_threshold_30d") >= 2) & F.col("_near"))
        .drop("_near")
    )


@register(
    "priority_class_extract",
    oracle="""
    SELECT CAST(regexp_extract(o_orderpriority, '^(\\d+)-', 1) AS INT) AS priority_num,
           upper(regexp_extract(o_orderpriority, '^\\d+-(.*)$', 1))    AS priority_label,
           COUNT(*) AS n_orders
    FROM orders
    GROUP BY 1, 2
    """,
)
def priority_class_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regexp scalar functions (SURVEY §2.8 — [ABSENT] in reference,
    required surface for text-bearing lakes)."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.select(
            F.regexp_extract("o_orderpriority", r"^(\d+)-", 1)
            .cast("int")
            .alias("priority_num"),
            F.upper(F.regexp_extract("o_orderpriority", r"^\d+-(.*)$", 1)).alias(
                "priority_label"
            ),
        )
        .groupBy("priority_num", "priority_label")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


@register(
    "status_pivot_by_segment",
    oracle=f"""
    SELECT c_mktsegment,
           COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS n_fulfilled,
           COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS n_open,
           COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS n_pending,
           {sql_dsum(f"CASE WHEN o_orderstatus = 'F' THEN {sql_money('o_totalprice')} ELSE CAST(0 AS DECIMAL(12,2)) END")} AS fulfilled_value
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    """,
)
def status_pivot_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manual pivot via conditional aggregation (SURVEY §2.4) — the
    shape groupBy().pivot() produces, written explicitly so the column
    set is static (pivot() fires an extra distinct-values job unless
    values are pre-declared; at scale always declare them)."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    is_f = F.col("o_orderstatus") == "F"
    return (
        orders.join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(
            F.sum(F.when(is_f, 1).otherwise(0)).alias("n_fulfilled"),
            F.sum(F.when(F.col("o_orderstatus") == "O", 1).otherwise(0)).alias(
                "n_open"
            ),
            F.sum(F.when(F.col("o_orderstatus") == "P", 1).otherwise(0)).alias(
                "n_pending"
            ),
            dsum(
                F.when(is_f, money("o_totalprice")).otherwise(
                    F.lit(0).cast("decimal(12,2)")
                )
            ).alias("fulfilled_value"),
        )
    )


@register(
    "approx_distinct_users",
    oracle="""
    SELECT event_type,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
           TRUE                                    AS approx_within_bounds
    FROM events
    GROUP BY event_type
    """,
)
def approx_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HyperLogLog++) — the 100 TB replacement
    for exact distinct counts (SURVEY §7.4 note 6). The raw sketch
    estimate is engine-specific, so it can't be value-hashed against
    DuckDB directly — instead the query emits the exact count plus a
    BOUNDED-RELATIVE-ERROR FLAG (|approx − exact| / exact ≤ 5·rsd;
    HLL++ is deterministic for fixed data, so the flag is stable), and
    the oracle asserts the flag is TRUE alongside the exact counts
    (VERDICT r4 item 6: boolean IS hashable). A red driver row now
    means the sketch drifted out of its accuracy contract — a real
    check instead of rows-only. The tightness unit test for the bound
    lives in tests/test_functions.py."""
    events = load_table(spark, sf_dir, "events")
    rsd = 0.01
    return events.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd).alias("_approx"),
        F.countDistinct("user_id").alias("exact_users"),
    ).select(
        "event_type",
        "exact_users",
        (
            F.abs(F.col("_approx") - F.col("exact_users"))
            <= 5 * rsd * F.col("exact_users")
        ).alias("approx_within_bounds"),
    )


@register(
    "segment_nation_arrays",
    oracle="""
    SELECT c_mktsegment,
           len(list(DISTINCT c_nationkey))                  AS n_nations,
           list_sort(list(DISTINCT c_nationkey))[1]         AS min_nation,
           array_to_string(list_sort(list(DISTINCT c_nationkey)), ',') AS nations_csv
    FROM customer
    GROUP BY c_mktsegment
    """,
)
def segment_nation_arrays(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array aggregation (SURVEY §2.4/§2.8): collect_set → sort_array
    — the list-building aggregate a feature-engineering pipeline uses
    for per-entity histories. The driver-facing output carries the
    array only in scalar encodings (CSV join, size, first element) —
    the driver's value-hasher cannot hash raw list cells. The raw
    array form lives in segment_nation_key_arrays() below
    (unit-tested, not driver-registered)."""
    customer = load_table(spark, sf_dir, "customer")
    arr = F.sort_array(F.collect_set("c_nationkey"))
    return customer.groupBy("c_mktsegment").agg(
        F.size(F.collect_set("c_nationkey")).alias("n_nations"),
        arr.getItem(0).alias("min_nation"),
        # string_agg / listagg shape: sorted so deterministic
        F.array_join(arr, ",").alias("nations_csv"),
    )


def segment_nation_key_arrays(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw-array variant of segment_nation_arrays: the sorted
    array<int> column itself, for consumers that want the list value
    (feature stores). Kept out of the driver registry — list cells are
    unhashable for the driver's comparator."""
    customer = load_table(spark, sf_dir, "customer")
    arr = F.sort_array(F.collect_set("c_nationkey"))
    return customer.groupBy("c_mktsegment").agg(arr.alias("nation_keys"))


@register(
    "priority_metrics_unpivot",
    oracle="""
    WITH wide AS (
        SELECT o_orderpriority,
               CAST(COUNT(*) AS DOUBLE)                              AS n_orders,
               ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE), 2) AS total_value,
               ROUND(CAST(MAX(o_totalprice) AS DOUBLE), 2)           AS max_value
        FROM orders GROUP BY o_orderpriority
    )
    SELECT o_orderpriority, metric, value
    FROM wide
    UNPIVOT (value FOR metric IN (n_orders, total_value, max_value))
    """,
)
def priority_metrics_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """melt/unpivot (SURVEY §2.4 — the inverse of pivot, [ABSENT] in
    the reference): wide per-priority metrics → long (metric, value)
    rows, the shape metric stores and chart layers consume."""
    orders = load_table(spark, sf_dir, "orders")
    wide = orders.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("double").alias("n_orders"),
        dsum(money("o_totalprice")).alias("total_value"),
        F.round(F.max("o_totalprice"), 2).alias("max_value"),
    )
    return wide.unpivot(
        ids=["o_orderpriority"],
        values=["n_orders", "total_value", "max_value"],
        variableColumnName="metric",
        valueColumnName="value",
    )


@register(
    "approx_quantity_percentiles",
    oracle="""
    SELECT l_returnflag,
           quantile_cont(l_quantity, 0.25) AS q25,
           quantile_cont(l_quantity, 0.50) AS q50,
           quantile_cont(l_quantity, 0.75) AS q75,
           TRUE AS q25_within_bounds,
           TRUE AS q50_within_bounds,
           TRUE AS q75_within_bounds
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def approx_quantity_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_percentile (Greenwald-Khanna sketch) checked against the
    exact percentiles — the 100 TB quantile path (SURVEY §7.4 note 6:
    approx variants alongside exact ones), driver-verified the same
    way as approx_distinct_users: the sketch value itself is
    engine-specific AND merge-order sensitive, so the query emits the
    exact quartiles plus BOUNDED-ERROR FLAGS. accuracy=100 guarantees
    rank error ≤ 1% of the group; l_quantity is dense integers 1-50,
    so 1% of rank translates to ≲1 quantity unit — the flags assert
    |approx − exact| ≤ 2, comfortably inside the contract, and the
    DuckDB twin pins them TRUE alongside the exact values. A red row
    means the sketch left its guarantee, not float noise."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    agg = lineitem.groupBy("l_returnflag").agg(
        F.percentile("l_quantity", 0.25).alias("q25"),
        F.percentile("l_quantity", 0.50).alias("q50"),
        F.percentile("l_quantity", 0.75).alias("q75"),
        F.expr("approx_percentile(l_quantity, 0.25, 100)").alias("_a25"),
        F.expr("approx_percentile(l_quantity, 0.50, 100)").alias("_a50"),
        F.expr("approx_percentile(l_quantity, 0.75, 100)").alias("_a75"),
    )
    return agg.select(
        "l_returnflag",
        "q25",
        "q50",
        "q75",
        (F.abs(F.col("_a25") - F.col("q25")) <= 2).alias("q25_within_bounds"),
        (F.abs(F.col("_a50") - F.col("q50")) <= 2).alias("q50_within_bounds"),
        (F.abs(F.col("_a75") - F.col("q75")) <= 2).alias("q75_within_bounds"),
    )


@register(
    "daily_metrics_unpivot",
    oracle=f"""
    WITH wide AS (
        SELECT CAST(o_orderdate AS DATE) AS order_date,
               CAST(COUNT(*) AS DOUBLE) AS n_orders,
               CAST({sql_dsum(sql_money('o_totalprice'))} AS DOUBLE)
                   AS total_price,
               CAST(COUNT(DISTINCT o_custkey) AS DOUBLE) AS n_customers
        FROM orders
        GROUP BY 1
    )
    SELECT order_date, 'n_orders' AS metric, n_orders AS value FROM wide
    UNION ALL
    SELECT order_date, 'total_price', total_price FROM wide
    UNION ALL
    SELECT order_date, 'n_customers', n_customers FROM wide
    """,
)
def daily_metrics_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT / melt (the reshaping inverse of
    status_pivot_by_segment's conditional-agg pivot): a wide per-day
    metric row melts to (date, metric, value) long form — the layout
    metric stores and dashboarding sinks ingest. Uses the native
    DataFrame.unpivot operator (Spark 3.4+), which plans as an Expand
    node: one pass, output rows = input × metrics, no shuffle beyond
    the aggregate that built the wide frame.

    Values unify to double for the melt; total_price is the exact
    decimal sum cast once at the end (plans/_num.py discipline), so
    both engines melt the identical doubles."""
    orders = load_table(spark, sf_dir, "orders")
    wide = (
        orders.groupBy(F.col("o_orderdate").cast("date").alias("order_date"))
        .agg(
            F.count(F.lit(1)).cast("double").alias("n_orders"),
            dsum(money("o_totalprice")).cast("double").alias("total_price"),
            F.countDistinct("o_custkey").cast("double").alias("n_customers"),
        )
    )
    return wide.unpivot(
        ids=["order_date"],
        values=["n_orders", "total_price", "n_customers"],
        variableColumnName="metric",
        valueColumnName="value",
    )


@register(
    "monthly_unique_users_rollup",
    oracle="""
    SELECT CAST(date_trunc('month', ts) AS DATE) AS month,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
           TRUE AS sketch_within_bounds
    FROM events
    GROUP BY 1
    """,
)
def monthly_unique_users_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch RE-AGGREGATION (Datasketches HLL, Spark 4) — the property
    approx_count_distinct cannot offer: build one HLL sketch PER DAY
    (hll_sketch_agg), then merge the day sketches up to months
    (hll_union_agg) and estimate. This is the production distinct-count
    architecture at 100 TB: daily sketches are persisted once
    (kilobytes/day) and ANY coarser rollup — month, quarter, trailing
    28 days, all-time — is a union of stored sketches, never a rescan
    of raw events. Exact distincts don't re-aggregate (union ≠ sum —
    the same user appears on many days); sketches do, losslessly for
    the bucket-max merge.

    Verification follows the approx_distinct_users flag-promotion
    pattern: the engine-specific estimate can't hash against DuckDB,
    so the query emits the exact count plus a bounded-relative-error
    flag (HLL bucket-max updates are order-independent, so the merged
    estimate is deterministic for fixed data and the flag is stable);
    the oracle pins exact counts and flag TRUE. lgConfigK=12 →
    rsd ≈ 1.6%; the flag allows 5×."""
    events = load_table(spark, sf_dir, "events")
    rsd = 0.016
    daily = events.groupBy(
        F.date_trunc("month", "ts").cast("date").alias("month"),
        F.to_date("ts").alias("day"),
    ).agg(
        F.hll_sketch_agg("user_id").alias("day_sketch"),
        F.countDistinct("user_id").alias("_day_exact"),
    )
    monthly_est = daily.groupBy("month").agg(
        F.hll_sketch_estimate(F.hll_union_agg("day_sketch")).alias("_est")
    )
    monthly_exact = events.groupBy(
        F.date_trunc("month", "ts").cast("date").alias("month")
    ).agg(F.countDistinct("user_id").alias("exact_users"))
    return (
        monthly_exact.join(monthly_est, "month")
        .select(
            "month",
            "exact_users",
            (
                F.abs(F.col("_est") - F.col("exact_users"))
                <= 5 * rsd * F.col("exact_users")
            ).alias("sketch_within_bounds"),
        )
    )


@register(
    "monthly_retention_theta",
    oracle=f"""
    WITH mu AS (
        SELECT DISTINCT CAST(date_trunc('month', ts) AS DATE) AS month,
                        user_id
        FROM events
        UNION
        SELECT DISTINCT
               CAST(CAST(date_trunc('month', ts) AS DATE)
                    + INTERVAL 1 MONTH AS DATE) AS month,
               user_id
        FROM events
        WHERE {sql_hash_bucket('user_id', 'retention', 2)} = 0
    )
    SELECT a.month,
           CAST(a.month + INTERVAL 1 MONTH AS DATE) AS next_month,
           CAST(COUNT(*) AS BIGINT) AS exact_retained,
           TRUE AS sketch_within_bounds
    FROM mu a JOIN mu b
      ON a.user_id = b.user_id
     AND b.month = CAST(a.month + INTERVAL 1 MONTH AS DATE)
    GROUP BY a.month
    """,
)
def monthly_retention_theta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch SET ALGEBRA (Datasketches Theta, Spark 4) — the
    capability HLL fundamentally lacks: HLL unions only, Theta also
    INTERSECTS and DIFFERENCES. Month-over-month retention = the
    intersection of two months' user sets; with one small Theta sketch
    persisted per month, every retention/churn/overlap pair is sketch
    algebra on stored state — at 100 TB the alternative is a distinct
    self-join of raw events per question asked.

    Non-vacuity (VERDICT r6 item 1): the generated ``events`` table
    spans exactly ONE calendar month at every scale factor, so a plain
    month-over-month join emits 0 rows everywhere and the
    theta_intersection path was never exercised. Both engines therefore
    derive a deterministic synthetic second month — users in md5 bucket
    0 of 2 (``hash_bucket``, salt ``retention``; bit-exact DuckDB twin
    ``sql_hash_bucket``) have their month-keys replicated one month
    forward, the same retained-cohort trick ``pii_redaction_stats``
    uses for PII planting. Retention month₀→month₁ is then ≈half the
    user base and the intersection estimate is hash-checked through the
    bounds flag at every SF.

    Verification: flag-promotion pattern (approx_distinct_users /
    monthly_unique_users_rollup lineage) — the exact retained count
    comes from the distinct-pair self-join both engines run; the
    sketch estimate must land within 5% + 1 of it (at test
    cardinalities Theta runs in exact mode, so the margin is slack,
    not load-bearing). A red row = the sketch architecture left its
    accuracy contract."""
    events = load_table(spark, sf_dir, "events")
    month = F.date_trunc("month", "ts").cast("date").alias("month")
    base = events.select(month, "user_id")
    shifted = events.filter(
        hash_bucket("user_id", "retention", 2) == 0
    ).select(
        F.add_months(F.date_trunc("month", "ts").cast("date"), 1).alias(
            "month"
        ),
        "user_id",
    )
    mu = base.unionByName(shifted).distinct()
    sketches = mu.groupBy("month").agg(
        F.theta_sketch_agg("user_id").alias("sk")
    )
    nxt = sketches.select(
        F.col("month").alias("next_month"), F.col("sk").alias("sk_next")
    )
    est = (
        sketches.join(
            nxt, nxt["next_month"] == F.add_months(F.col("month"), 1)
        )
        .select(
            "month",
            "next_month",
            F.theta_sketch_estimate(
                F.theta_intersection(F.col("sk"), F.col("sk_next"))
            ).alias("_est"),
        )
    )
    mb = mu.select(F.col("month").alias("m_next"), F.col("user_id").alias("u"))
    exact = (
        mu.join(
            mb,
            (mu["user_id"] == mb["u"])
            & (mb["m_next"] == F.add_months(mu["month"], 1)),
        )
        .groupBy("month")
        .agg(F.count(F.lit(1)).alias("exact_retained"))
    )
    return exact.join(est, "month").select(
        "month",
        "next_month",
        "exact_retained",
        (
            F.abs(F.col("_est") - F.col("exact_retained"))
            <= 0.05 * F.col("exact_retained") + 1
        ).alias("sketch_within_bounds"),
    )


@register(
    "event_key_skew_profile",
    oracle="""
    WITH per_user AS (
        SELECT event_type, user_id, CAST(COUNT(*) AS BIGINT) AS n
        FROM events GROUP BY event_type, user_id
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT)          AS n_users,
           CAST(SUM(n) AS BIGINT)            AS n_events,
           CAST(MAX(n) AS BIGINT)            AS max_user_events,
           quantile_cont(n, 0.50)            AS p50_user_events,
           quantile_cont(n, 0.99)            AS p99_user_events,
           (MAX(n) * 1000000) // CAST(SUM(n) AS BIGINT)            AS top1_share_ppm,
           (MAX(n) * COUNT(*) * 1000000) // CAST(SUM(n) AS BIGINT) AS max_over_avg_ppm
    FROM per_user
    GROUP BY event_type
    """,
)
def event_key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-skew diagnostics per (event_type, user_id) — the profiling
    query you run BEFORE choosing a partitioning/salting strategy at
    100 TB (SURVEY §7.4 risk 3; the hot-user skew that breaks
    user_velocity_24h-class windows — ROUND_NOTES fact 19). Reports,
    per event type: key cardinality, row count, the hottest key's row
    count and its share of all rows (ppm), max/avg ratio (ppm — the
    straggler factor a uniform hash partitioning would suffer), and
    exact p50/p99 of rows-per-key (how heavy the tail is vs the
    hottest key).

    Determinism: counts are integers; the two ratio columns are
    floor-divided integer ppm (non-negative, so DIV == //); the
    percentiles interpolate integers with the engine-identical
    a + (b-a)*frac expression (quantity_percentiles precedent).

    Scale shape: two-level aggregation — the inner groupBy(type, user)
    partially aggregates map-side so the shuffle carries one row per
    (type, key); the outer rollup shuffles one row per key. The exact
    percentile materializes per-type key-count vectors; at 100 TB
    swap to approx_percentile (KLL) — every other column is already
    sketch-free and mergeable. This is itself skew-safe: the inner
    agg's combiner absorbs hot keys before the exchange."""
    events = load_table(spark, sf_dir, "events")
    per_user = events.groupBy("event_type", "user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    return per_user.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum("n").cast("long").alias("n_events"),
        F.max("n").cast("long").alias("max_user_events"),
        F.percentile("n", 0.50).alias("p50_user_events"),
        F.percentile("n", 0.99).alias("p99_user_events"),
        F.expr("(MAX(n) * 1000000) DIV SUM(n)").alias("top1_share_ppm"),
        F.expr("(MAX(n) * COUNT(*) * 1000000) DIV SUM(n)").alias("max_over_avg_ppm"),
    )


HIST_BINS = 20


@register(
    "order_value_histogram",
    oracle=f"""
    WITH cents AS (
        SELECT CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS c
        FROM orders
    ),
    bounds AS (
        SELECT MIN(c) AS lo, MAX(c) AS hi FROM cents
    )
    SELECT ((c - lo) * {HIST_BINS}) // (hi - lo + 1) AS bucket,
           CAST(COUNT(*) AS BIGINT)  AS n_orders,
           CAST(MIN(c) AS BIGINT)    AS min_cents,
           CAST(MAX(c) AS BIGINT)    AS max_cents
    FROM cents CROSS JOIN bounds
    GROUP BY 1
    """,
)
def order_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width value histogram (SURVEY §2.4 family; the
    distribution profile behind pricing dashboards and the binning
    step of feature engineering): {HIST_BINS} equal-width buckets over
    o_totalprice, with per-bucket count and actual min/max. All
    arithmetic in exact integer CENTS — the bucket index is
    (c-lo)*{HIST_BINS} DIV (hi-lo+1), floor-divided non-negative
    integers, so bucket boundaries are bit-identical across engines
    (a float-width histogram flakes when a value lands exactly on a
    boundary; fact-22 class).

    Scale shape: the 1-row global min/max broadcasts back via the
    1-row crossJoin pattern (BroadcastNestedLoopJoin, never a global
    sort), then one map-side-combinable groupBy into a
    {HIST_BINS}-row result. Two scans of the cents projection — at
    100 TB the first is a column-pruned statistics pass (or comes
    free from parquet footer min/max)."""
    orders = load_table(spark, sf_dir, "orders")
    cents = orders.select(
        (F.col("o_totalprice").cast("decimal(12,2)") * 100)
        .cast("long")
        .alias("c")
    )
    bounds = cents.agg(F.min("c").alias("lo"), F.max("c").alias("hi"))
    return (
        cents.crossJoin(F.broadcast(bounds))
        .select(
            F.expr(f"((c - lo) * {HIST_BINS}) DIV (hi - lo + 1)").alias("bucket"),
            "c",
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.min("c").cast("long").alias("min_cents"),
            F.max("c").cast("long").alias("max_cents"),
        )
    )


@register(
    "mg_heavy_hitters",
    oracle=f"""
    WITH bucketed AS (
        SELECT CAST(({sql_hash_bucket('event_id', 'mg', 1_000_000)})
                    AS BIGINT) AS b
        FROM events
    ),
    stream AS (
        -- floor((b/1e6)^3 * 1000) == b*b*b DIV 10^15 exactly; b < 1e6
        -- keeps b^3 < 1e18 inside int64 on both engines (no libm pow)
        SELECT (b * b * b) // 1000000000000000 AS item FROM bucketed
    )
    SELECT item,
           CAST(n AS BIGINT) AS n_events,
           TRUE AS found_by_sketch,
           TRUE AS within_error_bound
    FROM (
        SELECT item, COUNT(*) AS n FROM stream GROUP BY item
        ORDER BY n DESC, item LIMIT 10
    )
    """,
)
def mg_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Misra-Gries distributed heavy hitters (functions/sketches.py —
    the counter-based, collision-free complement of the CMS family;
    Misra & Gries 1982 / Agarwal et al. PODS'12 mergeable summaries).

    Non-vacuity by construction: the lake's generated keys are
    near-uniform (no natural heavy hitters), so both engines derive a
    Zipf-shaped item stream from event_id through the shared md5
    recipe (u³ cube-law mapping onto 1000 items — item 0 carries ~10%
    of all mass, item 9 ~0.7%). With m=256 the MG threshold N/m is
    ~0.39% of mass, so the true top-10 all clear it with ≥1.7×
    margin, while ~1000 distinct items ≫ m force real evictions in
    every partition summary — the eviction path runs at every SF
    (asserted separately in the unit test).

    Verification (flag-promotion pattern): raw MG counters are
    partitioning-dependent — like any streaming summary — so the query
    emits only what theory guarantees for ANY partitioning: the exact
    top-10 (deterministic), found_by_sketch (f(t) > N/m ⇒ present),
    and within_error_bound (f(t) − C(t) ≤ N/m). A red row means the
    summary/merge lost its deterministic guarantee.

    Scale shape: per-partition state is ≤m counters regardless of
    partition size; the merge is one map-side-combinable groupBy over
    ≤ 32·m rows; the exact top-10 is a map-side-combinable count +
    TakeOrderedAndProject. Nothing holds per-key state proportional
    to the stream."""
    from fintech_lakehouse_spark.functions.sketches import misra_gries_merged

    m = 256
    events = load_table(spark, sf_dir, "events")
    # floor((b/1e6)^3 * 1000) == b^3 DIV 10^15 exactly (b < 1e6 keeps
    # b^3 < 1e18 inside int64) — integer cube instead of libm pow, so
    # the Zipf item is bit-identical across engines at bucket edges.
    b = hash_bucket("event_id", "mg", 1_000_000).cast("long")
    stream = events.select(b.alias("b")).select(
        F.expr("(b * b * b) DIV 1000000000000000").alias("item")
    )
    merged = misra_gries_merged(stream, "item", m=m)
    exact_top = (
        stream.groupBy("item")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .orderBy(F.desc("n_events"), F.asc("item"))
        .limit(10)
    )
    total = stream.agg(F.count(F.lit(1)).alias("_n"))
    return (
        exact_top.join(merged, "item", "left")
        .crossJoin(F.broadcast(total))
        .select(
            "item",
            "n_events",
            F.col("counter").isNotNull().alias("found_by_sketch"),
            (
                (F.col("n_events") - F.coalesce(F.col("counter"), F.lit(0)))
                <= F.floor(F.col("_n") / m)
            ).alias("within_error_bound"),
        )
    )


DRIFT_BINS = 10
DRIFT_HI_CENTS = 50_000_000  # fixed $500k upper edge; TPC-H max ~$500k
DRIFT_SPLIT = "1998-01-01"


@register(
    "order_price_drift_tvd",
    oracle=f"""
    WITH binned AS (
        SELECT GREATEST(0, LEAST({DRIFT_BINS - 1},
                     (CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)
                      * {DRIFT_BINS}) // {DRIFT_HI_CENTS})) AS bucket,
               CASE WHEN o_orderdate < TIMESTAMP '{DRIFT_SPLIT}'
                    THEN 1 ELSE 0 END AS in_a
        FROM orders
    ),
    per_bucket AS (
        SELECT bucket,
               CAST(SUM(in_a) AS BIGINT)     AS n_a,
               CAST(SUM(1 - in_a) AS BIGINT) AS n_b
        FROM binned GROUP BY bucket
    ),
    totals AS (
        SELECT SUM(n_a) AS ta, SUM(n_b) AS tb FROM per_bucket
    ),
    contrib AS (
        SELECT bucket, n_a, n_b,
               CAST(n_a * 1000000 // ta AS BIGINT) AS pa_ppm,
               CAST(n_b * 1000000 // tb AS BIGINT) AS pb_ppm,
               CAST(abs(n_a * tb - n_b * ta) * 1000000 // (ta * tb)
                    AS BIGINT) AS drift_ppm
        FROM per_bucket CROSS JOIN totals
    )
    SELECT bucket, n_a, n_b, pa_ppm, pb_ppm, drift_ppm FROM contrib
    UNION ALL
    SELECT -1, CAST(t.ta AS BIGINT), CAST(t.tb AS BIGINT),
           1000000, 1000000,
           CAST(SUM(c.drift_ppm) // 2 AS BIGINT)
    FROM contrib c CROSS JOIN totals t GROUP BY t.ta, t.tb
    ORDER BY bucket
    """,
)
def order_price_drift_tvd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift monitor between two order periods (the
    PSI-family check every production feature pipeline runs before
    trusting a training snapshot): fixed equal-width value bins,
    per-bin share comparison, and total-variation distance as the
    drift score. TVD instead of PSI because PSI's ln() is
    libm-dependent across engines (the bm25_doc_ranking precedent) —
    TVD = ½·Σ|p_a − p_b| keeps identical semantics-class output
    (0 = no drift, 1e6 ppm = disjoint) in EXACT cross-multiplied
    integer ppm: |n_a·t_b − n_b·t_a|·1e6 DIV (t_a·t_b) never touches
    a float, so the driver hash replays bit-for-bit. Bins are fixed
    constants (not data-dependent min/max) exactly as a deployed
    monitor pins its reference binning. The bucket=-1 row is the
    corpus-level verdict: TVD in ppm with period row counts.

    Scale shape: ONE scan — bucket and period flag are scan-side
    projections, the per-(bucket, period) counts are conditional
    partial aggregates (map-side combined to ≤{DRIFT_BINS} rows per
    task), totals re-aggregate the 10-row result, and everything after
    is on ≤11 rows. At 100 TB the two periods come straight from
    partition pruning on the date column, and N reference windows
    drift-check against one current window by adding N conditional
    sums to the same single scan — never N scans.

    Overflow check: n·t products ≤ (1.5e5)² = 2.25e10 at sf0.1,
    ×1e6 = 2.25e16 ≪ 2^63; holds to sf10 (1.5e7 orders → 2.25e20
    would overflow — at that scale drop to per-million-row sampled
    counts or DECIMAL(38) intermediates)."""
    orders = load_table(spark, sf_dir, "orders")
    per_bucket = drift_bucket_counts(orders)
    return drift_readout(per_bucket)


def drift_bucket_counts(orders: DataFrame) -> DataFrame:
    """Fixed-bin period counts for the drift monitor — the ONE
    definition shared by the batch registry query and the streaming
    sink (streaming/events.py::foreach_batch_drift): bucket and period
    flag are scan-side expressions, counts map-side combine, and the
    per-(bucket, period) counts are ASSOCIATIVE — mergeable across
    micro-batches by plain addition, which is what makes the
    streaming-maintained state exactly equal the batch recompute."""
    binned = orders.select(
        # clamped to [0, DRIFT_BINS-1]: without the lower clamp a
        # negative o_totalprice yields bucket < 0, which collides with
        # the streaming sink's bucket=-1 summary-row eviction filter
        # and silently drops real state rows
        F.greatest(
            F.lit(0),
            F.least(
                F.lit(DRIFT_BINS - 1),
                F.expr(
                    f"(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)"
                    f" * {DRIFT_BINS}) DIV {DRIFT_HI_CENTS}"
                ),
            ),
        ).alias("bucket"),
        (F.col("o_orderdate") < F.to_timestamp(F.lit(DRIFT_SPLIT)))
        .cast("long")
        .alias("in_a"),
    )
    return binned.groupBy("bucket").agg(
        F.sum("in_a").cast("long").alias("n_a"),
        F.sum(F.lit(1) - F.col("in_a")).cast("long").alias("n_b"),
    )


def drift_readout(per_bucket: DataFrame) -> DataFrame:
    """Per-bin shares + TVD from mergeable (bucket, n_a, n_b) state —
    pure post-aggregation arithmetic on ≤DRIFT_BINS+1 rows. The tail
    is WINDOW-ONLY (totals as window sums over the tiny bucket table,
    never a second aggregate of the corpus side): the earlier
    totals-as-second-aggregate + crossJoin shape re-derived the
    upstream scan per consumer — 6 effective corpus scans at runtime
    even after ReusedExchange; this shape leaves exactly one."""
    w = Window.partitionBy(F.lit(1))
    contrib = per_bucket.select(
        "bucket",
        "n_a",
        "n_b",
        F.sum("n_a").over(w).alias("ta"),
        F.sum("n_b").over(w).alias("tb"),
    ).select(
        "bucket",
        "n_a",
        "n_b",
        "ta",
        "tb",
        F.expr("n_a * 1000000 DIV ta").cast("long").alias("pa_ppm"),
        F.expr("n_b * 1000000 DIV tb").cast("long").alias("pb_ppm"),
        F.expr("abs(n_a * tb - n_b * ta) * 1000000 DIV (ta * tb)")
        .cast("long")
        .alias("drift_ppm"),
    )
    total_row = contrib.groupBy("ta", "tb").agg(
        F.expr("SUM(drift_ppm) DIV 2").cast("long").alias("drift_ppm")
    ).select(
        F.lit(-1).cast("long").alias("bucket"),
        F.col("ta").cast("long").alias("n_a"),
        F.col("tb").cast("long").alias("n_b"),
        F.lit(1000000).cast("long").alias("pa_ppm"),
        F.lit(1000000).cast("long").alias("pb_ppm"),
        "drift_ppm",
    )
    return (
        contrib.drop("ta", "tb")
        .unionByName(total_row)
        .orderBy("bucket")
    )


# log10(1 + 1/d) in ppm, d = 1..9 — Benford's-law expected first-digit
# shares as INLINE integer constants (no runtime log10: libm-dependent).
BENFORD_PPM = [301030, 176091, 124939, 96910, 79181, 66947, 57992, 51153, 45757]
BENFORD_FLAG_PPM = 20_000  # per-digit deviation that warrants review


@register(
    "benford_first_digit_audit",
    oracle=f"""
    WITH cents AS (
        SELECT CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS c
        FROM orders
    ),
    digits AS (
        SELECT CAST(substr(CAST(c AS VARCHAR), 1, 1) AS BIGINT) AS digit
        FROM cents WHERE c > 0
    ),
    expected AS (
        SELECT CAST(d.digit AS BIGINT) AS digit,
               CAST(d.ppm AS BIGINT)   AS expected_ppm
        FROM (VALUES {", ".join(f"({d + 1}, {p})" for d, p in enumerate(BENFORD_PPM))})
             AS d(digit, ppm)
    ),
    counts AS (
        SELECT digit, CAST(COUNT(*) AS BIGINT) AS n_orders
        FROM digits GROUP BY digit
    ),
    total AS (SELECT SUM(n_orders) AS t FROM counts)
    SELECT e.digit,
           COALESCE(c.n_orders, 0)                             AS n_orders,
           CAST(COALESCE(c.n_orders, 0) * 1000000 // t.t
                AS BIGINT)                                     AS observed_ppm,
           e.expected_ppm,
           CAST(abs(COALESCE(c.n_orders, 0) * 1000000 // t.t
                    - e.expected_ppm) AS BIGINT)               AS deviation_ppm,
           abs(COALESCE(c.n_orders, 0) * 1000000 // t.t
               - e.expected_ppm) > {BENFORD_FLAG_PPM}          AS review_flag
    FROM expected e LEFT JOIN counts c USING (digit)
    CROSS JOIN total t
    ORDER BY digit
    """,
)
def benford_first_digit_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit over order amounts — the
    classic forensic-accounting fraud screen (fabricated or structured
    amounts drift from the log-uniform first-digit law; auditors flag
    populations whose digit shares deviate): observed vs expected
    share per leading digit 1-9 with a per-digit review flag.

    Determinism design: the first significant digit comes from the
    STRING rendering of the exact integer cents value (both engines
    print a BIGINT identically) — not floor(c/10^floor(log10 c)),
    which drags libm log10 into the hash; the nine expected shares
    log10(1+1/d) are INLINE ppm constants (compile-time math, not
    runtime); observed shares are floor-divided integer ppm. The
    digit-9 row survives even at zero observations via the expected-
    side LEFT JOIN, so the output contract is always 9 rows.

    Scale shape: one scan projecting a single digit column, a 9-row
    map-side-combined count, a 1-row total broadcast back — everything
    after the scan is on ≤9 rows. At 100 TB this audits per-merchant
    or per-account via one added groupBy key, same single-scan shape.

    Reference parity: extends the reference's declared fraud/AML
    analytics family (SURVEY §2.4 velocity/structuring alerts) with
    the population-level screen those per-entity rules cannot express.
    """
    orders = load_table(spark, sf_dir, "orders")
    digits = (
        orders.select(
            (F.col("o_totalprice").cast("decimal(12,2)") * 100)
            .cast("long")
            .alias("c")
        )
        .filter(F.col("c") > 0)
        .select(F.substring(F.col("c").cast("string"), 1, 1).cast("long").alias("digit"))
    )
    counts = digits.groupBy("digit").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders")
    )
    # The 9-row expected side is pure plan (sequence spine + literal
    # array lookup) — a createDataFrame here costs ~0.3 s of
    # driver-side RDD setup per run for no benefit.
    expected = spark.range(1).select(
        F.explode(F.sequence(F.lit(1), F.lit(9))).alias("_d")
    ).select(
        F.col("_d").cast("long").alias("digit")
    ).select(
        "digit",
        F.element_at(
            F.array(*[F.lit(p) for p in BENFORD_PPM]), F.col("digit").cast("int")
        ).cast("long").alias("expected_ppm"),
    )
    # Leading digits are 1-9 only (c > 0), so every observed-count row
    # survives the expected-side left join and the grand total can be
    # window-summed over the 9-row joined result — no second corpus
    # scan for a 1-row total (measured: the total-as-second-aggregate
    # shape re-derived the scan and doubled the query's wall).
    obs_ppm = F.expr("coalesce(n_orders, 0) * 1000000 DIV t")
    return (
        expected.join(F.broadcast(counts), "digit", "left")
        .withColumn(
            "t",
            F.sum(F.coalesce(F.col("n_orders"), F.lit(0))).over(
                Window.partitionBy(F.lit(1))
            ),
        )
        .select(
            "digit",
            F.coalesce(F.col("n_orders"), F.lit(0)).cast("long").alias("n_orders"),
            obs_ppm.cast("long").alias("observed_ppm"),
            "expected_ppm",
            F.abs(obs_ppm - F.col("expected_ppm")).cast("long").alias("deviation_ppm"),
            (F.abs(obs_ppm - F.col("expected_ppm")) > BENFORD_FLAG_PPM).alias(
                "review_flag"
            ),
        )
        .orderBy("digit")
    )


@register(
    "revenue_concentration",
    oracle="""
    WITH spend AS (
        SELECT o_custkey,
               CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100
                             AS BIGINT)) AS BIGINT) AS cents
        FROM orders GROUP BY o_custkey
    ),
    ranked AS (
        SELECT cents,
               ROW_NUMBER() OVER (ORDER BY cents, o_custkey)      AS i,
               ROW_NUMBER() OVER (ORDER BY cents DESC, o_custkey) AS r,
               COUNT(*) OVER ()                                   AS nn
        FROM spend
    ),
    agg AS (
        SELECT COUNT(*)                                    AS n,
               CAST(SUM(cents) AS BIGINT)                  AS s,
               CAST(SUM(i * cents) AS BIGINT)              AS iws,
               CAST(SUM(CASE WHEN r <= GREATEST(nn // 100, 1)
                             THEN cents ELSE 0 END) AS BIGINT) AS top1,
               CAST(SUM(CASE WHEN r <= GREATEST(nn // 10, 1)
                             THEN cents ELSE 0 END) AS BIGINT) AS top10
        FROM ranked
    )
    SELECT CAST(n AS BIGINT)                                AS n_customers,
           s                                                AS total_cents,
           ROUND(CAST(2 * iws - (n + 1) * s AS DOUBLE)
                 / CAST(n * s AS DOUBLE), 6)                AS gini,
           CAST(top1 * 1000000 // s AS BIGINT)              AS top1pct_share_ppm,
           CAST(top10 * 1000000 // s AS BIGINT)             AS top10pct_share_ppm
    FROM agg
    """,
)
def revenue_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue-concentration risk profile — the Gini coefficient plus
    top-1%/top-10% customer revenue shares (the portfolio-concentration
    metric credit/risk teams track; a revenue base where 10 customers
    are half the book is a different business than a flat one). Spend
    ranks are deterministic (ties broken by custkey); Gini uses the
    sorted-index identity G = (2·Σi·xᵢ − (n+1)·S)/(n·S) with every sum
    exact integer cents — the ONE division is a quotient of two huge
    exact integers left as a ROUND(…, 6) double (the fact-22 audited
    class: large-denominator quotients don't land on display-scale
    midpoints; Σi·xᵢ ≈ 4.5e16 at sf0.1 would overflow int64 if
    ppm-scaled BEFORE dividing, so the division comes first). Decile
    shares stay fully exact ppm (top cents ·1e6 ≤ 3e18 fits).

    Scale shape: the global sort runs over the PER-CUSTOMER aggregate
    (post-agg cardinality — 15k rows at sf0.1, |customers| not
    |orders|), the same post-aggregation-only global-window rule the
    plan audit enforces repo-wide. At 100 TB with billions of
    customers, replace the exact rank with the GK-quantile
    decomposition (Gini from the quantile histogram — the sketch
    family is already in functions/sketches.py) or range-partitioned
    prefix sums; the orders-side scan and groupBy are unchanged."""
    orders = load_table(spark, sf_dir, "orders")
    spend = orders.groupBy("o_custkey").agg(
        F.sum(
            (F.col("o_totalprice").cast("decimal(12,2)") * 100).cast("long")
        )
        .cast("long")
        .alias("cents")
    )
    ranked = spend.select(
        "cents",
        F.row_number()
        .over(Window.orderBy(F.col("cents"), F.col("o_custkey")))
        .alias("i"),
        F.row_number()
        .over(Window.orderBy(F.col("cents").desc(), F.col("o_custkey")))
        .alias("r"),
        F.count(F.lit(1)).over(Window.partitionBy(F.lit(1))).alias("_n"),
    )
    agg = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("cents").cast("long").alias("s"),
        F.sum(F.col("i") * F.col("cents")).cast("long").alias("iws"),
        F.sum(
            F.when(
                F.col("r") <= F.greatest(F.expr("_n DIV 100"), F.lit(1)),
                F.col("cents"),
            ).otherwise(F.lit(0))
        )
        .cast("long")
        .alias("top1"),
        F.sum(
            F.when(
                F.col("r") <= F.greatest(F.expr("_n DIV 10"), F.lit(1)),
                F.col("cents"),
            ).otherwise(F.lit(0))
        )
        .cast("long")
        .alias("top10"),
    )
    return agg.select(
        F.col("n").cast("long").alias("n_customers"),
        F.col("s").alias("total_cents"),
        F.round(
            F.expr("CAST(2 * iws - (n + 1) * s AS DOUBLE)")
            / F.expr("CAST(n * s AS DOUBLE)"),
            6,
        ).alias("gini"),
        F.expr("top1 * 1000000 DIV s").cast("long").alias("top1pct_share_ppm"),
        F.expr("top10 * 1000000 DIV s").cast("long").alias("top10pct_share_ppm"),
    )


RFM_ANCHOR = "2001-08-02"  # day after the lake's last order date


@register(
    "rfm_segment_counts",
    oracle=f"""
    WITH per_cust AS (
        SELECT o_custkey,
               date_diff('day', MAX(o_orderdate),
                         TIMESTAMP '{RFM_ANCHOR}')         AS recency_days,
               COUNT(*)                                    AS frequency,
               CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100
                             AS BIGINT)) AS BIGINT)        AS monetary_cents
        FROM orders GROUP BY o_custkey
    ),
    scored AS (
        SELECT NTILE(5) OVER (ORDER BY recency_days, o_custkey)        AS r_score,
               NTILE(5) OVER (ORDER BY frequency DESC, o_custkey)      AS f_score,
               NTILE(5) OVER (ORDER BY monetary_cents DESC, o_custkey) AS m_score,
               monetary_cents
        FROM per_cust
    )
    SELECT CAST(r_score AS BIGINT) AS r_score,
           CAST(f_score AS BIGINT) AS f_score,
           CAST(m_score AS BIGINT) AS m_score,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(monetary_cents) AS BIGINT) AS segment_cents
    FROM scored
    GROUP BY 1, 2, 3
    ORDER BY 1, 2, 3
    """,
)
def rfm_segment_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation (recency / frequency / monetary — the CRM
    scoring every retention team runs): each customer scored 1-5 per
    dimension by RANK-based quintiles (NTILE over a fully tie-broken
    order — best recency/frequency/monetary = score 1), then segment
    cells reported with population and revenue. NTILE instead of
    percentile-boundary binning because rank quintiles are exact
    integers with a deterministic tie-break on both engines, while
    interpolated percentile BOUNDARIES are doubles a value can sit
    exactly on (the fact-22 flake class). Recency is measured against
    a FIXED anchor date (a deployed scorer pins its as-of date; a
    data-dependent max would also be fine but costs a scan).

    Scale shape: one scan → groupBy(custkey) (map-side combinable) →
    three global NTILE windows over the PER-CUSTOMER aggregate
    (post-agg cardinality, the repo-wide global-window rule) → ≤125
    output cells. At extreme customer cardinality swap NTILE for
    GK-sketch quantile boundaries (functions/sketches.py) and accept
    boundary-epsilon segment drift — the standard trade."""
    orders = load_table(spark, sf_dir, "orders")
    per_cust = orders.groupBy("o_custkey").agg(
        F.datediff(
            F.lit(RFM_ANCHOR).cast("date"), F.max("o_orderdate").cast("date")
        ).alias("recency_days"),
        F.count(F.lit(1)).alias("frequency"),
        F.sum(
            (F.col("o_totalprice").cast("decimal(12,2)") * 100).cast("long")
        )
        .cast("long")
        .alias("monetary_cents"),
    )
    scored = per_cust.select(
        F.ntile(5)
        .over(Window.orderBy("recency_days", "o_custkey"))
        .cast("long")
        .alias("r_score"),
        F.ntile(5)
        .over(Window.orderBy(F.col("frequency").desc(), F.col("o_custkey")))
        .cast("long")
        .alias("f_score"),
        F.ntile(5)
        .over(Window.orderBy(F.col("monetary_cents").desc(), F.col("o_custkey")))
        .cast("long")
        .alias("m_score"),
        "monetary_cents",
    )
    return (
        scored.groupBy("r_score", "f_score", "m_score")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            F.sum("monetary_cents").cast("long").alias("segment_cents"),
        )
        .orderBy("r_score", "f_score", "m_score")
    )


@register(
    "cohort_ltv_curve",
    oracle="""
    WITH base AS (
        SELECT o_custkey,
               CAST(date_trunc('month', o_orderdate) AS DATE)       AS om,
               CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100
                    AS BIGINT)                                      AS cents
        FROM orders
    ),
    cohorted AS (
        SELECT *, MIN(om) OVER (PARTITION BY o_custkey) AS cohort_month
        FROM base
    ),
    per AS (
        SELECT cohort_month, om,
               COUNT(DISTINCT o_custkey)    AS n_active,
               CAST(SUM(cents) AS BIGINT)   AS m_cents
        FROM cohorted GROUP BY cohort_month, om
    )
    SELECT cohort_month,
           CAST(datediff('month', cohort_month, om) AS BIGINT) AS age_months,
           CAST(n_active AS BIGINT)                            AS n_active,
           CAST(FIRST_VALUE(n_active) OVER coh AS BIGINT)      AS cohort_size,
           CAST(SUM(m_cents) OVER coh AS BIGINT)               AS cum_revenue_cents,
           CAST(SUM(m_cents) OVER coh
                // FIRST_VALUE(n_active) OVER coh AS BIGINT)   AS ltv_per_customer_cents
    FROM per
    WINDOW coh AS (PARTITION BY cohort_month ORDER BY om
                   ROWS UNBOUNDED PRECEDING)
    ORDER BY cohort_month, age_months
    """,
)
def cohort_ltv_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value curve — the growth-analytics staple next
    to user_retention_cohorts (which counts RETAINED USERS; this one
    accumulates RETAINED REVENUE): customers are cohorted by their
    first-order month, and each cohort's cumulative revenue is tracked
    by age-in-months, normalized to LTV-per-customer. The
    cohort_size = n_active at age 0 identity holds by construction
    (every customer's first order is in their cohort month), so no
    separate distinct-count pass is needed.

    Determinism: revenue in exact integer cents (plans/_num.py money
    contract); LTV per customer is integer floor-division; the age is
    a whole-month difference of two month-truncated dates (exact on
    both engines).

    Scale shape: ONE shuffle on o_custkey carries both the cohort
    window (min per customer) and nothing else at fact scale; the
    (cohort, month) aggregate is map-side combinable into a
    months²-bounded frame (~80×80 here), and the cumulative windows
    run on that tiny frame. At 100 TB the customer window is the only
    fact-scale exchange — the same partitioning a customer-keyed
    bucketed table removes entirely."""
    orders = load_table(spark, sf_dir, "orders")
    base = orders.select(
        "o_custkey",
        F.to_date(F.date_trunc("month", "o_orderdate")).alias("om"),
        (money("o_totalprice") * 100).cast("long").alias("cents"),
    )
    cohorted = base.withColumn(
        "cohort_month", F.min("om").over(Window.partitionBy("o_custkey"))
    )
    per = cohorted.groupBy("cohort_month", "om").agg(
        F.countDistinct("o_custkey").cast("long").alias("n_active"),
        F.sum("cents").alias("m_cents"),
    )
    coh = (
        Window.partitionBy("cohort_month")
        .orderBy("om")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        per.withColumn("cum_cents", F.sum("m_cents").over(coh))
        .withColumn("cohort_size", F.first("n_active").over(coh))
        .select(
            "cohort_month",
            F.months_between("om", "cohort_month").cast("long").alias("age_months"),
            "n_active",
            F.col("cohort_size").cast("long").alias("cohort_size"),
            F.col("cum_cents").cast("long").alias("cum_revenue_cents"),
            F.expr("cum_cents DIV cohort_size")
            .cast("long")
            .alias("ltv_per_customer_cents"),
        )
        .orderBy("cohort_month", "age_months")
    )


ACF_MAX_LAG = 7


@register(
    "daily_order_autocorrelation",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS d,
               CAST(COUNT(*) AS BIGINT)  AS x
        FROM orders GROUP BY 1
    ),
    pairs AS (
        SELECT t.k AS lag_days, a.x AS x, b.x AS y
        FROM daily a
        CROSS JOIN range(1, {ACF_MAX_LAG + 1}) t(k)
        JOIN daily b ON b.d = a.d + CAST(t.k AS INTEGER)
    ),
    sums AS (
        SELECT lag_days,
               CAST(COUNT(*) AS BIGINT)   AS n,
               CAST(SUM(x) AS BIGINT)     AS sx,
               CAST(SUM(y) AS BIGINT)     AS sy,
               CAST(SUM(x * x) AS BIGINT) AS sxx,
               CAST(SUM(y * y) AS BIGINT) AS syy,
               CAST(SUM(x * y) AS BIGINT) AS sxy
        FROM pairs GROUP BY lag_days
    )
    SELECT CAST(lag_days AS BIGINT) AS lag_days,
           n                        AS n_pairs,
           ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
                 / NULLIF(sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                          * sqrt(CAST(n * syy - sy * sy AS DOUBLE)), 0),
                 4)                 AS acf
    FROM sums ORDER BY lag_days
    """,
)
def daily_order_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-k autocorrelation of the daily order-count series for
    k = 1..{ACF_MAX_LAG} — the time-series diagnostic behind
    seasonality detection and anomaly-model choice (a weekly cycle
    shows as an acf peak at lag 7; a flat acf says the volume monitor
    can use an i.i.d. band). Pairs are matched by CALENDAR date
    (b.d = a.d + k), not row offset, so sparse days at small scale
    factors don't misalign the lags.

    Determinism: every sum term (n, Σx, Σy, Σx², Σy², Σxy) is an exact
    BIGINT; the Pearson r is assembled with the IDENTICAL expression
    tree on both engines — one int→double cast per term, two IEEE
    sqrts, one multiply, one NULLIF-guarded divide, ROUND 4 (the
    fact-22-audited quotient-of-large-sums class; never
    midpoint-aligned).

    Scale shape: the fact scan collapses to one row per day
    (map-side combinable), and everything downstream — the 7-way
    spine explode, the self-join on date, the per-lag sums — runs on
    the days-sized frame (thousands of rows at any corpus size). The
    acf table is as cheap at 100 TB as at 100 MB once the daily
    rollup exists."""
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(F.to_date("o_orderdate").alias("d")).agg(
        F.count(F.lit(1)).cast("long").alias("x")
    )
    spine = spark.range(1, ACF_MAX_LAG + 1).select(
        F.col("id").cast("int").alias("lag_days")
    )
    b = daily.select(F.col("d").alias("bd"), F.col("x").alias("y"))
    pairs = (
        daily.crossJoin(F.broadcast(spine))
        .join(b, b.bd == F.date_add(F.col("d"), F.col("lag_days")))
    )
    sums = pairs.groupBy("lag_days").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.expr("x * x")).cast("long").alias("sxx"),
        F.sum(F.expr("y * y")).cast("long").alias("syy"),
        F.sum(F.expr("x * y")).cast("long").alias("sxy"),
    )
    return sums.select(
        F.col("lag_days").cast("long").alias("lag_days"),
        F.col("n").alias("n_pairs"),
        F.round(
            F.expr(
                "CAST(n * sxy - sx * sy AS DOUBLE)"
                " / NULLIF(sqrt(CAST(n * sxx - sx * sx AS DOUBLE))"
                "          * sqrt(CAST(n * syy - sy * sy AS DOUBLE)), 0)"
            ),
            4,
        ).alias("acf"),
    ).orderBy("lag_days")


DRAWDOWN_TOP = 10


@register(
    "revenue_peak_drawdown",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS d,
               CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100
                             AS BIGINT)) AS BIGINT) AS revenue_cents
        FROM orders GROUP BY 1
    ),
    tracked AS (
        SELECT d, revenue_cents,
               CAST(MAX(revenue_cents) OVER (ORDER BY d
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS peak_cents
        FROM daily
    )
    SELECT d, revenue_cents, peak_cents,
           CAST(peak_cents - revenue_cents AS BIGINT)    AS drawdown_cents,
           CAST((peak_cents - revenue_cents) * 1000000
                // peak_cents AS BIGINT)                 AS drawdown_ppm
    FROM tracked
    ORDER BY drawdown_cents DESC, d
    LIMIT {DRAWDOWN_TOP}
    """,
)
def revenue_peak_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decline-from-running-peak monitor over the daily revenue series
    — the ops-review companion of daily_volume_anomaly (trailing-mean
    %-change flags LOCAL dips; this ranks the worst days relative to
    the best day SEEN SO FAR, the metric an on-call dashboard tracks
    as "how far below peak are we"): running max via a cumulative
    window, drawdown in exact cents and floor-divided ppm, worst
    {DRAWDOWN_TOP} days reported with the deterministic
    (drawdown DESC, date) tie-break.

    Scale shape: the fact scan folds to one row per day map-side; the
    cumulative max and the top-k both run on the days-sized frame
    (the single-partition window is bounded by the calendar, not the
    corpus — the same contract as order_price_drift_tvd's readout
    tail), and the top-k plans as TakeOrderedAndProject."""
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(F.to_date("o_orderdate").alias("d")).agg(
        F.sum((money("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("revenue_cents")
    )
    cum = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    tracked = daily.withColumn(
        "peak_cents", F.max("revenue_cents").over(cum).cast("long")
    )
    dd = F.col("peak_cents") - F.col("revenue_cents")
    return (
        tracked.select(
            "d",
            "revenue_cents",
            "peak_cents",
            dd.cast("long").alias("drawdown_cents"),
            F.expr("(peak_cents - revenue_cents) * 1000000 DIV peak_cents")
            .cast("long")
            .alias("drawdown_ppm"),
        )
        .orderBy(F.desc("drawdown_cents"), "d")
        .limit(DRAWDOWN_TOP)
    )


PARETO_THRESHOLDS = [50, 80, 90, 99]


@register(
    "revenue_pareto_coverage",
    oracle=f"""
    WITH per_cust AS (
        SELECT o_custkey,
               CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100
                             AS BIGINT)) AS BIGINT) AS cents
        FROM orders GROUP BY o_custkey
    ),
    ranked AS (
        SELECT o_custkey, cents,
               ROW_NUMBER() OVER w AS rnk,
               CAST(SUM(cents) OVER (ORDER BY cents DESC, o_custkey
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_cents,
               CAST(SUM(cents) OVER () AS BIGINT)  AS total_cents,
               COUNT(*) OVER ()                    AS n_total
        FROM per_cust
        WINDOW w AS (ORDER BY cents DESC, o_custkey)
    ),
    hits AS (
        SELECT t.thr,
               MIN(r.rnk)                 AS n_customers,
               MIN_BY(r.cum_cents, r.rnk) AS cum_at,
               ANY_VALUE(r.total_cents)   AS total_cents,
               ANY_VALUE(r.n_total)       AS n_total
        FROM ranked r
        CROSS JOIN (VALUES {", ".join(f"({t})" for t in PARETO_THRESHOLDS)})
             AS t(thr)
        WHERE r.cum_cents * 100 >= CAST(t.thr AS BIGINT) * r.total_cents
        GROUP BY t.thr
    )
    SELECT CAST(thr AS BIGINT)          AS threshold_pct,
           CAST(n_customers AS BIGINT)  AS n_customers,
           CAST(n_customers * 1000000 // n_total AS BIGINT)
                                        AS customer_share_ppm,
           CAST(cum_at * 1000000 // total_cents AS BIGINT)
                                        AS revenue_share_ppm
    FROM hits ORDER BY threshold_pct
    """,
)
def revenue_pareto_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto coverage of revenue — "how many customers cover X% of
    the book" for X ∈ {{{", ".join(map(str, PARETO_THRESHOLDS))}}} (the
    80/20 readout account teams act on; the cumulative-share companion
    of revenue_concentration, which reports the Gini and FIXED top-1%/
    10% slices — this inverts the question to the minimal covering
    set). Per threshold: the smallest prefix of customers (ranked by
    exact-cents spend, custkey tie-break) whose cumulative revenue
    reaches the threshold, that prefix as floor-divided ppm of all
    customers, and the exact share it actually covers.

    Determinism: cents are exact integers; the covering rank is an
    integer cross-multiplied comparison (cum·100 >= thr·total — no
    percentage float); shares are floor-div ppm; MIN_BY/min_by on the
    unique rank key is tie-free on both engines.

    Scale shape: the fact scan folds to one row per customer
    (map-side combinable); the ranking window runs over the
    per-customer frame — the revenue_concentration contract: fine to
    |customers|, and the docstring there names the GK-quantile
    decomposition as the extreme-cardinality path. The threshold
    probe is a 4-row literal cross join over the ranked frame."""
    orders = load_table(spark, sf_dir, "orders")
    per_cust = orders.groupBy("o_custkey").agg(
        F.sum((money("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("cents")
    )
    w = Window.orderBy(F.col("cents").desc(), "o_custkey")
    everything = Window.partitionBy(F.lit(1))
    ranked = per_cust.select(
        "o_custkey",
        "cents",
        F.row_number().over(w).alias("rnk"),
        F.sum("cents")
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .cast("long")
        .alias("cum_cents"),
        F.sum("cents").over(everything).cast("long").alias("total_cents"),
        F.count(F.lit(1)).over(everything).alias("n_total"),
    )
    thr = spark.range(1).select(
        F.explode(
            F.array(*[F.lit(t) for t in PARETO_THRESHOLDS])
        ).alias("thr")
    )
    return (
        ranked.crossJoin(F.broadcast(thr))
        .filter(
            F.col("cum_cents") * 100
            >= F.col("thr").cast("long") * F.col("total_cents")
        )
        .groupBy("thr")
        .agg(
            # row_number() is INT — widen before the ppm multiply or
            # ANSI mode overflows at >2147 customers
            F.min("rnk").cast("long").alias("n_customers"),
            F.min_by("cum_cents", "rnk").alias("cum_at"),
            F.any_value("total_cents").alias("total_cents"),
            F.any_value("n_total").alias("n_total"),
        )
        .select(
            F.col("thr").cast("long").alias("threshold_pct"),
            F.col("n_customers").cast("long").alias("n_customers"),
            F.expr("n_customers * 1000000 DIV n_total")
            .cast("long")
            .alias("customer_share_ppm"),
            F.expr("cum_at * 1000000 DIV total_cents")
            .cast("long")
            .alias("revenue_share_ppm"),
        )
        .orderBy("threshold_pct")
    )


CHI2_RESIDUAL_SD = 3  # |O-E|/sqrt(E) > 3 flags a cell


@register(
    "segment_priority_independence",
    oracle=f"""
    WITH joined AS (
        SELECT c.c_mktsegment AS segment, o.o_orderpriority AS priority
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ),
    cells AS (
        SELECT segment, priority, CAST(COUNT(*) AS BIGINT) AS n_observed
        FROM joined GROUP BY segment, priority
    ),
    t AS (
        SELECT segment, priority, n_observed,
               CAST(SUM(n_observed) OVER (PARTITION BY segment) AS BIGINT) AS r,
               CAST(SUM(n_observed) OVER (PARTITION BY priority) AS BIGINT) AS c,
               CAST(SUM(n_observed) OVER () AS BIGINT) AS n
        FROM cells
    )
    , wide AS (
        SELECT segment, priority, n_observed, r, c, n,
               CAST(n_observed AS HUGEINT) * CAST(n AS HUGEINT)
                 - CAST(r AS HUGEINT) * CAST(c AS HUGEINT) AS d
        FROM t
    )
    SELECT segment, priority, n_observed,
           CAST(CAST(r AS HUGEINT) * CAST(c AS HUGEINT) * 1000
                // CAST(n AS HUGEINT) AS BIGINT) AS expected_milli,
           ROUND(
             (CAST(d AS DOUBLE) * CAST(d AS DOUBLE))
             / (CAST(n AS DOUBLE) * CAST(r AS DOUBLE) * CAST(c AS DOUBLE)),
             4) AS chi2_contribution,
           d * d > CAST({CHI2_RESIDUAL_SD * CHI2_RESIDUAL_SD} AS HUGEINT)
               * CAST(r AS HUGEINT) * CAST(c AS HUGEINT)
               * CAST(n AS HUGEINT)               AS residual_flag
    FROM wide
    ORDER BY segment, priority
    """,
)
def segment_priority_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence audit of the (market segment × order
    priority) contingency table — the categorical-association test a
    risk/BI team runs before trusting a segmentation (A/B's
    two-proportion z covers a 2×2 split; this is the general R×C
    test). Per cell: observed count, the independence-expected count
    in exact integer milli-units (r·c·1000 DIV N — no float), the
    chi² contribution (O−E)²/E, and a standardized-residual flag
    |O−E| > {CHI2_RESIDUAL_SD}·sqrt(E).

    Determinism: the flag is the EXACT integer comparison
    (O·N − r·c)² > {CHI2_RESIDUAL_SD}²·r·c·N — cross-multiplied so no
    sqrt or division enters it; the squares exceed int64 at fact
    scale, so they compute in DECIMAL(38) on Spark and HUGEINT on
    DuckDB (both exact 128-bit-class integer arithmetic). The chi²
    contribution is the one float: an identical
    cast-multiply-divide tree on both engines, ROUND 4 (the fact-22
    quotient-of-large-sums class).

    Scale shape: one fact scan with the customer dim broadcast, a
    map-side-combined groupBy to the R×C cell frame (≤25 rows), and
    every margin (r, c, N) from windows over that bounded frame —
    no second scan, no separate totals aggregate (the fact-20
    window-totals pattern)."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    cells = (
        orders.join(
            F.broadcast(customer.select("c_custkey", "c_mktsegment")),
            orders.o_custkey == F.col("c_custkey"),
        )
        .groupBy(
            F.col("c_mktsegment").alias("segment"),
            F.col("o_orderpriority").alias("priority"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_observed"))
    )
    t = cells.select(
        "segment",
        "priority",
        "n_observed",
        F.sum("n_observed")
        .over(Window.partitionBy("segment"))
        .cast("long")
        .alias("r"),
        F.sum("n_observed")
        .over(Window.partitionBy("priority"))
        .cast("long")
        .alias("c"),
        F.sum("n_observed")
        .over(Window.partitionBy(F.lit(1)))
        .cast("long")
        .alias("n"),
    )
    # operands widen BEFORE every multiply (r7s3 review wave 2 finding
    # #2: n_observed*n and r*c overflow int64 past ~3e9 rows — the
    # scale this file's contracts target); DECIMAL(18,0) products get
    # precision 37 ≤ 38, exact
    wide = t.withColumn(
        "d",
        F.expr(
            "CAST(n_observed AS DECIMAL(18,0)) * CAST(n AS DECIMAL(18,0))"
            " - CAST(r AS DECIMAL(18,0)) * CAST(c AS DECIMAL(18,0))"
        ),
    )
    return wide.select(
        "segment",
        "priority",
        "n_observed",
        F.expr(
            "CAST(CAST(r AS DECIMAL(18,0)) * CAST(c AS DECIMAL(18,0))"
            " * 1000 DIV CAST(n AS DECIMAL(18,0)) AS BIGINT)"
        ).alias("expected_milli"),
        F.round(
            F.expr(
                "(CAST(d AS DOUBLE) * CAST(d AS DOUBLE))"
                " / (CAST(n AS DOUBLE) * CAST(r AS DOUBLE)"
                "    * CAST(c AS DOUBLE))"
            ),
            4,
        ).alias("chi2_contribution"),
        F.expr(
            "CAST(d AS DECIMAL(38,0)) * CAST(d AS DECIMAL(38,0))"
            f" > CAST({CHI2_RESIDUAL_SD * CHI2_RESIDUAL_SD} AS DECIMAL(38,0))"
            " * CAST(r AS DECIMAL(38,0)) * CAST(c AS DECIMAL(38,0))"
            " * CAST(n AS DECIMAL(38,0))"
        ).alias("residual_flag"),
    ).orderBy("segment", "priority")


CAT_DRIFT_FLAG_PPM = 50_000  # total variation > 5% warrants review


@register(
    "priority_mix_drift_tvd",
    oracle=f"""
    WITH counts AS (
        SELECT o_orderpriority AS priority,
               CAST(SUM(CASE WHEN o_orderdate < TIMESTAMP '{DRIFT_SPLIT}'
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_before,
               CAST(SUM(CASE WHEN o_orderdate >= TIMESTAMP '{DRIFT_SPLIT}'
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_after
        FROM orders GROUP BY o_orderpriority
    ),
    t AS (
        SELECT priority, n_before, n_after,
               CAST(SUM(n_before) OVER () AS BIGINT) AS t_b,
               CAST(SUM(n_after) OVER () AS BIGINT)  AS t_a
        FROM counts
    ),
    d AS (
        SELECT priority, n_before, n_after,
               CAST(n_before * 1000000 // t_b AS BIGINT) AS share_before_ppm,
               CAST(n_after * 1000000 // t_a AS BIGINT)  AS share_after_ppm,
               CAST(abs(n_before * t_a - n_after * t_b) * 1000000
                    // (t_b * t_a) AS BIGINT)            AS abs_delta_ppm,
               CAST(SUM(abs(n_before * t_a - n_after * t_b)) OVER ()
                    * 1000000 // (2 * t_b * t_a) AS BIGINT) AS tvd_ppm
        FROM t
    )
    SELECT priority, n_before, n_after, share_before_ppm,
           share_after_ppm, abs_delta_ppm, tvd_ppm,
           tvd_ppm > {CAT_DRIFT_FLAG_PPM} AS drift_flag
    FROM d ORDER BY priority
    """,
)
def priority_mix_drift_tvd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CATEGORICAL drift monitor — the mix-shift companion of
    order_price_drift_tvd (that one bins a NUMERIC column; this one
    compares the category DISTRIBUTION itself, the population-
    stability check every scoring-model owner runs on segment/channel
    mixes): per order priority, before/after counts and shares across
    the {DRIFT_SPLIT} split, the per-category share delta, and the
    corpus-level total-variation distance with a
    > {CAT_DRIFT_FLAG_PPM} ppm review flag.

    Determinism: the same cross-multiplied exact-integer TVD as the
    numeric monitor — |n_b·t_a − n_a·t_b|·1e6 DIV (2·t_b·t_a) — no
    float anywhere; the category-count products stay far inside int64
    for any per-category count × total under ~3e9 (the chi² DECIMAL
    widening applies beyond).

    Scale shape: ONE conditional-aggregate scan to the
    |categories|-bounded frame; totals and the TVD are windows over
    that frame (never a second scan — the fact-20 window-totals
    rule). Periods partition-prune at scale exactly like the numeric
    monitor."""
    orders = load_table(spark, sf_dir, "orders")
    # when().otherwise(0), NOT a bare boolean cast: a category whose
    # dates are all NULL would SUM to NULL (three-valued <) while the
    # oracle's CASE yields 0 — the row would silently drop out of the
    # window TVD (r7s3 review wave 4 finding #1; unreachable on
    # TPC-H's NOT NULL dates, hardened anyway). The share/TVD algebra
    # deliberately mirrors drift_readout (plans/analytics.py) — keep
    # the two in lockstep; here *_before/*_after naming replaces its
    # a/b suffixes.
    return priority_mix_readout(priority_period_counts(orders))


def priority_period_counts(orders: DataFrame) -> DataFrame:
    """(priority, n_before, n_after) conditional-aggregate counts — the
    counting definition of the categorical drift monitor, consumed
    only by the registry query above; counts are plain associative
    sums, so partials over row subsets merge by addition."""
    split_ts = F.lit(DRIFT_SPLIT).cast("timestamp")
    return orders.groupBy(
        F.col("o_orderpriority").alias("priority")
    ).agg(
        F.sum(F.when(F.col("o_orderdate") < split_ts, 1).otherwise(0))
        .cast("long")
        .alias("n_before"),
        F.sum(F.when(F.col("o_orderdate") >= split_ts, 1).otherwise(0))
        .cast("long")
        .alias("n_after"),
    )


def priority_mix_readout(counts: DataFrame) -> DataFrame:
    """Shares/deltas/TVD readout over the bounded counts frame —
    window totals only, never a second scan (fact-20 rule)."""
    everything = Window.partitionBy(F.lit(1))
    t = counts.select(
        "priority",
        "n_before",
        "n_after",
        F.sum("n_before").over(everything).cast("long").alias("t_before"),
        F.sum("n_after").over(everything).cast("long").alias("t_after"),
    )
    d = t.select(
        "priority",
        "n_before",
        "n_after",
        F.expr("n_before * 1000000 DIV t_before").cast("long").alias(
            "share_before_ppm"
        ),
        F.expr("n_after * 1000000 DIV t_after").cast("long").alias(
            "share_after_ppm"
        ),
        F.expr(
            "abs(n_before * t_after - n_after * t_before) * 1000000"
            " DIV (t_before * t_after)"
        )
        .cast("long")
        .alias("abs_delta_ppm"),
        F.expr(
            "SUM(abs(n_before * t_after - n_after * t_before)) OVER"
            " (PARTITION BY 1) * 1000000 DIV (2 * t_before * t_after)"
        )
        .cast("long")
        .alias("tvd_ppm"),
    )
    return d.select(
        "*", (F.col("tvd_ppm") > CAT_DRIFT_FLAG_PPM).alias("drift_flag")
    ).orderBy("priority")


ISO_BITS = 12  # 12 bits per dimension -> 24-bit Morton key
ISO_VALUE_BUCKET = 16_384  # cents per value cell (max ~5e7 -> <4096)
ISO_EPOCH = "1995-01-01"
ISO_TOP = 20
ISO_NOT_ISOLATED = 2 * ISO_BITS + 1  # sentinel: exact-duplicate cell


def _morton_sql(x: str, y: str, div: str) -> str:
    """Interleave the low ISO_BITS of x and y into a Morton key using
    only DIV/%/*/+ (identical arithmetic on both engines; ``div`` is
    'DIV' for Spark, '//' for DuckDB)."""
    terms = []
    for j in range(ISO_BITS):
        terms.append(f"(({x} {div} {2 ** j}) % 2) * {2 ** (2 * j)}")
        terms.append(f"(({y} {div} {2 ** j}) % 2) * {2 ** (2 * j + 1)}")
    return " + ".join(terms)


@register(
    "order_isolation_anomalies",
    oracle=f"""
    WITH pts AS (
        SELECT o_orderkey,
               CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)
                   AS value_cents,
               CAST(datediff('day', DATE '{ISO_EPOCH}',
                             CAST(o_orderdate AS DATE)) AS BIGINT) AS day_idx
        FROM orders
    ),
    clamped AS (
        SELECT o_orderkey, value_cents, day_idx,
               LEAST(GREATEST(value_cents // {ISO_VALUE_BUCKET}, 0),
                     {2 ** ISO_BITS - 1}) AS cx,
               LEAST(GREATEST(day_idx, 0), {2 ** ISO_BITS - 1}) AS cy
        FROM pts
    ),
    keyed AS (
        SELECT o_orderkey, value_cents, day_idx,
               CAST({_morton_sql("cx", "cy", "//")} AS BIGINT) AS m
        FROM clamped
    ),
    lvl AS (
        SELECT k.o_orderkey, k.value_cents, k.day_idx,
               CAST(l.l AS BIGINT) AS l,
               k.m // CAST(power(2, {2 * ISO_BITS} - l.l) AS BIGINT)
                   AS prefix
        FROM keyed k CROSS JOIN range(1, {2 * ISO_BITS + 1}) l(l)
    ),
    cnt AS (
        SELECT l, prefix, COUNT(*) AS n FROM lvl GROUP BY l, prefix
    ),
    iso AS (
        SELECT v.o_orderkey, v.value_cents, v.day_idx,
               COALESCE(MIN(CASE WHEN c.n = 1 THEN v.l END),
                        {ISO_NOT_ISOLATED}) AS iso_depth
        FROM lvl v JOIN cnt c ON v.l = c.l AND v.prefix = c.prefix
        GROUP BY v.o_orderkey, v.value_cents, v.day_idx
    )
    SELECT o_orderkey, value_cents, day_idx,
           CAST(iso_depth AS BIGINT) AS iso_depth
    FROM iso
    ORDER BY iso_depth, o_orderkey
    LIMIT {ISO_TOP}
    """,
)
def order_isolation_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isolation-depth anomaly scoring over (order value, order day) —
    the isolation-forest IDEA (Liu et al. 2008: anomalies isolate in
    FEW splits) made exactly deterministic: dyadic splits alternate
    between the two dimensions, which is precisely the bit order of a
    Morton key (reusing the Z-order clustering insight from
    write_zordered_table), so a point's isolation depth is the
    shallowest Morton-prefix level at which it sits ALONE. Orders
    isolated at shallow depth are far from everything in value×time —
    the {ISO_TOP} most isolated are reported (total (depth, orderkey)
    order). Unlike the per-feature outlier screens (MAD, Benford,
    histogram), this flags JOINT anomalies — a mundane value on a
    mundane day never isolates early, a mid-value order in a dead week
    does.

    Determinism: the Morton key is pure integer DIV/%/arithmetic over
    exact cents and day indices (generated by the same Python for
    both engines — no bit-op dialect drift); prefix counts are exact;
    exact-duplicate cells never isolate and take the
    {ISO_NOT_ISOLATED} sentinel.

    Scale shape: the scan + Morton + ×{2 * ISO_BITS} level explode
    subtree feeds TWO consumers (the (level, prefix) counts and the
    join probe) whose exchanges differ, so it computes twice — the
    honest cost (an explicit shared repartition is the fact-20 lever,
    but AQE broadcasting the tiny count side breaks its reuse, the
    brand_pair_association lesson — A/B before adding). Prefix-count
    cardinality is bounded by 2^level per level regardless of corpus
    size; at 100 TB a production variant prunes levels with no
    singleton cells early."""
    orders = load_table(spark, sf_dir, "orders")
    pts = orders.select(
        "o_orderkey",
        (money("o_totalprice") * 100).cast("long").alias("value_cents"),
        F.datediff(F.to_date("o_orderdate"), F.lit(ISO_EPOCH).cast("date"))
        .cast("long")
        .alias("day_idx"),
    )
    # clamp both coordinates into the 12-bit window on BOTH engines:
    # out-of-domain values pile into the edge cells deterministically
    # instead of bit-aliasing into arbitrary interior cells (r7s3
    # review wave 5 finding #1 — the lake stays in-bounds today, but
    # aliasing would be invisible to the oracle since both engines
    # share the arithmetic)
    keyed = pts.withColumn(
        "cx",
        F.expr(
            f"LEAST(GREATEST(value_cents DIV {ISO_VALUE_BUCKET}, 0),"
            f" {2 ** ISO_BITS - 1})"
        ),
    ).withColumn(
        "cy",
        F.expr(f"LEAST(GREATEST(day_idx, 0), {2 ** ISO_BITS - 1})"),
    ).withColumn(
        "m", F.expr(_morton_sql("cx", "cy", "DIV")).cast("long")
    ).drop("cx", "cy")
    lvl = keyed.select(
        "o_orderkey",
        "value_cents",
        "day_idx",
        F.explode(
            F.sequence(F.lit(1), F.lit(2 * ISO_BITS))
        ).alias("l"),
        "m",
    ).select(
        "o_orderkey",
        "value_cents",
        "day_idx",
        F.col("l").cast("long").alias("l"),
        F.expr(f"m DIV CAST(power(2, {2 * ISO_BITS} - l) AS BIGINT)").alias(
            "prefix"
        ),
    )
    # MERGE hint: left to AQE, the (l, prefix) count side fits the
    # adaptive broadcast threshold at small-to-mid scale and the
    # broadcast plan is PATHOLOGICAL here (A/B at 4× facts: 32.9 s
    # broadcast vs 8.3 s merge; neutral at 16× where AQE already
    # picks SMJ) — both join inputs derive from the same heavy
    # explode subtree, and shuffling them on (l, prefix) beats
    # driver-collecting one copy while recomputing the other
    cnt = (
        lvl.groupBy("l", "prefix")
        .agg(F.count(F.lit(1)).alias("n"))
        .hint("merge")
    )
    iso = (
        lvl.join(cnt, ["l", "prefix"])
        .groupBy("o_orderkey", "value_cents", "day_idx")
        .agg(
            F.coalesce(
                F.min(F.when(F.col("n") == 1, F.col("l"))),
                F.lit(ISO_NOT_ISOLATED),
            )
            .cast("long")
            .alias("iso_depth")
        )
    )
    return iso.orderBy("iso_depth", "o_orderkey").limit(ISO_TOP)


@register(
    "fifo_lot_matching",
    oracle="""
    WITH buys AS (
        SELECT l_partkey,
               CAST(l_quantity AS BIGINT) AS qty,
               SUM(CAST(l_quantity AS BIGINT)) OVER (
                   PARTITION BY l_partkey
                   ORDER BY l_shipdate, l_orderkey, l_linenumber
               ) AS hi
        FROM lineitem WHERE l_returnflag <> 'R'
    ),
    sells AS (
        SELECT l_partkey,
               CAST(l_quantity AS BIGINT) AS qty,
               SUM(CAST(l_quantity AS BIGINT)) OVER (
                   PARTITION BY l_partkey
                   ORDER BY l_shipdate, l_orderkey, l_linenumber
               ) AS hi
        FROM lineitem WHERE l_returnflag = 'R'
    ),
    b AS (SELECT l_partkey, qty, hi, hi - qty AS lo FROM buys),
    s AS (SELECT l_partkey, qty, hi, hi - qty AS lo FROM sells),
    matched AS (
        SELECT b.l_partkey,
               LEAST(b.hi, s.hi) - GREATEST(b.lo, s.lo) AS m
        FROM b JOIN s ON b.l_partkey = s.l_partkey
                     AND b.lo < s.hi AND s.lo < b.hi
    ),
    sell_tot AS (
        SELECT l_partkey, SUM(qty) AS sell_qty, COUNT(*) AS n_sell_lots
        FROM s GROUP BY l_partkey
    )
    SELECT t.l_partkey                            AS part_key,
           CAST(t.n_sell_lots AS BIGINT)          AS n_sell_lots,
           CAST(t.sell_qty AS BIGINT)             AS sell_qty,
           CAST(COALESCE(m.n_pairs, 0) AS BIGINT) AS n_matched_pairs,
           CAST(COALESCE(m.matched, 0) AS BIGINT) AS matched_qty,
           CAST(t.sell_qty - COALESCE(m.matched, 0) AS BIGINT)
                                                  AS unmatched_sell_qty
    FROM sell_tot t
    LEFT JOIN (
        SELECT l_partkey, SUM(m) AS matched, COUNT(*) AS n_pairs
        FROM matched GROUP BY l_partkey
    ) m ON m.l_partkey = t.l_partkey
    ORDER BY part_key
    """,
)
def fifo_lot_matching(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FIFO lot matching — the inventory-costing / position-closing
    primitive of every brokerage and ERP ledger (realized-PnL and COGS
    engines match sells against buy lots first-in-first-out), expressed
    as the SCALABLE set formulation instead of the sequential loop a
    naive implementation runs: number buys and sells per part with
    CUMULATIVE-quantity intervals [hi−qty, hi) along FIFO order
    (shipdate, orderkey, linenumber), and FIFO matching becomes pure
    INTERVAL INTERSECTION — buy lot b covers sell lot s for
    min(b.hi, s.hi) − max(b.lo, s.lo) units exactly when their
    cumulative ranges overlap. No iteration, no state: two windows +
    one interval join reproduce the sequential algorithm's assignment
    bit-for-bit (the classic cumulative-sum trick). Returns per part
    the sell-lot count, sell quantity, matched pair count, FIFO-matched
    quantity and the unmatched remainder (sells exceeding total buys) —
    all exact integers.

    Proxy mapping on the test lake: shipments with l_returnflag ≠ 'R'
    are acquisitions (buy lots), 'R' rows are returns to match against
    them — the mechanics are identical for trade fills.

    Scale shape: two part-keyed windows (one shuffle each, same key →
    exchange reuse), then an equi-join on part key whose range
    predicates evaluate as join filters — never a cartesian; per-key
    pair fan-out is bounded by lots-per-part, and a hot part would get
    the salting toolkit. At 100 TB you'd additionally bucket both
    sides by part key at write time and the windows/join all skip the
    exchange."""
    li = load_table(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_partkey").orderBy(
        "l_shipdate", "l_orderkey", "l_linenumber"
    )

    def lots(df):
        return (
            df.select(
                "l_partkey",
                F.col("l_quantity").cast("long").alias("qty"),
                F.sum(F.col("l_quantity").cast("long"))
                .over(w)
                .alias("hi"),
            )
            .withColumn("lo", F.col("hi") - F.col("qty"))
        )

    b = lots(li.filter(F.col("l_returnflag") != "R")).alias("b")
    s = lots(li.filter(F.col("l_returnflag") == "R")).alias("s")
    matched = (
        b.join(
            s,
            (F.col("b.l_partkey") == F.col("s.l_partkey"))
            & (F.col("b.lo") < F.col("s.hi"))
            & (F.col("s.lo") < F.col("b.hi")),
        )
        .groupBy(F.col("b.l_partkey").alias("part_key"))
        .agg(
            F.sum(
                F.least(F.col("b.hi"), F.col("s.hi"))
                - F.greatest(F.col("b.lo"), F.col("s.lo"))
            ).alias("matched"),
            F.count(F.lit(1)).alias("n_pairs"),
        )
    )
    sell_tot = s.groupBy(F.col("l_partkey").alias("part_key")).agg(
        F.sum("qty").alias("sell_qty"),
        F.count(F.lit(1)).alias("n_sell_lots"),
    )
    return (
        sell_tot.join(matched, "part_key", "left")
        .select(
            "part_key",
            F.col("n_sell_lots").cast("long").alias("n_sell_lots"),
            F.col("sell_qty").cast("long").alias("sell_qty"),
            F.coalesce("n_pairs", F.lit(0))
            .cast("long")
            .alias("n_matched_pairs"),
            F.coalesce("matched", F.lit(0))
            .cast("long")
            .alias("matched_qty"),
            (F.col("sell_qty") - F.coalesce("matched", F.lit(0)))
            .cast("long")
            .alias("unmatched_sell_qty"),
        )
        .orderBy("part_key")
    )


@register(
    "user_time_weighted_value",
    oracle="""
    WITH seq AS (
        SELECT user_id,
               CAST(ts AS DATE) AS day,
               value,
               epoch_us(ts) AS t,
               LEAD(epoch_us(ts)) OVER (
                   PARTITION BY user_id, CAST(ts AS DATE)
                   ORDER BY ts, event_id
               ) AS t_next
        FROM events
    )
    SELECT user_id, day,
           CAST(COUNT(*) AS BIGINT)                         AS n_intervals,
           CAST(MAX(t_next) - MIN(t) AS BIGINT)             AS span_us,
           ROUND(SUM(value * (t_next - t))
                 / (MAX(t_next) - MIN(t)), 4)               AS twav
    FROM seq
    WHERE t_next IS NOT NULL
    GROUP BY user_id, day
    HAVING MAX(t_next) > MIN(t)
    ORDER BY user_id, day
    """,
)
def user_time_weighted_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average value per (user, day) — the TWAP shape of
    every execution-quality and exposure report (an arithmetic mean
    over irregular observations over-weights bursts; the time-weighted
    mean integrates the step function, weighting each observation by
    how long it REMAINED the latest): value_i carries until the next
    event (LEAD within the user-day), weight = the microsecond gap,
    twav = Σ value·gap / total span. Events with no successor close
    the day and contribute span only.

    Determinism: gaps are exact integer microseconds; the one double
    SUM rides small per-user-day groups, rounded at 4 (the events
    family's established contract — total_value/session_value use the
    same form).

    Scale shape: one (user, day) window shuffle, then a groupBy on the
    SAME key — the aggregation reuses the window's partitioning, so
    the plan carries a single exchange over the fact. At 100 TB this
    is the canonical pre-partitioned time-series pass."""
    events = load_table(spark, sf_dir, "events")
    day = F.to_date("ts").alias("day")
    w = Window.partitionBy("user_id", F.to_date("ts")).orderBy(
        "ts", "event_id"
    )
    # ts is TIMESTAMP_NTZ (TESTDATA nanos conversion) — timestampdiff
    # is the TZ-FREE microsecond arithmetic (unix_micros would pull
    # the session zone in); the oracle's epoch_us difference on
    # DuckDB's naive timestamps is the identical integer
    seq = events.select(
        "user_id",
        day,
        "value",
        F.col("ts"),
        F.lead("ts").over(w).alias("ts_next"),
    ).filter(F.col("ts_next").isNotNull())
    gap = F.expr("timestampdiff(MICROSECOND, ts, ts_next)")
    span = F.expr("timestampdiff(MICROSECOND, min(ts), max(ts_next))")
    return (
        seq.groupBy("user_id", "day")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_intervals"),
            span.cast("long").alias("span_us"),
            F.round(F.sum(F.col("value") * gap) / span, 4).alias("twav"),
        )
        .filter(F.col("span_us") > 0)
        .orderBy("user_id", "day")
    )


@register(
    "hourly_value_ohlc",
    oracle="""
    WITH seq AS (
        SELECT event_type,
               date_trunc('hour', ts) AS bar_ts,
               value,
               ROW_NUMBER() OVER (
                   PARTITION BY event_type, date_trunc('hour', ts)
                   ORDER BY ts, event_id
               ) AS rn_a,
               ROW_NUMBER() OVER (
                   PARTITION BY event_type, date_trunc('hour', ts)
                   ORDER BY ts DESC, event_id DESC
               ) AS rn_d
        FROM events
    )
    SELECT event_type, bar_ts,
           ROUND(MAX(CASE WHEN rn_a = 1 THEN value END), 4) AS open,
           ROUND(MAX(value), 4)                             AS high,
           ROUND(MIN(value), 4)                             AS low,
           ROUND(MAX(CASE WHEN rn_d = 1 THEN value END), 4) AS close,
           CAST(COUNT(*) AS BIGINT)                         AS n_events
    FROM seq
    GROUP BY event_type, bar_ts
    ORDER BY event_type, bar_ts
    """,
)
def hourly_value_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC candlestick bars — the aggregation every market-data and
    metrics store materializes (open/high/low/close per instrument per
    bar): hourly bars per event type over the event value stream.
    Open/close are the FIRST/LAST observation by (ts, event_id) —
    realized as one window pass emitting ascending and descending row
    numbers, then conditional aggregates (deterministic: event_id
    uniquifies ties; high/low/count are exact single-value aggregates,
    no order-dependent sum anywhere, ROUND only renders).

    Scale shape: one (event_type, bar) window shuffle feeding a
    groupBy on the SAME key; bar grain bounds output cardinality.
    date_trunc on TIMESTAMP_NTZ is TZ-free. At 100 TB this is the
    standard pre-partitioned bar-build pass — and the streaming twin
    is a watermarked tumbling window with min_by/max_by."""
    events = load_table(spark, sf_dir, "events")
    bar = F.date_trunc("hour", F.col("ts"))
    w_a = Window.partitionBy("event_type", bar).orderBy("ts", "event_id")
    w_d = Window.partitionBy("event_type", bar).orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    seq = events.select(
        "event_type",
        bar.alias("bar_ts"),
        "value",
        F.row_number().over(w_a).alias("rn_a"),
        F.row_number().over(w_d).alias("rn_d"),
    )
    return (
        seq.groupBy("event_type", "bar_ts")
        .agg(
            F.round(
                F.max(F.when(F.col("rn_a") == 1, F.col("value"))), 4
            ).alias("open"),
            F.round(F.max("value"), 4).alias("high"),
            F.round(F.min("value"), 4).alias("low"),
            F.round(
                F.max(F.when(F.col("rn_d") == 1, F.col("value"))), 4
            ).alias("close"),
            F.count(F.lit(1)).cast("long").alias("n_events"),
        )
        .orderBy("event_type", "bar_ts")
    )


@register(
    "order_volume_trend_fit",
    oracle="""
    WITH daily AS (
        SELECT o_orderpriority AS priority,
               DATEDIFF('day', DATE '1992-01-01',
                        CAST(o_orderdate AS DATE)) AS x,
               CAST(COUNT(*) AS BIGINT) AS y
        FROM orders GROUP BY 1, 2
    ),
    s AS (
        SELECT priority,
               CAST(COUNT(*) AS BIGINT)    AS n,
               CAST(SUM(x) AS BIGINT)      AS sx,
               CAST(SUM(y) AS BIGINT)      AS sy,
               CAST(SUM(x * y) AS BIGINT)  AS sxy,
               CAST(SUM(x * x) AS BIGINT)  AS sxx
        FROM daily GROUP BY priority
    )
    SELECT priority,
           n AS n_days,
           sy AS total_orders,
           CAST((n * sxy - sx * sy) * 1000000
                // (n * sxx - sx * sx) AS BIGINT) AS slope_ppm,
           CAST((sy * sxx - sx * sxy) * 1000
                // (n * sxx - sx * sx) AS BIGINT) AS intercept_milli
    FROM s
    """,
)
def order_volume_trend_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LINEAR TREND FIT of daily order volume per priority (r12 —
    the "is this segment growing or shrinking" regression every BI
    layer runs): least squares over (x = days since 1992-01-01,
    y = orders that day), solved from the closed-form normal
    equations on EXACT BIGINT sums — slope = (nΣxy − ΣxΣy)/(nΣx² −
    (Σx)²) in integer ppm and the intercept in integer thousandths,
    both via integral division (Spark ``DIV`` and DuckDB ``//`` both
    truncate toward zero, probed). No ``regr_slope``: its streaming
    covariance updates are float-order-dependent across engines,
    while integer sums in int64 are exact and order-free — the
    plans/_num.py stance applied to regression.

    Scale note: the ×1e6/×1e3 scaled numerators stay under int64 up
    to ~100× this data; beyond that the same formula runs in
    DECIMAL(38,0) (Spark) / HUGEINT (DuckDB) unchanged.

    Scale shape: one scan → map-side-combinable daily groupBy →
    5-row per-priority aggregate. Nothing retains per-order state."""
    orders = load_table(spark, sf_dir, "orders")
    daily = (
        orders.select(
            F.col("o_orderpriority").alias("priority"),
            F.datediff(
                F.col("o_orderdate").cast("date"),
                F.lit("1992-01-01").cast("date"),
            ).cast("long").alias("x"),
        )
        .groupBy("priority", "x")
        .agg(F.count(F.lit(1)).cast("long").alias("y"))
    )
    s = daily.groupBy("priority").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
    )
    return s.select(
        "priority",
        F.col("n").alias("n_days"),
        F.col("sy").alias("total_orders"),
        F.expr(
            "CAST((n * sxy - sx * sy) * 1000000"
            " DIV (n * sxx - sx * sx) AS LONG)"
        ).alias("slope_ppm"),
        F.expr(
            "CAST((sy * sxx - sx * sxy) * 1000"
            " DIV (n * sxx - sx * sx) AS LONG)"
        ).alias("intercept_milli"),
    )


@register(
    "daily_revenue_drawdown",
    oracle="""
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS rev_d
        FROM orders
        WHERE o_orderdate >= DATE '1996-01-01'
          AND o_orderdate < DATE '1997-01-01'
        GROUP BY 1
    )
    SELECT day,
           CAST(ROUND(rev_d, 2) AS DOUBLE) AS revenue,
           CAST(ROUND(MAX(rev_d) OVER w, 2) AS DOUBLE) AS peak,
           CAST(ROUND(MAX(rev_d) OVER w - rev_d, 2) AS DOUBLE)
               AS drawdown
    FROM daily
    WINDOW w AS (ORDER BY day
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
)
def daily_revenue_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running-peak DRAWDOWN of daily revenue (r13 — the
    high-water-mark series the finance family lacked next to TWAP /
    OHLC / trend fit): one year's daily revenue, its running maximum,
    and how far each day sits below the best day so far. All
    arithmetic stays in exact DECIMAL until the final round-then-cast
    (the _num.py midpoint rule), so the window subtraction never
    touches float rounding.

    Scale shape: the groupBy key is the storage partition column
    (partition-local aggregation after a pushed date-range filter);
    the running-max window runs over the ~365 POST-AGGREGATION rows —
    a single-partition exchange only after the data has collapsed,
    the PLAN_AUDIT-sanctioned shape. At 100 TB the same plan holds:
    the window input is bounded by days, not rows."""
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1997-01-01"))
    )
    daily = orders.groupBy(
        F.col("o_orderdate").cast("date").alias("day")
    ).agg(F.sum(money("o_totalprice")).alias("rev_d"))
    w = (
        Window.orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    peak = F.max("rev_d").over(w)
    return daily.select(
        "day",
        F.round(F.col("rev_d"), 2).cast("double").alias("revenue"),
        F.round(peak, 2).cast("double").alias("peak"),
        F.round(peak - F.col("rev_d"), 2).cast("double").alias("drawdown"),
    )


@register(
    "event_ntz_timeline",
    oracle="""
    WITH sec AS (
        SELECT event_type, date_trunc('second', ts) AS ts
        FROM events
    )
    SELECT event_type,
           MIN(ts) AS first_ts,
           MAX(ts) AS last_ts,
           CAST(date_diff('second', MIN(ts), MAX(ts)) AS BIGINT)
               AS span_seconds,
           MIN(ts) + to_seconds(
               CAST(date_diff('second', MIN(ts), MAX(ts)) // 2 AS BIGINT)
           ) AS mid_ts
    FROM sec
    GROUP BY event_type
    """,
)
def event_ntz_timeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIMESTAMP_NTZ value surface (r14, the timestampNtz feature's
    query-side twin — VERDICT r13 item 2's oracle criterion): per
    event type, the first/last NAIVE timestamps, the span in whole
    seconds, and the midpoint reconstructed by ntz ARITHMETIC
    (timestampadd over the ntz column — no session-timezone term may
    enter, which is the entire point of the type; the DuckDB oracle's
    naive TIMESTAMP arithmetic is the independent semantics check,
    and the value-hash compare pins the actual ntz values, not just
    derived scalars). Both sides truncate to whole seconds BEFORE
    aggregating: the source carries nanosecond ticks, which Spark
    preserves and DuckDB's µs TIMESTAMP cannot — second truncation
    makes the two engines' inputs identical instead of papering over
    a real precision difference in the comparator.

    Scale shape: one scan, one hash aggregation on a low-cardinality
    key, map-side partial agg — the minimal shape for a full-table
    min/max profile; no window, no join, output bounded by event
    types."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.date_trunc("second", "ts").cast("timestamp_ntz").alias("ts"),
    )
    agg = ev.groupBy("event_type").agg(
        F.min("ts").alias("first_ts"),
        F.max("ts").alias("last_ts"),
    )
    span = F.expr(
        "CAST(timestampdiff(SECOND, first_ts, last_ts) AS BIGINT)"
    )
    return agg.select(
        "event_type",
        "first_ts",
        "last_ts",
        span.alias("span_seconds"),
        F.expr(
            "timestampadd(SECOND, CAST(timestampdiff(SECOND, first_ts,"
            " last_ts) DIV 2 AS BIGINT), first_ts)"
        ).alias("mid_ts"),
    )
