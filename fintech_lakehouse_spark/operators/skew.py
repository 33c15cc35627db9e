"""Skew mitigation operators (SURVEY §4 / 100 TB design note).

AQE's skew-join handling covers sort-merge joins at runtime; these
utilities cover the cases AQE can't: skewed AGGREGATIONS (two-phase
salted rollup) and broadcast-salted joins where one hot key would
otherwise pin a single task.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def salted_aggregate(
    df: DataFrame,
    group_cols: list[str],
    aggs: dict[str, Column],
    n_salts: int = 16,
) -> DataFrame:
    """Two-phase aggregation for skewed group keys.

    Phase 1 groups on (key, random salt) so a hot key spreads over
    ``n_salts`` reducers; phase 2 merges the partials. Only
    decomposable aggregates belong here (sum/count/min/max — pass the
    *partial* expression; the merge is sum/min/max of partials).

    ``aggs``: output_name → (phase-1 aggregate Column). Phase 2 re-sums
    numeric partials; for min/max pass merge="min"/"max" by naming the
    column `min_*`/`max_*`.
    """
    salted = df.withColumn("_salt", (F.rand(seed=42) * n_salts).cast("int"))
    phase1 = salted.groupBy(*group_cols, "_salt").agg(
        *[expr.alias(name) for name, expr in aggs.items()]
    )

    def merge(name: str) -> Column:
        if name.startswith("min_"):
            return F.min(name).alias(name)
        if name.startswith("max_"):
            return F.max(name).alias(name)
        return F.sum(name).alias(name)

    return phase1.groupBy(*group_cols).agg(*[merge(name) for name in aggs])


def broadcast_salted_join(
    skewed: DataFrame,
    small: DataFrame,
    on: str,
    how: str = "inner",
) -> DataFrame:
    """Join a skewed fact to a small dim without a shuffle at all:
    broadcast the dim. This is the first-choice skew fix — a broadcast
    join has no partitioning by key, so key skew is irrelevant; only
    use salted shuffle joins when the dim is too big to broadcast."""
    return skewed.join(F.broadcast(small), on, how)


def salted_shuffle_join(
    skewed: DataFrame,
    other: DataFrame,
    on: str,
    n_salts: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Shuffle join for a skewed key when ``other`` is too big to
    broadcast (the case broadcast_salted_join can't take): the skewed
    side gets a random salt in [0, n_salts), the other side REPLICATES
    each row across all salts (explode — its shuffle volume multiplies
    by n_salts, the price of the technique), and the join runs on
    (key, salt), spreading a hot key over ``n_salts`` reducers.

    Semantics match ``skewed.join(other, on, how)`` exactly for
    ``inner`` and ``left`` (each skewed row carries ONE salt, so it
    meets each matching other-side row exactly once; unmatched left
    rows survive with their salt and are emitted once). Right/full
    joins would emit unmatched other-side rows once PER SALT — not
    supported, use the unsalted join or swap sides.

    MEASURED (BASELINE.md §"Skew-join A/B", round 6): 5M rows
    with an 80% hot key against a 200k-row non-broadcastable side —
    1.49 s salted vs 2.57 s plain, and AQE's skew-join never engaged
    because the ~100 MB hot partition sits under its 256 MB
    skewedPartitionThresholdInBytes default. Prefer AQE when its
    thresholds actually fire; this operator covers the rest: moderate
    skew below AQE's bar, non-sort-merge join paths, and streaming
    micro-batches."""
    if how not in ("inner", "left"):
        raise ValueError(
            "salted_shuffle_join supports how='inner'/'left' only — a "
            "right/full join would duplicate unmatched replicated rows"
        )
    salted = skewed.withColumn(
        "_salt", (F.rand(seed=42) * n_salts).cast("int")
    )
    replicated = other.withColumn(
        "_salt", F.explode(F.array(*[F.lit(i) for i in range(n_salts)]))
    )
    return salted.join(replicated, [on, "_salt"], how).drop("_salt")


class HotKeyError(RuntimeError):
    """Raised by :func:`hot_key_guard` when a key exceeds the per-key
    row bound for an operator whose cost is unbounded in key size."""


def hot_key_guard(
    df: DataFrame,
    keys: list[str],
    max_rows_per_key: int = 100_000,
    top_n: int = 5,
    eager: bool = False,
) -> DataFrame:
    """Explicit skew gate for per-key-UNBOUNDED operators (VERDICT r6
    item 2 / wrong-item 2).

    Exact per-event sliding range windows
    (``Window.partitionBy(key).orderBy(ts).rangeBetween(...)``) have a
    structural hazard Spark cannot mitigate: window semantics require
    every row of a key in one task, and sliding range frames
    re-aggregate per row (no retraction), so one hot key costs
    O(rows × frame_rows) in a single task — measured unfinishable at
    2M rows with an 80%-hot user while the bucketed form stays ~1 s
    (BASELINE.md §"Skew experiment", round 6). No salting can
    fix it without changing semantics, so the honest contract is to
    REFUSE fast and point at the bounded formulation.

    Two modes (review finding r7 — the first cut always ran an eager
    collect, so merely BUILDING the gated plan executed a Spark job,
    which plan audits and registry enumeration pay for nothing):

    * lazy (default): the check is woven INTO the returned plan — a
      map-side-combinable per-key count collapses to a 1-row violation
      summary that broadcast-joins back, and ``assert_true`` fails the
      query AT EXECUTION with the observed max rows/key in the
      message. Building/explaining the plan costs nothing; running it
      adds one aggregate subtree over the (filter-pushed) input.
      Failure surfaces as Spark's assert_true runtime error whose
      message carries the ``hot_key_guard`` marker.
    * eager=True: the explicit pre-flight — runs the count job NOW and
      raises :class:`HotKeyError` naming the ``top_n`` offending keys;
      for interactive use before kicking off a multi-hour job.

    Per-key counts are skew-proof either way (partial aggregation
    collapses a hot key to one partial per input partition). A
    deterministic failure beats a task wedged for hours at 100 TB.
    """
    if eager:
        offenders = (
            df.groupBy(*keys)
            .count()
            .filter(F.col("count") > max_rows_per_key)
            .orderBy(F.desc("count"))
            .limit(top_n)
            .collect()
        )
        if offenders:
            desc = ", ".join(
                f"{tuple(r[k] for k in keys)}={r['count']}" for r in offenders
            )
            raise HotKeyError(
                f"hot_key_guard: hot keys exceed {max_rows_per_key} "
                f"rows/key on {keys}: {desc}. Use the bucketed-bounded "
                "formulation (user_hourly_velocity_salted's shape) "
                "instead of an exact per-event range window."
            )
        return df
    violations = (
        df.groupBy(*keys)
        .count()
        .agg(
            F.sum((F.col("count") > max_rows_per_key).cast("long")).alias(
                "_n_hot"
            ),
            F.max("count").alias("_max_rows"),
        )
    )
    return (
        df.join(F.broadcast(violations), how="cross")
        .withColumn(
            "_hot_guard",
            F.assert_true(
                F.col("_n_hot") == 0,
                F.concat_ws(
                    " ",
                    F.lit(f"hot_key_guard: keys exceed {max_rows_per_key}"),
                    F.lit(f"rows/key on {keys}; n_hot_keys="),
                    F.col("_n_hot"),
                    F.lit("max rows/key observed="),
                    F.col("_max_rows"),
                    F.lit(
                        "— use the bucketed-bounded formulation "
                        "(user_hourly_velocity_salted's shape) instead "
                        "of an exact per-event range window."
                    ),
                ),
            ),
        )
        .filter(F.col("_hot_guard").isNull())
        .drop("_hot_guard", "_n_hot", "_max_rows")
    )


def bucketed_min_gap(
    events: DataFrame,
    key: str,
    time_us: str,
    bucket_us: int = 3_600_000_000,
    rapid_us: int | None = None,
) -> DataFrame:
    """Skew-safe per-key minimum inter-event gap — the two-phase
    decomposition of the lag-window gap profile
    (plans/events.py::purchase_gap_profile) for hot keys.

    The exact lag window is O(n log n) per key, which FINISHES under
    skew (unlike the quadratic rangeBetween re-aggregation,
    ROUND_NOTES fact 19) but still serializes one bot/aggregator key
    into a single sort task. This form buckets time first: consecutive
    pairs split exactly into WITHIN-bucket pairs (phase 1, parallel
    over (key, bucket) — a hot key spreads across time buckets) and
    BOUNDARY pairs between a bucket's first event and the previous
    non-empty bucket's last (phase 2, one row per non-empty bucket per
    key — bounded by time-range/bucket_us, not event count). The
    partition of pairs is exact, so min-gap and the rapid count are
    IDENTICAL to the lag-window form (equivalence-tested), not an
    approximation.

    ``time_us`` must be epoch microseconds (numeric — the nearest_join
    contract). Emits per key: n_events, min_gap_us (NULL for
    single-event keys), and n_rapid (gaps <= rapid_us) when rapid_us
    is given. Single-partition hazards: none — both windows are keyed.
    """
    from pyspark.sql.window import Window

    base = events.select(
        key,
        F.col(time_us).alias("_us"),
        F.expr(f"{time_us} DIV {bucket_us}").alias("_b"),
    )
    w1 = Window.partitionBy(key, "_b").orderBy("_us")
    gaps = base.withColumn("_gap", F.col("_us") - F.lag("_us").over(w1))
    partial_aggs = [
        F.count(F.lit(1)).alias("_n"),
        F.min("_us").alias("_first"),
        F.max("_us").alias("_last"),
        F.min("_gap").alias("_minw"),
    ]
    if rapid_us is not None:
        partial_aggs.append(
            F.sum(
                F.when(F.col("_gap") <= rapid_us, 1).otherwise(0)
            ).alias("_rapidw")
        )
    partial = gaps.groupBy(key, "_b").agg(*partial_aggs)
    w2 = Window.partitionBy(key).orderBy("_b")
    bounded = partial.withColumn(
        "_bgap", F.col("_first") - F.lag("_last").over(w2)
    )
    final_aggs = [
        F.sum("_n").cast("long").alias("n_events"),
        F.least(F.min("_minw"), F.min("_bgap")).alias("min_gap_us"),
    ]
    if rapid_us is not None:
        final_aggs.append(
            (
                F.sum("_rapidw")
                + F.sum(
                    F.when(F.col("_bgap") <= rapid_us, 1).otherwise(0)
                )
            )
            .cast("long")
            .alias("n_rapid")
        )
    return bounded.groupBy(key).agg(*final_aggs)


def bucketed_fill_forward(
    df: DataFrame,
    key: str,
    time_us: str,
    value: str,
    bucket_us: int = 3_600_000_000,
    include_current: bool = True,
    out: str | None = None,
) -> DataFrame:
    """Skew-safe LAST-NON-NULL CARRY-FORWARD (fill-forward) — the
    two-phase decomposition of ``last(value, ignorenulls=True) OVER
    (PARTITION BY key ORDER BY time ROWS UNBOUNDED PRECEDING ..
    CURRENT/−1)`` for hot keys, completing the bucketed family next to
    :func:`bucketed_min_gap`: the exact window serializes a hot key's
    entire history into one sort task (ROUND_NOTES fact 49); bucketing
    time first splits the carry exactly into a WITHIN-bucket fill
    (parallel over (key, bucket)) plus a CROSS-bucket carry over one
    row per non-empty (key, bucket) — bounded by time-range/bucket_us,
    never event count. The phase split is exact (the last non-null at
    a row is either inside its bucket or the latest bucket-final value
    before it), so the output is IDENTICAL to the exact window —
    equivalence-tested, not an approximation.

    This is the scale path for fill-forward feature engineering,
    last-touch attribution channels, and SCD-style status carry.
    ``include_current=False`` gives the STRICTLY-BEFORE frame
    (.. −1 PRECEDING — the attribution semantics: a row never
    observes its own value).

    ``time_us`` must be numeric and UNIQUE within a key (epoch micros
    plus an id tie-break folded upstream if needed — the nearest_join
    contract). Adds column ``out`` (default ``<value>_ffill``);
    internal names are guarded like nearest_join's."""
    from pyspark.sql.window import Window

    out = out or f"{value}_ffill"
    _reserved = {"_us", "_b", "_within", "_blast", "_carry", "_prevw",
                 "_ck", "_cb"}
    _bad = sorted(c for c in df.columns if c in _reserved or c == out)
    if _bad:
        raise ValueError(
            "bucketed_fill_forward: input columns collide with internal/"
            f"output names: {_bad}"
        )
    base = df.withColumn("_us", F.col(time_us)).withColumn(
        "_b", F.expr(f"{time_us} DIV {bucket_us}")
    )
    w_in = (
        Window.partitionBy(key, "_b")
        .orderBy("_us")
        .rowsBetween(Window.unboundedPreceding, 0 if include_current else -1)
    )
    filled = base.withColumn(
        "_within", F.last(value, ignorenulls=True).over(w_in)
    )
    if not include_current:
        # the strictly-before carry still needs each bucket's LAST
        # non-null INCLUDING its final row for the next bucket
        w_all = (
            Window.partitionBy(key, "_b")
            .orderBy("_us")
            .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        )
        filled = filled.withColumn(
            "_blast", F.last(value, ignorenulls=True).over(w_all)
        )
        per_bucket = filled.groupBy(key, "_b").agg(
            F.first("_blast").alias("_blast")
        )
    else:
        per_bucket = (
            filled.groupBy(key, "_b")
            .agg(
                # coalesce the ordering key: max_by IGNORES rows whose
                # ordering value is NULL, but a NULL time sorts FIRST
                # in the exact window, so treat it as LONG_MIN
                F.expr(
                    f"max_by({value}, coalesce(_us, -9223372036854775808))"
                    f" FILTER (WHERE {value} IS NOT NULL)"
                ).alias("_blast")
            )
        )
    w_carry = (
        Window.partitionBy(key)
        .orderBy("_b")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    carry = per_bucket.withColumn(
        "_carry", F.last("_blast", ignorenulls=True).over(w_carry)
    ).select(key, "_b", "_carry")
    # NULL-SAFE carry join: the exact window groups NULL keys into one
    # partition (and NULL times sort first), so the decomposition must
    # too — a plain [key, "_b"] equi-join would silently DROP every
    # null-key / null-time row (inner + null-unsafe). eqNullSafe keeps
    # the join an equi-join for the planner (SMJ/shuffle-hash eligible,
    # no cartesian fallback) while matching NULL = NULL.
    carry = carry.select(
        F.col(key).alias("_ck"), F.col("_b").alias("_cb"), "_carry"
    )
    return (
        filled.join(
            carry,
            filled[key].eqNullSafe(carry["_ck"])
            & filled["_b"].eqNullSafe(carry["_cb"]),
            "left",
        )
        .withColumn(out, F.coalesce("_within", "_carry"))
        .drop("_us", "_b", "_within", "_blast", "_carry", "_ck", "_cb")
    )
