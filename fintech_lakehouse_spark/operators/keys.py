"""Surrogate keys (ref: add_surrogate_key,
src/utils/spark_utils.py:486-511 / SURVEY §2.5 W2 and §4.2).

* ``add_surrogate_key`` — non-dense but parallel:
  ``monotonically_increasing_id`` (partition-id ⊕ in-partition
  counter). Right choice for facts where only uniqueness matters.
* ``add_dense_surrogate_key`` — dense 1..N in natural-key order, the
  reference's own form: one ``row_number()`` over a global order.
  Numbering within ``spark_partition_id()`` and adding offsets counted
  in a second branch of the plan is not safe: AQE, or a re-sampled
  range shuffle, can partition the two branches differently, and keys
  are then dropped, misnumbered or duplicated. One global window
  cannot depend on partitioning.
* ``extend_dense_surrogate_key`` — stable keys across refreshes; only
  NEW natural keys are numbered, by the same rule.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def add_surrogate_key(df: DataFrame, key_column_name: str = "sk") -> DataFrame:
    """Parallel, unique, NON-dense 64-bit surrogate key."""
    return df.withColumn(key_column_name, F.monotonically_increasing_id())


def add_dense_surrogate_key(
    df: DataFrame,
    key_column_name: str = "sk",
    natural_key_columns: list[str] | None = None,
) -> DataFrame:
    """Dense 1..N surrogate key ordered by the natural key:
    ``row_number()`` over a global window.

    Trade-off: the numbering runs in one task. Measured on 4 cores
    (write to parquet, AQE on, warm): 0.16-0.18 s and 2 jobs at 1k
    rows, 0.36 s at 100k, 4.92 s at 1M. At 1M a parallel numbering
    wins (``distributed_sequence_id``: 3.46 s, the measured candidate
    should a million-row dim appear); the gold dims are far smaller,
    and a day-N refresh numbers only its new keys."""
    order_cols = natural_key_columns or df.columns
    return df.withColumn(
        key_column_name,
        F.row_number().over(Window.orderBy(*order_cols)).cast("long"),
    )


def extend_dense_surrogate_key(
    existing: DataFrame | None,
    snapshot: DataFrame,
    key_column_name: str,
    natural_key_columns: list[str],
) -> DataFrame:
    """STABLE dense surrogate keys across refreshes: natural keys
    already present in ``existing`` keep their surrogate key; new
    natural keys get max(existing sk) + dense rank. This is the
    incremental-dimension contract a positional 1..N rebuild cannot
    give — re-running add_dense_surrogate_key on a grown snapshot
    RENUMBERS every key after an insertion point, so fact rows written
    against the old numbering silently misjoin (review finding r6s5).

    Rows in ``existing`` whose natural key is absent from the snapshot
    are kept as-is (they may anchor historical fact rows); known keys
    take their ATTRIBUTES from the snapshot (SCD1 refresh).

    Shape: one key-join of snapshot to the dim (dim-cardinality), the
    dense-rank pass only over NEW keys, and a broadcast 1-row max —
    nothing scales with the fact table."""
    if existing is None:
        return add_dense_surrogate_key(
            snapshot, key_column_name, natural_key_columns
        )
    known = existing.select(*natural_key_columns, key_column_name)
    joined = snapshot.join(F.broadcast(known), natural_key_columns, "left")
    kept = joined.filter(F.col(key_column_name).isNotNull())
    new_rows = joined.filter(F.col(key_column_name).isNull()).drop(
        key_column_name
    )
    max_sk = existing.agg(
        F.coalesce(F.max(key_column_name), F.lit(0)).alias("_max_sk")
    )
    new_keyed = (
        add_dense_surrogate_key(new_rows, "_new_rank", natural_key_columns)
        .crossJoin(F.broadcast(max_sk))
        .withColumn(
            key_column_name,
            (F.col("_max_sk") + F.col("_new_rank")).cast("long"),
        )
        .drop("_new_rank", "_max_sk")
    )
    retired = existing.join(
        snapshot.select(*natural_key_columns).distinct(),
        natural_key_columns,
        "left_anti",
    )
    cols = kept.columns
    return (
        kept.unionByName(new_keyed.select(*cols))
        .unionByName(retired.select(*cols))
    )
