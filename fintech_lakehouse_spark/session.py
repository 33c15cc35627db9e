"""SparkSession factory (ref: src/utils/spark_utils.py:40-52).

The reference just calls ``SparkSession.builder.getOrCreate()``; we add
the scale-oriented defaults the survey calls for (SURVEY.md §4):
AQE on (runtime re-planning, skew-join handling), Arrow for any
pandas-UDF path, UTC session timezone so results are reproducible and
oracle-comparable, and Delta extensions when the ``delta`` package is
present (it is optional — everything falls back to Parquet).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Defaults chosen for a large cluster; local test configs override the
# parallelism-sensitive ones (see tests/conftest.py and bench.py).
_SCALE_DEFAULTS: dict[str, str] = {
    # Runtime re-optimization: coalesce small shuffle partitions, convert
    # sort-merge→broadcast when a side turns out small, split skewed
    # partitions. Essential at 100 TB, harmless at sf0.001.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Let AQE coalesce the final shuffle of a persisted plan too (Spark
    # exempts cached plans by default). Without it every consumer of
    # a small cached frame — the stage caches, a persisted aggregate —
    # schedules spark.sql.shuffle.partitions map tasks. At the default
    # 200 on 4 cores, the perfbench medallion cycle ran 1,679 gold and
    # 1,908 write tasks (now 87 and 115); median wall 41.8 → 31.8 s.
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
    # Arrow batches for any pandas_udf / mapInPandas path.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Deterministic, oracle-comparable timestamps.
    "spark.sql.session.timeZone": "UTC",
    # Parquet TIMESTAMP(NANOS) columns (unsupported by Spark's reader)
    # surface as LongType nanos; readers.load_table converts them back
    # to timestamps at microsecond precision.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Parquet scans: vectorized reader is default-on; keep partition file
    # sizes bounded so a 100 TB table still yields right-sized tasks.
    "spark.sql.files.maxPartitionBytes": "134217728",
    # Python DataSource filter pushdown (sources/pydatasource.py
    # implements pushFilters; the engine refuses a pushFilters reader
    # unless this flag is on).
    "spark.sql.python.filterPushdown.enabled": "true",
    # InferFiltersFromGenerate synthesizes `size(arr) > 0` from every
    # explode(arr) and pushes it into the scan as a data filter. When
    # `arr` is an expensive derived expression (the 3-gram shingle
    # transform), the pushed filter re-derives it per scan row with
    # split() inlined per element — measured 5-8× on every
    # shingle-explode query (the rule predates cost awareness for
    # generator inputs). The explicit cheap filters in word_shingles /
    # shingle_rows already bound the generator input.
    "spark.sql.optimizer.excludedRules": (
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"
    ),
}


def delta_available() -> bool:
    """True when the optional delta-spark package is importable."""
    try:
        import delta  # noqa: F401

        return True
    except ImportError:
        return False


def get_spark(
    app_name: str = "fintech-lakehouse-spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults applied.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` when unset and no
    cluster master is configured — on a real cluster the deploy config
    supplies the master and this argument is left None.
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None and "SPARK_GRAFT_CPUS" in os.environ:
        master = f"local[{os.environ['SPARK_GRAFT_CPUS']}]"
    if master:
        builder = builder.master(master)
        if master.startswith("local") and not (extra_conf or {}).get(
            "spark.driver.memory"
        ):
            # In local mode the driver JVM IS the cluster; the 1g
            # default OOMs on any multi-GB shuffle. 4g, not bigger:
            # an oversized heap (16g) measurably degrades long
            # sessions — GC runs too rarely for the ContextCleaner,
            # and the codegen-heavy queries slowed 6× mid-bench.
            # Heavy jobs pass spark.driver.memory via extra_conf.
            # Static conf — only effective for the session that
            # launches the JVM.
            builder = builder.config("spark.driver.memory", "4g")
    for key, value in _SCALE_DEFAULTS.items():
        builder = builder.config(key, value)
    if delta_available():
        builder = builder.config(
            "spark.sql.extensions", "io.delta.sql.DeltaSparkSessionExtension"
        ).config(
            "spark.sql.catalog.spark_catalog",
            "org.apache.spark.sql.delta.catalog.DeltaCatalog",
        )
    # extra_conf LAST: it is the documented override mechanism, so it
    # must also win over the delta defaults (a caller wiring a
    # different extension/catalog would otherwise be silently
    # clobbered — review finding r6s5).
    if extra_conf:
        for key, value in extra_conf.items():
            builder = builder.config(key, value)
    return builder.getOrCreate()
