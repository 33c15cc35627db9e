"""Lake sinks: write / register / upsert / maintenance.

Mirrors the reference's Delta surface (src/utils/spark_utils.py:203-344
and 519-588 — S4-S6, T1-T2 in SURVEY §2.1/§2.11) but runs in two modes:

* ``delta`` when delta-spark is importable: real Delta writes, MERGE
  upsert, OPTIMIZE/ZORDER/VACUUM.
* ``parquet`` fallback: plain partitioned parquet with one overwrite
  rule — no step deletes the only committed copy of a table before its
  replacement is complete. A full rewrite is written once beside the
  table and swapped in by renames (:func:`_staged_overwrite`); a
  partition-scoped MERGE is Spark's dynamic partition overwrite. The
  renames are atomic on the local FS and HDFS, not on object stores:
  there a table needs a log, and a ``_delta_log`` path is written
  through it (sources/deltalog.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from fintech_lakehouse_spark.session import delta_available


def hadoop_fs(spark: SparkSession, path: str):
    """(FileSystem, jvm) for ``path``'s scheme — the driver-side file
    probe that works identically for file:/bare-local, hdfs:// and
    s3a:// paths. The ONE place the scheme-aware FileSystem lookup
    lives; every sink/maintenance path (and streaming/events.py's
    commit-marker probes) imports it from here."""
    jvm = spark.sparkContext._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    return fs, jvm


def local_path_of(path: str) -> str | None:
    """The local-filesystem path behind ``path``, or None when it names
    a remote scheme. Lets hot metadata probes (commit markers, version
    listings — called per micro-batch) use os.* instead of 3 py4j round
    trips per check; remote URIs keep the Hadoop FileSystem path."""
    if path.startswith("file://"):
        return path[7:]
    if path.startswith("file:"):
        return path[5:]
    if "://" in path:
        return None
    return path


def dir_committed(spark: SparkSession, directory: str) -> bool:
    """True when ``directory`` holds a _SUCCESS commit marker."""
    import os as _os

    lp = local_path_of(directory)
    if lp is not None:
        return _os.path.isfile(_os.path.join(lp, "_SUCCESS"))
    fs, jvm = hadoop_fs(spark, directory)
    return fs.exists(
        jvm.org.apache.hadoop.fs.Path(directory.rstrip("/") + "/_SUCCESS")
    )


def lake_format() -> str:
    return "delta" if delta_available() else "parquet"


def _dir_has_data_files(path: str) -> bool:
    """True when the LOCAL directory at ``path`` (recursively) holds
    any non-marker regular file — i.e. evidence a write once committed
    data here. Spark marker/metadata names (``_SUCCESS``,
    ``_started_*``, ``_committed_*``, dotfiles) don't count. Remote
    URIs (s3://, hdfs://) can't be walked driver-side without a Hadoop
    FS handle; they return False and keep the pre-r6 classification."""
    import os

    local = path[len("file:"):] if path.startswith("file:") else path
    if "://" in local or not os.path.isdir(local):
        return False
    for root, _dirs, files in os.walk(local):
        for name in files:
            if not name.startswith(("_", ".")):
                return True
    return False


def _is_missing_path(exc: Exception, path: str | None = None) -> bool:
    """True only for 'the target table does not exist yet' read errors
    — the ONE condition first-run fallbacks may swallow. Everything
    else (permission, corrupt footer, transient FS error) must
    propagate: treating a transient read failure as "first run" would
    silently overwrite or keep stale state (ADVICE r4 medium #2).

    PATH_NOT_FOUND is the missing-dir error class;
    UNABLE_TO_INFER_SCHEMA is its empty-dir sibling (the path exists
    but holds no parquet footers — also a not-yet-written table).
    BUT: UNABLE_TO_INFER_SCHEMA equally fires when a committed table
    LOST its data files (partial delete / data loss) — silently
    overwriting that would destroy the evidence (ADVICE r5 low #2).
    When ``path`` is supplied, an infer-schema failure over a
    directory that still holds data files is therefore NOT classified
    as first-run: the caller re-raises and a human decides."""
    from pyspark.errors import AnalysisException

    if not isinstance(exc, AnalysisException):
        return False
    cls = exc.getCondition()
    # Delta's missing-table class (raised instead of PATH_NOT_FOUND
    # when delta-spark handles the read): same first-run semantics.
    if cls in ("PATH_NOT_FOUND", "DELTA_PATH_DOES_NOT_EXIST"):
        return True
    if cls == "UNABLE_TO_INFER_SCHEMA":
        return not (path is not None and _dir_has_data_files(path))
    return False


def _sql_literal(v) -> str:
    """Render a Python value as a safe ANSI-SQL literal for the Delta
    ``replaceWhere`` option (a string-only API). Quotes are doubled —
    a value like ``O'Brien`` can neither break nor inject into the
    predicate (ADVICE r4 medium #1); bools/dates/timestamps render as
    typed literals, not bare words."""
    import datetime as _dt

    import math

    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float) and not math.isfinite(v):
        # str(nan/inf) is not valid SQL — the replaceWhere predicate
        # would die with an opaque parse error (ADVICE r5 low #3).
        # These are typed literals Spark SQL does accept.
        if math.isnan(v):
            return "CAST('NaN' AS DOUBLE)"
        return f"CAST('{'Infinity' if v > 0 else '-Infinity'}' AS DOUBLE)"
    if isinstance(v, (int, float)):
        return str(v)
    if isinstance(v, _dt.datetime):
        return f"TIMESTAMP '{v.isoformat(sep=' ')}'"
    if isinstance(v, _dt.date):
        return f"DATE '{v.isoformat()}'"
    return "'" + str(v).replace("'", "''") + "'"


def _key_in_values(key_col: str, values: list):
    """Column predicate "key ∈ values" with explicit NULL semantics:
    a None in ``values`` matches NULL keys (isin alone never would),
    and the predicate coalesces to False so negation keeps NULL-keyed
    rows instead of silently dropping them (three-valued ~NULL)."""
    non_null = [v for v in values if v is not None]
    cond = F.col(key_col).isin(non_null) if non_null else F.lit(False)
    if len(non_null) < len(values):
        cond = cond | F.col(key_col).isNull()
    return F.coalesce(cond, F.lit(False))


def _read_typed(
    spark: SparkSession,
    path: str,
    read: DataFrame,
    like: DataFrame,
    partition_cols: list[str],
) -> DataFrame:
    """Re-read ``path`` with the schema of ``read`` (a frame the caller
    already read from it, so no second schema inference) but the
    PARTITION columns' types taken from ``like``. Partition values live
    only in dir names, so a plain read infers their type from the
    strings — '01' drifts to int 1 and a later partitioned rewrite
    would re-dir it as p=1 (ADVICE r4 low #5). An explicit schema
    disables that inference; the raw directory string is cast to the
    declared type instead, so '01' stays '01' for a string column.
    Non-partition columns keep the parquet file types (overriding
    those could conflict with the physical encoding)."""
    from pyspark.sql.types import StructField, StructType

    like_types = {f.name: f.dataType for f in like.schema.fields}
    fields = [
        StructField(f.name, like_types.get(f.name, f.dataType), f.nullable)
        if f.name in partition_cols
        else f
        for f in read.schema.fields
    ]
    return spark.read.schema(StructType(fields)).parquet(path)


# Sibling dirs of a parquet rewrite: the new copy is written to
# ``<table>__staging``, the old one parked at ``<table>__old`` during the
# swap; a compaction stages each rewritten dir under ``<table>__compact``
# and parks the original at ``<table>__compact/<dir>__old``.
# _finish_swaps finishes a swap cut off between its renames;
# vacuum_lake_table reaps crash leftovers.
_STAGING_SUFFIX = "__staging"
_OLD_SUFFIX = "__old"
_COMPACT_SUFFIX = "__compact"


def _rename(fs, jvm, src: str, dst: str) -> None:
    """Hadoop FS rename, raising where it reports failure as False."""
    hpath = jvm.org.apache.hadoop.fs.Path
    if not fs.rename(hpath(src), hpath(dst)):
        raise OSError(f"could not rename {src} to {dst}")


def _swap_in(spark: SparkSession, new: str, path: str, old: str) -> None:
    """Replace directory ``path`` by the complete directory ``new``:
    rename ``path`` aside to ``old``, ``new`` to ``path``, then delete
    ``old``. ``path`` is moved aside rather than renamed over, because
    Hadoop moves a directory renamed onto an existing one INSIDE it.
    When the second rename fails, ``old`` is renamed back and ``new``
    deleted, so a failed swap leaves ``path`` as it was and no staged
    copy that a later recovery could mistake for the table."""
    fs, jvm = hadoop_fs(spark, path)
    hpath = jvm.org.apache.hadoop.fs.Path
    fs.delete(hpath(old), True)  # left by a crash after an earlier swap
    moved = fs.exists(hpath(path))
    if moved:
        _rename(fs, jvm, path, old)
    try:
        _rename(fs, jvm, new, path)
    except Exception:
        if moved and not fs.exists(hpath(path)):
            _rename(fs, jvm, old, path)
            fs.delete(hpath(new), True)
        raise
    fs.delete(hpath(old), True)


def _finish_swap(
    spark: SparkSession,
    path: str,
    staged: str | None = None,
    old: str | None = None,
) -> None:
    """Finish a :func:`_swap_in` cut off between its renames: ``path``
    is gone and ``staged`` (default ``<path>__staging``) holds a
    committed (``_SUCCESS``) copy, which is renamed into place — so a
    table caught mid-swap never reads as a first run. When ``old`` is
    given it must exist too: the proof that the swap had parked
    ``path`` there, for a dir that may also be missing because a later
    write removed it."""
    staged = staged or path.rstrip("/") + _STAGING_SUFFIX
    fs, jvm = hadoop_fs(spark, path)
    hpath = jvm.org.apache.hadoop.fs.Path
    if fs.exists(hpath(path)) or (old and not fs.exists(hpath(old))):
        return
    if dir_committed(spark, staged):
        _rename(fs, jvm, staged, path)


def _finish_swaps(spark: SparkSession, path: str) -> None:
    """:func:`_finish_swap` for every swap of the table at ``path``: the
    table rewrite's (:func:`_staged_overwrite`), then each compacted
    dir's (:func:`optimize_lake_table`) — ``<path>__compact/<dir>``
    staged for ``<dir>``, a partition dir or the table root itself when
    it is unpartitioned. A partition dir goes missing when a write
    empties it, so a compacted copy is moved in only on the proof of
    its ``<dir>__old``; a stale one would bring back removed rows."""
    _finish_swap(spark, path)
    fs, jvm = hadoop_fs(spark, path)
    hpath = jvm.org.apache.hadoop.fs.Path
    base = path.rstrip("/")
    compact = hpath(base + _COMPACT_SUFFIX)
    if not fs.exists(compact):
        return
    root_name = hpath(base).getName()
    for st in fs.listStatus(compact):
        name, staged = st.getPath().getName(), st.getPath().toString()
        if not name.endswith(_OLD_SUFFIX):
            target = base if name == root_name else f"{base}/{name}"
            _finish_swap(spark, target, staged, staged + _OLD_SUFFIX)


def _read_back(spark: SparkSession, frame: DataFrame, path: str) -> DataFrame:
    """The parquet table at ``path`` read with the schema of ``frame``
    just written there: no schema-inference job, and partition values
    keep their type ('01' stays '01' for a string column)."""
    return spark.read.schema(frame.schema).parquet(path).select(*frame.columns)


def _parquet_overwrite(df: DataFrame, partition_by: list[str] | None):
    """Overwrite-mode parquet writer for ``df``, partitioned when asked
    — the parquet-mode writers never silently drop a table's partition
    layout (ADVICE r2: it would disable pruning for every reader)."""
    w = df.write.format("parquet").mode("overwrite")
    return w.partitionBy(*partition_by) if partition_by else w


def _shape_for_write(
    df: DataFrame,
    partition_by: list[str] | None,
    cluster_by: list[str] | None = None,
) -> DataFrame:
    """The one shuffle before every partitioned or clustered lake
    write, so output tasks hold whole partition values (otherwise every
    input task writes a file into every partition dir — measured 4×
    wall on the gold fact write).

    ``cluster_by``: range-repartition + sort on the partition columns,
    then the cluster columns. ``partition_by`` alone: Spark's REBALANCE
    hint — AQE coalesces light values into whole-value tasks and splits
    a value only past ``spark.sql.adaptive.advisoryPartitionSizeInBytes``.
    It hashes the partition columns only, so a retried task reproduces
    its rows."""
    if cluster_by:
        range_cols = [F.col(c) for c in [*(partition_by or []), *cluster_by]]
        return df.repartitionByRange(*range_cols).sortWithinPartitions(
            *range_cols
        )
    if partition_by:
        return df.hint("rebalance", *partition_by)
    return df


def _staged_overwrite(
    spark: SparkSession,
    frame: DataFrame,
    path: str,
    partition_by: list[str] | None,
    cluster_by: list[str] | None = None,
    compression: str | None = None,
) -> DataFrame:
    """The one full rewrite of a parquet table: write ``frame`` once,
    shaped by :func:`_shape_for_write`, to ``<path>__staging``, then
    :func:`_swap_in` the staged copy. The stored table stays whole until
    its replacement is, so ``frame`` may read ``path`` itself, and a
    failed write leaves the previous table in place. Returns the
    committed table (:func:`_read_back`)."""
    _finish_swaps(spark, path)
    base = path.rstrip("/")
    w = _parquet_overwrite(_shape_for_write(frame, partition_by, cluster_by), partition_by)
    if compression:
        w = w.option("compression", compression)
    w.save(base + _STAGING_SUFFIX)
    _swap_in(spark, base + _STAGING_SUFFIX, path, base + _OLD_SUFFIX)
    spark.catalog.refreshByPath(path)
    return _read_back(spark, frame, path)


def _partitions_predicate(rows, partition_by: list[str]):
    """Column predicate matching any of ``rows``' partition values.
    eqNullSafe, so a NULL partition value matches its own dir."""
    pred = None
    for row in rows:
        clause = None
        for c in partition_by:
            eq = F.col(c).eqNullSafe(F.lit(row[c]))
            clause = eq if clause is None else clause & eq
        pred = clause if pred is None else pred | clause
    return pred


def write_lake_table(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
    merge_schema: bool = True,
    cluster_by: list[str] | None = None,
    compression: str | None = None,
) -> DataFrame:
    """Partitioned lake write (ref: src/utils/spark_utils.py:203-245);
    returns the committed table. A parquet overwrite is
    :func:`_staged_overwrite`, so ``df`` may read ``path`` itself.

    ``partition_by`` should be the dominant filter column (e.g. the
    transaction/order date) so partition pruning kicks in on read.

    ``cluster_by`` is the parquet-mode answer to Delta Z-ORDER (T1):
    range-repartition + sort-within-partitions on the filter columns
    tightens per-row-group min/max stats, so the parquet reader skips
    row groups on those predicates. One clustering shuffle at write
    time buys data skipping on every read.

    ``compression``: parquet codec (e.g. "zstd" for cold data,
    "snappy" default for hot)."""
    spark = df.sparkSession
    if lake_format() != "delta":
        from fintech_lakehouse_spark.sources.deltalog import (
            has_delta_log,
            write_delta_commit,
        )

        if has_delta_log(path):
            # r10: a REAL Delta table must be written THROUGH its log —
            # a bare parquet write leaves the log stale (appends
            # invisible to the replay) or broken (overwrite deletes
            # files live versions still reference). The commit stages
            # the shaped frame.
            if mode not in ("append", "overwrite"):
                raise NotImplementedError(
                    f"write mode {mode!r} on a Delta-log table without "
                    "delta-spark — append/overwrite only"
                )
            write_delta_commit(
                spark, _shape_for_write(df, partition_by, cluster_by), path,
                mode=mode, partition_by=partition_by,
            )
            spark.catalog.refreshByPath(path)
            return read_lake_table(spark, path)
        if mode == "overwrite":
            return _staged_overwrite(
                spark, df, path, partition_by, cluster_by, compression
            )
    df = _shape_for_write(df, partition_by, cluster_by)
    writer = df.write.format(lake_format()).mode(mode)
    if compression:
        writer = writer.option("compression", compression)
    if lake_format() == "delta":
        if merge_schema:
            writer = writer.option("mergeSchema", "true")
        writer = writer.option("optimizeWrite", "true")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.save(path)
    # Invalidate cached file listings (path readers AND registered
    # tables over this location) — without this, a catalog table read
    # after an overwrite resolves to deleted files.
    df.sparkSession.catalog.refreshByPath(path)
    if lake_format() == "delta":
        return read_lake_table(spark, path)
    return _read_back(spark, df, path)


def read_lake_table(spark: SparkSession, path: str) -> DataFrame:
    """Lake scan by path (ref: src/utils/spark_utils.py:160-195).

    Without delta-spark, a path holding a REAL Delta table (a
    ``_delta_log`` directory) must not fall through to a bare parquet
    scan — that would read tombstoned files and return deleted rows —
    so it routes through the pure-Python log replay
    (sources/deltalog.py, VERDICT r7 item 4)."""
    if lake_format() != "delta":
        from fintech_lakehouse_spark.sources.deltalog import (
            has_delta_log,
            read_delta_table,
        )

        if has_delta_log(path):
            return read_delta_table(spark, path)
    return spark.read.format(lake_format()).load(path)


def read_existing_table(
    spark: SparkSession, path: str, read=None
) -> DataFrame | None:
    """The table at ``path`` through ``read`` (default read_lake_table),
    or None when it has not been written yet — the ONE first-run
    fallback every merge/refresh site shares. Only errors
    ``_is_missing_path`` classifies as a missing table mean "first
    run"; everything else (transient FS error, permission, a damaged
    table) re-raises rather than being silently overwritten (ADVICE r4
    medium #2, r5 low #2). A swap cut off midway is finished first."""
    _finish_swaps(spark, path)
    try:
        return (read or read_lake_table)(spark, path)
    except Exception as exc:
        if not _is_missing_path(exc, path):
            raise
        return None


def register_lake_table(
    spark: SparkSession, path: str, database: str, table: str
) -> None:
    """Metastore registration DDL (ref: src/utils/spark_utils.py:248-282).

    Identifiers are backtick-quoted and the location goes through
    _sql_literal, so a path like /data/o'brien neither breaks the DDL
    nor lets a crafted name inject into it (the same hardening as the
    replaceWhere literals)."""
    db = database.replace("`", "``")
    tbl = table.replace("`", "``")
    spark.sql(f"CREATE DATABASE IF NOT EXISTS `{db}`")
    spark.sql(
        f"CREATE TABLE IF NOT EXISTS `{db}`.`{tbl}` "
        f"USING {lake_format().upper()} LOCATION {_sql_literal(path)}"
    )


# Above this many touched partitions a selective upsert stops paying:
# the per-partition filter expression and per-dir commits outweigh a
# straight full rewrite.
MAX_SELECTIVE_PARTITIONS = 1000


def upsert_lake_table(
    spark: SparkSession,
    source_df: DataFrame,
    target_path: str,
    merge_keys: list[str],
    order_by: str | None = None,
    partition_by: list[str] | None = None,
) -> DataFrame:
    """MERGE upsert (ref: src/utils/spark_utils.py:285-344, S6);
    returns the committed table.

    Delta mode: ``whenMatchedUpdateAll / whenNotMatchedInsertAll`` on the
    conjunctive key equality — a co-partitioned join under the hood.

    Parquet mode: unionByName source-over-target, keep one row per key
    (``order_by`` breaks ties among source rows) — exact MERGE
    semantics for updates, and new keys insert.

    When ``partition_by`` names the target's partition columns, the
    rewrite is SELECTIVE: only partitions that hold source rows or
    matched keys are merged and replaced, by a dynamic partition
    overwrite straight from the merged frame; untouched partition
    directories are never read for the merge nor rewritten. Affected
    partitions are found from (a) the source's partition values and
    (b) a key-columns-only semi-join against the target — a
    column-pruned scan of the keys, not the data — so a key whose
    partition value CHANGES still gets its old row replaced. This is
    the 100 TB shape: cost proportional to touched partitions, not
    table size. Without ``partition_by`` the fallback is a documented
    full rewrite (fine for dims).
    """
    existing = read_existing_table(spark, target_path)
    if existing is None:
        return write_lake_table(source_df, target_path, mode="overwrite",
                                partition_by=partition_by)

    if lake_format() != "delta":
        from fintech_lakehouse_spark.sources.deltalog import (
            has_delta_log,
            merge_into_delta_table,
            write_delta_commit,
        )

        if has_delta_log(target_path):
            # r10: MERGE against the REAL offline log. Source rows
            # dedupe to one per key first (order_by winner — the
            # parquet window-merge tie-break), since MERGE proper
            # refuses ambiguous duplicate source keys.
            if order_by:
                w = Window.partitionBy(*merge_keys).orderBy(
                    F.col(order_by).desc()
                )
                src = (
                    source_df.withColumn("_rn", F.row_number().over(w))
                    .filter(F.col("_rn") == 1)
                    .drop("_rn")
                )
            else:
                src = source_df.dropDuplicates(merge_keys)
            if partition_by and sorted(src.columns) == sorted(
                existing.columns
            ):
                # r10: MERGE handles partitioned tables now — touched
                # files only, adds carry partitionValues
                merge_into_delta_table(spark, target_path, src, merge_keys)
            elif partition_by:
                # schema-evolution upsert (source carries new columns):
                # full window-merge + one overwrite commit (correct;
                # cost is a table rewrite — fine for the offline case)
                tagged_src = src.withColumn("_mr", F.lit(0))
                tagged_tgt = existing.withColumn("_mr", F.lit(1))
                w = Window.partitionBy(*merge_keys).orderBy(
                    F.col("_mr").asc()
                )
                merged = (
                    tagged_src.unionByName(
                        tagged_tgt, allowMissingColumns=True
                    )
                    .withColumn("_rn", F.row_number().over(w))
                    .filter(F.col("_rn") == 1)
                    .drop("_mr", "_rn")
                )
                if set(merged.columns) == set(existing.columns):
                    # table column order (the commit's schema check is
                    # order-sensitive); new columns fall through and
                    # fail closed there — the bridge has no evolution
                    merged = merged.select(*existing.columns)
                write_delta_commit(
                    spark, merged, target_path, mode="overwrite",
                    partition_by=partition_by,
                )
            else:
                merge_into_delta_table(
                    spark, target_path, src, merge_keys
                )
            spark.catalog.refreshByPath(target_path)
            return read_lake_table(spark, target_path)

    if lake_format() == "delta":
        from delta.tables import DeltaTable

        target = DeltaTable.forPath(spark, target_path)
        # <=> (null-safe equality): a NULL merge key must MATCH its
        # existing NULL-keyed row, as the parquet window-dedup path
        # does — plain = never matches NULL, so every replayed batch
        # would insert a fresh duplicate of the NULL-keyed row.
        cond = " AND ".join(f"target.{k} <=> source.{k}" for k in merge_keys)
        (
            target.alias("target")
            .merge(source_df.alias("source"), cond)
            .whenMatchedUpdateAll()
            .whenNotMatchedInsertAll()
            .execute()
        )
        return read_lake_table(spark, target_path)

    # MERGE semantics: the TARGET's schema wins. Without this cast, a
    # source batch with a drifted column type (e.g. a decimal widened
    # by arithmetic) flows through unionByName's type widening and the
    # selective path writes SOME partitions with a different parquet
    # physical type than the rest of the table — which then fails every
    # full-table read. New columns (absent from the target) pass
    # through for mergeSchema-style evolution.
    if partition_by:
        # partition-column types can't come from the target — dir-name
        # inference already drifted them ('01' → 1); the source batch
        # is the only type witness for partition columns
        existing = _read_typed(
            spark, target_path, existing, source_df, partition_by
        )
    target_types = {f.name: f.dataType for f in existing.schema.fields}
    source_df = source_df.select(
        *[
            F.col(c).cast(target_types[c]) if c in target_types else F.col(c)
            for c in source_df.columns
        ]
    )

    selective = bool(partition_by)
    if selective:
        # Touched partitions = source partition values ∪ target
        # partitions holding a matching key. Both sides are
        # partition-count-bounded collects, never row-scale.
        src_parts = source_df.select(*partition_by).distinct()
        matched_parts = (
            existing.join(
                source_df.select(*merge_keys).distinct(), merge_keys, "left_semi"
            )
            .select(*partition_by)
            .distinct()
        )
        affected = (
            src_parts.unionByName(matched_parts).distinct()
            .limit(MAX_SELECTIVE_PARTITIONS + 1)
            .collect()
        )
        if not affected:
            return existing  # empty micro-batch: nothing to merge or rewrite
        if len(affected) > MAX_SELECTIVE_PARTITIONS:
            selective = False
        else:
            # Partition pruning: only affected dirs are scanned.
            existing = existing.filter(
                _partitions_predicate(affected, partition_by)
            )

    tagged_source = source_df.withColumn("_merge_rank", F.lit(0))
    tagged_target = existing.withColumn("_merge_rank", F.lit(1))
    order_cols = [F.col("_merge_rank").asc()]
    if order_by:
        order_cols.append(F.col(order_by).desc())
    window = Window.partitionBy(*merge_keys).orderBy(*order_cols)
    merged = (
        tagged_source.unionByName(tagged_target, allowMissingColumns=True)
        .withColumn("_merge_rn", F.row_number().over(window))
        .filter(F.col("_merge_rn") == 1)
        .drop("_merge_rank", "_merge_rn")
    )
    if not selective:
        # Full rewrite — partition layout kept (see _parquet_overwrite).
        return _staged_overwrite(spark, merged, target_path, partition_by)
    # A dynamic overwrite may read its own target (a static one refuses)
    # and replaces only the partition dirs it writes; an Observation on
    # the write stage itself reports which, with no second pass.
    written = Observation()
    out = _shape_for_write(merged, partition_by).observe(
        written, F.collect_set(F.struct(*partition_by)).alias("parts")
    )
    _parquet_overwrite(out, partition_by).option(
        "partitionOverwriteMode", "dynamic"
    ).save(target_path)
    spark.catalog.refreshByPath(target_path)
    remaining = {tuple(r) for r in written.get["parts"]}
    # An affected partition can end up EMPTY (every key moved to a new
    # partition value); dynamic overwrite never sees it, so the stale
    # dir must be dropped explicitly.
    emptied = [
        row
        for row in affected
        if tuple(row[c] for c in partition_by) not in remaining
    ]
    if emptied:
        # Locate the stale dirs through Spark's OWN partition parsing:
        # hand-building `col=value` names breaks on Hive-escaped
        # characters (a timestamp's ':' becomes %3A on disk) and NULL
        # values (__HIVE_DEFAULT_PARTITION__), leaving the stale dir
        # alive and the table returning duplicate keys. Reading the
        # emptied-partition predicate back and collecting
        # input_file_name() yields the real directory names for any
        # value type, escaped or not; the collect is file-count bounded
        # over only the emptied partitions.
        stale_files = (
            spark.read.schema(merged.schema).parquet(target_path)
            .filter(_partitions_predicate(emptied, partition_by))
            .select(F.input_file_name().alias("f"))
            .distinct()
            .collect()
        )
        # input_file_name() URL-encodes path components (the on-disk
        # 'pt=... 10%3A00%3A00' arrives as '%2010%253A...') and Hadoop
        # Path does NOT decode — unquote once to get the real on-disk
        # name (verified: fs.exists is False on the encoded form).
        from urllib.parse import unquote

        stale_dirs = {unquote(r["f"]).rsplit("/", 1)[0] for r in stale_files}
        fs, jvm = hadoop_fs(spark, target_path)
        for d in stale_dirs:
            p = jvm.org.apache.hadoop.fs.Path(d)
            if fs.exists(p):
                fs.delete(p, True)
        spark.catalog.refreshByPath(target_path)
    return _read_back(spark, merged, target_path)


def replace_lake_rows(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    key_col: str,
    values: list,
    partition_by: list[str] | None = None,
) -> None:
    """Delete-then-insert for a bounded key set (the Delta
    ``replaceWhere`` overwrite, ref: Delta Lake public docs): every
    existing row whose ``key_col`` is in ``values`` is dropped and
    replaced by ``df``'s rows; all other rows are kept untouched.

    Why MERGE is not enough: an upsert can update and insert but never
    DELETE, so a recomputed group that legitimately ends up with zero
    rows (e.g. a date whose every fact row was restated to another
    date) would keep its stale aggregate row forever (ADVICE r2,
    incremental_fact_update). ``values`` is partition/date-cardinality
    bounded, never row-scale.

    The replace predicate is built from Column expressions (parquet
    mode) / escaped typed literals (Delta's string-only replaceWhere)
    — quote-bearing values, bools, dates and None all round-trip; a
    None in ``values`` matches NULL keys. ``partition_by`` preserves
    the target's partition layout through the rewrite (without it the
    staged overwrite would silently flatten a partitioned table and
    disable pruning for every later reader)."""
    existing = read_existing_table(spark, path)
    if existing is None:
        write_lake_table(df, path, mode="overwrite", partition_by=partition_by)
        return
    if lake_format() == "delta":
        non_null = [v for v in values if v is not None]
        preds = []
        if non_null:
            lits = ", ".join(_sql_literal(v) for v in non_null)
            preds.append(f"{key_col} IN ({lits})")
        if len(non_null) < len(values):
            preds.append(f"{key_col} IS NULL")
        (
            df.write.format("delta")
            .mode("overwrite")
            .option("replaceWhere", " OR ".join(preds) or "false")
            .save(path)
        )
        spark.catalog.refreshByPath(path)
        return
    if partition_by:
        # re-read with the caller's partition-column types — the plain
        # read above already drifted them via dir-name inference
        existing = _read_typed(spark, path, existing, df, partition_by)
    kept = existing.filter(~_key_in_values(key_col, values))
    merged = kept.unionByName(df, allowMissingColumns=True)
    _staged_overwrite(spark, merged, path, partition_by)


def optimize_lake_table(
    spark: SparkSession,
    path: str,
    z_order_columns: list[str] | None = None,
    max_files_per_partition: int = 4,
) -> bool:
    """Compaction + Z-order (ref: src/utils/spark_utils.py:519-555, T1).

    Delta mode: real OPTIMIZE [ZORDER BY].

    Parquet mode: selective small-file compaction — each top-level
    partition directory (or the table root when unpartitioned) holding
    more than ``max_files_per_partition`` parquet files is rewritten to
    one file beside the table and swapped in (:func:`_swap_in`);
    directories already compact are NOT touched (their files keep
    their timestamps). ``z_order_columns`` become a
    sort-within-partitions during the rewrite, tightening per-row-group
    min/max stats so scans skip row groups on those predicates — the
    parquet analog of Z-ordering (same rationale as write_lake_table's
    cluster_by). Returns True when any maintenance ran.
    """
    if lake_format() == "delta":
        zorder = (
            f" ZORDER BY ({', '.join(z_order_columns)})" if z_order_columns else ""
        )
        spark.sql(f"OPTIMIZE delta.`{path}`{zorder}")
        return True

    _finish_swaps(spark, path)
    fs, jvm = hadoop_fs(spark, path)
    root = jvm.org.apache.hadoop.fs.Path(path)
    if not fs.exists(root):
        return False

    def parquet_count(dir_path) -> int:
        return sum(
            st.isFile() and st.getPath().getName().endswith(".parquet")
            for st in fs.listStatus(dir_path)
        )

    part_dirs = [
        st.getPath()
        for st in fs.listStatus(root)
        if st.isDirectory() and "=" in st.getPath().getName()
    ]
    compacted = False
    targets = part_dirs if part_dirs else [root]
    for d in targets:
        if parquet_count(d) <= max_files_per_partition:
            continue
        df = spark.read.parquet(d.toString()).coalesce(1)
        if z_order_columns and len(z_order_columns) >= 2:
            # true multi-dim clustering: sort the rewrite on the Morton
            # key so row-group stats are tight in EVERY z-ordered
            # dimension (zorder_key below), not just the first
            df = (
                df.withColumn("_z", zorder_key(df, z_order_columns))
                .sortWithinPartitions("_z")
                .drop("_z")
            )
        elif z_order_columns:
            df = df.sortWithinPartitions(*z_order_columns)
        # staged and swapped OUTSIDE the table root: an in-root
        # `p=1__compact` dir would read as an extra partition value
        # (duplicate rows) until a vacuum reaped it
        staging = path.rstrip("/") + _COMPACT_SUFFIX + "/" + d.getName()
        df.write.format("parquet").mode("overwrite").save(staging)
        _swap_in(spark, staging, d.toString(), staging + _OLD_SUFFIX)
        compacted = True
    fs.delete(
        jvm.org.apache.hadoop.fs.Path(path.rstrip("/") + _COMPACT_SUFFIX), True
    )
    if compacted:
        spark.catalog.refreshByPath(path)
    return compacted


def vacuum_lake_table(spark: SparkSession, path: str, retention_hours: int = 168) -> bool:
    """Unreferenced-file cleanup (ref: src/utils/spark_utils.py:558-588, T2).

    Delta mode: real VACUUM. Parquet mode: every file under a plain
    parquet table IS referenced, so the only unreferenced data is
    crash-leftover ``__staging`` / ``__old`` / ``__compact`` siblings
    (a rewrite or compaction killed mid-swap). After :func:`_finish_swaps`
    they are removed once older than the retention window; returns True
    when anything was deleted."""
    if lake_format() == "delta":
        spark.sql(f"VACUUM delta.`{path}` RETAIN {retention_hours} HOURS")
        return True
    import time as _time

    _finish_swaps(spark, path)
    fs, jvm = hadoop_fs(spark, path)
    base = path.rstrip("/")
    cutoff_ms = int((_time.time() - retention_hours * 3600) * 1000)
    deleted = False
    for suffix in (_STAGING_SUFFIX, _OLD_SUFFIX, _COMPACT_SUFFIX):
        p = jvm.org.apache.hadoop.fs.Path(base + suffix)
        if fs.exists(p) and fs.getFileStatus(p).getModificationTime() < cutoff_ms:
            fs.delete(p, True)
            deleted = True
    return deleted


def table_exists(spark: SparkSession, database: str, table: str) -> bool:
    """Metastore introspection (ref: src/utils/spark_utils.py:596-650, T3)."""
    return spark.catalog.tableExists(f"{database}.{table}")


def write_bucketed_table(
    df: DataFrame,
    table: str,
    bucket_by: list[str],
    n_buckets: int,
    sort_by: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Bucketed managed table (SURVEY §4 co-located joins): both sides
    of a recurring equi-join bucketed on the join key with the same
    bucket count join WITHOUT a shuffle — the exchange disappears from
    the plan. The write pays one clustering pass; every subsequent
    join/aggregation on the key is exchange-free. This is the batch
    answer to 'this join is the bottleneck at 100 TB'."""
    writer = df.write.format("parquet").mode(mode).bucketBy(n_buckets, *bucket_by)
    if sort_by:
        writer = writer.sortBy(*sort_by)
    writer.saveAsTable(table)


def scd2_upsert(
    spark: SparkSession,
    updates: DataFrame,
    target_path: str,
    key: str,
    tracked_cols: list[str],
    ts_col: str = "effective_ts",
    partition_by: list[str] | None = None,
) -> DataFrame:
    """Slowly-Changing-Dimension Type 2 merge into a parquet dim table;
    returns the stored table.

    On-disk contract: the business columns plus ``effective_from``
    (timestamp), ``effective_to`` (timestamp, null = open-ended) and
    ``is_current`` (boolean; exactly one true row per key). Batch
    semantics per incoming key (latest row per key wins within a
    batch — intra-batch history is collapsed, documented):

    * new key → insert an open current row;
    * tracked attributes unchanged (null-safe) → no-op, history keeps
      its original effective_from;
    * changed AND newer than the current row's effective_from → close
      the current row at the update's timestamp and insert a new open
      row;
    * changed but NOT newer (out-of-order / replayed stale event) →
      no-op. This guard is what makes the operator idempotent under
      micro-batch replay (foreach_batch_scd2): re-applying an old
      batch against newer state must not rewrite history backwards.

    Scale shape: one equi-join of the CURRENT slice against the batch
    keys (both sides shuffle on the key; history rows are not read
    beyond the is_current filter, which a partition-on-is_current
    layout would prune), then one :func:`_staged_overwrite`, so a
    failed rewrite leaves the previous history in place. This is the
    standard dimension-history operator a fintech gold layer needs for
    customer/merchant attributes (risk ratings, addresses) — MERGE
    alone cannot express the close-and-insert pair."""
    from pyspark.sql.window import Window

    # A CDC event without an event time cannot be ordered into the
    # history (every comparison against it is three-valued NULL — the
    # raw `applies` predicate would silently DROP the key's current
    # row: neither kept, closed, nor re-inserted). Same class as the
    # out-of-order guard: the row is a no-op here; quarantine null
    # timestamps upstream if they need investigation.
    updates = updates.filter(F.col(ts_col).isNotNull())
    latest = (
        updates.withColumn(
            "_rn",
            F.row_number().over(
                Window.partitionBy(key).orderBy(F.col(ts_col).desc())
            ),
        )
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    business_cols = [c for c in latest.columns if c != ts_col]
    incoming = latest.select(
        *business_cols,
        F.col(ts_col).alias("effective_from"),
        F.lit(None).cast("timestamp").alias("effective_to"),
        F.lit(True).alias("is_current"),
    )
    existing = read_existing_table(
        spark, target_path, read=lambda s, p: s.read.parquet(p)
    )
    if existing is None:
        # PARQUET even where write_lake_table would write Delta: scd2 is
        # parquet-only end-to-end (the Delta-mode dimension path is
        # foreach_batch_scd2's MERGE chain).
        return _staged_overwrite(spark, incoming, target_path, partition_by)
    if partition_by:
        existing = _read_typed(
            spark, target_path, existing, incoming, partition_by
        )

    history = existing.filter(~F.col("is_current"))
    current = existing.filter(F.col("is_current"))

    upd = latest.select(
        F.col(key).alias("_u_key"),
        F.struct(*[F.col(c) for c in tracked_cols]).alias("_u_attrs"),
        F.col(ts_col).alias("_u_ts"),
    )
    cur = current.withColumn(
        "_c_attrs", F.struct(*[F.col(c) for c in tracked_cols])
    )
    joined = cur.join(upd, cur[key] == upd._u_key, "left")
    # an update "applies" only if attrs changed AND it is strictly
    # newer than the current row (out-of-order guard, see docstring)
    # coalesce(False): belt-and-braces against any remaining NULL in
    # the comparison (e.g. a NULL effective_from from a hand-built
    # table) — an un-orderable update must be a no-op, never a
    # three-valued row drop.
    applies = F.coalesce(
        F.col("_u_key").isNotNull()
        & ~F.col("_c_attrs").eqNullSafe(F.col("_u_attrs"))
        & (F.col("_u_ts") > F.col("effective_from")),
        F.lit(False),
    )
    kept_current = joined.filter(~applies).select(*existing.columns)
    # changed: close the old row at the update timestamp
    closed = (
        joined.filter(applies)
        .withColumn("effective_to", F.col("_u_ts"))
        .withColumn("is_current", F.lit(False))
        .select(*existing.columns)
    )
    changed_or_new_keys = (
        upd.join(
            cur.filter(F.col(key).isNotNull()).select(
                F.col(key).alias("_k"),
                "_c_attrs",
                F.col("effective_from").alias("_c_from"),
            ),
            F.col("_u_key") == F.col("_k"),
            "left",
        )
        .filter(
            F.col("_k").isNull()
            | (
                ~F.col("_c_attrs").eqNullSafe(F.col("_u_attrs"))
                & (F.col("_u_ts") > F.col("_c_from"))
            )
        )
        .select(F.col("_u_key").alias(key))
    )
    new_rows = incoming.join(changed_or_new_keys, key, "left_semi")
    result = (
        history.unionByName(kept_current)
        .unionByName(closed)
        .unionByName(new_rows.select(*existing.columns))
    )
    return _staged_overwrite(spark, result, target_path, partition_by)


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    keys: list[str],
    compare_cols: list[str] | None = None,
    emit_preimage: bool = False,
) -> DataFrame:
    """Changelog between two table snapshots — the parquet-mode analog
    of Delta's Change Data Feed: one row per changed key with
    ``_change_type`` in ('insert', 'update', 'delete') and the NEW
    values for inserts/updates, OLD values for deletes.

    With ``emit_preimage=True`` the changelog uses Delta CDF's full
    four-type vocabulary: each update emits TWO rows,
    ``update_preimage`` (old values) and ``update_postimage`` (new
    values), matching what ``table_changes()`` returns on a real Delta
    table (the env-gated branch). The preimage is what makes the
    changelog sufficient for DOWNSTREAM incremental view maintenance:
    a consumer can retract the old contribution of an updated row from
    any distributive aggregate without re-reading the base table
    (operators/ivm.py; default False keeps the compact three-type form
    every pre-existing consumer and oracle was built against).

    Shape: one full-outer equi-join on the keys (both sides shuffle on
    the key — at 100 TB this is the unavoidable lower bound for
    snapshot differencing; incremental systems avoid it by RECORDING
    changes at write time, which is what Delta CDF does and what the
    env-gated Delta branch would use). Change detection over
    ``compare_cols`` (default: all non-key columns present in both
    snapshots) is null-safe. Unchanged keys are dropped before any
    downstream work, so the changelog is change-cardinality sized;
    the preimage expansion is a values-array explode AFTER that
    filter, so it doubles only the update rows, never the join."""
    if compare_cols is None:
        compare_cols = [
            c for c in new.columns if c not in set(keys) and c in old.columns
        ]
    o = old.select(
        *[F.col(k).alias(f"_o_{k}") for k in keys],
        F.struct(*[F.col(c) for c in compare_cols]).alias("_o_vals"),
    )
    n = new.select(
        *[F.col(k).alias(f"_n_{k}") for k in keys],
        F.struct(*[F.col(c) for c in compare_cols]).alias("_n_vals"),
    )
    cond = None
    for k in keys:
        eq = F.col(f"_o_{k}").eqNullSafe(F.col(f"_n_{k}"))
        cond = eq if cond is None else cond & eq
    joined = o.join(n, cond, "full_outer")
    new_missing = F.col(f"_n_{keys[0]}").isNull() & F.col("_n_vals").isNull()
    old_missing = F.col(f"_o_{keys[0]}").isNull() & F.col("_o_vals").isNull()
    change_type = (
        F.when(old_missing, F.lit("insert"))
        .when(new_missing, F.lit("delete"))
        .when(~F.col("_o_vals").eqNullSafe(F.col("_n_vals")), F.lit("update"))
    )
    out_keys = [
        F.coalesce(F.col(f"_n_{k}"), F.col(f"_o_{k}")).alias(k) for k in keys
    ]
    changed = joined.withColumn("_change_type", change_type).filter(
        F.col("_change_type").isNotNull()
    )
    if not emit_preimage:
        out_vals = F.when(new_missing, F.col("_o_vals")).otherwise(
            F.col("_n_vals")
        )
        return changed.select(
            *out_keys,
            *[out_vals.getField(c).alias(c) for c in compare_cols],
            "_change_type",
        )
    # Delta-CDF vocabulary: updates fan out to (preimage, postimage).
    # One tagged (type, vals) struct array per row, exploded — the
    # array is built per-row from already-joined structs, no new join.
    tagged = F.when(
        F.col("_change_type") == "insert",
        F.array(F.struct(F.lit("insert").alias("t"), F.col("_n_vals").alias("v"))),
    ).when(
        F.col("_change_type") == "delete",
        F.array(F.struct(F.lit("delete").alias("t"), F.col("_o_vals").alias("v"))),
    ).otherwise(
        F.array(
            F.struct(
                F.lit("update_preimage").alias("t"), F.col("_o_vals").alias("v")
            ),
            F.struct(
                F.lit("update_postimage").alias("t"), F.col("_n_vals").alias("v")
            ),
        )
    )
    exploded = changed.select(*out_keys, F.explode(tagged).alias("_e"))
    return exploded.select(
        *keys,
        *[F.col("_e.v").getField(c).alias(c) for c in compare_cols],
        F.col("_e.t").alias("_change_type"),
    )


def zorder_key(
    df: DataFrame, columns: list[str], bits: int = 16
) -> "F.Column":
    """Bit-interleaved Z-order key over ``columns`` (Morton code) —
    true multi-dimensional clustering, vs the lexicographic
    sortWithinPartitions fallback that only tightens min/max stats on
    the FIRST sort column. Each column is min/max-normalized onto
    [0, 2^bits) (one bounded 1-row aggregate — the same collect class
    as the CMS/IVF driver lookups), then the scaled values' bits are
    interleaved so rows close in EVERY dimension land close on the
    curve; range-partitioning + sorting by this key gives every output
    file a tight bounding BOX in all z-ordered dimensions, which is
    what lets a scan's parquet row-group pruning skip on predicates
    over ANY of them (ref OPTIMIZE ZORDER semantics,
    src/utils/spark_utils.py:519-555 — here engine-native, no Delta).

    ``bits`` auto-lowers so n_columns x bits fits a signed 64-bit
    long (e.g. 4 columns -> 15 bits, 5 -> 12): resolution trades off
    against dimensionality, it never raises mid-maintenance. Constant
    columns (max == min) contribute 0 to every key and are
    effectively dropped from the curve."""
    from functools import reduce

    n = len(columns)
    if n == 0 or n > 63:
        raise ValueError(f"zorder_key needs 1-63 columns, got {n}")
    bits = min(bits, 63 // n)
    bounds = df.agg(
        *[F.min(c).cast("double").alias(f"mn_{i}") for i, c in enumerate(columns)],
        *[F.max(c).cast("double").alias(f"mx_{i}") for i, c in enumerate(columns)],
    ).collect()[0]
    scaled = []
    top = (1 << bits) - 1
    for i, c in enumerate(columns):
        mn, mx = bounds[f"mn_{i}"], bounds[f"mx_{i}"]
        if mn is None or mx is None or mx == mn:
            scaled.append(F.lit(0).cast("long"))
            continue
        scaled.append(
            F.floor(
                (F.col(c).cast("double") - F.lit(mn)) * F.lit(top / (mx - mn))
            ).cast("long")
        )
    terms = []
    for i, s in enumerate(scaled):
        for b in range(bits):
            # bit b of column i -> curve position b * n + i
            terms.append(
                F.shiftleft(F.shiftright(s, b).bitwiseAND(F.lit(1)), b * n + i)
            )
    # Column.__or__ is the BOOLEAN or — bitwiseOR is the integer fold
    return reduce(lambda a, b: a.bitwiseOR(b), terms).alias("zorder_key")


def write_zordered_table(
    df: DataFrame,
    path: str,
    columns: list[str],
    n_files: int = 16,
    bits: int = 16,
) -> None:
    """Write ``df`` as parquet clustered on the Z-order curve of
    ``columns``: range-partition by the Morton key (each of the
    ``n_files`` output files owns one contiguous curve segment = one
    tight bounding box in every clustered dimension), sort within
    files so row-group stats are tight too, and drop the key from the
    stored schema. The parquet-native analog of Delta's OPTIMIZE
    ZORDER write path; tests/test_scale_patterns.py measures the
    resulting file-level min/max pruning against a linear sort."""
    keyed = df.withColumn("_z", zorder_key(df, columns, bits))
    (
        keyed.repartitionByRange(n_files, "_z")
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.mode("overwrite")
        .parquet(path)
    )


def file_inventory(spark: SparkSession, path: str) -> DataFrame:
    """Per-file health inventory of a parquet table: rows per file
    (distributed count over input_file_name — the scan does the work,
    nothing lists rows on the driver) joined with filesystem size and
    modification time (driver-side metadata listing — file COUNT
    scale, not row scale). The decision input for maintenance: files
    below target size in a partition → optimize_lake_table compaction;
    skewed row counts across files → revisit the write's
    partitioning/salting (SURVEY T3 introspection, extended from
    metastore to physical layout)."""
    # input_file_name() renders file:///p while the FS listing renders
    # file:/p — normalize both to a bare path or the join misses.
    norm = lambda c: F.regexp_replace(c, "^file:/+", "/")  # noqa: E731
    rows_per_file = (
        spark.read.parquet(path)
        .groupBy(norm(F.input_file_name()).alias("file"))
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )
    fs, jvm = hadoop_fs(spark, path)
    it = fs.listFiles(jvm.org.apache.hadoop.fs.Path(path), True)
    meta = []
    while it.hasNext():
        st = it.next()
        name = st.getPath().toString()
        if name.endswith(".parquet"):
            meta.append((name, int(st.getLen()), int(st.getModificationTime())))
    meta_df = spark.createDataFrame(
        meta, "file string, size_bytes long, modified_ms long"
    ).select(norm(F.col("file")).alias("file"), "size_bytes", "modified_ms")
    return rows_per_file.join(meta_df, "file", "full").select(
        "file",
        F.coalesce("n_rows", F.lit(0)).alias("n_rows"),
        "size_bytes",
        "modified_ms",
    )


def scd2_as_of(spark: SparkSession, path: str, as_of) -> DataFrame:
    """Point-in-time read of an SCD2 dimension: the row version valid
    AT ``as_of`` per key — dimension-table time travel, the batch-read
    twin of the changelog replay (streaming/events.py::
    table_as_of_batch) and of the PIT join (plans/windows.py's
    user_tier_at_click, which does this per-event instead of per-
    timestamp). Interval semantics follow the on-disk contract
    (scd2_upsert): a version covers [effective_from, effective_to),
    open-ended rows have effective_to NULL — so a key created after
    ``as_of`` simply has no row, and historical queries are a pure
    partition-prunable filter, no window needed (at most one version
    per key can satisfy a half-open interval probe)."""
    ts = F.lit(as_of).cast("timestamp")
    dim = read_lake_table(spark, path)
    return dim.filter(
        (F.col("effective_from") <= ts)
        & (F.col("effective_to").isNull() | (F.col("effective_to") > ts))
    ).drop("is_current")
