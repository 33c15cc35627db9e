"""Regression tests for the ADVICE r4 hardening sweep (VERDICT r4
items 2-4): narrow first-run exception handling, injection-safe
replace predicates, partition-layout preservation through staged
rewrites, staged-read type drift, and dedup_clusters guards."""

import datetime

import pytest
from pyspark.sql import functions as F

from fintech_lakehouse_spark.sources import writers
from fintech_lakehouse_spark.sources.writers import (
    _is_missing_path,
    _sql_literal,
    replace_lake_rows,
    scd2_upsert,
    upsert_lake_table,
    write_lake_table,
)


# ---------------------------------------------------------------- narrow except


def test_is_missing_path_classifier(spark, tmp_path):
    """Only the missing-target error class counts as "first run"."""
    with pytest.raises(Exception) as exc_info:
        spark.read.parquet(str(tmp_path / "does_not_exist")).collect()
    assert _is_missing_path(exc_info.value)

    # a generic runtime failure is NOT first-run
    assert not _is_missing_path(RuntimeError("connection reset"))

    # an AnalysisException of a DIFFERENT class is NOT first-run
    spark.range(3).createOrReplaceTempView("_imp_t")
    with pytest.raises(Exception) as exc_info:
        spark.sql("select no_such_column from _imp_t").collect()
    assert not _is_missing_path(exc_info.value)


def test_damaged_table_is_not_first_run(spark, tmp_path):
    """A committed table whose parquet data files were damaged/lost
    must not be silently overwritten as "first run" (ADVICE r5 low
    #2). The silent window: with ignoreCorruptFiles=true (a common
    at-scale setting) Spark SKIPS the damaged files, schema inference
    finds nothing, and the error is UNABLE_TO_INFER_SCHEMA — the same
    class an empty not-yet-written dir raises. The path check tells
    them apart: surviving data files block the first-run fallback."""
    tdir = tmp_path / "damaged"
    tdir.mkdir()
    (tdir / "_SUCCESS").touch()
    # a non-marker file without a parquet footer: the remnant of lost data
    (tdir / "part-00000.snappy").write_bytes(b"not a parquet footer")
    df = spark.createDataFrame([(1, "a")], "id long, v string")
    spark.conf.set("spark.sql.files.ignoreCorruptFiles", "true")
    try:
        with pytest.raises(Exception) as exc_info:
            spark.read.parquet(str(tdir)).collect()
        assert "UNABLE_TO_INFER_SCHEMA" in str(exc_info.value)
        # without path context the old (lenient) classification holds...
        assert _is_missing_path(exc_info.value)
        # ...with it, the surviving data file blocks the first-run path
        assert not _is_missing_path(exc_info.value, str(tdir))

        with pytest.raises(Exception):
            upsert_lake_table(spark, df, str(tdir), merge_keys=["id"])
        # the damaged dir was not overwritten
        assert (
            tdir / "part-00000.snappy"
        ).read_bytes() == b"not a parquet footer"

        # a marker-only dir (mkdir'd, nothing committed) IS still first-run
        empty = tmp_path / "empty_dir"
        empty.mkdir()
        (empty / "_SUCCESS").touch()
        with pytest.raises(Exception) as exc_info:
            spark.read.parquet(str(empty)).collect()
        assert _is_missing_path(exc_info.value, str(empty))
        upsert_lake_table(spark, df, str(empty), merge_keys=["id"])
        assert spark.read.parquet(str(empty)).count() == 1
    finally:
        spark.conf.unset("spark.sql.files.ignoreCorruptFiles")


def test_sql_literal_non_finite_floats():
    """nan/inf render as typed SQL literals, not bare words that would
    blow up the Delta replaceWhere parser (ADVICE r5 low #3)."""
    assert _sql_literal(float("nan")) == "CAST('NaN' AS DOUBLE)"
    assert _sql_literal(float("inf")) == "CAST('Infinity' AS DOUBLE)"
    assert _sql_literal(float("-inf")) == "CAST('-Infinity' AS DOUBLE)"
    assert _sql_literal(1.5) == "1.5"


def test_upsert_first_run_still_works(spark, tmp_path):
    path = str(tmp_path / "t")
    df = spark.createDataFrame([(1, "a")], "id long, v string")
    upsert_lake_table(spark, df, path, merge_keys=["id"])
    assert spark.read.parquet(path).count() == 1


@pytest.mark.parametrize("fn_name", ["upsert", "replace"])
def test_transient_read_error_propagates(spark, tmp_path, monkeypatch, fn_name):
    """A non-missing-path read failure must PROPAGATE, not silently
    overwrite the target as if this were the first run (ADVICE r4
    medium #2)."""
    path = str(tmp_path / "t")
    base = spark.createDataFrame([(1, "keep")], "id long, v string")
    write_lake_table(base, path)

    def boom(*a, **k):
        raise RuntimeError("transient fs error")

    monkeypatch.setattr(writers, "read_lake_table", boom)
    batch = spark.createDataFrame([(2, "new")], "id long, v string")
    with pytest.raises(RuntimeError, match="transient fs error"):
        if fn_name == "upsert":
            upsert_lake_table(spark, batch, path, merge_keys=["id"])
        else:
            replace_lake_rows(spark, batch, path, key_col="id", values=[1])
    # target untouched — the existing row survived, no blind overwrite
    got = spark.read.parquet(path).collect()
    assert [(r["id"], r["v"]) for r in got] == [(1, "keep")]


def test_scd2_transient_read_error_propagates(spark, tmp_path, monkeypatch):
    from pyspark.sql.readwriter import DataFrameReader

    path = str(tmp_path / "dim")
    first = spark.createDataFrame(
        [("c1", "gold", datetime.datetime(2024, 1, 1))],
        "id string, tier string, effective_ts timestamp",
    )
    scd2_upsert(spark, first, path, key="id", tracked_cols=["tier"])

    orig = DataFrameReader.parquet

    def boom(self, *paths, **kw):
        if paths and paths[0] == path:
            raise RuntimeError("transient fs error")
        return orig(self, *paths, **kw)

    monkeypatch.setattr(DataFrameReader, "parquet", boom)
    nxt = spark.createDataFrame(
        [("c1", "platinum", datetime.datetime(2024, 2, 1))],
        "id string, tier string, effective_ts timestamp",
    )
    with pytest.raises(RuntimeError, match="transient fs error"):
        scd2_upsert(spark, nxt, path, key="id", tracked_cols=["tier"])
    monkeypatch.undo()
    # history untouched: still exactly the initial current row
    got = spark.read.parquet(path).collect()
    assert len(got) == 1 and got[0]["tier"] == "gold"


def test_incremental_fact_update_read_error_propagates(
    spark, tmp_path, monkeypatch
):
    """The stored-fact read in incremental_fact_update (the MERGE's
    ``read_existing_table`` in upsert_lake_table) must not treat a
    transient read failure as "first run" — that would overwrite the
    fact with the batch alone while reporting success."""
    from pyspark.sql.readwriter import DataFrameReader

    from fintech_lakehouse_spark.config import EngineConfig
    from fintech_lakehouse_spark.pipeline import MedallionPipeline

    config = EngineConfig(base_path=str(tmp_path / "lake"))
    pipe = MedallionPipeline(spark, config)
    fact_path = config.layer_path("gold", "fact_transactions")

    # the pipeline reads format-aware (read_lake_table → .load) since
    # r6s5; intercept both entry points so the fault injection holds
    orig_parquet = DataFrameReader.parquet
    orig_load = DataFrameReader.load

    def boom_parquet(self, *paths, **kw):
        if paths and paths[0] == fact_path:
            raise RuntimeError("transient fs error")
        return orig_parquet(self, *paths, **kw)

    def boom_load(self, path=None, *a, **kw):
        if path == fact_path:
            raise RuntimeError("transient fs error")
        return orig_load(self, path, *a, **kw)

    monkeypatch.setattr(DataFrameReader, "parquet", boom_parquet)
    monkeypatch.setattr(DataFrameReader, "load", boom_load)
    silver = spark.createDataFrame(
        [
            (
                "t1",
                "c1",
                "m1",
                datetime.date(2024, 1, 1),
                datetime.datetime(2024, 1, 1, 10),
            )
        ],
        "transaction_id string, customer_id string, merchant_id string,"
        " transaction_date date, transaction_ts timestamp",
    ).withColumn("amount_usd", F.lit(10.0).cast("decimal(18,2)"))
    customers = spark.createDataFrame(
        [("c1", "US", "retail")], "customer_id string, country string, segment string"
    )
    merchants = spark.createDataFrame(
        [("m1", "grocery", "US")],
        "merchant_id string, category string, country string",
    )
    with pytest.raises(RuntimeError, match="transient fs error"):
        pipe.incremental_fact_update(silver, customers, merchants)


# ------------------------------------------------------- predicate construction


def test_sql_literal_escaping_and_types():
    assert _sql_literal("O'Brien") == "'O''Brien'"
    assert _sql_literal("x'; DROP TABLE t; --") == "'x''; DROP TABLE t; --'"
    assert _sql_literal(True) == "true"
    assert _sql_literal(False) == "false"
    assert _sql_literal(None) == "NULL"
    assert _sql_literal(3) == "3"
    assert _sql_literal(datetime.date(2024, 1, 2)) == "DATE '2024-01-02'"
    assert (
        _sql_literal(datetime.datetime(2024, 1, 2, 3, 4, 5))
        == "TIMESTAMP '2024-01-02 03:04:05'"
    )


def test_replace_lake_rows_quote_and_null_values(spark, tmp_path):
    """Quote-bearing keys replace cleanly, a None in values matches
    the NULL-keyed row, and NULL-keyed rows OUTSIDE the replace set
    are kept (the old ~isin() three-valued-logic bug dropped them)."""
    path = str(tmp_path / "t")
    base = spark.createDataFrame(
        [("O'Brien", 1), (None, 2), ("x", 3)], "k string, n long"
    )
    write_lake_table(base, path)

    # replace only the quote-bearing key: NULL row must SURVIVE
    repl = spark.createDataFrame([("O'Brien", 10)], "k string, n long")
    replace_lake_rows(spark, repl, path, key_col="k", values=["O'Brien"])
    got = {(r["k"], r["n"]) for r in spark.read.parquet(path).collect()}
    assert got == {("O'Brien", 10), (None, 2), ("x", 3)}

    # replace the NULL key explicitly via None in values
    repl2 = spark.createDataFrame([(None, 20)], "k string, n long")
    replace_lake_rows(spark, repl2, path, key_col="k", values=[None])
    got = {(r["k"], r["n"]) for r in spark.read.parquet(path).collect()}
    assert got == {("O'Brien", 10), (None, 20), ("x", 3)}


# -------------------------------------------------- partition layout + types


def test_replace_lake_rows_preserves_partition_layout(spark, tmp_path):
    """partition_by threads through the staged rewrite: partition dirs
    survive and a string partition value like '01' does NOT drift to
    int through the staging re-read (ADVICE r4 lows #4/#5)."""
    import os

    path = str(tmp_path / "t")
    base = spark.createDataFrame(
        [("01", "a", 1), ("02", "b", 2)], "p string, k string, n long"
    )
    write_lake_table(base, path, partition_by=["p"])
    repl = spark.createDataFrame([("01", "a", 10)], "p string, k string, n long")
    replace_lake_rows(
        spark, repl, path, key_col="k", values=["a"], partition_by=["p"]
    )
    dirs = sorted(d for d in os.listdir(path) if d.startswith("p="))
    assert dirs == ["p=01", "p=02"], "partition layout lost or value drifted"
    # a schema-aware read (how typed consumers read a lake table)
    # round-trips the leading-zero string value exactly
    out = spark.read.schema(base.schema).parquet(path)
    got = {(r["p"], r["k"], r["n"]) for r in out.collect()}
    assert got == {("01", "a", 10), ("02", "b", 2)}


def test_partitioned_write_splits_only_the_heavy_value(spark, tmp_path):
    """Partitioned writes are shaped by data size (REBALANCE): with a
    small advisory partition size, the one heavy partition value is
    written by several tasks (several files) while every light value
    stays one file — and the rows round-trip. The light values are
    picked outside the heavy value's hash bucket, since splitting a
    bucket splits every value hashed into it."""
    import os

    # the shuffle's own partition id for a value: pmod(hash(p), n)
    n_buckets = int(spark.conf.get("spark.sql.shuffle.partitions"))
    buckets = dict(
        spark.createDataFrame(
            [("hot",)] + [(f"v{i:02d}",) for i in range(40)], "p string"
        )
        .select("p", F.pmod(F.hash("p"), F.lit(n_buckets)))
        .collect()
    )
    light = sorted(v for v, b in buckets.items() if b != buckets["hot"])[:5]
    assert len(light) == 5
    # 8 map partitions; 20 rows per light value, the rest is "hot"; an
    # md5 payload keeps the shuffle bytes from compressing away
    slot = (F.col("id") % 400).cast("int")
    df = spark.range(0, 8_000, numPartitions=8).select(
        "id",
        F.when(slot < 5, F.array(*map(F.lit, light))[slot])
        .otherwise(F.lit("hot"))
        .alias("p"),
        F.md5(F.col("id").cast("string")).alias("payload"),
    )
    key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    old = spark.conf.get(key)
    spark.conf.set(key, "16k")
    try:
        path = str(tmp_path / "t")
        write_lake_table(df, path, partition_by=["p"])
    finally:
        spark.conf.set(key, old)
    files = {
        d[len("p="):]: sum(
            f.endswith(".parquet") for f in os.listdir(os.path.join(path, d))
        )
        for d in os.listdir(path)
        if d.startswith("p=")
    }
    assert set(files) == {"hot", *light}
    assert all(files[v] == 1 for v in light), files
    assert files["hot"] > 1, files
    out = spark.read.parquet(path).select("id", "p", "payload")
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, df.collect()))


def test_upsert_staged_read_keeps_string_partition_type(spark, tmp_path):
    """Selective upsert stages through a partitioned dir; the re-read
    must cast partition values back to the target schema instead of
    re-inferring '01' as int 1 (which would rewrite dirs as p=1)."""
    import os

    path = str(tmp_path / "t")
    base = spark.createDataFrame(
        [("01", 1, "a"), ("02", 2, "b")], "p string, id long, v string"
    )
    write_lake_table(base, path, partition_by=["p"])
    batch = spark.createDataFrame([("01", 1, "A")], "p string, id long, v string")
    upsert_lake_table(
        spark, batch, path, merge_keys=["id"], partition_by=["p"]
    )
    dirs = sorted(d for d in os.listdir(path) if d.startswith("p="))
    assert dirs == ["p=01", "p=02"]
    out = spark.read.schema(base.schema).parquet(path)
    assert {(r["p"], r["id"], r["v"]) for r in out.collect()} == {
        ("01", 1, "A"),
        ("02", 2, "b"),
    }


def test_scd2_upsert_partition_by_threads_through(spark, tmp_path):
    import os

    path = str(tmp_path / "dim")
    first = spark.createDataFrame(
        [("c1", "gold", datetime.datetime(2024, 1, 1))],
        "id string, tier string, effective_ts timestamp",
    )
    scd2_upsert(
        spark, first, path, key="id", tracked_cols=["tier"],
        partition_by=["is_current"],
    )
    nxt = spark.createDataFrame(
        [("c1", "platinum", datetime.datetime(2024, 2, 1))],
        "id string, tier string, effective_ts timestamp",
    )
    scd2_upsert(
        spark, nxt, path, key="id", tracked_cols=["tier"],
        partition_by=["is_current"],
    )
    dirs = sorted(
        d for d in os.listdir(path) if d.startswith("is_current=")
    )
    assert dirs == ["is_current=false", "is_current=true"]
    out = spark.read.parquet(path).withColumn(
        "is_current", F.col("is_current").cast("boolean")
    )
    cur = out.filter(F.col("is_current")).collect()
    assert len(cur) == 1 and cur[0]["tier"] == "platinum"
    closed = out.filter(~F.col("is_current")).collect()
    assert len(closed) == 1 and closed[0]["tier"] == "gold"


@pytest.mark.parametrize(
    "op", ["upsert_selective", "upsert_full", "replace", "scd2"]
)
def test_staged_rewrite_keeps_staging_until_copy_succeeds(
    spark, tmp_path, monkeypatch, op
):
    """Every staged parquet rewrite deletes ``<path>__staging`` once
    its copy into the target succeeded — no working dir is left behind
    — and keeps it, holding the merged rows, when that copy fails: the
    delete runs only after a successful overwrite, never in a finally."""
    import os

    from pyspark.sql.readwriter import DataFrameWriter

    path = str(tmp_path / "t")
    staging = path + "__staging"
    if op == "scd2":
        ts = datetime.datetime

        def rows(*r):
            return spark.createDataFrame(
                list(r), "id string, tier string, effective_ts timestamp"
            )

        def apply(df):
            scd2_upsert(spark, df, path, key="id", tracked_cols=["tier"])

        batches = [
            rows(("c1", "gold", ts(2024, 1, 1))),
            rows(("c1", "platinum", ts(2024, 2, 1))),
            rows(("c1", "silver", ts(2024, 3, 1))),
        ]
        cols = ["id", "tier"]
        # closed gold + closed platinum + the new current silver row
        expected = {("c1", "gold"), ("c1", "platinum"), ("c1", "silver")}
    else:

        def rows(*r):
            return spark.createDataFrame(list(r), "id long, v string, d string")

        def apply(df):
            if op == "replace":
                ids = [r["id"] for r in df.select("id").collect()]
                replace_lake_rows(spark, df, path, key_col="id", values=ids)
            else:
                upsert_lake_table(
                    spark, df, path, merge_keys=["id"],
                    partition_by=["d"] if op == "upsert_selective" else None,
                )

        batches = [
            rows((1, "a", "x"), (2, "b", "y")),
            rows((2, "B", "y")),
            rows((1, "A", "x")),
        ]
        cols = ["id", "v", "d"]
        # the selective upsert stages only the touched partition
        expected = (
            {(1, "A", "x")}
            if op == "upsert_selective"
            else {(1, "A", "x"), (2, "B", "y")}
        )

    apply(batches[0])  # first run: plain write, no staging
    apply(batches[1])  # staged rewrite
    assert not os.path.exists(staging)

    orig_save = DataFrameWriter.save

    def failing_save(self, target=None, *a, **kw):
        if target == path:
            raise RuntimeError("copy into target failed")
        return orig_save(self, target, *a, **kw)

    monkeypatch.setattr(DataFrameWriter, "save", failing_save)
    with pytest.raises(RuntimeError, match="copy into target failed"):
        apply(batches[2])
    monkeypatch.undo()
    staged = spark.read.parquet(staging).select(*cols).collect()
    assert {tuple(r) for r in staged} == expected


# ------------------------------------------------------------- dedup_clusters


def test_dedup_clusters_rejects_nonpositive_iterations(spark):
    from fintech_lakehouse_spark.functions.text import dedup_clusters

    pairs = spark.createDataFrame([(1, 2)], "doc_a long, doc_b long")
    with pytest.raises(RuntimeError, match="max_iterations"):
        dedup_clusters(pairs, max_iterations=0)


def test_dedup_clusters_releases_per_round_checkpoints(spark):
    """Iterations localCheckpoint each round; every superseded round's
    blocks must be freed — only the final labels checkpoint (consumed
    by the caller) may remain persisted."""
    from fintech_lakehouse_spark.functions.text import dedup_clusters

    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    # a chain forces several pointer-jump rounds before convergence
    chain = [(i, i + 1) for i in range(16)]
    pairs = spark.createDataFrame(chain, "doc_a long, doc_b long")
    labels = dedup_clusters(pairs, max_iterations=20)
    assert labels.select("cluster_id").distinct().count() == 1
    after = jsc.getPersistentRDDs().size()
    assert after <= before + 1, (
        f"checkpoint leak: {after - before} extra persisted RDDs"
    )


def test_reset_stage_caches_empties_cache_manager(spark):
    """Bench cold-run protocol (r5 artifact): the LSH candidate table
    cached INSIDE verified_jaccard_pairs must not survive
    reset_stage_caches — a leaked inner cache matches the rebuilt
    plan in Spark's CacheManager and a 'cold' repeat silently reuses
    it (measured 1.4 s vs 3.4 s true-cold minhash at sf0.1). After
    reset, the session-wide CacheManager must be EMPTY."""
    from fintech_lakehouse_spark.plans.text import (
        reset_stage_caches,
        verified_pairs_stage,
    )

    reset_stage_caches()  # drop OUR tracked caches before the clear
    spark.catalog.clearCache()  # other tests' caches are not ours to track
    verified_pairs_stage(spark, "/root/testdata/sf0.001").count()
    reset_stage_caches()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_scd2_as_of_point_in_time_reads(spark, tmp_path):
    """Dimension time travel: after two SCD2 upserts, reading as-of a
    timestamp between them shows the first version; as-of after the
    second shows the new version; as-of before a key existed shows no
    row for it. Boundary: as-of exactly at the change sees the NEW row
    (half-open [from, to) intervals)."""
    import datetime as dt

    from fintech_lakehouse_spark.sources.writers import scd2_as_of, scd2_upsert

    path = str(tmp_path / "dim_scd2")
    t1 = dt.datetime(2024, 1, 1)
    t2 = dt.datetime(2024, 3, 1)
    b1 = spark.createDataFrame(
        [("u1", "bronze", t1), ("u2", "silver", t1)],
        "user_id string, tier string, effective_ts timestamp",
    )
    scd2_upsert(spark, b1, path, key="user_id", tracked_cols=["tier"])
    b2 = spark.createDataFrame(
        [("u1", "gold", t2), ("u3", "bronze", t2)],
        "user_id string, tier string, effective_ts timestamp",
    )
    scd2_upsert(spark, b2, path, key="user_id", tracked_cols=["tier"])

    def snap(ts):
        return {
            r["user_id"]: r["tier"] for r in scd2_as_of(spark, path, ts).collect()
        }

    assert snap(dt.datetime(2024, 2, 1)) == {"u1": "bronze", "u2": "silver"}
    assert snap(dt.datetime(2024, 4, 1)) == {
        "u1": "gold", "u2": "silver", "u3": "bronze"
    }
    assert snap(dt.datetime(2023, 12, 1)) == {}
    assert snap(t2) == {"u1": "gold", "u2": "silver", "u3": "bronze"}


def test_optimize_lake_table_morton_rewrite(spark, tmp_path):
    """The multi-column z-order compaction branch: a fragmented table
    compacts to one file per directory, survives a round-trip with all
    rows intact, and the rewrite is Morton-sorted — consecutive rows
    stay inside a bounded box in BOTH clustered dimensions (a
    lexicographic sort would leave dim2 unordered within equal dim1
    runs and fail the box check across the file)."""
    from fintech_lakehouse_spark.sources.writers import optimize_lake_table

    path = str(tmp_path / "frag")
    df = spark.range(4096).select(
        (F.col("id") % 64).alias("x"), (F.col("id") / 64).cast("long").alias("y")
    )
    df.repartition(8).write.mode("overwrite").parquet(path)
    assert optimize_lake_table(
        spark, path, z_order_columns=["x", "y"], max_files_per_partition=4
    )
    back = spark.read.parquet(path)
    assert back.count() == 4096
    assert back.rdd.getNumPartitions() == 1
    rows = [(r["x"], r["y"]) for r in back.collect()]
    # Morton property probe: among each consecutive quarter of the
    # file, both dimensions span at most ~half their full range —
    # impossible for a lexicographic (x, y) sort, whose every
    # x-segment spans the full y range.
    quarter = len(rows) // 4
    bounded_both = 0
    for i in range(4):
        seg = rows[i * quarter : (i + 1) * quarter]
        xs = [a for a, _ in seg]
        ys = [b for _, b in seg]
        if (max(xs) - min(xs)) <= 40 and (max(ys) - min(ys)) <= 40:
            bounded_both += 1
    assert bounded_both >= 3, [
        (min(a for a, _ in rows[i * quarter : (i + 1) * quarter]),
         max(a for a, _ in rows[i * quarter : (i + 1) * quarter]),
         min(b for _, b in rows[i * quarter : (i + 1) * quarter]),
         max(b for _, b in rows[i * quarter : (i + 1) * quarter]))
        for i in range(4)
    ]


def test_upsert_cleans_hive_escaped_emptied_partitions(spark, tmp_path):
    """A key moving OUT of a partition whose value needs Hive escaping
    (timestamp ':' → %3A on disk) must still get its stale directory
    deleted — the hand-built `col=value` probe missed escaped names
    and the table returned duplicate keys (review finding r6s5)."""
    import datetime as dt

    from fintech_lakehouse_spark.sources.writers import upsert_lake_table

    target = str(tmp_path / "t")
    t1 = dt.datetime(2024, 1, 1, 10, 0, 0)
    t2 = dt.datetime(2024, 1, 2, 11, 0, 0)
    base = spark.createDataFrame([(1, t1, 5.0)], "id long, pt timestamp, v double")
    upsert_lake_table(spark, base, target, merge_keys=["id"], partition_by=["pt"])
    moved = spark.createDataFrame([(1, t2, 6.0)], "id long, pt timestamp, v double")
    upsert_lake_table(spark, moved, target, merge_keys=["id"], partition_by=["pt"])
    rows = spark.read.parquet(target).collect()
    assert len(rows) == 1, rows
    assert rows[0]["v"] == 6.0 and rows[0]["pt"] == t2


def test_upsert_null_partition_value_cleanup(spark, tmp_path):
    """Same stale-dir cleanup for NULL partition values
    (__HIVE_DEFAULT_PARTITION__ on disk vs the 'd=None' probe)."""
    from fintech_lakehouse_spark.sources.writers import upsert_lake_table

    target = str(tmp_path / "t")
    base = spark.createDataFrame([(1, None, 5.0)], "id long, d string, v double")
    upsert_lake_table(spark, base, target, merge_keys=["id"], partition_by=["d"])
    moved = spark.createDataFrame([(1, "x", 6.0)], "id long, d string, v double")
    upsert_lake_table(spark, moved, target, merge_keys=["id"], partition_by=["d"])
    rows = spark.read.parquet(target).collect()
    assert len(rows) == 1, rows
    assert rows[0]["v"] == 6.0 and rows[0]["d"] == "x"


def test_upsert_empty_batch_with_partition_by_is_noop(spark, tmp_path):
    """An empty micro-batch through the selective path must be a no-op
    — it crashed with filter(None) before (review finding r6s5,
    the foreach_batch_upsert streaming-death scenario)."""
    from fintech_lakehouse_spark.sources.writers import upsert_lake_table

    target = str(tmp_path / "t")
    base = spark.createDataFrame([(1, "a", 5.0)], "id long, p string, v double")
    upsert_lake_table(spark, base, target, merge_keys=["id"], partition_by=["p"])
    empty = spark.createDataFrame([], "id long, p string, v double")
    upsert_lake_table(spark, empty, target, merge_keys=["id"], partition_by=["p"])
    assert spark.read.parquet(target).count() == 1


def test_scd2_null_timestamp_update_is_noop_not_row_loss(spark, tmp_path):
    """An update with a NULL event time cannot be ordered into the
    history: it must leave the dimension UNCHANGED. Three-valued logic
    previously dropped the key's current row entirely (review finding
    r6s5 — confirmed data loss)."""
    from fintech_lakehouse_spark.sources.writers import scd2_upsert

    target = str(tmp_path / "dim")
    base = spark.createDataFrame(
        [(1, "A", "2024-01-01 00:00:00")],
        "k long, attr string, effective_ts string",
    ).withColumn("effective_ts", F.col("effective_ts").cast("timestamp"))
    scd2_upsert(spark, base, target, key="k", tracked_cols=["attr"])
    poison = spark.createDataFrame(
        [(1, "B", None)], "k long, attr string, effective_ts timestamp"
    )
    scd2_upsert(spark, poison, target, key="k", tracked_cols=["attr"])
    rows = spark.read.parquet(target).collect()
    assert len(rows) == 1, rows
    assert rows[0]["attr"] == "A" and rows[0]["is_current"]


def test_optimize_staging_never_pollutes_partition_discovery(spark, tmp_path):
    """Compaction staging must live OUTSIDE the table root: an in-root
    `p=1__compact` leftover reads as an extra partition value →
    duplicate rows until vacuum (review finding r6s5). Verified by
    compacting and asserting no in-root staging dir ever existed plus
    row counts stable."""
    import os

    from fintech_lakehouse_spark.sources.writers import optimize_lake_table

    target = str(tmp_path / "t")
    df = spark.range(100).withColumn("p", (F.col("id") % 2).cast("string"))
    # many small files per partition dir
    df.repartition(8).write.partitionBy("p").parquet(target)
    before = spark.read.parquet(target).count()
    assert optimize_lake_table(spark, target, max_files_per_partition=2)
    spark.catalog.refreshByPath(target)
    assert spark.read.parquet(target).count() == before
    # no staging leftovers inside the table root
    for name in os.listdir(target):
        assert "__compact" not in name, name
    # sibling staging root is reaped too
    assert not os.path.exists(target + "__compact")


def test_zorder_bits_autolower_four_columns(spark):
    """4 columns x default 16 bits = 64 > 63: bits must auto-lower
    (to 15) instead of raising mid-maintenance (review finding r6s5 —
    the docstring promised <=4 columns works)."""
    from fintech_lakehouse_spark.sources.writers import zorder_key

    df = spark.range(100).select(
        F.col("id").alias("a"),
        (F.col("id") * 2).alias("b"),
        (F.col("id") * 3).alias("c"),
        (F.col("id") * 5).alias("d"),
    )
    keys = df.select(zorder_key(df, ["a", "b", "c", "d"]).alias("z")).collect()
    assert all(k["z"] >= 0 for k in keys)  # fits a signed long


def test_register_lake_table_quoted_location(spark, tmp_path):
    """A location containing a single quote must register (escaped),
    not die in a ParseException (review finding r6s5)."""
    from fintech_lakehouse_spark.sources.writers import register_lake_table

    loc = tmp_path / "o'brien"
    spark.range(3).write.parquet(str(loc))
    register_lake_table(spark, str(loc), "qdb", "qtbl")
    assert spark.table("qdb.qtbl").count() == 3
    spark.sql("DROP TABLE qdb.qtbl")
    spark.sql("DROP DATABASE qdb")
