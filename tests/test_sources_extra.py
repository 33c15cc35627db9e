"""JSON source, metastore registration, maintenance gating, CSV→
pipeline ingestion (SURVEY §2.1 S2/S5, §2.11 T1-T3), and the
pandas-UDF escape hatch."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from fintech_lakehouse_spark.functions.vectors import (
    cosine,
    cosine_to_query_pandas_udf,
)
from fintech_lakehouse_spark.sources.readers import load_table, read_json_to_df
from fintech_lakehouse_spark.sources.writers import (
    lake_format,
    optimize_lake_table,
    register_lake_table,
    table_exists,
    vacuum_lake_table,
    write_lake_table,
)


def test_json_lines_reader(spark, tmp_path):
    p = tmp_path / "events.jsonl"
    p.write_text(
        '{"id": 1, "v": 1.5}\n{"id": 2, "v": 2.5}\n{bad json}\n'
    )
    from pyspark.sql.types import DoubleType, LongType, StructField, StructType

    schema = StructType(
        [StructField("id", LongType(), True), StructField("v", DoubleType(), True)]
    )
    df = read_json_to_df(spark, str(p), schema=schema).cache()
    assert df.count() == 3
    assert df.filter(F.col("_corrupt_record").isNotNull()).count() == 1
    assert df.filter("id = 2").collect()[0]["v"] == 2.5


def test_register_and_table_exists(spark, tmp_path, sf_dir):
    path = str(tmp_path / "nation_tbl")
    write_lake_table(load_table(spark, sf_dir, "nation"), path)
    register_lake_table(spark, path, "test_db", "nation")
    assert table_exists(spark, "test_db", "nation")
    assert spark.table("test_db.nation").count() == 25
    assert not table_exists(spark, "test_db", "missing")
    spark.sql("DROP TABLE test_db.nation")
    spark.sql("DROP DATABASE test_db")


def test_maintenance_gated_without_delta(spark, tmp_path, sf_dir):
    """Parquet mode: OPTIMIZE compacts only where needed (already-
    compact tables return False untouched); VACUUM stays a Delta-only
    no-op."""
    path = str(tmp_path / "maint")
    write_lake_table(load_table(spark, sf_dir, "region"), path)
    if lake_format() == "parquet":
        # a single-file table is already compact — nothing to do
        assert optimize_lake_table(spark, path, ["r_name"]) is False
        assert vacuum_lake_table(spark, path) is False

        # vacuum removes crash-leftover swap dirs past retention
        import os
        import time

        stale = [path + "__staging", path + "__old"]
        old = time.time() - 8 * 24 * 3600
        for d in stale:
            os.makedirs(d, exist_ok=True)
            os.utime(d, (old, old))
        assert vacuum_lake_table(spark, path, retention_hours=168) is True
        assert not any(os.path.exists(d) for d in stale)
        # fresh leftovers survive the retention window
        fresh = path + "__compact"
        os.makedirs(fresh, exist_ok=True)
        assert vacuum_lake_table(spark, path, retention_hours=168) is False
        assert os.path.exists(fresh)
    else:  # pragma: no cover - delta-enabled environments
        assert optimize_lake_table(spark, path, ["r_name"]) is True


def test_optimize_compacts_small_files(spark, tmp_path, sf_dir):
    """Parquet OPTIMIZE: partitions with many small files rewrite to
    one file; compact partitions keep their exact files; data
    survives byte-identical; z_order column sorts within the file."""
    import os

    path = str(tmp_path / "frag")
    orders = load_table(spark, sf_dir, "orders").withColumn(
        "order_year", F.year("o_orderdate")
    )
    # fragment every partition: 6 small append batches (the steady
    # drip of an incremental ingest)
    write_lake_table(orders.limit(200), path, partition_by=["order_year"])
    for _ in range(5):
        write_lake_table(
            orders.limit(200), path, mode="append", partition_by=["order_year"]
        )

    def files(d):
        full = os.path.join(path, d)
        return {
            f: os.path.getmtime(os.path.join(full, f))
            for f in os.listdir(full)
            if f.endswith(".parquet")
        }

    parts = [d for d in os.listdir(path) if d.startswith("order_year=")]
    assert any(len(files(d)) > 4 for d in parts)
    before = spark.read.parquet(path)
    before_rows = sorted(
        (r["o_orderkey"], str(r["order_year"])) for r in before.collect()
    )
    assert optimize_lake_table(spark, path, ["o_custkey"]) is True
    for d in parts:
        assert len(files(d)) == 1  # compacted
    after = spark.read.parquet(path)
    after_rows = sorted(
        (r["o_orderkey"], str(r["order_year"])) for r in after.collect()
    )
    assert after_rows == before_rows
    # second run: everything compact → False, files untouched
    snapshot = {d: files(d) for d in parts}
    assert optimize_lake_table(spark, path, ["o_custkey"]) is False
    assert {d: files(d) for d in parts} == snapshot


def _fragmented_table(spark, path, partitioned=True):
    """3,600 rows in 6 appends, so every dir holds more files than
    optimize_lake_table's default 4 and gets compacted; partitioned
    tables have 3 partitions of 1,200 rows."""
    for i in range(6):
        rows = spark.range(i * 600, (i + 1) * 600).withColumn("p", F.col("id") % 3)
        write_lake_table(
            rows,
            path,
            mode="append" if i else "overwrite",
            partition_by=["p"] if partitioned else None,
        )


def _ids(spark, path):
    return sorted(r["id"] for r in spark.read.parquet(path).select("id").collect())


@pytest.mark.skipif(lake_format() != "parquet", reason="parquet-mode compaction")
def test_optimize_cut_off_between_renames_keeps_every_row(
    spark, tmp_path, monkeypatch
):
    """A compaction whose second rename fails: optimize_lake_table
    raises, the partition it was swapping is renamed back, and a vacuum
    afterwards still reads every row."""
    import os

    from fintech_lakehouse_spark.sources import writers

    path = str(tmp_path / "cut")
    _fragmented_table(spark, path)
    assert _ids(spark, path) == list(range(3600))
    real, calls = writers._rename, []

    def second_rename_fails(fs, jvm, src, dst):
        calls.append(src)
        if len(calls) == 2:
            raise OSError("injected rename failure")
        real(fs, jvm, src, dst)

    monkeypatch.setattr(writers, "_rename", second_rename_fails)
    with pytest.raises(OSError, match="injected"):
        optimize_lake_table(spark, path)
    assert _ids(spark, path) == list(range(3600))
    vacuum_lake_table(spark, path, retention_hours=0)
    assert _ids(spark, path) == list(range(3600))
    assert not os.path.exists(path + "__compact")


@pytest.mark.skipif(lake_format() != "parquet", reason="parquet-mode compaction")
@pytest.mark.parametrize(
    "maintenance, partitioned",
    [("vacuum", True), ("optimize", True), ("vacuum", False)],
)
def test_maintenance_finishes_a_compaction_cut_off_between_renames(
    spark, tmp_path, maintenance, partitioned
):
    """The on-disk state of a compaction killed between its renames:
    one dir (a partition, or the root of an unpartitioned table) is
    gone, its rows sit only in the committed ``<table>__compact/<dir>``
    and its old copy in ``<dir>__old`` beside it. Both maintenance
    entry points rename the compacted copy into place before anything
    reaps ``__compact``."""
    import os

    path = str(tmp_path / "crash")
    _fragmented_table(spark, path, partitioned)
    cut = f"{path}/p=1" if partitioned else path
    staging = f"{path}__compact/{os.path.basename(cut)}"
    spark.read.parquet(cut).coalesce(1).write.parquet(staging)
    os.rename(cut, staging + "__old")

    if maintenance == "vacuum":
        vacuum_lake_table(spark, path, retention_hours=0)
        assert not os.path.exists(path + "__compact")
    else:
        optimize_lake_table(spark, path)
    assert _ids(spark, path) == list(range(3600))


@pytest.mark.skipif(lake_format() != "parquet", reason="parquet-mode compaction")
@pytest.mark.parametrize("leftover", ["failed_swap", "killed_before_swap"])
def test_emptied_partition_stays_empty_after_a_cut_off_compaction(
    spark, tmp_path, monkeypatch, leftover
):
    """A compaction that never swapped its partition out (its second
    rename failed, or the process died between the staging write and
    the swap) leaves no proof in ``<dir>__old``. Once a later upsert
    moves every key out of that partition, a vacuum must not bring the
    compacted copy of its rows back."""
    import os

    from fintech_lakehouse_spark.sources import writers
    from fintech_lakehouse_spark.sources.writers import upsert_lake_table

    path = str(tmp_path / "stale")
    _fragmented_table(spark, path)
    if leftover == "failed_swap":
        real, calls = writers._rename, []

        def second_rename_fails(fs, jvm, src, dst):
            calls.append(src)
            if len(calls) == 2:
                raise OSError("injected rename failure")
            real(fs, jvm, src, dst)

        monkeypatch.setattr(writers, "_rename", second_rename_fails)
        with pytest.raises(OSError, match="injected"):
            optimize_lake_table(spark, path)
        monkeypatch.undo()
        part = os.path.basename(calls[0])  # the dir the swap parked aside
    else:
        part = "p=1"
        spark.read.parquet(f"{path}/{part}").coalesce(1).write.parquet(
            f"{path}__compact/{part}"
        )
    p = int(part.split("=")[1])
    moved = (
        spark.range(3600)
        .filter(F.col("id") % 3 == p)
        .withColumn("p", F.lit((p + 1) % 3).cast("long"))
    )
    upsert_lake_table(spark, moved, path, merge_keys=["id"], partition_by=["p"])
    assert not os.path.exists(f"{path}/{part}")

    vacuum_lake_table(spark, path, retention_hours=0)
    assert _ids(spark, path) == list(range(3600))
    assert not os.path.exists(f"{path}/{part}")
    assert not os.path.exists(path + "__compact")


@pytest.mark.skipif(lake_format() != "parquet", reason="parquet-mode compaction")
def test_optimize_finishes_a_cut_off_rewrite_not_a_stale_compaction(
    spark, tmp_path
):
    """An unpartitioned table whose rewrite was cut off between its
    renames (root parked at ``__old``, the new rows committed in
    ``__staging``) beside a stale compacted copy of its old root:
    optimize_lake_table swaps the rewrite in, not the stale copy."""
    import os

    path = str(tmp_path / "root")
    _fragmented_table(spark, path, partitioned=False)
    spark.read.parquet(path).coalesce(1).write.parquet(
        f"{path}__compact/{os.path.basename(path)}"
    )
    spark.range(100).withColumn("p", F.col("id") % 3).write.parquet(
        path + "__staging"
    )
    os.rename(path, path + "__old")

    optimize_lake_table(spark, path)
    assert _ids(spark, path) == list(range(100))


def test_csv_bronze_ingestion_roundtrip(spark, tmp_path):
    """Generator → CSV landing → PERMISSIVE bronze read with explicit
    schema → silver cast: the reference's entry-point-B flow
    (SURVEY §3.2) over actual CSV files."""
    from fintech_lakehouse_spark.datagen import generate_transactions
    from fintech_lakehouse_spark.operators.medallion import bronze_to_silver
    from fintech_lakehouse_spark.schemas import bronze_schema
    from fintech_lakehouse_spark.sources.readers import read_csv_to_df

    landing = str(tmp_path / "landing")
    generate_transactions(spark, 500, 100, 20).write.option("header", True).csv(
        landing
    )
    bronze = read_csv_to_df(
        spark, landing, schema=bronze_schema("transactions")
    )
    silver = bronze_to_silver(bronze.drop("_corrupt_record"), "transactions")
    assert silver.count() == 500
    assert silver.filter(F.col("amount").isNull()).count() == 0
    assert dict(silver.dtypes)["transaction_timestamp"] == "timestamp"


def test_pandas_udf_cosine_matches_jvm(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    query = emb.filter("vec_id = 0").collect()[0]["embedding"]
    udf_cos = cosine_to_query_pandas_udf(query)
    jvm = emb.select(
        "vec_id",
        cosine(
            F.col("embedding"), F.array(*[F.lit(float(x)) for x in query])
        ).alias("c"),
    )
    arrow = emb.select("vec_id", udf_cos("embedding").alias("c"))
    joined = jvm.alias("a").join(arrow.alias("b"), "vec_id")
    max_diff = joined.agg(
        F.max(F.abs(F.col("a.c") - F.col("b.c"))).alias("d")
    ).collect()[0]["d"]
    assert max_diff < 1e-12


def test_orc_roundtrip(spark, tmp_path, sf_dir):
    from fintech_lakehouse_spark.sources.readers import read_orc_to_df

    orders = load_table(spark, sf_dir, "orders")
    path = str(tmp_path / "orders_orc")
    orders.write.format("orc").save(path)
    back = read_orc_to_df(spark, path)
    assert back.count() == orders.count()
    assert set(back.columns) == set(orders.columns)


def test_clustered_zstd_write(spark, tmp_path, sf_dir):
    """cluster_by + zstd: rows sorted on the cluster key within files,
    codec honored (file extension), and a range predicate still reads
    correct results."""
    import glob

    lineitem = load_table(spark, sf_dir, "lineitem")
    path = str(tmp_path / "li_clustered")
    write_lake_table(
        lineitem, path, cluster_by=["l_shipdate"], compression="zstd"
    )
    files = glob.glob(f"{path}/*.zstd.parquet") or glob.glob(f"{path}/*zstd*")
    assert files, "zstd codec not reflected in files"
    back = spark.read.parquet(path)
    assert back.count() == lineitem.count()
    # within-file sortedness on the cluster key
    from pyspark.sql.window import Window

    by_file = (
        back.withColumn("_f", F.input_file_name())
        .withColumn(
            "_prev",
            F.lag("l_shipdate").over(
                Window.partitionBy("_f").orderBy(F.monotonically_increasing_id())
            ),
        )
        .filter(F.col("_prev") > F.col("l_shipdate"))
    )
    assert by_file.count() == 0
    want = lineitem.filter("l_shipdate >= '2000-01-01'").count()
    assert back.filter("l_shipdate >= '2000-01-01'").count() == want


def test_upsert_fallback_keeps_partition_layout(spark, tmp_path, monkeypatch):
    """When a selective upsert exceeds MAX_SELECTIVE_PARTITIONS, the
    full-rewrite fallback must PRESERVE the table's partition layout —
    silently flattening it would disable partition pruning and
    per-partition compaction for every later reader (ADVICE r2)."""
    import os

    from fintech_lakehouse_spark.sources import writers

    path = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i, i % 3, float(i)) for i in range(30)], "id long, p int, v double"
    )
    writers.write_lake_table(df, path, partition_by=["p"])
    batch = spark.createDataFrame(
        [(1, 1, 99.0), (100, 2, 5.0)], "id long, p int, v double"
    )
    monkeypatch.setattr(writers, "MAX_SELECTIVE_PARTITIONS", 1)
    writers.upsert_lake_table(
        spark, batch, path, merge_keys=["id"], partition_by=["p"]
    )
    dirs = sorted(d for d in os.listdir(path) if d.startswith("p="))
    assert dirs == ["p=0", "p=1", "p=2"], "partition layout lost in fallback"
    out = spark.read.parquet(path)
    assert out.count() == 31
    assert out.filter("id = 1").collect()[0]["v"] == 99.0


def test_replace_lake_rows_deletes_emptied_keys(spark, tmp_path):
    """replace_lake_rows (Delta replaceWhere analog): rows for the
    given key set are replaced wholesale — a key recomputed to ZERO
    rows loses its stale row (MERGE can never delete it)."""
    from fintech_lakehouse_spark.sources.writers import (
        replace_lake_rows,
        write_lake_table,
    )

    path = str(tmp_path / "agg")
    base = spark.createDataFrame(
        [("a", 1), ("b", 2), ("c", 3)], "k string, n long"
    )
    write_lake_table(base, path)
    repl = spark.createDataFrame([("b", 20)], "k string, n long")
    replace_lake_rows(spark, repl, path, key_col="k", values=["b", "c"])
    got = {(r["k"], r["n"]) for r in spark.read.parquet(path).collect()}
    assert got == {("a", 1), ("b", 20)}


def test_scd2_upsert_dimension_history(spark, tmp_path):
    """SCD Type 2 lifecycle: initial load -> attribute change closes
    the old row and opens a new one -> unchanged re-apply is a no-op
    -> new key inserts. Exactly one is_current row per key; closed
    rows carry [effective_from, effective_to) ranges."""
    import datetime as dt

    from fintech_lakehouse_spark.sources.writers import scd2_upsert

    path = str(tmp_path / "dim_customer_scd2")
    t1 = dt.datetime(2024, 1, 1)
    t2 = dt.datetime(2024, 2, 1)
    t3 = dt.datetime(2024, 3, 1)
    schema = "customer_id long, risk_rating string, city string, effective_ts timestamp"

    scd2_upsert(
        spark,
        spark.createDataFrame(
            [(1, "LOW", "oslo", t1), (2, "HIGH", "lima", t1)], schema
        ),
        path, key="customer_id", tracked_cols=["risk_rating", "city"],
    )
    # change customer 1's rating; customer 2 unchanged; customer 3 new
    scd2_upsert(
        spark,
        spark.createDataFrame(
            [
                (1, "HIGH", "oslo", t2),
                (2, "HIGH", "lima", t2),
                (3, "LOW", "kyiv", t2),
            ],
            schema,
        ),
        path, key="customer_id", tracked_cols=["risk_rating", "city"],
    )
    dim = spark.read.parquet(path)
    cur = {r["customer_id"]: r for r in dim.filter("is_current").collect()}
    assert set(cur) == {1, 2, 3}
    assert cur[1]["risk_rating"] == "HIGH" and cur[1]["effective_from"] == t2
    # unchanged key keeps its ORIGINAL effective_from (no-op)
    assert cur[2]["effective_from"] == t1
    hist = dim.filter("NOT is_current").collect()
    assert len(hist) == 1
    assert hist[0]["customer_id"] == 1
    assert hist[0]["risk_rating"] == "LOW"
    assert (hist[0]["effective_from"], hist[0]["effective_to"]) == (t1, t2)
    # exactly one current row per key
    assert dim.filter("is_current").groupBy("customer_id").count().filter(
        "count > 1"
    ).count() == 0

    # second change for customer 1: history chains
    scd2_upsert(
        spark,
        spark.createDataFrame([(1, "HIGH", "bergen", t3)], schema),
        path, key="customer_id", tracked_cols=["risk_rating", "city"],
    )
    dim = spark.read.parquet(path)
    c1 = sorted(
        dim.filter("customer_id = 1").collect(),
        key=lambda r: r["effective_from"],
    )
    assert [(r["city"], r["is_current"]) for r in c1] == [
        ("oslo", False), ("oslo", False), ("bergen", True),
    ]
    assert c1[1]["effective_to"] == t3 and c1[2]["effective_from"] == t3


def test_scd2_upsert_intra_batch_latest_wins(spark, tmp_path):
    """Two updates for one key in a single batch: only the latest by
    effective_ts applies (documented collapse)."""
    import datetime as dt

    from fintech_lakehouse_spark.sources.writers import scd2_upsert

    path = str(tmp_path / "dim_scd2_batch")
    schema = "customer_id long, risk_rating string, city string, effective_ts timestamp"
    scd2_upsert(
        spark,
        spark.createDataFrame(
            [
                (1, "LOW", "oslo", dt.datetime(2024, 1, 1)),
                (1, "HIGH", "oslo", dt.datetime(2024, 1, 5)),
            ],
            schema,
        ),
        path, key="customer_id", tracked_cols=["risk_rating", "city"],
    )
    rows = spark.read.parquet(path).collect()
    assert len(rows) == 1
    assert rows[0]["risk_rating"] == "HIGH" and rows[0]["is_current"]


def test_point_in_time_join_resolves_scd2_versions(spark, tmp_path):
    """Facts join to the dim version valid at their OWN timestamp;
    facts predating the key keep null dim columns."""
    import datetime as dt

    from fintech_lakehouse_spark.operators.joins import point_in_time_join
    from fintech_lakehouse_spark.sources.writers import scd2_upsert

    path = str(tmp_path / "dim_scd2_pit")
    schema = "customer_id long, risk_rating string, city string, effective_ts timestamp"
    t1, t2 = dt.datetime(2024, 1, 1), dt.datetime(2024, 6, 1)
    scd2_upsert(
        spark,
        spark.createDataFrame([(1, "LOW", "oslo", t1)], schema),
        path, key="customer_id", tracked_cols=["risk_rating"],
    )
    scd2_upsert(
        spark,
        spark.createDataFrame([(1, "HIGH", "oslo", t2)], schema),
        path, key="customer_id", tracked_cols=["risk_rating"],
    )
    dim = spark.read.parquet(path)
    facts = spark.createDataFrame(
        [
            (100, 1, dt.datetime(2024, 3, 1)),   # LOW era
            (101, 1, dt.datetime(2024, 7, 1)),   # HIGH era
            (102, 1, dt.datetime(2023, 12, 1)),  # before the key existed
            (103, 2, dt.datetime(2024, 7, 1)),   # unknown key
        ],
        "txn_id long, customer_id long, ts timestamp",
    )
    got = {
        r["txn_id"]: r["risk_rating"]
        for r in point_in_time_join(facts, dim, "customer_id", "ts").collect()
    }
    assert got == {100: "LOW", 101: "HIGH", 102: None, 103: None}


def test_snapshot_diff_changelog(spark):
    """snapshot_diff emits exactly the inserted/updated/deleted keys
    with new values (old values for deletes); unchanged keys absent."""
    from fintech_lakehouse_spark.sources.writers import snapshot_diff

    old = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0), (4, None, 40.0)],
        "id long, tag string, v double",
    )
    new = spark.createDataFrame(
        [(1, "a", 10.0), (2, "B", 20.0), (4, None, 40.0), (5, "e", 50.0)],
        "id long, tag string, v double",
    )
    got = {
        r["id"]: (r["_change_type"], r["tag"], r["v"])
        for r in snapshot_diff(old, new, keys=["id"]).collect()
    }
    assert got == {
        2: ("update", "B", 20.0),
        3: ("delete", "c", 30.0),
        5: ("insert", "e", 50.0),
    }  # 1 unchanged, 4 null-safe unchanged -> absent


def test_file_inventory_rows_and_sizes(spark, tmp_path):
    """file_inventory: every data file appears once with its true row
    count and a positive on-disk size — and the totals reconcile with
    the table itself (the property a compaction decision rests on)."""
    from fintech_lakehouse_spark.sources.writers import file_inventory

    path = str(tmp_path / "inv")
    df = spark.range(1000).withColumn("k", F.col("id") % 7)
    df.repartition(5).write.mode("overwrite").parquet(path)
    inv = file_inventory(spark, path).collect()
    assert len(inv) == 5
    assert sum(r["n_rows"] for r in inv) == 1000
    assert all(r["size_bytes"] > 0 and r["modified_ms"] > 0 for r in inv)
    assert all(r["file"].endswith(".parquet") for r in inv)


def test_schema_catalog_caches_metadata_only(spark, tmp_path):
    """r15 optimization pin: load_table resolves a table's schema from
    the module catalog after the first read (245 ms -> 37 ms per
    spark.read at sf0.1), but the catalog must hold METADATA only —
    rows always come from the files, and an in-place rewrite (new
    mtime) or reset_table_schema_catalog() forces re-inference."""
    import os
    import time as _time

    from fintech_lakehouse_spark.sources.readers import (
        _SCHEMA_CATALOG,
        reset_table_schema_catalog,
    )

    lake = tmp_path / "lake"
    path = str(lake / "nation.parquet")
    spark.range(3).selectExpr("id AS n_nationkey").write.parquet(path)
    reset_table_schema_catalog()
    first = load_table(spark, str(lake), "nation")
    assert first.count() == 3
    key_paths = [k[0] for k in _SCHEMA_CATALOG]
    assert path in key_paths
    # second load rides the catalog and still reads CURRENT data:
    # append more rows without changing the schema — row count must
    # reflect the files, proving no data/result caching
    spark.range(2).selectExpr("id + 10 AS n_nationkey").write.mode(
        "append"
    ).parquet(path)
    again = load_table(spark, str(lake), "nation")
    assert again.count() == 5
    # schema-changing rewrite: mtime moves -> catalog misses -> the new
    # column is visible (sleep past mtime granularity)
    _time.sleep(1.1)
    spark.range(4).selectExpr(
        "id AS n_nationkey", "'x' AS n_name"
    ).write.mode("overwrite").parquet(path)
    os.utime(path)
    rewritten = load_table(spark, str(lake), "nation")
    assert "n_name" in rewritten.columns and rewritten.count() == 4
    reset_table_schema_catalog()
    assert not _SCHEMA_CATALOG
