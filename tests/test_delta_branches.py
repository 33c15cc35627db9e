"""Branch coverage for the env-gated Delta code paths (VERDICT r5
item 3). delta-spark is uninstallable in this offline container
(ROUND_NOTES r6 probe: no PyPI route, no cached wheels, no delta
jars), so the Delta branches of the lake writers have never executed.
These tests drive them with a mocked ``delta.tables.DeltaTable`` and
recording spark/DataFrame doubles: they pin the exact MERGE builder
chain, the OPTIMIZE/ZORDER and VACUUM SQL text, the writer options
(mergeSchema/optimizeWrite), and the escaped replaceWhere predicate —
so a future Spark/Delta API change or a typo in the gated code shows
up offline instead of on the first Databricks run.

Reference surface being mirrored: src/utils/spark_utils.py:285-344
(MERGE), :519-555 (OPTIMIZE/ZORDER), :558-588 (VACUUM)."""

import sys
import types
from unittest.mock import MagicMock

import pytest

from fintech_lakehouse_spark.sources import writers


class _MergeChain:
    """Records the DeltaTable.forPath().alias().merge()... builder
    chain exactly as upsert_lake_table drives it."""

    def __init__(self, log):
        self.log = log

    def alias(self, name):
        self.log.append(("alias", name))
        return self

    def merge(self, source, cond):
        self.log.append(("merge", cond))
        return self

    def whenMatchedUpdateAll(self):
        self.log.append(("whenMatchedUpdateAll",))
        return self

    def whenNotMatchedInsertAll(self):
        self.log.append(("whenNotMatchedInsertAll",))
        return self

    def execute(self):
        self.log.append(("execute",))


@pytest.fixture()
def delta_env(monkeypatch):
    """Fake delta-spark presence: importable ``delta`` / ``delta.tables``
    modules (which flips session.delta_available → lake_format 'delta')
    plus a recording DeltaTable."""
    log: list = []

    class FakeDeltaTable:
        @staticmethod
        def forPath(spark, path):
            log.append(("forPath", path))
            return _MergeChain(log)

    delta_mod = types.ModuleType("delta")
    tables_mod = types.ModuleType("delta.tables")
    tables_mod.DeltaTable = FakeDeltaTable
    delta_mod.tables = tables_mod
    monkeypatch.setitem(sys.modules, "delta", delta_mod)
    monkeypatch.setitem(sys.modules, "delta.tables", tables_mod)
    assert writers.lake_format() == "delta"
    return log


def test_delta_upsert_drives_merge_chain(delta_env, monkeypatch):
    """upsert_lake_table in Delta mode: DeltaTable.forPath on the
    target, conjunctive key-equality condition, matched-update-all /
    not-matched-insert-all, execute — the ref's MERGE shape."""
    monkeypatch.setattr(writers, "read_lake_table", lambda s, p: MagicMock())
    source = MagicMock()
    source.alias.return_value = "src_aliased"
    writers.upsert_lake_table(
        MagicMock(), source, "/lake/t", merge_keys=["id", "region"]
    )
    assert delta_env == [
        ("forPath", "/lake/t"),
        ("alias", "target"),
        # <=> since r6s5: a NULL merge key must match its existing
        # NULL-keyed row (plain = would duplicate it on every replay,
        # silently diverging from the parquet window-dedup semantics)
        ("merge", "target.id <=> source.id AND target.region <=> source.region"),
        ("whenMatchedUpdateAll",),
        ("whenNotMatchedInsertAll",),
        ("execute",),
    ]
    source.alias.assert_called_once_with("source")


def test_delta_write_sets_options(delta_env, spark):
    """write_lake_table in Delta mode: format delta, mergeSchema +
    optimizeWrite options, partitionBy pass-through, save, refresh.
    (The real ``spark`` fixture is only here so Column expressions in
    the shaping step can build — the df is still a double.)"""
    df = MagicMock()
    # partitioned writes are rebalanced first, so the writer hangs off
    # the REBALANCED frame
    rep = df.hint.return_value
    writer = rep.write.format.return_value
    # every builder step returns the same writer double
    for m in ("mode", "option", "partitionBy"):
        getattr(writer, m).return_value = writer
    writers.write_lake_table(df, "/lake/t", partition_by=["d"])
    df.hint.assert_called_once_with("rebalance", "d")
    rep.write.format.assert_called_once_with("delta")
    writer.mode.assert_called_once_with("overwrite")
    assert writer.option.call_args_list == [
        (("mergeSchema", "true"),),
        (("optimizeWrite", "true"),),
    ]
    writer.partitionBy.assert_called_once_with("d")
    writer.save.assert_called_once_with("/lake/t")
    rep.sparkSession.catalog.refreshByPath.assert_called_once_with("/lake/t")


def test_delta_optimize_and_vacuum_sql(delta_env):
    """OPTIMIZE/ZORDER and VACUUM go through spark.sql with the exact
    statement text the ref issues (spark_utils.py:519-588)."""
    spark = MagicMock()
    assert writers.optimize_lake_table(
        spark, "/lake/t", z_order_columns=["d", "k"]
    )
    spark.sql.assert_called_once_with("OPTIMIZE delta.`/lake/t` ZORDER BY (d, k)")

    spark.reset_mock()
    assert writers.optimize_lake_table(spark, "/lake/t")
    spark.sql.assert_called_once_with("OPTIMIZE delta.`/lake/t`")

    spark.reset_mock()
    assert writers.vacuum_lake_table(spark, "/lake/t", retention_hours=72)
    spark.sql.assert_called_once_with("VACUUM delta.`/lake/t` RETAIN 72 HOURS")


def test_delta_replace_where_predicate(delta_env, monkeypatch):
    """replace_lake_rows in Delta mode: the replaceWhere option gets
    the escaped, typed, NULL-aware predicate (quote doubling from
    ADVICE r4 medium #1; non-finite literals would raise via
    _sql_literal per ADVICE r5 low #3)."""
    monkeypatch.setattr(writers, "read_lake_table", lambda s, p: MagicMock())
    df = MagicMock()
    writer = df.write.format.return_value
    for m in ("mode", "option"):
        getattr(writer, m).return_value = writer
    spark = MagicMock()
    writers.replace_lake_rows(
        spark, df, "/lake/t", key_col="name", values=["O'Brien", None]
    )
    df.write.format.assert_called_once_with("delta")
    writer.mode.assert_called_once_with("overwrite")
    writer.option.assert_called_once_with(
        "replaceWhere", "name IN ('O''Brien') OR name IS NULL"
    )
    writer.save.assert_called_once_with("/lake/t")
    spark.catalog.refreshByPath.assert_called_once_with("/lake/t")


def test_delta_read_uses_delta_format(delta_env):
    spark = MagicMock()
    writers.read_lake_table(spark, "/lake/t")
    spark.read.format.assert_called_once_with("delta")
    spark.read.format.return_value.load.assert_called_once_with("/lake/t")
