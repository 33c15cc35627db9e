"""Fluent data-quality checker (SURVEY.md §2.9, Q1-Q9).

Same check semantics, severity model, and report shape as the
reference's DataQualityChecker (ref: src/utils/data_quality.py:205-672)
with its scale anti-patterns removed (SURVEY §4.1-4.3):

* The reference runs ONE Spark job per check (`df.filter(c).count()`
  at data_quality.py:518) plus an eager count in the constructor
  (`:237`) — N checks = N+1 full scans. Here `run()` computes every
  row-predicate check AND the total in ONE conditional aggregation
  (single scan); only uniqueness checks add a shuffle each (they are
  group-bys, irreducibly).
* `get_valid_invalid_dfs` tags rows with failure reasons and splits,
  exactly like the reference (`:570-634`), including the
  `_validation_failures` array and `_quarantine_timestamp` columns.

Severity gating matches the reference: a report passes iff no
CRITICAL check fails (`:186-202`); WARNING failures are recorded but
don't fail the report.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from enum import Enum

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


class DQSeverity(str, Enum):
    """ref: src/utils/data_quality.py:52-64"""

    CRITICAL = "CRITICAL"
    WARNING = "WARNING"
    INFO = "INFO"


class DQCheckType(str, Enum):
    """ref: src/utils/data_quality.py:67-82 (incl. the declared-only
    CONSISTENCY/TIMELINESS/REFERENTIAL types — implemented here)."""

    COMPLETENESS = "COMPLETENESS"
    UNIQUENESS = "UNIQUENESS"
    VALIDITY = "VALIDITY"
    CONSISTENCY = "CONSISTENCY"
    TIMELINESS = "TIMELINESS"
    REFERENTIAL = "REFERENTIAL"
    CUSTOM = "CUSTOM"


@dataclass
class DQCheckResult:
    """ref: src/utils/data_quality.py:85-124"""

    check_name: str
    check_type: DQCheckType
    severity: DQSeverity
    passed: bool
    total_records: int
    failed_records: int
    pass_rate: float
    details: str = ""


@dataclass
class DQReport:
    """ref: src/utils/data_quality.py:125-202"""

    table_name: str
    results: list[DQCheckResult] = field(default_factory=list)
    total_records: int = 0
    quarantined_records: int = 0  # rows failing >= 1 row check

    @property
    def passed(self) -> bool:
        return not any(
            r.severity == DQSeverity.CRITICAL and not r.passed for r in self.results
        )

    @property
    def total_checks(self) -> int:
        return len(self.results)

    @property
    def failed_checks(self) -> int:
        return sum(1 for r in self.results if not r.passed)

    def summary(self) -> dict:
        return {
            "table": self.table_name,
            "passed": self.passed,
            "total_checks": self.total_checks,
            "failed_checks": self.failed_checks,
            "critical_failures": [
                r.check_name
                for r in self.results
                if r.severity == DQSeverity.CRITICAL and not r.passed
            ],
        }


def _completeness_fail_condition(column: str, dtype=None) -> Column:
    """null ∨ NaN ∨ blank (ref: src/utils/data_quality.py:279-284).
    try_cast keeps ANSI mode happy for RUNTIME cast failures
    (non-numeric strings → NULL); but try_cast of an ILLEGAL type
    combination (array/map/struct/binary → double) is an
    AnalysisException at plan time, so the NaN/blank legs are gated on
    ``dtype`` — a completeness check on a complex-typed column is
    null-ness only, instead of one such registration killing the whole
    one-pass run()."""
    from pyspark.sql.types import (
        ArrayType,
        BinaryType,
        BooleanType,
        MapType,
        NumericType,
        StringType,
        StructType,
    )

    c = F.col(column)
    if dtype is not None and isinstance(
        dtype, (ArrayType, MapType, StructType, BinaryType)
    ):
        return c.isNull()
    cond = c.isNull() | (F.trim(c.cast("string")) == "")
    if dtype is None or isinstance(dtype, (NumericType, StringType, BooleanType)):
        cond = cond | F.coalesce(F.isnan(c.try_cast("double")), F.lit(False))
    return cond


@dataclass
class _RowCheck:
    name: str
    check_type: DQCheckType
    severity: DQSeverity
    condition: Column  # TRUE ⇒ the row FAILS this check
    threshold: float  # pass iff (1 - failed/total) >= threshold
    failure_reason: str


class DataQualityChecker:
    """Fluent builder: register checks, then ``run()`` once.

    >>> report = (DataQualityChecker(df, "transactions")
    ...     .check_completeness(["transaction_id", "amount"])
    ...     .check_uniqueness(["transaction_id"])
    ...     .check_range("amount", 0.01, 100_000)
    ...     .check_values_in_set("currency", ["USD", "EUR"])
    ...     .run())
    """

    def __init__(self, df: DataFrame, table_name: str):
        self.df = df
        self.table_name = table_name
        self._row_checks: list[_RowCheck] = []
        self._uniqueness_checks: list[tuple[list[str], DQSeverity]] = []
        # No eager count here — the reference's constructor-count
        # (data_quality.py:237) is folded into the one-pass aggregate.

    # -- registrations (all lazy) ------------------------------------

    def check_completeness(
        self,
        columns: list[str],
        threshold: float = 0.95,
        severity: DQSeverity = DQSeverity.CRITICAL,
    ) -> "DataQualityChecker":
        """Q1 (ref: src/utils/data_quality.py:246-288)."""
        dtypes = {f.name: f.dataType for f in self.df.schema.fields}
        for column in columns:
            self._row_checks.append(
                _RowCheck(
                    name=f"completeness_{column}",
                    check_type=DQCheckType.COMPLETENESS,
                    severity=severity,
                    condition=_completeness_fail_condition(
                        column, dtypes.get(column)
                    ),
                    threshold=threshold,
                    failure_reason=f"NULL_OR_EMPTY_{column.upper()}",
                )
            )
        return self

    def check_uniqueness(
        self, columns: list[str], severity: DQSeverity = DQSeverity.CRITICAL
    ) -> "DataQualityChecker":
        """Q2 (ref: src/utils/data_quality.py:294-331): PK uniqueness;
        fail count = total − distinct."""
        self._uniqueness_checks.append((columns, severity))
        return self

    def check_values_in_set(
        self,
        column: str,
        valid_values: list,
        severity: DQSeverity = DQSeverity.WARNING,
    ) -> "DataQualityChecker":
        """Q3 (ref: src/utils/data_quality.py:337-375); nulls exempt."""
        self._row_checks.append(
            _RowCheck(
                name=f"values_in_set_{column}",
                check_type=DQCheckType.VALIDITY,
                severity=severity,
                condition=F.col(column).isNotNull()
                & ~F.col(column).isin(valid_values),
                threshold=1.0,
                failure_reason=f"INVALID_VALUE_{column.upper()}",
            )
        )
        return self

    def check_range(
        self,
        column: str,
        min_val=None,
        max_val=None,
        severity: DQSeverity = DQSeverity.CRITICAL,
    ) -> "DataQualityChecker":
        """Q4 (ref: src/utils/data_quality.py:381-434): inclusive
        bounds, nulls exempt, either bound optional."""
        cond = F.lit(False)
        if min_val is not None:
            cond = cond | (F.col(column) < min_val)
        if max_val is not None:
            cond = cond | (F.col(column) > max_val)
        self._row_checks.append(
            _RowCheck(
                name=f"range_{column}",
                check_type=DQCheckType.VALIDITY,
                severity=severity,
                condition=F.col(column).isNotNull() & cond,
                threshold=1.0,
                failure_reason=f"OUT_OF_RANGE_{column.upper()}",
            )
        )
        return self

    def check_custom(
        self,
        name: str,
        condition: Column,
        failure_reason: str | None = None,
        check_type: DQCheckType = DQCheckType.CUSTOM,
        severity: DQSeverity = DQSeverity.CRITICAL,
        threshold: float = 1.0,
    ) -> "DataQualityChecker":
        """Q5 (ref: src/utils/data_quality.py:440-486): ``condition``
        TRUE marks a BAD row (e.g. net ≠ amount − fee)."""
        self._row_checks.append(
            _RowCheck(
                name=name,
                check_type=check_type,
                severity=severity,
                condition=condition,
                threshold=threshold,
                failure_reason=failure_reason or name.upper(),
            )
        )
        return self

    def check_referential(
        self,
        parent_df: DataFrame,
        keys: list[str] | dict[str, str],
        name: str | None = None,
        severity: DQSeverity = DQSeverity.CRITICAL,
        broadcast_parent: bool | None = None,
    ) -> "DataQualityChecker":
        """Q9-REFERENTIAL (declared, never implemented in the reference
        — src/utils/data_quality.py:82). Orphan rows = child keys with
        no parent, realized as a left-anti join refined to a boolean
        row condition via a left-semi-style membership test.

        ``keys``: child column(s), or {child_col: parent_col} mapping.
        ``broadcast_parent``: None (default) lets Spark pick the join
        strategy — small parents still broadcast via the auto
        threshold, while a huge parent (transaction-level, 1e8+
        distinct keys) shuffle-joins instead of OOMing the driver with
        a forced broadcast. True forces the hint for dims you know are
        small; False forbids it."""
        mapping = {k: k for k in keys} if isinstance(keys, list) else dict(keys)
        child_cols = list(mapping.keys())
        # Unique tag column per registration: two referential checks on
        # one checker would otherwise both add `_dq_parent_hit` and hit
        # an ambiguous-reference AnalysisException at run().
        hit_col = f"_dq_parent_hit_{len(self._row_checks)}"
        parent_keys = (
            parent_df.select(
                *[F.col(p).alias(c) for c, p in mapping.items()]
            )
            .distinct()
            .withColumn(hit_col, F.lit(True))
        )
        # Tag by joining once here (lazy); the condition column reads
        # the tag. Kept as a row check so it folds into the one pass.
        if broadcast_parent is True:
            parent_keys = F.broadcast(parent_keys)
        elif broadcast_parent is False:
            parent_keys = parent_keys.hint("shuffle_hash")
        tagged = self.df.join(parent_keys, on=child_cols, how="left")
        self.df = tagged
        self._row_checks.append(
            _RowCheck(
                name=name or f"referential_{'_'.join(child_cols)}",
                check_type=DQCheckType.REFERENTIAL,
                severity=severity,
                condition=F.col(hit_col).isNull(),
                threshold=1.0,
                failure_reason=f"ORPHAN_{'_'.join(child_cols).upper()}",
            )
        )
        return self

    def check_timeliness(
        self,
        timestamp_column: str,
        max_age_hours: float,
        now=None,
        severity: DQSeverity = DQSeverity.WARNING,
        threshold: float = 1.0,
    ) -> "DataQualityChecker":
        """Q9-TIMELINESS (declared-only in reference). Row-level
        staleness: ts older than now − max_age_hours fails.

        ``now`` defaults to the wall clock AT REGISTRATION, pinned as
        a literal: F.current_timestamp() re-evaluates per query, so
        run(), the valid-side write and the invalid-side write would
        each see a DIFFERENT cutoff and a row near the staleness
        boundary could land in both outputs or in neither."""
        if now is None:
            from datetime import datetime as _dtt, timezone as _tz

            now = _dtt.now(_tz.utc)
        now_col = F.lit(now).cast("timestamp")
        cutoff = now_col - F.expr(f"INTERVAL {int(max_age_hours * 3600)} SECONDS")
        self._row_checks.append(
            _RowCheck(
                name=f"timeliness_{timestamp_column}",
                check_type=DQCheckType.TIMELINESS,
                severity=severity,
                condition=F.col(timestamp_column).isNotNull()
                & (F.col(timestamp_column) < cutoff),
                threshold=threshold,
                failure_reason=f"STALE_{timestamp_column.upper()}",
            )
        )
        return self

    # -- execution ----------------------------------------------------

    def run(self) -> DQReport:
        """Execute all checks in ONE Spark job: every row-predicate
        check is a conditional sum and every uniqueness check a
        countDistinct in the SAME single-scan aggregate (SURVEY §4.1),
        together with the total and the quarantined-row count.
        Catalyst plans the mixed distinct/non-distinct aggregate with
        one Expand, so N primary-key checks no longer cost N extra
        jobs (the reference runs two jobs per check,
        data_quality.py:544-547)."""
        aggs = [
            F.count(F.lit(1)).alias("_dq_total"),
            F.count_if(F.size(self._failure_reasons()) > 0).alias("_dq_quarantined"),
        ]
        for i, check in enumerate(self._row_checks):
            aggs.append(
                F.sum(F.when(check.condition, 1).otherwise(0)).alias(f"_dq_{i}")
            )
        for i, (columns, _severity) in enumerate(self._uniqueness_checks):
            # struct wrapper: bare countDistinct silently DROPS rows
            # with a NULL key column, inflating the duplicate count; a
            # struct is never null, so null keys form their own group
            # (two NULL-keyed rows still count as duplicates).
            aggs.append(
                F.countDistinct(
                    F.struct(*[F.col(c) for c in columns])
                ).alias(f"_dq_u{i}")
            )
        row = self.df.agg(*aggs).collect()[0]
        total = row["_dq_total"]
        report = DQReport(
            table_name=self.table_name,
            total_records=total,
            quarantined_records=int(row["_dq_quarantined"] or 0),
        )
        for i, check in enumerate(self._row_checks):
            failed = int(row[f"_dq_{i}"] or 0)
            pass_rate = 1.0 if total == 0 else 1.0 - failed / total
            report.results.append(
                DQCheckResult(
                    check_name=check.name,
                    check_type=check.check_type,
                    severity=check.severity,
                    passed=pass_rate >= check.threshold,
                    total_records=total,
                    failed_records=failed,
                    pass_rate=pass_rate,
                    details=f"threshold={check.threshold}",
                )
            )
        for i, (columns, severity) in enumerate(self._uniqueness_checks):
            distinct = int(row[f"_dq_u{i}"] or 0)
            failed = total - distinct
            report.results.append(
                DQCheckResult(
                    check_name=f"uniqueness_{'_'.join(columns)}",
                    check_type=DQCheckType.UNIQUENESS,
                    severity=severity,
                    passed=failed == 0,
                    total_records=total,
                    failed_records=failed,
                    pass_rate=1.0 if total == 0 else distinct / total,
                    details=f"distinct={distinct}",
                )
            )
        return report

    def _failure_reasons(self) -> Column:
        """The reasons of every row check a row fails (empty array when
        it passes): run()'s quarantine count and the split share it."""
        reason_cols = [
            F.when(check.condition, F.lit(check.failure_reason))
            for check in self._row_checks
        ]
        if not reason_cols:
            return F.array().cast("array<string>")
        return F.array_compact(F.array(*reason_cols))

    def get_valid_invalid_dfs(self) -> tuple[DataFrame, DataFrame]:
        """Q7 (ref: src/utils/data_quality.py:570-634): tag every row
        with the reasons of the row checks it fails, split on "no
        failures". Valid side keeps original columns; invalid side
        adds ``_validation_failures`` (array) and
        ``_quarantine_timestamp`` — the quarantine write contract
        (SURVEY §2.1 S11). Single scan, two filters."""
        tagged = self.df.withColumn("_validation_failures", self._failure_reasons())
        helper_cols = [c for c in tagged.columns if c.startswith("_dq_")]
        valid = tagged.filter(F.size("_validation_failures") == 0).drop(
            "_validation_failures", *helper_cols
        )
        invalid = (
            tagged.filter(F.size("_validation_failures") > 0)
            .drop(*helper_cols)
            .withColumn("_quarantine_timestamp", F.current_timestamp())
        )
        return valid, invalid


def quick_quality_check(
    df: DataFrame,
    table_name: str,
    pk_columns: list[str] | None = None,
    required_columns: list[str] | None = None,
) -> DQReport:
    """Q8 convenience composition (ref: src/utils/data_quality.py:642-672)."""
    checker = DataQualityChecker(df, table_name)
    if required_columns:
        checker.check_completeness(required_columns)
    if pk_columns:
        checker.check_uniqueness(pk_columns)
    return checker.run()
