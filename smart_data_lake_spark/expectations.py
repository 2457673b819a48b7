"""Data-quality operators: row constraints + aggregate expectations.

Reference: `dataobject/Constraint.scala:37-63` (row-level boolean SQL;
violation raises with a PK trace), `dataobject/expectation/*.scala`
(SQLExpectation :39, CountExpectation :44, SQLFractionExpectation :48,
UniqueKeyExpectation :51-75, scopes Job/JobPartition/All Expectation.scala:122-134)
and the evaluation pipeline `dataobject/ExpectationValidation.scala:77-216`.

Job-scope metrics ride on `df.observe()` — zero extra scans; All-scope runs a
separate aggregation query against the written data.
"""

from __future__ import annotations

import abc
from dataclasses import InitVar, dataclass
from enum import Enum
from typing import Any

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F


class Severity(str, Enum):
    WARN = "warn"
    ERROR = "error"


class ExpectationScope(str, Enum):
    JOB = "job"  # rows written by this run (observe)
    JOB_PARTITION = "job_partition"  # per processed partition (groupBy agg)
    ALL = "all"  # whole table after write (separate agg query)


class ExpectationValidationError(Exception):
    pass


@dataclass
class Constraint:
    """Row-level constraint compiled into the write plan
    (Constraint.scala:37-63): any violating row aborts the job via
    raise_error, carrying a primary-key trace for debugging."""

    name: str
    expression: str
    pk_cols: list[str] | None = None

    def validation_column(self) -> Column:
        msg = F.concat(
            F.lit(f"constraint '{self.name}' ({self.expression}) violated"),
            F.lit(" for "),
            F.to_json(F.struct(*[F.col(c) for c in (self.pk_cols or [])])) if self.pk_cols else F.lit("row"),
        )
        return F.when(~F.coalesce(F.expr(self.expression), F.lit(False)), F.raise_error(msg)).otherwise(
            F.lit(True)
        )


def apply_constraints(df: DataFrame, constraints: list[Constraint]) -> DataFrame:
    """Force constraint evaluation by routing every output column through a
    when(raise_error) guard column (ExpectationValidation.scala:191-208)."""
    if not constraints:
        return df
    guard = F.lit(True)
    for c in constraints:
        guard = guard & c.validation_column()
    return df.withColumn("_dl_constraints", guard).where(F.col("_dl_constraints")).drop("_dl_constraints")


@dataclass
class Expectation(abc.ABC):
    name: str
    expectation: str | None = None  # comparison suffix e.g. "> 0", "= 1"
    severity: Severity = Severity.ERROR
    scope: ExpectationScope = ExpectationScope.JOB

    @abc.abstractmethod
    def agg_expressions(self) -> list[Column]:
        """Aggregate expressions producing this expectation's metric(s)."""

    def evaluate(self, metrics: dict[str, Any]) -> str | None:
        """Return violation message or None; default compares metric `name`
        against the `expectation` suffix."""
        if self.expectation is None:
            return None
        value = metrics.get(self.name)
        ok = _compare(value, self.expectation)
        if ok:
            return None
        return f"expectation '{self.name}' failed: {value!r} !{self.expectation}"


@dataclass
class SQLExpectation(Expectation):
    """Named aggregate expression (SQLExpectation.scala:39). Configured as
    `aggExpression`, which the config layer passes as `agg_expression`; the
    camelCase keyword stays accepted from Python."""

    agg_expression: str = "count(*)"
    aggExpression: InitVar[str | None] = None

    def __post_init__(self, aggExpression: str | None) -> None:
        if aggExpression is not None:
            self.agg_expression = aggExpression

    def agg_expressions(self):
        return [F.expr(self.agg_expression).alias(self.name)]


@dataclass
class CountExpectation(Expectation):
    """(CountExpectation.scala:44)"""

    name: str = "count"

    def agg_expressions(self):
        return [F.count(F.lit(1)).alias(self.name)]


@dataclass
class SQLFractionExpectation(Expectation):
    """Fraction of rows matching a condition (SQLFractionExpectation.scala:48)."""

    condition: str = "true"

    def agg_expressions(self):
        return [
            (
                F.sum(F.when(F.expr(self.condition), F.lit(1)).otherwise(F.lit(0)))
                / F.count(F.lit(1))
            ).alias(self.name)
        ]


@dataclass
class UniqueKeyExpectation(Expectation):
    """PK uniqueness via count vs (approx_)count_distinct
    (UniqueKeyExpectation.scala:51-75). approximate=True uses HyperLogLog —
    the only sane option on a 100 TB key space."""

    key_cols: list[str] | None = None
    approximate: bool = False
    expectation: str | None = ">= 0.999999"

    @property
    def observe_safe(self) -> bool:
        # exact count(DISTINCT) is rejected by CollectMetrics; only the
        # HyperLogLog variant can ride the write observation
        return self.approximate

    def agg_expressions(self):
        keys = F.struct(*[F.col(c) for c in (self.key_cols or [])])
        distinct = (
            F.approx_count_distinct(keys) if self.approximate else F.count_distinct(keys)
        )
        return [(distinct / F.count(F.lit(1))).alias(self.name)]


@dataclass
class AvgCountPerPartitionExpectation(Expectation):
    """Average row count per processed partition
    (AvgCountPerPartitionExpectation.scala:41): count of the job divided by
    the number of partition values processed — catches partitions suddenly
    arriving near-empty."""

    name: str = "avgCountPerPartition"

    def agg_expressions(self):
        return [F.count(F.lit(1)).alias(self.name)]

    def evaluate(self, metrics: dict[str, Any]) -> str | None:
        if self.expectation is None:
            return None
        n_parts = metrics.get("n_partitions") or 1
        raw = metrics.get(self.name, metrics.get("count"))
        if raw is None:
            return f"expectation '{self.name}': no count metric available"
        value = float(raw) / max(1, n_parts)
        if _compare(value, self.expectation):
            return None
        return f"expectation '{self.name}' failed: {value!r} !{self.expectation}"


@dataclass
class SQLQueryExpectation(Expectation):
    """Whole SQL query computing the metric (SQLQueryExpectation.scala:46):
    `%{inputViewName}` is replaced by a view of the written data; the first
    column of the first row is the metric. Scope is All by definition — it
    runs as a separate query against the table after write."""

    code: str = ""
    scope: ExpectationScope = ExpectationScope.ALL

    def agg_expressions(self):
        return []

    def compute_metrics(self, df: DataFrame) -> dict[str, Any]:
        view = f"_dl_exp_{self.name}"
        df.createOrReplaceTempView(view)
        row = df.sparkSession.sql(self.code.replace("%{inputViewName}", view)).collect()[0]
        return {self.name: row[0]}


@dataclass
class CompletenessExpectation(Expectation):
    """Action-level: fraction of main OUTPUT count-all over main INPUT
    count-all (action/expectation/CompletenessExpectation.scala:43-56);
    scope fixed to whole-table."""

    name: str = "pctComplete"
    expectation: str | None = "= 1"
    scope: ExpectationScope = ExpectationScope.ALL
    precision: int = 4

    def agg_expressions(self):
        return [F.count(F.lit(1)).alias("countAll")]

    def evaluate(self, metrics: dict[str, Any]) -> str | None:
        if self.expectation is None:
            return None
        read = metrics.get("input_count_all")
        written = metrics.get("countAll")
        if read is None or written is None:
            return f"expectation '{self.name}': input/output counts unavailable"
        import math

        value = math.floor(float(written) / max(1.0, float(read)) * 10**self.precision) / 10**self.precision
        if _compare(value, self.expectation):
            return None
        return f"expectation '{self.name}' failed: {value!r} !{self.expectation}"


@dataclass
class TransferRateExpectation(Expectation):
    """Action-level: fraction of rows written this job over rows read this
    job (action/expectation/TransferRateExpectation.scala:43-55)."""

    name: str = "pctTransfer"
    expectation: str | None = "= 1"
    precision: int = 4

    def agg_expressions(self):
        return []

    def evaluate(self, metrics: dict[str, Any]) -> str | None:
        if self.expectation is None:
            return None
        read = metrics.get("records_read")
        written = metrics.get("records_written", metrics.get("count"))
        if read is None or written is None:
            return f"expectation '{self.name}': records_read/records_written unavailable"
        import math

        value = math.floor(float(written) / max(1.0, float(read)) * 10**self.precision) / 10**self.precision
        if _compare(value, self.expectation):
            return None
        return f"expectation '{self.name}' failed: {value!r} !{self.expectation}"


def compute_job_partition_metrics(
    df: DataFrame, expectations: list[Expectation], partition_cols: list[str]
) -> dict[str, Any]:
    """Scope=JobPartition: one metric per (expectation, partition value) —
    a single groupBy over the written data (ExpectationValidation.scala:122-134).
    Metric keys are `name#pcol=pval/...`, matching the reference's display."""
    jp_exps = [e for e in expectations if e.scope == ExpectationScope.JOB_PARTITION]
    if not jp_exps or not partition_cols:
        return {}
    exprs = [x for e in jp_exps for x in e.agg_expressions()]
    rows = df.groupBy(*partition_cols).agg(*exprs).collect()
    metrics: dict[str, Any] = {}
    for r in rows:
        suffix = "/".join(f"{c}={r[c]}" for c in partition_cols)
        for e in jp_exps:
            metrics[f"{e.name}#{suffix}"] = r[e.name]
    return metrics


def validate_job_partition_expectations(
    expectations: list[Expectation], metrics: dict[str, Any]
) -> list[str]:
    """Evaluate JobPartition-scope expectations once per partition metric."""
    warnings: list[str] = []
    errors: list[str] = []
    for e in expectations:
        if e.scope != ExpectationScope.JOB_PARTITION or e.expectation is None:
            continue
        for key, value in metrics.items():
            if not key.startswith(f"{e.name}#"):
                continue
            if not _compare(value, e.expectation):
                msg = f"expectation '{key}' failed: {value!r} !{e.expectation}"
                (errors if e.severity == Severity.ERROR else warnings).append(msg)
    if errors:
        raise ExpectationValidationError("; ".join(errors))
    return warnings


def setup_observation(
    df: DataFrame, expectations: list[Expectation], obs_name: str
) -> tuple[DataFrame, Observation | None]:
    """Attach job-scope expectation metrics to the write via observe().
    Expectations whose aggregates Spark's CollectMetrics cannot host (exact
    count DISTINCT — UniqueKeyExpectation.scala:44-47 documents exactly this
    engine limit) are left out here and computed by
    `compute_unobservable_job_metrics` as a separate aggregate."""
    job_exps = [
        e
        for e in expectations
        if e.scope == ExpectationScope.JOB and getattr(e, "observe_safe", True)
    ]
    exprs = [F.count(F.lit(1)).alias("count")]
    seen = {"count"}
    for e in job_exps:
        for expr in e.agg_expressions():
            alias = expr._jc.toString().split(" AS ")[-1].strip("`") if " AS " in expr._jc.toString() else e.name
            if alias in seen:
                continue
            seen.add(alias)
            exprs.append(expr)
    obs = Observation(obs_name)
    return df.observe(obs, *exprs), obs


def validate_expectations(
    expectations: list[Expectation],
    metrics: dict[str, Any],
) -> list[str]:
    """Evaluate all expectations; raise on Error severity, return warnings
    (DataFrameActionImpl.scala:339-368)."""
    warnings: list[str] = []
    errors: list[str] = []
    for e in expectations:
        msg = e.evaluate(metrics)
        if msg is None:
            continue
        (errors if e.severity == Severity.ERROR else warnings).append(msg)
    if errors:
        raise ExpectationValidationError("; ".join(errors))
    return warnings


def compute_scope_all_metrics(df: DataFrame, expectations: list[Expectation]) -> dict[str, Any]:
    """Separate aggregation query for scope=All expectations."""
    all_exps = [e for e in expectations if e.scope == ExpectationScope.ALL]
    if not all_exps:
        return {}
    metrics: dict[str, Any] = {}
    exprs = [x for e in all_exps for x in e.agg_expressions()]
    if exprs:
        metrics.update(df.agg(*exprs).collect()[0].asDict())
    for e in all_exps:
        if isinstance(e, SQLQueryExpectation):
            metrics.update(e.compute_metrics(df))
    return metrics


def compute_unobservable_job_metrics(
    df: DataFrame, expectations: list[Expectation]
) -> dict[str, Any]:
    """Separate aggregate for job-scope expectations that cannot ride the
    write observation (exact count distinct). One extra aggregation job over
    the written frame — only run when such an expectation exists."""
    exps = [
        e
        for e in expectations
        if e.scope == ExpectationScope.JOB and not getattr(e, "observe_safe", True)
    ]
    if not exps:
        return {}
    exprs = [x for e in exps for x in e.agg_expressions()]
    return df.agg(*exprs).collect()[0].asDict()


def compute_read_metrics(df: DataFrame, expectations: list[Expectation]) -> dict[str, Any]:
    """Metrics for validate-on-read: on the read side Job and All scope
    collapse to the same thing — ONE aggregate over the frame being read
    (ValidateOnReadTest; there is no write observation to ride on)."""
    exps = [e for e in expectations if e.scope != ExpectationScope.JOB_PARTITION]
    metrics: dict[str, Any] = {}
    exprs = [x for e in exps for x in e.agg_expressions()]
    if exprs:
        metrics.update(df.agg(*exprs).collect()[0].asDict())
    for e in exps:
        if isinstance(e, SQLQueryExpectation):
            metrics.update(e.compute_metrics(df))
    return metrics


def _compare(value: Any, expectation: str) -> bool:
    if value is None:
        return False
    expectation = expectation.strip()
    for op in (">=", "<=", "!=", "==", ">", "<", "="):
        if expectation.startswith(op):
            rhs = float(expectation[len(op):].strip().strip("'\""))
            lhs = float(value)
            return {
                ">=": lhs >= rhs,
                "<=": lhs <= rhs,
                ">": lhs > rhs,
                "<": lhs < rhs,
                "=": lhs == rhs,
                "==": lhs == rhs,
                "!=": lhs != rhs,
            }[op]
    raise ValueError(f"cannot parse expectation {expectation!r}")
