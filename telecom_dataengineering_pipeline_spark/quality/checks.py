"""Declarative data-quality checks (dbt generic tests + GX expectations as
engine features — SURVEY.md §5).

Each ``expect_*`` returns the DataFrame of *violating rows* (dbt semantics:
pass = empty); ``run_checks`` evaluates a suite and returns per-check
pass/fail with violation counts — the pipeline gate the reference runs before
publishing (cdr_pipeline_dag.py:205-212).

A suite is counted in one action: each check's violating rows are tagged
with the check's index, unioned, grouped and counted, so a gate of k checks
runs one job (plus the exchanges its checks plan), not k ``count()`` jobs.
Nothing collects raw rows unless a caller asks for samples.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence
from dataclasses import dataclass
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def expect_unique(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    return (
        df.groupBy(*cols)
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") > 1)
    )


def expect_not_null(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    cond = None
    for c in cols:
        e = F.col(c).isNull()
        cond = e if cond is None else (cond | e)
    return df.filter(cond)


def expect_accepted_values(df: DataFrame, col: str, values: Sequence[str]) -> DataFrame:
    return df.filter(~F.col(col).isin(*values) | F.col(col).isNull())


def expect_relationships(df: DataFrame, parent: DataFrame, fk: Mapping[str, str]) -> DataFrame:
    """dbt `relationships`: child FK values with no parent (anti-join)."""
    cond = None
    for c, p in fk.items():
        e = df[c] == parent[p]
        cond = e if cond is None else (cond & e)
    return df.join(parent, on=cond, how="left_anti")


def expect_expression(df: DataFrame, expression: Column | str) -> DataFrame:
    """dbt_utils.expression_is_true: rows where the expression is NOT true."""
    e = F.expr(expression) if isinstance(expression, str) else expression
    return df.filter(~e | e.isNull())


@dataclass
class CheckResult:
    name: str
    passed: bool
    violations: int
    severity: str = "error"  # dbt severity: error | warn


def run_checks(checks: Mapping[str, DataFrame], severities: Mapping[str, str] | None = None) -> list[CheckResult]:
    """Evaluate named violation DataFrames → results, in ``checks`` order.
    A 'warn' severity never fails the gate (reference uses warn for FK
    relationships, models/gold/facts/schema.yml:18-35)."""
    if not checks:
        return []
    sev = severities or {}
    tagged = [viol.select(F.lit(i).alias("_check")) for i, viol in enumerate(checks.values())]
    counts = dict(reduce(DataFrame.unionAll, tagged).groupBy("_check").count().collect())
    out = []
    for i, name in enumerate(checks):
        n = counts.get(i, 0)
        out.append(
            CheckResult(
                name=name,
                passed=(n == 0) or sev.get(name, "error") == "warn",
                violations=n,
                severity=sev.get(name, "error"),
            )
        )
    return out
