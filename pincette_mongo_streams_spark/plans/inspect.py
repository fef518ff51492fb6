"""Helpers to assert physical-plan properties in tests and benchmarks."""

from __future__ import annotations

from pyspark.sql import DataFrame


def explain_str(df: DataFrame, mode: str = "formatted") -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), mode
    )


def pushed_filters(df: DataFrame) -> str:
    """The PushedFilters section of the formatted plan (empty string if the
    scan has none) — used to assert $match predicates reach parquet."""
    text = explain_str(df)
    return "\n".join(line for line in text.splitlines() if "PushedFilters" in line)


def has_broadcast(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in explain_str(df, "simple")


def executed_plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().executedPlan().toString()

