"""Plan-audit helpers over the text of ``plans.explain.formatted_plan``
(pushed filters, scanned columns, join kinds, exchanges, codegen spans)."""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def pushed_filters(plan: str) -> list[str]:
    """PushedFilters entries of every parquet scan in the plan."""
    return [
        m.group(1)
        for m in re.finditer(r"PushedFilters: \[([^\]]+)\]", plan)
        if m.group(1).strip()
    ]


def read_schemas(plan: str) -> list[str]:
    """ReadSchema struct strings of every scan (column-pruning audit)."""
    return [m.group(1) for m in re.finditer(r"ReadSchema: (struct<[^\n]*)", plan)]


def scan_columns(plan: str) -> set[str]:
    """Union of column names actually read from parquet."""
    cols: set[str] = set()
    for schema in read_schemas(plan):
        cols.update(re.findall(r"(\w+):", schema))
    return cols


def join_kinds(plan: str) -> list[str]:
    """Physical join operators in plan order."""
    return re.findall(r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin|BroadcastNestedLoopJoin|CartesianProduct)", plan)


def simple_plan(df: DataFrame) -> str:
    """EXPLAIN simple-mode plan (codegen spans marked ``*(id)``)."""
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), "simple"
    )


def codegen_stage_count(df: DataFrame) -> int:
    """Number of whole-stage-codegen spans (bigger spans → fewer stages).

    Under AQE the codegen markers only appear in the *final* plan, so the
    DataFrame is executed first if it hasn't been."""
    plan = simple_plan(df)
    if "isFinalPlan=false" in plan:
        df.collect()
        plan = simple_plan(df)
    ids = re.findall(r"\*\((\d+)\)", plan)
    return len(set(ids))


def exchange_count(plan: str) -> int:
    """Shuffle exchanges in the plan (each is a full network round).

    Counts the operator-detail headers (``(n) Exchange``) of EXPLAIN
    FORMATTED output; broadcast exchanges (``BroadcastExchange``) are not
    shuffles and are excluded."""
    return len(re.findall(r"\(\d+\) Exchange\b", plan))
