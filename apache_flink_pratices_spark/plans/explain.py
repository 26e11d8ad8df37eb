"""The formatted physical plan of a DataFrame, as text
(``tools/dump_plans.py`` writes it per query; the tests audit it)."""

from __future__ import annotations

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    """The EXPLAIN FORMATTED text of the DataFrame's physical plan."""
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), "formatted"
    )
