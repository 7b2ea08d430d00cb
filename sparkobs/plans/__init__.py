"""Physical-plan text for auditing.

The engine has no custom planner (SURVEY.md §4: Catalyst subsumes every
manual optimization the reference hard-codes); what it has instead is
*plan discipline*: the plans Catalyst produces are checked to be the
plans we want at 100 TB (filters pushed to the scan, columns pruned,
dimensions broadcast, aggregates partial+final). ``physical_plan`` is
the formatted explain those checks parse; ``tools/query_metrics.py``
reads it and ``tests/plan_helpers.py`` asserts over it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def physical_plan(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
