"""Physical-plan inspection helpers.

The 100 TB design contract (SURVEY §4) is enforced by tests, not hope:
filters must reach the parquet scan (PushedFilters), small dims must
broadcast (BroadcastHashJoin), and the relational surface must stay inside
WholeStageCodegen. tests/test_plans.py asserts these on the real queries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def explain_str(df: DataFrame, mode: str = "formatted") -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), mode
    )


def has_broadcast_hash_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in explain_str(df)


def wholestage_codegen_spans(df: DataFrame) -> int:
    """Number of distinct WholeStageCodegen spans in the EXECUTED plan.

    With AQE on, codegen subtrees only exist in the finalized plan, so the
    query is executed first; spans show up as '*(N)' operator prefixes."""
    import re

    df.collect()
    s = df._jdf.queryExecution().executedPlan().toString()  # type: ignore[attr-defined]
    return len(set(re.findall(r"\*\((\d+)\)", s)))


def has_partial_aggregate_before_shuffle(df: DataFrame) -> bool:
    """Map-side combine: a partial_* aggregate must appear below Exchange."""
    s = explain_str(df)
    return "partial_" in s and "Exchange" in s
