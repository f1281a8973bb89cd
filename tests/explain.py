"""Plan-inspection helpers: capture ``explain`` output as a string so
tests (and humans) can assert plan properties — filter pushdown into the
parquet scan, column pruning, broadcast joins, whole-stage codegen, and
shuffle counts. These properties ARE the 100 TB story; asserting them in
CI keeps a refactor from silently turning a broadcast join into a
sort-merge join or dropping a pushed filter.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def explain_str(df: DataFrame, mode: str = "formatted") -> str:
    """The string ``df.explain(mode)`` would print."""
    spark = df.sparkSession
    jmode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)  # noqa: SLF001
    return df._jdf.queryExecution().explainString(jmode)  # noqa: SLF001


def count_exchanges(df: DataFrame) -> int:
    """Number of shuffle exchanges in the physical plan (AQE may later
    coalesce partitions inside them, but each Exchange is a data movement
    the plan pays for)."""
    return count_exchanges_in(explain_str(df, "simple"))


def count_exchanges_in(plan: str) -> int:
    """:func:`count_exchanges` over an already captured explain text."""
    return plan.count("Exchange hashpartitioning") + plan.count(
        "Exchange rangepartitioning"
    )


def uses_python_eval(df: DataFrame) -> bool:
    """True if the plan row-ships through the Python interpreter
    (BatchEvalPython = row-at-a-time UDF — the slow path; Arrow variants
    report separately)."""
    plan = explain_str(df, "simple")
    return "BatchEvalPython" in plan
