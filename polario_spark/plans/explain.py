"""Physical-plan inspection helpers.

The engine's performance contract is checked, not assumed: tests assert
that filters reach the parquet scan (PushedFilters), that projections prune
the read schema (ReadSchema), and that dimension joins broadcast. These are
the properties that decide whether a plan survives a 100x scale-up.
``codegen_compiles`` reports the driver-side cost of a plan: read it before
and after an entry to see whether the entry compiled new code.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession


def formatted_plan(df: DataFrame) -> str:
    """The formatted physical plan as a string (what explain() prints)."""
    return df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), "formatted"
    )


def pushed_filters(df: DataFrame) -> list[str]:
    """All PushedFilters entries across the plan's file scans."""
    plan = formatted_plan(df)
    out: list[str] = []
    for match in re.finditer(r"PushedFilters: \[([^\]]*)\]", plan):
        entry = match.group(1).strip()
        if entry:
            out.extend(p.strip() for p in entry.split(","))
    return out


def scan_read_schema(df: DataFrame) -> list[str]:
    """Column sets read by each parquet scan (column-pruning check)."""
    plan = formatted_plan(df)
    return [
        m.group(1)
        for m in re.finditer(r"ReadSchema: struct<([^>]*)>", plan)
    ]


def has_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in formatted_plan(df) or "BroadcastNestedLoopJoin" in (
        formatted_plan(df)
    )


def codegen_compiles(spark: SparkSession) -> int:
    """How many generated classes the driver JVM has compiled so far (a
    running count over every session of the JVM). A plan whose classes
    are still in Spark's codegen cache adds none."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics  # noqa: SLF001
    return metrics.METRIC_COMPILATION_TIME().getCount()
