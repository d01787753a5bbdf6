"""Plan-shape checks.

Correct results from a bad plan don't survive a 100× scale-up. These
helpers let tests pin the physical properties each operator was designed
around: filters reaching the parquet scan, small dims broadcast, top-k as
TakeOrderedAndProject (no global sort), window + aggregation sharing one
exchange.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def physical_plan(df: DataFrame) -> str:
    """Formatted physical plan as a string (explain('formatted'))."""
    qe = df._jdf.queryExecution()
    jvm = df.sparkSession._jvm
    return qe.explainString(
        jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def count_nodes(df: DataFrame, node: str) -> int:
    """Count physical operator nodes by their detail headers '(N) Node'
    (the formatted plan prints each node once in the tree and once in the
    detail section — headers are unique per node)."""
    import re

    return len(re.findall(rf"\(\d+\) {re.escape(node)}\b", physical_plan(df)))


def has_pushed_filter(df: DataFrame, fragment: str) -> bool:
    """True if a parquet scan advertises a pushed filter containing the
    fragment (PushedFilters: [...])."""
    plan = physical_plan(df)
    return any(
        fragment in line
        for line in plan.splitlines()
        if "PushedFilters" in line
    )


def read_schema_columns(df: DataFrame) -> list[str]:
    """Columns actually read from parquet scans (column-pruning check)."""
    cols: list[str] = []
    for line in physical_plan(df).splitlines():
        if "ReadSchema" in line:
            inside = line.split("struct<", 1)[-1].rsplit(">", 1)[0]
            cols += [c.split(":")[0].strip() for c in inside.split(",") if ":" in c]
    return cols
