"""Physical-plan inspection helpers.

Correctness says WHAT a query returns; these helpers let tests pin HOW it
executes — the properties that decide whether the same code survives a
100 TB / 1000-executor run: dims broadcast instead of shuffled, filters
and column pruning pushed into the parquet scan, top-k executed as
TakeOrderedAndProject / WindowGroupLimit instead of a full global sort,
partitionings reused across window + join stages.

tests/test_plans.py uses these as PLAN REGRESSION TESTS: a future edit
that silently turns a broadcast join into a 100 TB shuffle fails CI here,
long before any benchmark would catch it.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def _explain(df: DataFrame, mode: str) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), mode)


def physical_plan(df: DataFrame) -> str:
    """The physical plan tree (pre-execution; AQE may refine at runtime,
    only ever downgrading exchanges, e.g. an extra broadcast)."""
    return _explain(df, "simple")


def formatted_plan(df: DataFrame) -> str:
    """Full formatted plan incl. per-scan ReadSchema / PushedFilters
    (the tree view truncates scan metadata)."""
    return _explain(df, "formatted")


def count_op(df: DataFrame, op: str) -> int:
    """Occurrences of a physical operator name (e.g. 'Exchange',
    'BroadcastHashJoin', 'WindowGroupLimit') in the plan tree."""
    return len(re.findall(rf"\b{re.escape(op)}\b", physical_plan(df)))


def scan_read_schemas(df: DataFrame) -> list[str]:
    """The ReadSchema struct of every parquet scan — what actually gets
    read off disk; the column-pruning ground truth."""
    return re.findall(r"ReadSchema: (struct<[^\n]*)", formatted_plan(df))


def pushed_filters(df: DataFrame) -> list[str]:
    """PushedFilters of every parquet scan (may be empty strings)."""
    return re.findall(r"PushedFilters: \[([^\]]*)\]", formatted_plan(df))


def assert_in_plan(df: DataFrame, *ops: str) -> None:
    plan = physical_plan(df)
    missing = [op for op in ops if op not in plan]
    assert not missing, f"plan is missing {missing}:\n{plan}"


def assert_not_in_plan(df: DataFrame, *ops: str) -> None:
    plan = physical_plan(df)
    present = [op for op in ops if op in plan]
    assert not present, f"plan unexpectedly contains {present}:\n{plan}"
