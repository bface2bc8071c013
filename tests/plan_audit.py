"""Physical-plan audit helpers for the plan-lock tests.

They LOCK IN plan properties: a regression that un-prunes a scan or
de-broadcasts a join fails the suite, not just a benchmark."""
from __future__ import annotations

import re

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    jvm = df.sparkSession._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return df._jdf.queryExecution().explainString(mode)


def scan_read_schemas(df: DataFrame) -> list[str]:
    """ReadSchema of every parquet scan in the plan (column pruning)."""
    return re.findall(r"ReadSchema: (struct<[^\n]*>)", formatted_plan(df))


def pushed_filters(df: DataFrame) -> list[str]:
    return re.findall(r"PushedFilters: \[([^\]]*)\]", formatted_plan(df))


def join_strategies(df: DataFrame) -> list[str]:
    plan = formatted_plan(df)
    return re.findall(r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin|BroadcastNestedLoopJoin)", plan)


def count_exchanges(df: DataFrame) -> int:
    return len(re.findall(r"\bExchange\b|\bBroadcastExchange\b", formatted_plan(df)))


def assert_columns_pruned(df: DataFrame, must_not_read: list[str]) -> None:
    for schema in scan_read_schemas(df):
        for col in must_not_read:
            assert f"{col}:" not in schema, f"scan reads pruned column {col}: {schema}"
