"""Single-pass table profiling (operators/profile.py)."""
from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from post_ocr_corretion_spark.operators.profile import profile_table


def test_profile_stats_exact(spark):
    df = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, None), (3, "a")],
        "k long, s string",
    )
    out = {r.column: r for r in profile_table(df).collect()}
    assert out["k"].n == 4 and out["k"].n_null == 0
    assert out["k"].n_distinct == 3
    assert (out["k"].min_val, out["k"].max_val) == ("1", "3")
    assert out["s"].n == 4 and out["s"].n_null == 1
    assert out["s"].n_distinct == 2  # nulls excluded from distinct
    assert (out["s"].min_val, out["s"].max_val) == ("a", "b")


def test_profile_single_scan(spark):
    """The melt reads the source once: exactly one scan node in the
    plan regardless of profiled column count."""
    from plan_audit import formatted_plan

    import re

    df = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    plan = formatted_plan(profile_table(df, ["l_orderkey", "l_returnflag", "l_linestatus"]))
    # each node id appears in the tree AND the detail section — count ids
    assert len(set(re.findall(r"\((\d+)\) Scan parquet", plan))) == 1
    assert "EvalPython" not in plan


def test_profile_validation(spark):
    with pytest.raises(ValueError, match="no columns"):
        profile_table(spark.range(1), [])
