"""Single-pass table profiling — the data-quality summary (row counts,
null rates, exact distincts, lexicographic min/max) a lake pipeline
records next to every written table (the Deequ/dbt-profile shape,
engine-native).

One pass, one shuffle: every requested column melts to
(column, value-as-string) rows via a single inline array explode — the
scan is read once no matter how many columns are profiled — and one
hash aggregate per column computes the stats. Exact ``n_distinct`` is
deliberate (it is what the oracle can replay bit-for-bit); swap in
approx_count_distinct at the 10^12-row scale where exactness stops
paying for its shuffle width — the operator shape is unchanged.

Values are profiled AS STRINGS: the caller casts/formats columns first
(ints and strings render identically on every engine; doubles and
timestamps do NOT — format them explicitly before profiling if their
min/max matter cross-engine).
"""
from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans.parallelism import TOKEN_TASK_BYTES, spread


def profile_table(df: DataFrame, cols: list[str] | None = None) -> DataFrame:
    """(column, n, n_null, n_distinct, min_val, max_val) per profiled
    column: total rows, nulls, exact distinct non-null count, and the
    lexicographic min/max of the string rendering. NULLs count in ``n``
    and ``n_null`` but not in the distinct/extrema (SQL aggregate
    semantics on both engines)."""
    if cols is None:
        cols = df.columns
    if not cols:
        raise ValueError("profile_table: no columns to profile")
    # the melt multiplies every row by len(cols) before the first
    # aggregate; the aggregates are exact (counts, lexicographic extrema),
    # so the spread changes no result
    df = spread(df, TOKEN_TASK_BYTES)
    melted = df.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("column"), F.col(c).cast("string").alias("val")
                    )
                    for c in cols
                ]
            )
        ).alias("kv")
    ).select("kv.column", "kv.val")
    return melted.groupBy("column").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("val").isNull(), 1).otherwise(0)).alias("n_null"),
        F.countDistinct("val").alias("n_distinct"),
        F.min("val").alias("min_val"),
        F.max("val").alias("max_val"),
    )
