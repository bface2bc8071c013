"""Explicit skew handling (north rule: "explicit salting of skewed
hosts, repartitionByRange on url hash, AQE-tuned shuffles").

Common-Crawl-style url spaces are Zipf-skewed by host (the synthetic
corpus pins this: h0.example.com owns half of all pages). Two tools:

- ``host_of``: host extraction (pure Catalyst).
- ``salted_key``: append a bounded random-ish salt derived from a
  SECONDARY column to the hot keys only — the classic skew-join/groupBy
  salt; aggregate twice (salted then unsalted) to recombine.

AQE's skew-join splitting (enabled in session.py) covers the join side at
runtime; these operators handle the layout side deterministically.
"""
from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def host_of(url: Column) -> Column:
    return F.regexp_extract(url, r"^[a-z]+://([^/]+)/", 1)


def salted_key(key: Column, hot_keys: list[str], salt_source: Column, buckets: int = 16) -> Column:
    """key‖salt for hot keys, key alone otherwise. Deterministic: the salt
    is a hash of a secondary column, not rand(), so re-runs (and the
    oracle) agree."""
    salt = F.pmod(F.xxhash64(salt_source), F.lit(buckets)).cast("string")
    return F.when(key.isin(hot_keys), F.concat(key, F.lit("#"), salt)).otherwise(key)


def unsalt(key: Column) -> Column:
    return F.split(key, "#", 2)[0]


def two_phase_count_by_host(pages: DataFrame, hot_hosts: list[str], buckets: int = 16) -> DataFrame:
    """Skew-safe groupBy: salted partial aggregate, then recombine —
    the hot host's rows spread over ``buckets`` reducers instead of one.
    Returns (host, n_pages)."""
    host = host_of(F.col("url"))
    salted = pages.select(salted_key(host, hot_hosts, F.col("url"), buckets).alias("hk"))
    partial = salted.groupBy("hk").agg(F.count(F.lit(1)).alias("n"))
    return partial.groupBy(unsalt(F.col("hk")).alias("host")).agg(F.sum("n").alias("n_pages"))
