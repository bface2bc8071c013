"""Skew handling: the url space is host-skewed, and two-phase salted
aggregation matches the naive groupBy."""
from __future__ import annotations

from pyspark.sql import functions as F

from post_ocr_corretion_spark.operators.skew import (
    host_of,
    two_phase_count_by_host,
)
from post_ocr_corretion_spark.sources.webpages import webpages


def _pages(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    return webpages(docs).select("url")


def test_host_skew_exists_and_salting_balances(spark):
    by_host = _pages(spark).groupBy(host_of(F.col("url")).alias("h")).count().collect()
    top = max(r["count"] for r in by_host)
    total = sum(r["count"] for r in by_host)
    assert top / total > 0.4  # the synthetic corpus IS host-skewed


def test_two_phase_salted_agg_matches_naive(spark):
    pages = _pages(spark)
    naive = {
        r.host: r.n
        for r in pages.groupBy(host_of(F.col("url")).alias("host"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    salted = {
        r.host: r.n_pages
        for r in two_phase_count_by_host(pages, ["h0.example.com"], buckets=8).collect()
    }
    assert salted == naive
