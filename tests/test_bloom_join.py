"""Bloom-filter join pruning (operators/bloom_join.py): the
pure-Catalyst probe agrees with the Python filter exactly, the
prefilter is join-transparent (no false negatives), and it actually
reduces the rows entering the join shuffle."""
from __future__ import annotations

from pyspark.sql import functions as F

from post_ocr_corretion_spark.core.bloom import BloomFilter
from post_ocr_corretion_spark.operators.bloom_join import (
    bloom_filter_from_keys,
    bloom_might_contain,
    bloom_prefilter,
)

SF = "/root/testdata/sf0.001"


def test_catalyst_probe_equals_python_contains(spark):
    """Every probe word: the in-plan k-bit test == `word in bf`,
    including words whose positions hit the sign bit of a 64-bit word
    (m > 64 guarantees multi-word filters; fpp drives some positives)."""
    keys = [f"k{i}" for i in range(200)]
    bf = BloomFilter.from_words(keys, fpp=0.05)
    probes = keys + [f"zz{i}" for i in range(500)]
    df = spark.createDataFrame([(w,) for w in probes], "w string")
    got = {
        r.w: bool(r.hit)
        for r in df.select("w", bloom_might_contain(F.col("w"), bf).alias("hit")).collect()
    }
    want = {w: (w in bf) for w in probes}
    assert got == want
    assert all(got[k] for k in keys)  # no false negatives, ever


def test_prefilter_is_join_transparent_and_prunes(spark):
    cust = spark.read.parquet(f"{SF}/customer.parquet").filter(F.col("c_acctbal") > 9000)
    orders = spark.read.parquet(f"{SF}/orders.parquet")
    bf = bloom_filter_from_keys(cust.select("c_custkey"), "c_custkey", fpp=0.01)
    pruned = bloom_prefilter(orders, "o_custkey", bf)

    def agg(fact):
        return sorted(
            (r.c_nationkey, r.n)
            for r in fact.join(cust, fact["o_custkey"] == cust["c_custkey"])
            .groupBy("c_nationkey").agg(F.count(F.lit(1)).alias("n")).collect()
        )

    assert agg(pruned) == agg(orders)  # transparent: exact same join result
    n_all, n_pruned = orders.count(), pruned.count()
    n_match = orders.join(cust, orders["o_custkey"] == cust["c_custkey"], "left_semi").count()
    # the shuffle reduction: the pruned fact side is close to the true
    # matching set (within the fpp margin) and far below the full table
    assert n_match <= n_pruned <= n_match + max(20, int(0.02 * n_all))
    assert n_pruned < n_all * 0.8


def test_prefilter_sits_below_the_join_in_plan(spark):
    """Plan lock (PLANS.md): the k-probe membership Filter must sit on
    the fact side BELOW the join — pruned rows never reach the join (or,
    at scale, its exchange)."""
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
    import __spark_entry__ as em

    plan = (
        em.queries()["bloom_join_pruned"](spark, SF)
        ._jdf.queryExecution().executedPlan().toString()
    )
    lines = plan.splitlines()
    join_i = next(i for i, ln in enumerate(lines) if "HashJoin" in ln or "SortMergeJoin" in ln)
    # r9 shape: the k-probe rides a Generate (the pushdown barrier that
    # keeps it ABOVE the spread exchange) and the Filter tests the
    # generated _bloom_hit attribute — both still strictly below the
    # join and above the fact scan, so pruned rows never reach the join.
    probe_i = next(i for i, ln in enumerate(lines) if "getbit" in ln and "o_custkey" in ln)
    filt_i = next(i for i, ln in enumerate(lines) if "Filter" in ln and "_bloom_hit" in ln)
    scan_i = next(i for i, ln in enumerate(lines) if "FileScan" in ln and "orders" in ln)
    assert join_i < filt_i < scan_i, plan[:1500]
    assert join_i < probe_i < scan_i, plan[:1500]


def test_build_drops_null_keys_instead_of_crashing(spark):
    """ADVICE r5 (low): a NULL key must not crash the executor-side
    block build (null md5 → null positions → TypeError in pack()). Nulls
    are dropped in the build — safe because a NULL join key never
    matches the equi-join — and the filter still behaves exactly on the
    non-null keys; a NULL probe row is filtered (NULL predicate), again
    matching join semantics."""
    keys = spark.createDataFrame(
        [("a",), (None,), ("b",), (None,), ("c",)], "k string"
    )
    bf = bloom_filter_from_keys(keys, "k", fpp=0.01)
    assert all(w in bf for w in ("a", "b", "c"))
    probe = spark.createDataFrame([("a",), (None,), ("zz",)], "k string")
    kept = {r.k for r in bloom_prefilter(probe, "k", bf).collect()}
    assert "a" in kept and None not in kept
