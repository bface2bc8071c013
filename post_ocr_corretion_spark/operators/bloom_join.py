"""Bloom-filter join pruning: drop big-side rows that cannot match
BEFORE the join shuffle.

The classic 100 TB shuffle reducer: when a selective dimension filter
leaves few join keys, shuffling the full fact side wastes almost all of
its IO. Build a Bloom filter over the surviving keys (executor-side via
``distributed_bloom_blocks`` — the scorer's r5 machinery, at most m/8
bytes ever reaching the driver), then prefilter the fact side with a
PURE-CATALYST membership probe: the filter rides the plan as an
``array<long>`` literal of its 64-bit words and each probe is the same
md5 position scheme as core/bloom.py, unrolled as k bit tests inside
whole-stage codegen — no UDF, no Python.

No false negatives, so the subsequent real join returns EXACTLY the
unfiltered result (false positives are eliminated by the join itself) —
which is what makes the operator oracle-able end to end: the gated
query (`bloom_join_pruned`) must hash-match the plain-join SQL.

Spark's own runtime row-level Bloom pushdown
(spark.sql.optimizer.runtime.bloomFilter.enabled) does this adaptively
for equi-joins it can see through; this operator is the EXPLICIT form a
pipeline applies across stages or jobs — e.g. build once from the
lexicon and prune a 100 TB shuffle days later — where the optimizer has
no join to analyze.

Size bound: the literal array holds m/64 longs; at fpp 1% that is ~1.2
probe-words per key, so ~10^6 keys ≈ 1.2 MB of literal — fine for
codegen. Beyond that, ship the filter as a broadcast variable probed by
an Arrow-batched UDF (a SidecarBloom handle, which each worker unpickles
to the BloomFilter), trading codegen for boundlessness.
"""
from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..core.bloom import BloomFilter
from .scorer_fit import _bloom_position_hashes, bloom_filter_from_blocks, distributed_bloom_blocks


def bloom_filter_from_keys(keys: DataFrame, key_col: str, fpp: float = 0.01) -> BloomFilter:
    """Executor-side Bloom build over a key DataFrame (any type — keys
    are hashed via their canonical string rendering, matching the probe
    side). Driver traffic = the filter's own bytes (blocks path)."""
    # NULL keys are dropped up front (ADVICE r5): a null key would turn
    # _bloom_position_hashes into null positions → null block ids → a
    # TypeError deep in pack(), crashing the build executor-side. Safe to
    # drop because a NULL join key can never match the subsequent
    # equi-join anyway (and bloom_prefilter's probe on NULL yields NULL →
    # filtered, consistent with join semantics).
    words = (
        keys.select(F.col(key_col).cast("string").alias("word"))
        .where(F.col("word").isNotNull())
        .distinct()
    )
    n = max(1, words.count())
    m_bits = max(64, int(-n * math.log(fpp) / (math.log(2) ** 2)))
    k = max(1, round(m_bits / n * math.log(2)))
    return bloom_filter_from_blocks(distributed_bloom_blocks(words, m_bits, k), m_bits, k)


def bloom_might_contain(key_col: Column, bf: BloomFilter) -> Column:
    """Pure-Catalyst membership probe: TRUE iff every one of the k md5
    bit positions of ``key`` is set in the filter — identical semantics
    to ``word in bf`` (tested). The bitmap rides the plan as an
    array<long> literal of little-endian 64-bit words."""
    n_words = (bf.m + 63) // 64
    words = [
        int.from_bytes(bytes(bf.bits[w * 8 : w * 8 + 8]).ljust(8, b"\x00"), "little")
        for w in range(n_words)
    ]
    # long literals: values with bit 63 set must wrap to signed
    arr = F.array(*[F.lit(w - (1 << 64) if w >= (1 << 63) else w).cast("long") for w in words])
    if bf.m < (1 << 31):
        # r9: same positions in PURE LONG arithmetic inside the probe
        # lambda. The md5 scheme's conv→DECIMAL(38,0)→pmod chain was the
        # per-probe cost at fact scale; with m < 2³¹ the unsigned-64 mod
        # decomposes exactly in longs:
        #   (hi·2³² + lo) mod m = ((hi mod m)·(2³² mod m) + lo mod m) mod m
        # with every intermediate < 2⁶² (no overflow), where hi/lo are
        # the two 8-hex-char halves — each fits a long, so conv never
        # leaves long space. Identical positions → identical bits →
        # identical row set (equality with core/bloom.py is
        # unit-tested). A fully UNROLLED k-term form was measured 2.4×
        # SLOWER than this HOF form (the repeated md5 per reference is
        # not CSE'd outside codegen-able sizes) and was rejected — the
        # probe/banding lesson from the dot-unroll pass.
        two32_mod = (1 << 32) % bf.m
        m_lit = F.lit(bf.m)

        def pos_of(i):
            h = F.md5(F.concat(key_col, F.lit("#"), i.cast("string")))
            hi = F.conv(F.substring(h, 1, 8), 16, 10).cast("long")
            lo = F.conv(F.substring(h, 9, 8), 16, 10).cast("long")
            return F.pmod(
                F.pmod(hi, m_lit) * F.lit(two32_mod) + F.pmod(lo, m_lit), m_lit
            )

        positions = F.transform(F.sequence(F.lit(0), F.lit(bf.k - 1)), pos_of)
    else:
        positions = _bloom_position_hashes(bf.m, bf.k, word=key_col)
    probe = F.transform(
        positions,
        lambda pos: F.getbit(F.element_at(arr, (pos / 64).cast("int") + 1), pos % 64),
    )
    tested = F.aggregate(probe, F.lit(0).cast("long"), lambda acc, b: acc + b.cast("long"))
    return tested == F.lit(bf.k)


def bloom_prefilter(df: DataFrame, key_col: str, bf: BloomFilter) -> DataFrame:
    """Keep only rows whose key MIGHT be in the filter (no false
    negatives — semantically transparent before a join on the same
    key). The probe hashes the canonical string rendering, pairing with
    ``bloom_filter_from_keys``.

    r9: the k-probe (k md5 evaluations per row) is CPU-dense, so its
    input goes through ``plans.parallelism.spread``. The probe result
    stages through a GENERATOR and the filter tests the generated
    attribute: a bare ``filter(probe)`` is predicate-pushed BELOW the
    spread exchange by Catalyst (measured 6× — the whole probe ran back
    in the original scan partitions); a filter on a Generate output
    cannot sink past it. Row set identical (row-local predicate, one
    generated row per input row)."""
    from ..plans.parallelism import TOKEN_TASK_BYTES, spread

    hit = bloom_might_contain(F.col(key_col).cast("string"), bf)
    return (
        spread(df, TOKEN_TASK_BYTES)
        .select("*", F.explode(F.array(hit)).alias("_bloom_hit"))
        .filter(F.col("_bloom_hit"))
        .drop("_bloom_hit")
    )
