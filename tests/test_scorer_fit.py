"""Cluster-scale scorer artifacts ≡ the local fit: distributed bigram
counts give a bit-identical model; the Bloom membership is deterministic,
never false-negative, and executor-side hashing matches core/bloom.py."""
from __future__ import annotations

import os
from types import SimpleNamespace

import numpy as np

from post_ocr_corretion_spark.core.bloom import BloomFilter
from post_ocr_corretion_spark.core.scoring import NGramScorer


def _lex_df(spark, fixture_lexicon):
    return spark.createDataFrame([(w,) for w in sorted(fixture_lexicon)], "word string")


def test_distributed_counts_bit_identical(spark, fixture_lexicon):
    from post_ocr_corretion_spark.operators.scorer_fit import bigram_counts, counts_matrix

    local = NGramScorer(fixture_lexicon)
    counts = counts_matrix(bigram_counts(_lex_df(spark, fixture_lexicon)))
    dist = NGramScorer(fixture_lexicon, counts=counts)
    assert np.array_equal(local.log_prob, dist.log_prob)
    for w in ["the", "dis0ric", "cit.", "zzz", "", "query"]:
        assert dist.word_prob(w) == local.word_prob(w)


def test_sidecar_lexicon_exact_and_picklable(spark, fixture_lexicon):
    """The parquet-sidecar lexicon handle pickles as just the path (what a
    broadcast ships to executors) and unpickles to the exact word set of
    the distributed write."""
    import pickle

    from post_ocr_corretion_spark.operators.scorer_fit import write_lexicon_sidecar

    side = write_lexicon_sidecar(_lex_df(spark, fixture_lexicon))
    clone = pickle.loads(pickle.dumps(side))
    assert len(pickle.dumps(side)) < 500  # ships the path, not the words
    assert type(clone) is frozenset
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
    """The bitmap sidecar handle: pickles as just the path (what a
    broadcast ships), unpickles to the identical filter assembled from
    the sidecar, and membership has no false negatives."""
    import pickle

    from post_ocr_corretion_spark.operators.scorer_fit import SidecarBloom, write_bloom_sidecar

    m_bits, k = 4096, 5
    df = _lex_df(spark, fixture_lexicon)
    side = write_bloom_sidecar(df, m_bits, k, str(tmp_path / "bloom"))
    assert isinstance(side, SidecarBloom) and not isinstance(side, BloomFilter)
    clone = pickle.loads(pickle.dumps(side))
    assert type(clone) is BloomFilter
    assert len(pickle.dumps(side)) < 500  # ships the path, not the bitmap
    want = BloomFilter(m_bits, k)
    for w in fixture_lexicon:
        want.add(w)
    assert clone.bits == want.bits and clone.m == m_bits and clone.k == k
    assert all(w in clone for w in fixture_lexicon)
    # membership-only: correction._memo_fns keys its SymSpell-index-vs-probe
    # decision on __iter__'s absence
    assert not hasattr(clone, "__iter__")


def test_bloom_scorer_no_position_collect(spark, fixture_lexicon, monkeypatch):
    """The production Bloom path must never collect the position stream
    (the r4 scale-killer): poison distributed_bloom_positions and build."""
    from post_ocr_corretion_spark.operators import scorer_fit as sfmod

    def boom(*a, **kw):
        raise AssertionError("production Bloom build touched the position stream")

    monkeypatch.setattr(sfmod, "distributed_bloom_positions", boom)
    s = sfmod.scorer_from_spark(_lex_df(spark, fixture_lexicon), fpp=0.001)
    assert all(w in s.lexicon for w in fixture_lexicon)


def test_bloom_scorer_agrees_where_filter_exact(spark, fixture_lexicon):
    from post_ocr_corretion_spark.operators.scorer_fit import scorer_from_spark

    local = NGramScorer(fixture_lexicon)
    bloomed = scorer_from_spark(_lex_df(spark, fixture_lexicon), fpp=0.0001)
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
    assert resolve_sidecar_path(_FakeSpark("spark://cluster:7077")) is None


class _FakeSpark:
    """The master and the conf that resolve_sidecar_path reads; no JVM."""

    def __init__(self, master: str, sidecar_dir: str | None = None):
        self.sparkContext = SimpleNamespace(master=master)
        self.conf = SimpleNamespace(get=lambda key, default=None: sidecar_dir or default)


class _FakeFrame:
    """A lexicon frame whose parquet write drops one part file; no JVM."""

    write = property(lambda self: self)

    def select(self, *cols):
        return self

    def coalesce(self, n):
        return self

    def mode(self, m):
        return self

    def parquet(self, path):
        os.makedirs(path, exist_ok=True)
        open(os.path.join(path, "part-0.parquet"), "w").close()


def test_library_made_sidecar_dirs_are_removed_at_exit(tmp_path):
    """The temp dirs resolve_sidecar_path (local master) and
    write_lexicon_sidecar (no path) make are removed when the interpreter
    exits; a conf-pinned location and an explicit path are never
    touched."""
    import json
    import subprocess
    import sys

    tests_dir = os.path.dirname(os.path.abspath(__file__))
    shared, explicit = str(tmp_path / "shared"), str(tmp_path / "explicit")
    script = f"""
import json, os, sys
sys.path[:0] = [{os.path.dirname(tests_dir)!r}, {tests_dir!r}]
from test_scorer_fit import _FakeFrame, _FakeSpark
from post_ocr_corretion_spark.operators.scorer_fit import resolve_sidecar_path, write_lexicon_sidecar

made = [resolve_sidecar_path(_FakeSpark("local[2]")), write_lexicon_sidecar(_FakeFrame()).path]
conf = resolve_sidecar_path(_FakeSpark("local[2]", {shared!r}))
write_lexicon_sidecar(_FakeFrame(), conf)
write_lexicon_sidecar(_FakeFrame(), {explicit!r})
assert all(os.path.isdir(p) for p in made)
print(json.dumps({{"made": made, "conf": conf}}))
"""
    out = subprocess.run(
        [sys.executable, "-c", script], capture_output=True, text=True, check=True, timeout=120
    )
    paths = json.loads(out.stdout)
    assert [p for p in paths["made"] if os.path.exists(p)] == []
    assert os.path.isdir(paths["conf"]) and paths["conf"].startswith(shared + "/")
    assert os.path.isdir(explicit)


def test_scorer_broadcast_cluster_fallback_is_driver_fit(spark, fixture_lexicon, monkeypatch):
    """On a (faked) non-local master with no shared dir, the scorer falls
    back to the exact driver fit with a warning — never a driver-tempdir
    sidecar executors cannot open."""
    import warnings

    from post_ocr_corretion_spark.operators import scorer_fit as sfmod

    monkeypatch.setattr(sfmod, "resolve_sidecar_path", lambda *a, **k: None)
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        bc, words = sfmod.build_scorer_broadcast(spark, _lex_df(spark, fixture_lexicon))
    assert any("driver-side fit" in str(x.message) for x in w)
    assert isinstance(bc.value, NGramScorer) and words == frozenset(fixture_lexicon)
    local = NGramScorer(fixture_lexicon)
    assert bc.value.word_prob("the") == local.word_prob("the")


def test_default_scorer_build_is_one_spark_job(spark, fixture_lexicon):
    """VERDICT r3: the default path sizes the vocabulary from the word
    sidecar's parquet footers, so the whole build is the one sidecar
    write — no count() job. The broadcast is the sidecar fit: a worker
    unpickles it to the NGramScorer whose word set the lexicon handle
    unpickles to."""
    import pickle
    import uuid

    from post_ocr_corretion_spark.operators.scorer_fit import SidecarLexicon, build_scorer_broadcast

    lex_df = _lex_df(spark, fixture_lexicon)
    sc = spark.sparkContext
    group = f"scorer_build_{uuid.uuid4().hex}"
    sc.setJobGroup(group, "default scorer build")
    try:
        bc, side = build_scorer_broadcast(spark, lex_df)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert isinstance(side, SidecarLexicon)
    assert type(bc.value) is NGramScorer
    assert bc.value.lexicon is pickle.loads(pickle.dumps(side))
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1


def test_auto_bloom_switch_above_threshold(spark, fixture_lexicon, monkeypatch):
    """VERDICT r2 item 3: with the threshold forced low, the default fit
    returns a Bloom-membership scorer (per-worker memory O(bloom bits));
    membership stays exact on lexicon words (no false negatives) and the
    bigram model is bit-identical to the local fit."""
    import pickle

    from post_ocr_corretion_spark.operators import scorer_fit as sfmod

    lex_df = _lex_df(spark, fixture_lexicon)
    # below the threshold the exact sidecar path is unchanged
    _, lex = sfmod.build_scorer_broadcast(spark, lex_df)
    assert type(pickle.loads(pickle.dumps(lex))) is frozenset

    monkeypatch.setattr(sfmod, "AUTO_BLOOM_VOCAB_THRESHOLD", 0)
    bc, lex = sfmod.build_scorer_broadcast(spark, lex_df)
    lex = pickle.loads(pickle.dumps(lex))  # what a worker sees
    assert type(lex) is BloomFilter
    assert all(w in lex for w in fixture_lexicon)  # never false-negative
    local = NGramScorer(fixture_lexicon)
    assert np.array_equal(bc.value.log_prob, local.log_prob)


def _parquet_columns(path):
    import glob
    import os

    import pyarrow.parquet as pq

    return {
        name
        for f in glob.glob(os.path.join(path, "*.parquet"))
        for name in pq.read_schema(f).names
    }


def test_auto_bloom_switch_cleans_up_word_sidecar(spark, fixture_lexicon, tmp_path, monkeypatch):
    """ADVICE r4: the word sidecar doubles as the counting pass on the
    auto-switch branch but must not survive it as an orphan; the Bloom
    sidecar that replaces it overwrites the word parts at the same
    location and ships as a bitmap handle (O(1) driver)."""
    import os
    import pickle

    from post_ocr_corretion_spark.operators import scorer_fit as sfmod

    monkeypatch.setattr(sfmod, "AUTO_BLOOM_VOCAB_THRESHOLD", 0)
    word_dir = str(tmp_path / "lexicon_side")
    bc, lex = sfmod.build_scorer_broadcast(spark, _lex_df(spark, fixture_lexicon), sidecar_path=word_dir)
    assert isinstance(lex, sfmod.SidecarBloom)
    assert os.path.exists(os.path.join(word_dir, sfmod.BLOOM_META))
    assert "word" not in _parquet_columns(word_dir)  # no orphaned word parts
    clone = pickle.loads(pickle.dumps(lex))
    assert type(clone) is BloomFilter
    assert all(w in clone for w in fixture_lexicon)


def test_bloom_switch_writes_to_the_given_path_without_a_resolved_one(
    spark, fixture_lexicon, tmp_path, monkeypatch
):
    """An explicit sidecar_path is the shared location even where
    resolve_sidecar_path finds none (a non-local master with no conf):
    the Bloom scorer's bitmap lands there as a SidecarBloom instead of
    being assembled on the driver (~3.5 GB at 10^9 words)."""
    import pickle

    from post_ocr_corretion_spark.operators import scorer_fit as sfmod

    monkeypatch.setattr(sfmod, "resolve_sidecar_path", lambda *a, **k: None)
    monkeypatch.setattr(sfmod, "AUTO_BLOOM_VOCAB_THRESHOLD", 0)
    side_dir = str(tmp_path / "shared")
    bc, lex = sfmod.build_scorer_broadcast(spark, _lex_df(spark, fixture_lexicon), sidecar_path=side_dir)
    assert isinstance(lex, sfmod.SidecarBloom) and lex.path == side_dir
    clone = pickle.loads(pickle.dumps(lex))
    assert type(clone) is BloomFilter
    assert all(w in clone for w in fixture_lexicon)
    assert np.array_equal(bc.value.log_prob, NGramScorer(fixture_lexicon).log_prob)


def test_no_shared_path_above_threshold_falls_through_to_bloom(spark, fixture_lexicon, monkeypatch):
    """ADVICE r4 item 1: a non-local master with no shared sidecar dir and
    an above-threshold vocabulary must get the Bloom scorer (no files to
    share — driver assembles the bitmap from block rows), not the old
    ValueError that recommended the very path that raised."""
    from post_ocr_corretion_spark.operators import scorer_fit as sfmod

    monkeypatch.setattr(sfmod, "resolve_sidecar_path", lambda *a, **k: None)
    monkeypatch.setattr(sfmod, "AUTO_BLOOM_VOCAB_THRESHOLD", 0)
    bc, lex = sfmod.build_scorer_broadcast(spark, _lex_df(spark, fixture_lexicon))
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
    from post_ocr_corretion_spark.operators.scorer_fit import build_scorer_broadcast

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


def test_workers_unpickle_the_model_itself(spark, fixture_lexicon, tmp_path, monkeypatch):
    """On an executor the broadcasts are the model objects, not proxies
    that forward each call: the default fit gives the NGramScorer and,
    as the lexicon, that scorer's own word set; above the Bloom threshold
    the lexicon is the BloomFilter the scorer probes."""
    from post_ocr_corretion_spark.operators import scorer_fit as sfmod

    def worker_view(**kw):
        scorer_bc, side = sfmod.build_scorer_broadcast(spark, _lex_df(spark, fixture_lexicon), **kw)
        lexicon_bc = spark.sparkContext.broadcast(side)

        def probe(_):
            scorer, lex = scorer_bc.value, lexicon_bc.value
            yield (
                type(scorer) is NGramScorer,
                type(lex) is frozenset,
                type(lex) is BloomFilter,
                scorer.lexicon is lex,
            )

        return set(spark.sparkContext.parallelize(range(2), 2).mapPartitions(probe).collect())

    assert worker_view() == {(True, True, False, True)}
    monkeypatch.setattr(sfmod, "AUTO_BLOOM_VOCAB_THRESHOLD", 0)
    assert worker_view(sidecar_path=str(tmp_path / "bloom")) == {(True, False, True, True)}


def test_a_new_fit_frees_the_old_model_before_reading_its_words(tmp_path, monkeypatch):
    """Peak memory: a worker moving from fit A to fit B frees A's memo,
    deletion index and model before it reads B's words, so two fits never
    sit in one worker at once. The corrector keys its memo on the
    broadcasts and reads their values only when it rebuilds."""
    import gc
    import pickle
    import weakref

    import pyarrow as pa
    import pyarrow.parquet as pq

    from post_ocr_corretion_spark.operators import correction
    from post_ocr_corretion_spark.operators import scorer_fit as sfmod

    class _Broadcast:
        """A worker's broadcast: ``.value`` unpickles what was shipped."""

        def __init__(self, handle):
            self._blob = pickle.dumps(handle)

        @property
        def value(self):
            return pickle.loads(self._blob)

    def broadcasts(name, words):
        path = tmp_path / name
        path.mkdir()
        pq.write_table(pa.table({"word": words}), str(path / "part-0.parquet"))
        return _Broadcast(sfmod.SidecarScorer(str(path), name)), _Broadcast(sfmod.SidecarLexicon(str(path), name))

    a_scorer, a_lexicon = broadcasts("a", ["alpha", "beta", "gamma"])
    b_scorer, b_lexicon = broadcasts("b", ["delta", "epsilon", "zeta"])
    correct = correction._worker_corrector(a_scorer, a_lexicon, 1, None)
    correct("alphq beta gamma")  # fills the memo and builds the deletion index
    fit_a = weakref.ref(a_scorer.value)
    del correct

    alive_at_read = []
    read_words = sfmod._read_words

    def checked_read(path):
        gc.collect()
        alive_at_read.append(fit_a() is not None)
        return read_words(path)

    monkeypatch.setattr(sfmod, "_read_words", checked_read)
    correct = correction._worker_corrector(b_scorer, b_lexicon, 1, None)
    assert correct("delta epsilom zeta") == ["delta", "epsilon", "zeta"]
    assert alive_at_read == [False]
