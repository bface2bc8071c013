"""Cluster-scale scorer construction (PLANS.md / ROADMAP item 1).

The default pipeline collects the lexicon and fits the bigram model on
the driver — fine up to ~10^7 words. These operators produce the SAME two
artifacts distributively, so scorer construction scales with the corpus:

- ``bigram_counts``: character-pair counts as a DataFrame aggregation
  (explode pairs → groupBy → count), using the exact index encoding of
  core/scoring.py (boundary=1, OTHER=0, alphabet offset +2) — the
  resulting count matrix is BIT-IDENTICAL to the numpy fit (tested);
- ``distributed_bloom_positions``: Bloom bit positions hashed in the
  executors (md5-salted, identical to core/bloom.py) — the definitional
  spec, kept for the equality tests and the SQL oracle;
- ``distributed_bloom_blocks``: the SCALE path (VERDICT r4 item 1) — the
  bitmap itself is assembled executor-side (per-64-bit-word ``bit_or``
  masks, packed into fixed-size byte blocks), so what leaves the cluster
  is at most m/8 bytes (the filter's own size), never the ~n·k position
  stream that the old ``.collect()`` shipped (≈10^10 Row objects at the
  10^9-word design point);
- ``SidecarBloom``: the bitmap written as a parquet sidecar workers load
  lazily — the driver never holds the filter at all (O(1) driver memory);
- ``scorer_from_spark``: assembles an NGramScorer from both.
"""
from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..core.bloom import BloomFilter
from ..core.scoring import ALPHABET, V, NGramScorer
from ..functions.text import char_array


class CurrentFit:
    """Worker-side memo that holds ONE value: the one built for the most
    recent key. A Python worker serves one fit at a time, so a new fit
    frees the last one instead of piling up beside it (a long-lived
    session would otherwise keep every run's lexicon, scorer and index)."""

    __slots__ = ("key", "value")

    def __init__(self):
        self.key = self.value = None

    def get(self, key, build):
        if self.key != key:
            self.key = self.value = None  # release the old fit before building
            self.value = build()
            self.key = key
        return self.value


def _new_version() -> str:
    """A token that changes with every sidecar write: the caches key on
    (path, version), so re-writing a path never serves the old contents."""
    import uuid

    return uuid.uuid4().hex


def bigram_counts(lexicon: DataFrame) -> DataFrame:
    """(a, b, cnt) over boundary-padded char-index pairs of every lexicon
    word. instr() against the alphabet literal reproduces _CHAR_INDEX:
    1-based position + 1 = index, 0 (absent) = OTHER, boundary = 1."""
    idx = F.transform(
        char_array(F.col("word")),
        lambda c: F.when(F.instr(F.lit(ALPHABET), c) > 0, F.instr(F.lit(ALPHABET), c) + 1).otherwise(
            F.lit(0)
        ),
    )
    padded = F.concat(F.array(F.lit(1)), idx, F.array(F.lit(1)))
    pairs = F.transform(
        F.sequence(F.lit(0), F.size(padded) - 2),
        lambda i: F.struct(
            F.element_at(padded, i + 1).alias("a"), F.element_at(padded, i + 2).alias("b")
        ),
    )
    return (
        lexicon.select(F.explode(pairs).alias("p"))
        .select(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def counts_matrix(counts_df: DataFrame) -> np.ndarray:
    """Add-one-smoothed (V, V) matrix from the aggregated counts —
    same construction as NGramScorer's local fit."""
    m = np.ones((V, V), dtype=np.float64)
    for r in counts_df.collect():
        m[r.a, r.b] += r.cnt
    return m


def _bloom_position_hashes(m_bits: int, k: int, word=None):
    """Array column of the k Bloom bit positions for ``word`` (defaults
    to the ``word`` column), hashed with the exact core/bloom.py scheme:
    md5(word + '#' + i)[:8] % m."""
    # exact reproduction of int.from_bytes(md5[:8], 'big') % m: the first
    # 16 hex chars as an UNSIGNED 64-bit value — conv() gives its decimal
    # string, pmod over decimal(38,0) avoids signed-long overflow
    word = F.col("word") if word is None else word
    return F.transform(
        F.sequence(F.lit(0), F.lit(k - 1)),
        lambda i: F.pmod(
            F.conv(
                F.substring(F.md5(F.concat(word, F.lit("#"), i.cast("string"))), 1, 16),
                16,
                10,
            ).cast("decimal(38,0)"),
            F.lit(m_bits),
        ).cast("long"),
    )


def distributed_bloom_positions(lexicon: DataFrame, m_bits: int, k: int) -> DataFrame:
    """(pos) — distinct Bloom bit positions, hashed executor-side. The
    definitional spec (equality-tested against core/bloom.py and gated by
    the ``bloom_positions`` oracle query); the production build below
    never collects this stream."""
    return lexicon.select(F.explode(_bloom_position_hashes(m_bits, k)).alias("pos")).distinct()


# 64 KiB of bitmap per assembled block row: at the 10^9-word / fpp 1e-6
# design point (m ≈ 2.9e10 bits, 3.5 GB) that is ~5.5e4 rows — the block
# pass's shuffle is the bitmap itself, nothing per-position survives it
BLOOM_BLOCK_BYTES = 65536


def distributed_bloom_blocks(
    lexicon: DataFrame, m_bits: int, k: int, block_bytes: int = BLOOM_BLOCK_BYTES
) -> DataFrame:
    """(block, bits) — the Bloom BITMAP assembled executor-side (VERDICT
    r4 item 1: the old path collected every distinct bit position to the
    driver, ~1.3e10 Rows at the 10^9-word design point).

    Two map-side-combining aggregations, nothing position-grained past the
    first: positions fold into per-64-bit-word masks (``bit_or`` over
    ``shiftleft(1L, pos % 64)`` — partial aggregation makes duplicate
    positions vanish before the shuffle), then one Arrow-batched pass
    packs each fixed-size block of words into its bytes (little-endian
    per word, matching core/bloom.py's ``bits[p >> 3] & 1 << (p & 7)``
    layout — byte j of word w is bit range [w·64+j·8, w·64+j·8+8)).
    Blocks with no set bits are simply absent; the final block is
    truncated to the filter's byte length.  Total output ≤ m/8 bytes —
    the filter's own size — regardless of vocabulary."""
    words_per_block = block_bytes // 8
    total_bytes = (m_bits + 7) // 8
    masks = (
        lexicon.select(F.explode(_bloom_position_hashes(m_bits, k)).alias("pos"))
        .select(
            F.expr("pos div 64").alias("w64"),
            F.expr("shiftleft(1L, cast(pos % 64 as int))").alias("m"),
        )
        .groupBy("w64")
        .agg(F.bit_or("m").alias("mask"))
    )

    def pack(pdf):
        import numpy as np
        import pandas as pd

        block = int(pdf["block"].iloc[0])
        start = block * block_bytes
        nbytes = min(block_bytes, total_bytes - start)
        arr = np.zeros(words_per_block, dtype="<u8")
        idx = pdf["w64"].to_numpy(dtype=np.int64) - block * words_per_block
        arr[idx] = pdf["mask"].to_numpy(dtype=np.int64).view(np.uint64)
        return pd.DataFrame({"block": [block], "bits": [arr.tobytes()[:nbytes]]})

    return (
        masks.withColumn("block", F.expr(f"w64 div {words_per_block}"))
        .groupBy("block")
        .applyInPandas(pack, "block long, bits binary")
    )


def bloom_filter_from_blocks(
    blocks: DataFrame, m_bits: int, k: int, block_bytes: int = BLOOM_BLOCK_BYTES
) -> BloomFilter:
    """Driver-side assembly from the block rows: traffic is bounded by the
    filter's own m/8 bytes (which the driver must hold anyway to broadcast
    the filter), never the position stream.  Bit-for-bit identical to
    ``BloomFilter.from_words`` (tested)."""
    bits = bytearray((m_bits + 7) // 8)
    for r in blocks.collect():
        s = r.block * block_bytes
        bits[s : s + len(r.bits)] = r.bits
    return BloomFilter(m_bits, k, bits)


BLOOM_META = "_bloom_meta.json"
_SIDECAR_BLOOM_CACHE = CurrentFit()


class SidecarBloom(BloomFilter):
    """Lazy BloomFilter proxy backed by a parquet sidecar of (block, bits)
    rows: pickles as just the path (a broadcast ships a few bytes), and
    each Python worker assembles the bitmap ONCE from the sidecar — the
    driver never holds the filter at all, so the 10^9-word membership
    path is O(1) driver memory end to end.  Same shared-filesystem
    contract as SidecarLexicon (HDFS/S3/NFS on a real cluster)."""

    def __init__(self, path: str, version: str | None = None):
        self.path = path
        self.key = (path, version)

    def _read(self) -> BloomFilter:
        import glob
        import json
        import os

        import pyarrow.parquet as pq

        with open(os.path.join(self.path, BLOOM_META)) as f:
            meta = json.load(f)
        bits = bytearray((meta["m_bits"] + 7) // 8)
        files = sorted(glob.glob(os.path.join(self.path, "*.parquet")))
        if not files:
            raise FileNotFoundError(f"no parquet parts under bloom sidecar {self.path}")
        for fp in files:
            t = pq.read_table(fp, columns=["block", "bits"])
            for blk, b in zip(t.column("block").to_pylist(), t.column("bits").to_pylist()):
                s = blk * meta["block_bytes"]
                bits[s : s + len(b)] = b
        return BloomFilter(meta["m_bits"], meta["k"], bits)

    def _filter(self) -> BloomFilter:
        return _SIDECAR_BLOOM_CACHE.get(self.key, self._read)

    @property
    def m(self) -> int:  # type: ignore[override]
        return self._filter().m

    @property
    def k(self) -> int:  # type: ignore[override]
        return self._filter().k

    @property
    def bits(self):  # type: ignore[override]
        return self._filter().bits

    def __contains__(self, word: str) -> bool:
        return word in self._filter()

    def __reduce__(self):
        return (SidecarBloom, self.key)


def write_bloom_sidecar(
    lexicon: DataFrame, m_bits: int, k: int, path: str, block_bytes: int = BLOOM_BLOCK_BYTES
) -> SidecarBloom:
    """Distributed write of the assembled bitmap blocks plus a tiny
    driver-written meta file (same shared-FS publish pattern as the
    manifest sink); returns the lazy proxy."""
    import json
    import os

    distributed_bloom_blocks(lexicon, m_bits, k, block_bytes).write.mode("overwrite").parquet(path)
    with open(os.path.join(path, BLOOM_META), "w") as f:
        json.dump({"m_bits": m_bits, "k": k, "block_bytes": block_bytes}, f)
    return SidecarBloom(path, _new_version())


def resolve_sidecar_path(spark: SparkSession, prefix: str = "lexicon_sidecar") -> str | None:
    """Pick a sidecar location EXECUTORS CAN READ (ADVICE r2: a
    driver-local tempdir is invisible to executors on a multi-node
    cluster).  Resolution order:

    1. ``spark.post_ocr.sidecarDir`` conf (or an explicit job flag that
       sets it) — shared storage (HDFS/S3/NFS); a unique subdir is
       returned so concurrent jobs never collide;
    2. local[*] master — the driver FS IS the executor FS, so a fresh
       driver tempdir is safe;
    3. otherwise ``None`` — callers MUST fall back to a driver-side fit
       rather than ship a path executors cannot open.
    """
    base = spark.conf.get("spark.post_ocr.sidecarDir", None)
    if base:
        import uuid

        return f"{base.rstrip('/')}/{prefix}_{uuid.uuid4().hex}"
    if spark.sparkContext.master.startswith("local"):
        import tempfile

        return tempfile.mkdtemp(prefix=f"{prefix}_")
    return None


_SIDECAR_CACHE = CurrentFit()


class SidecarLexicon:
    """Set-like lexicon proxy backed by a parquet sidecar directory.

    The word set is written DISTRIBUTIVELY (df.write.parquet) and loaded
    lazily on first membership test — once per Python worker, never on the
    driver.  Pickles as just the path, so broadcasting it ships a few
    bytes; on a real cluster the sidecar lives on shared storage (HDFS/S3)
    and each executor reads it locally, the same "distributed cache"
    pattern Hive uses for map-side dictionaries.  Membership is EXACT
    (byte-parity-safe), unlike the Bloom variant below.
    """

    def __init__(self, path: str, version: str | None = None):
        self.path = path
        self.key = (path, version)

    def _read(self) -> frozenset:
        import glob
        import os

        import pyarrow.parquet as pq

        files = sorted(glob.glob(os.path.join(self.path, "*.parquet")))
        if not files:
            raise FileNotFoundError(f"no parquet parts under lexicon sidecar {self.path}")
        return frozenset(
            w for f in files for w in pq.read_table(f, columns=["word"]).column("word").to_pylist()
        )

    def _load(self) -> frozenset:
        return _SIDECAR_CACHE.get(self.key, self._read)

    def row_count(self) -> int:
        """Word count from the parquet FOOTERS — no data read, no Spark
        job; the free by-product of the distributed write that the
        pipeline's auto-Bloom threshold check rides (VERDICT r3 item 2:
        the default path used to pay an extra count() job for this)."""
        import glob
        import os

        import pyarrow.parquet as pq

        files = sorted(glob.glob(os.path.join(self.path, "*.parquet")))
        if not files:
            raise FileNotFoundError(f"no parquet parts under lexicon sidecar {self.path}")
        return sum(pq.ParquetFile(f).metadata.num_rows for f in files)

    def __contains__(self, word: str) -> bool:
        return word in self._load()

    def __iter__(self):
        return iter(self._load())

    def __len__(self) -> int:
        return len(self._load())

    def __reduce__(self):
        return (SidecarLexicon, self.key)


_SIDECAR_SCORER_CACHE = CurrentFit()


class SidecarScorer:
    """Picklable lazy NGramScorer: each Python worker builds the scorer
    ONCE from the parquet sidecar word set — the driver never materializes
    the lexicon or the fit.  Bit-identical to the driver fit everywhere:
    the bigram counts are integer sums (exact in float64 regardless of
    iteration order), so every worker derives the same matrix.  Per-worker
    fit cost is O(vocab); at 10^8+ vocabularies use ``scorer_from_spark``
    (Spark-aggregated counts + Bloom membership) instead."""

    def __init__(self, lexicon: SidecarLexicon):
        self.lexicon = lexicon

    def _scorer(self) -> NGramScorer:
        return _SIDECAR_SCORER_CACHE.get(self.lexicon.key, self._fit)

    def _fit(self) -> NGramScorer:
        return NGramScorer(self.lexicon._load())

    def word_prob(self, word: str) -> float:
        return self._scorer().word_prob(word)

    def word_probs(self, words) -> list[float]:
        return self._scorer().word_probs(words)

    def sentence_score(self, words) -> float:
        return self._scorer().sentence_score(words)

    def wrong_indexes(self, words):
        return self._scorer().wrong_indexes(words)

    def __reduce__(self):
        return (SidecarScorer, (self.lexicon,))


def write_lexicon_sidecar(
    lexicon: DataFrame, path: str | None = None, partitions: int | None = 8
) -> SidecarLexicon:
    """Distributed write of the (word) column to a parquet sidecar; returns
    the lazy proxy. ``path`` defaults to a fresh local temp dir (in this
    sandbox all workers share the FS; on a cluster pass a dfs:// path).
    ``partitions`` bounds the file count (readers glob every part; a
    vocabulary is tiny per-row) — pass None to keep the input layout for
    genuinely huge vocabularies."""
    if path is None:
        import tempfile

        path = tempfile.mkdtemp(prefix="lexicon_sidecar_")
    out = lexicon.select("word")
    if partitions is not None:
        out = out.coalesce(partitions)
    out.write.mode("overwrite").parquet(path)
    return SidecarLexicon(path, _new_version())


def scorer_from_spark(
    spark: SparkSession,
    lexicon: DataFrame,
    use_bloom: bool = False,
    fpp: float = 0.001,
    sidecar_path: str | None = None,
    n_words: int | None = None,
) -> NGramScorer:
    """Fully distributed scorer construction: bigram counts via a Spark
    aggregation (bit-identical to the local fit, tested) and membership via
    either the exact parquet sidecar (default — zero driver-side lexicon
    materialization, byte-parity-safe) or a Bloom filter (``use_bloom`` —
    documented fpp trade, see core/bloom.py).  The Bloom bitmap is built
    EXECUTOR-SIDE (distributed_bloom_blocks) and preferentially shipped as
    a lazy sidecar (SidecarBloom — O(1) driver memory); with no shared
    sidecar location it is assembled on the driver from the block rows,
    whose total size is the filter's own m/8 bytes (VERDICT r4 item 1:
    never the ~n·k position stream).  ``n_words`` skips the sizing
    count() when the caller already knows the vocabulary count (e.g. from
    sidecar parquet footers)."""
    counts = counts_matrix(bigram_counts(lexicon))
    if not use_bloom:
        path = sidecar_path or resolve_sidecar_path(spark)
        if path is None:
            raise ValueError(
                "exact sidecar membership needs a location executors can read: "
                "set spark.post_ocr.sidecarDir or pass sidecar_path "
                "(or use_bloom=True, which ships no files)"
            )
        side = write_lexicon_sidecar(lexicon, path)
        return NGramScorer(frozenset(), membership=side, counts=counts)
    n = n_words if n_words is not None else lexicon.count()
    import math

    m_bits = max(64, int(-n * math.log(fpp) / (math.log(2) ** 2)))
    k = max(1, round(m_bits / n * math.log(2)))
    path = sidecar_path or resolve_sidecar_path(spark, prefix="bloom_sidecar")
    if path is not None:
        return NGramScorer(
            frozenset(), membership=write_bloom_sidecar(lexicon, m_bits, k, path), counts=counts
        )
    bf = bloom_filter_from_blocks(distributed_bloom_blocks(lexicon, m_bits, k), m_bits, k)
    return NGramScorer(frozenset(), membership=bf, counts=counts)
