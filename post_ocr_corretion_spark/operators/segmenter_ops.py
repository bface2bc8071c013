"""Segmentation as a Spark operator: the reference's seq2seq entry point
(textSegmentator.py / SURVEY.md §3.2) with the deterministic Viterbi
model (core/segmenter.py) in place of the unusable Transformer.

Dataflow = the reference's, end to end: P2 clean → D2 split-to-fit →
P4 de-space (model input) → segment → A12 Levenshtein-ratio eval against
the pre-de-spacing text. One broadcast (the unigram cost table), one
Arrow-batched UDF.
"""
from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..core.segmenter import ViterbiSegmenter
from .lexicon import corpus_word_frequencies
from .segmentation import prepare_sequences


_SEG_CACHE: dict[str, ViterbiSegmenter] = {}


class SidecarSegmenter:
    """Lazy Viterbi segmenter backed by a parquet (word, freq) sidecar —
    same zero-driver-materialization pattern as scorer_fit.SidecarLexicon:
    the frequency table is written distributively and each Python worker
    builds the cost table once, locally.  Pickles as just the path.
    Deterministic: costs depend only on per-word counts and exact integer
    totals, never on load order."""

    def __init__(self, path: str):
        self.path = path

    def _seg(self) -> ViterbiSegmenter:
        seg = _SEG_CACHE.get(self.path)
        if seg is None:
            import glob
            import os

            import pyarrow.parquet as pq

            counts: dict[str, int] = {}
            for f in sorted(glob.glob(os.path.join(self.path, "*.parquet"))):
                t = pq.read_table(f, columns=["word", "freq"])
                for w, c in zip(t.column("word").to_pylist(), t.column("freq").to_pylist()):
                    counts[w] = c
            seg = ViterbiSegmenter(counts)
            _SEG_CACHE[self.path] = seg
        return seg

    def segment(self, text: str) -> list[str]:
        return self._seg().segment(text)

    def segment_text(self, text: str) -> str:
        return self._seg().segment_text(text)

    def __reduce__(self):
        return (SidecarSegmenter, (self.path,))


def build_segmenter_broadcast(
    spark: SparkSession, docs: DataFrame, fit: str = "distributed", sidecar_path: str | None = None
):
    """``fit='distributed'`` (default): the unigram table rides a parquet
    sidecar, loaded lazily per worker — the driver never materializes the
    vocabulary. ``fit='driver'``: the round-1 collect() path.  The sidecar
    location follows scorer_fit.resolve_sidecar_path (shared-storage conf
    → local tempdir → driver-fit fallback on non-local masters whose
    executors could not read a driver tempdir; ADVICE r2)."""
    if fit == "driver":
        counts = {r.word: r.freq for r in corpus_word_frequencies(docs).collect()}
        return spark.sparkContext.broadcast(ViterbiSegmenter(counts))
    from .scorer_fit import resolve_sidecar_path

    path = sidecar_path or resolve_sidecar_path(spark, prefix="segmenter_sidecar")
    if path is None:
        freqs = corpus_word_frequencies(docs)
        # same fallback bound as the scorer (pipeline.build_scorer_broadcast):
        # a driver fit is only safe for vocabularies the driver can hold
        from ..pipeline import AUTO_BLOOM_VOCAB_THRESHOLD

        n = freqs.count()
        if n > AUTO_BLOOM_VOCAB_THRESHOLD:
            raise ValueError(
                f"no shared sidecar location on a non-local master and the "
                f"segmenter vocabulary ({n} words) exceeds the driver-fit "
                f"fallback bound; set spark.post_ocr.sidecarDir"
            )
        import warnings

        warnings.warn(
            "no shared sidecar location on a non-local master "
            "(set spark.post_ocr.sidecarDir); falling back to the driver fit",
            stacklevel=2,
        )
        counts = {r.word: r.freq for r in freqs.collect()}
        return spark.sparkContext.broadcast(ViterbiSegmenter(counts))
    corpus_word_frequencies(docs).write.mode("overwrite").parquet(path)
    return spark.sparkContext.broadcast(SidecarSegmenter(path))


def make_segment_udf(segmenter_bc):
    @F.pandas_udf(T.StringType())
    def segment(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        seg = segmenter_bc.value
        for s in it:
            yield s.map(seg.segment_text)

    return segment


def segment_documents(spark: SparkSession, docs: DataFrame) -> DataFrame:
    """(seq_id, output_seq, input_seq, segmented) — segmented is the
    model's re-spacing of the de-spaced input.

    r9: the Viterbi UDF is CPU-bound Python (O(len·MAX_WORD_LEN) dict
    probes per sequence), and a single-file docs scan hands it ONE
    input partition — the whole corpus decoded on one core (measured
    9.3 s at sf0.1 with 31 cores idle). Spread the prepared sequences
    across 2×cores ONLY when the frame has fewer partitions than cores;
    a real multi-split corpus already has them and is left untouched.
    This repartition sits ABOVE the projection that assigns ``seq_id``
    (monotonically_increasing_id is evaluated in the pre-exchange stage),
    so it changes no id. ``seq_id`` is still stable only for a given
    input partitioning: split_to_fit's own spread sits BELOW that
    projection and re-bases the ids whenever it fires. The output
    multiset of sequences is the same either way; never persist or
    compare ``seq_id`` across runs with different input layouts."""
    seqs = prepare_sequences(docs)
    sc = spark.sparkContext
    try:
        existing = seqs.rdd.getNumPartitions()
    except Exception:
        existing = None
    if existing is not None and existing < sc.defaultParallelism:
        seqs = seqs.repartition(sc.defaultParallelism * 2)
    seg_udf = make_segment_udf(build_segmenter_broadcast(spark, docs))
    return seqs.withColumn("segmented", seg_udf(F.col("input_seq")))


def segmentation_eval(spark: SparkSession, docs: DataFrame) -> DataFrame:
    """A12 over (segmented, original): one row (avg_ratio, std_ratio) —
    the reference's seq2seq quality metric (seq2seqEvaluation.py:63-72,
    published value 0.29; this segmenter scores far higher)."""
    from .metrics import avg_levenshtein_ratio

    seg = segment_documents(spark, docs)
    return avg_levenshtein_ratio(seg, "segmented", "output_seq")
