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
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..core.segmenter import ViterbiSegmenter
from ..plans.parallelism import CPU_TASK_BYTES, spread
from .lexicon import corpus_word_frequencies
from .scorer_fit import (
    AUTO_BLOOM_VOCAB_THRESHOLD,
    CurrentFit,
    SidecarHandle,
    _sidecar_parts,
    resolve_sidecar_path,
)
from .segmentation import prepare_sequences

# the segmenter's own slot: a session that alternates segmentation and
# correction keeps one model of each instead of reloading both
_SEG_CACHE = CurrentFit()


def _read_segmenter(path: str) -> ViterbiSegmenter:
    counts: dict[str, int] = {}
    for f in _sidecar_parts(path, "segmenter"):
        t = pq.read_table(f, columns=["word", "freq"])
        for w, c in zip(t.column("word").to_pylist(), t.column("freq").to_pylist()):
            counts[w] = c
    return ViterbiSegmenter(counts)


def _load_segmenter(path: str, version: str | None) -> ViterbiSegmenter:
    return _SEG_CACHE.get((path, version), lambda: _read_segmenter(path))


class SidecarSegmenter(SidecarHandle):
    """Handle to a parquet (word, freq) sidecar, the same pattern as
    scorer_fit.SidecarLexicon: the frequency table is written
    distributively and the handle unpickles on each Python worker to the
    ViterbiSegmenter, whose cost table is built once, locally, and kept
    only while it is the latest. Deterministic: costs depend only on
    per-word counts and exact integer totals, never on load order."""

    load = staticmethod(_load_segmenter)


def build_segmenter_broadcast(spark: SparkSession, docs: DataFrame):
    """The unigram table rides a parquet sidecar whose handle each
    worker unpickles to the segmenter — the driver never materializes
    the vocabulary. The sidecar location follows
    scorer_fit.resolve_sidecar_path (shared-storage conf → local tempdir
    → driver-fit fallback on non-local masters whose executors could not
    read a driver tempdir; ADVICE r2)."""
    path = resolve_sidecar_path(spark, prefix="segmenter_sidecar")
    if path is None:
        freqs = corpus_word_frequencies(docs)
        # same fallback bound as the scorer (scorer_fit.build_scorer_broadcast):
        # a driver fit is only safe for vocabularies the driver can hold
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
    probes per sequence); a single-file docs scan decoded the whole
    corpus on one core (measured 9.3 s at sf0.1 with 31 cores idle), so
    the prepared sequences are spread, sized on ``docs``.

    ``seq_id`` (monotonically_increasing_id) encodes the partition that
    evaluates it. The spread here sits ABOVE that projection and changes
    no id. What sits below it can re-base the ids: the partitioning of
    ``docs``, the spread inside split_to_fit when it fires, and that
    function's per-round checkpoint unions. So ``seq_id`` is stable only
    for a given input layout. The
    output multiset of sequences is the same either way; never persist
    or compare ``seq_id`` across runs with different input layouts."""
    seqs = spread(prepare_sequences(docs), CPU_TASK_BYTES, sized_on=docs)
    seg_udf = make_segment_udf(build_segmenter_broadcast(spark, docs))
    return seqs.withColumn("segmented", seg_udf(F.col("input_seq")))


def segmentation_eval(spark: SparkSession, docs: DataFrame) -> DataFrame:
    """A12 over (segmented, original): one row (avg_ratio, std_ratio) —
    the reference's seq2seq quality metric (seq2seqEvaluation.py:63-72,
    published value 0.29; this segmenter scores far higher)."""
    from .metrics import avg_levenshtein_ratio

    seg = segment_documents(spark, docs)
    return avg_levenshtein_ratio(seg, "segmented", "output_seq")
