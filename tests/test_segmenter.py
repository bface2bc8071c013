"""Viterbi segmenter: exact small cases, corpus-level quality (must beat
the reference's published 0.29 Levenshtein ratio by a wide margin), and
Spark/core parity."""
from __future__ import annotations

import pytest

from post_ocr_corretion_spark.core.segmenter import ViterbiSegmenter
from post_ocr_corretion_spark.core.textops import train_word_counts


def test_small_known_case():
    seg = ViterbiSegmenter({"the": 10, "cat": 5, "sat": 5, "on": 8, "mat": 5, "a": 9})
    assert seg.segment("thecatsatonamat") == ["the", "cat", "sat", "on", "a", "mat"]
    assert seg.segment("") == []
    assert seg.segment_text("thecat") == "the cat"


def test_oov_words_come_back_whole():
    seg = ViterbiSegmenter({"the": 10, "is": 8})
    out = seg.segment("thezzqqis")
    assert out == ["the", "zzqq", "is"]


def test_prefers_frequent_parse():
    # 'a' + 'nd' vs 'and': real word wins
    seg = ViterbiSegmenter({"a": 100, "and": 50, "nd": 1})
    assert seg.segment("and") == ["and"]


def test_corpus_quality(docs_rows):
    from post_ocr_corretion_spark.core.levenshtein import indel_ratio
    from post_ocr_corretion_spark.core.textops import clean_text, shorten_sequences

    counts = train_word_counts([r["text"] for r in docs_rows])
    seg = ViterbiSegmenter(counts)
    seqs = shorten_sequences([clean_text(r["text"]) for r in docs_rows])
    ratios = [indel_ratio(seg.segment_text(s.replace(" ", "")), s) for s in seqs]
    avg = sum(ratios) / len(ratios)
    assert avg > 0.95  # reference's seq2seq: 0.29 (report.pdf Table 3)


def test_spark_matches_core(spark, docs_rows):
    from post_ocr_corretion_spark.operators.segmenter_ops import segment_documents

    docs = spark.createDataFrame(
        [(r["doc_id"], r["text"]) for r in docs_rows[:30]], "doc_id long, text string"
    )
    rows = segment_documents(spark, docs).collect()
    counts = train_word_counts([r["text"] for r in docs_rows[:30]])
    seg = ViterbiSegmenter(counts)
    for r in rows:
        assert r.segmented == seg.segment_text(r.input_seq)


def test_eval_operator(spark, docs_rows):
    from post_ocr_corretion_spark.operators.segmenter_ops import segmentation_eval

    docs = spark.createDataFrame(
        [(r["doc_id"], r["text"]) for r in docs_rows[:30]], "doc_id long, text string"
    )
    row = segmentation_eval(spark, docs).collect()[0]
    assert row.avg_ratio > 0.95 and row.std_ratio >= 0.0


def test_sidecar_segmenter_keeps_only_the_latest_fit(tmp_path):
    """A Python worker serves one segmenter fit at a time: loading a
    second sidecar frees the first, so a long session does not keep
    every run's cost table. A handle unpickles (as on a worker) to the
    ViterbiSegmenter itself."""
    import gc
    import pickle
    import weakref

    import pyarrow as pa
    import pyarrow.parquet as pq

    from post_ocr_corretion_spark.core.segmenter import ViterbiSegmenter
    from post_ocr_corretion_spark.operators.segmenter_ops import SidecarSegmenter

    def on_worker(handle):
        return pickle.loads(pickle.dumps(handle))

    segs = []
    for i, words in enumerate([["the", "cat"], ["a", "mat"]]):
        path = tmp_path / f"fit{i}"
        path.mkdir()
        pq.write_table(pa.table({"word": words, "freq": [5, 3]}), str(path / "part-0.parquet"))
        segs.append(SidecarSegmenter(str(path)))
    seg = on_worker(segs[0])
    assert type(seg) is ViterbiSegmenter
    assert seg.segment_text("thecat") == "the cat"
    first = weakref.ref(seg)
    del seg
    assert on_worker(segs[1]).segment_text("amat") == "a mat"
    gc.collect()
    assert first() is None
    assert on_worker(segs[1]) is on_worker(segs[1])


def test_sidecar_segmenter_with_no_parts_raises(tmp_path):
    """A segmenter sidecar with no parquet parts (a path the workers
    cannot see, or a failed write) raises, as the scorer's sidecar does,
    instead of loading an empty model that segments nothing."""
    import pickle

    from post_ocr_corretion_spark.operators.segmenter_ops import SidecarSegmenter

    with pytest.raises(FileNotFoundError, match="segmenter sidecar"):
        pickle.loads(pickle.dumps(SidecarSegmenter(str(tmp_path))))
