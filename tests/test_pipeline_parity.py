"""The north-rule gate: per-url byte-identity of extracted text, spans and
corrected text between the Spark pipeline (both modes) and the single-node
oracle, on an 80-document fixture corpus."""
from __future__ import annotations

import pytest

from post_ocr_corretion_spark.core.oracle import run_oracle
from post_ocr_corretion_spark.datagen.webpages import make_page


@pytest.fixture(scope="module")
def golden(docs_rows, fixture_lexicon, fixture_scorer):
    pages = [make_page(r["doc_id"], r["text"], r["lang"]) for r in docs_rows]
    return {g["url"]: g for g in run_oracle(pages, fixture_lexicon, fixture_scorer)}


def _docs_df(spark, docs_rows):
    return spark.createDataFrame(
        [(r["doc_id"], r["text"], r["lang"]) for r in docs_rows],
        "doc_id long, text string, lang string",
    )


def _docs_scan(spark, docs_rows, tmp_path):
    """The fixture docs as a one-file parquet scan: a known size over one
    split, so the flagship spreads it and runs the overlap checkpoint."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from post_ocr_corretion_spark.plans.parallelism import CPU_TASK_BYTES, spread_partitions

    path = str(tmp_path / "docs.parquet")
    rows = [{k: r[k] for k in ("doc_id", "text", "lang")} for r in docs_rows]
    # uncompressed, so that 80 docs span more than two CPU_TASK_BYTES
    pq.write_table(pa.Table.from_pylist(rows), path, compression="none")
    docs = spark.read.parquet(path)
    assert spread_partitions(docs, CPU_TASK_BYTES) is not None
    return docs


@pytest.mark.parametrize("case", ["udf", "catalyst", "no_shared_path", "file_scan"])
def test_pipeline_byte_identity(spark, docs_rows, golden, case, monkeypatch, tmp_path):
    """``no_shared_path``: udf mode on a (faked) non-local master with no
    shared sidecar location, so the scorer is the driver-side fit.
    ``file_scan``: udf mode over an under-split parquet scan, the path
    that spreads the docs and overlaps the shuffle with the lexicon job."""
    from post_ocr_corretion_spark.operators import scorer_fit
    from post_ocr_corretion_spark.pipeline import run_pipeline_from_docs

    if case == "no_shared_path":
        monkeypatch.setattr(scorer_fit, "resolve_sidecar_path", lambda *a, **k: None)
    mode = "catalyst" if case == "catalyst" else "udf"
    docs = _docs_scan(spark, docs_rows, tmp_path) if case == "file_scan" else _docs_df(spark, docs_rows)
    df = run_pipeline_from_docs(spark, docs, mode=mode)
    rows = df.collect()
    assert len(rows) == len(golden)
    for r in rows:
        g = golden[r.url]
        assert r.extracted_text == g["extracted_text"], r.url
        assert [(s.start, s.end) for s in r.spans] == g["spans"], r.url
        assert r.corrected_text == g["corrected_text"], r.url
        assert r.corrected_readable == g["corrected_readable"], r.url


def test_correction_actually_corrects(golden):
    """OCR noise gets repaired somewhere: corrected text differs from the
    extracted (noisy) text on at least some pages."""
    diffs = sum(
        1 for g in golden.values() if g["corrected_readable"] != g["extracted_text"].replace("\n", " ")
    )
    assert diffs > 0


def test_smoke_sentence(fixture_scorer, fixture_lexicon):
    """The reference's fixed smoke case (test.py:127,134)."""
    from post_ocr_corretion_spark.core.beam import correct_sentence

    out = correct_sentence("the dis0ric! is in the cit.", fixture_scorer, fixture_lexicon)
    assert out[0] == "the"
    assert len(out) == 6


def test_run_beam_fold_equals_reference(spark, docs_rows, fixture_scorer):
    """The single-expression Catalyst fold is byte-identical, per
    document, to the reference beam (core/beam.correct_sentence) over the
    same lexicon and scorer, on OCR-noised fixtures."""
    from pyspark.sql import functions as F

    from post_ocr_corretion_spark.core.beam import correct_sentence
    from post_ocr_corretion_spark.datagen.webpages import ocr_noise_text
    from post_ocr_corretion_spark.datagen.wordlist import COMMON_WORDS
    from post_ocr_corretion_spark.operators.candidates import candidate_batches
    from post_ocr_corretion_spark.operators.correction import (
        distinct_error_words,
        run_beam_fold,
        with_detection,
    )
    from post_ocr_corretion_spark.operators.lexicon import build_lexicon, deletion_neighborhood

    noisy_rows = [(i, ocr_noise_text(r["text"], i)) for i, r in enumerate(docs_rows[:40])]
    noisy = spark.createDataFrame(noisy_rows, "doc_id long, text string").withColumn(
        "extracted_text", F.col("text")
    )
    clean = spark.createDataFrame(
        [(i, r["text"]) for i, r in enumerate(docs_rows[:40])], "doc_id long, text string"
    )
    lex_df = build_lexicon(spark, clean, COMMON_WORDS)
    lexicon = frozenset(r.word for r in lex_df.collect())
    scorer_bc = spark.sparkContext.broadcast(fixture_scorer)
    detected = with_detection(noisy, scorer_bc)
    cand_agg = candidate_batches(
        distinct_error_words(detected), lex_df, deletion_neighborhood(lex_df), scorer_bc
    ).cache()
    cand_agg.count()
    # sanity: the fixture's error counts span several beam steps
    counts = [len(r.errors) for r in detected.select("errors").collect()]
    assert max(counts) > 4 and min(counts) >= 0
    fold = {
        r.doc_id: r.corrected_words
        for r in run_beam_fold(detected, cand_agg).select("doc_id", "corrected_words").collect()
    }
    reference = {i: correct_sentence(t, fixture_scorer, lexicon) for i, t in noisy_rows}
    assert fold == reference


def test_run_beam_fold_keeps_words_without_a_batch(spark, docs_rows, fixture_scorer):
    """An error whose key has no row in ``cand_agg`` reads a NULL batch
    from the broadcast map and leaves the beam as it is: with no batches
    every document keeps its words, and with some keys missing the
    documents whose errors all miss keep theirs while the others fold as
    with every batch. A missing map key reads NULL with ANSI on or off."""
    from pyspark.sql import functions as F

    from post_ocr_corretion_spark.datagen.webpages import ocr_noise_text
    from post_ocr_corretion_spark.datagen.wordlist import COMMON_WORDS
    from post_ocr_corretion_spark.operators.candidates import candidate_batches
    from post_ocr_corretion_spark.operators.correction import (
        distinct_error_words,
        run_beam_fold,
        with_detection,
    )
    from post_ocr_corretion_spark.operators.lexicon import build_lexicon, deletion_neighborhood

    ansi = spark.conf.get("spark.sql.ansi.enabled")
    try:
        for setting in ("true", "false"):
            spark.conf.set("spark.sql.ansi.enabled", setting)
            missing = F.element_at(F.create_map(F.lit("a"), F.lit(1)), F.lit("b"))
            assert spark.range(1).select(missing).first()[0] is None, setting
    finally:
        spark.conf.set("spark.sql.ansi.enabled", ansi)

    rows = [(i, ocr_noise_text(r["text"], i)) for i, r in enumerate(docs_rows[:12])]
    noisy = spark.createDataFrame(rows, "doc_id long, text string").withColumn("extracted_text", F.col("text"))
    lex_df = build_lexicon(spark, noisy, COMMON_WORDS)
    scorer_bc = spark.sparkContext.broadcast(fixture_scorer)
    detected = with_detection(noisy, scorer_bc).localCheckpoint(eager=True)
    cand_agg = candidate_batches(
        distinct_error_words(detected), lex_df, deletion_neighborhood(lex_df), scorer_bc
    ).localCheckpoint(eager=True)

    def fold(batches):
        out = run_beam_fold(detected, batches).select("doc_id", "words", "errors", "corrected_words")
        return {r.doc_id: r for r in out.collect()}

    full = fold(cand_agg)
    assert all(r.corrected_words == r.words for r in fold(cand_agg.filter(F.lit(False))).values())
    keys = {d: {e.key for e in r.errors} for d, r in full.items()}
    # drop the batches of one document that the full fold changes
    dropped = keys[next(d for d, r in full.items() if r.corrected_words != r.words)]
    partial = fold(cand_agg.filter(~F.col("err_word").isin(sorted(dropped))))
    kept = [d for d, k in keys.items() if k and k <= dropped]
    folded = [d for d, k in keys.items() if not k & dropped]
    assert kept and folded
    for d in kept:
        assert partial[d].corrected_words == partial[d].words, d
    for d in folded:
        assert partial[d].corrected_words == full[d].corrected_words, d


def test_render_and_extract_equals_extract_of_webpages(spark, docs_rows):
    """The fused render+extract stage is byte-identical to rendering the
    webpages table and extracting it, every column including html_bytes."""
    from post_ocr_corretion_spark.operators.extract import extract, render_and_extract
    from post_ocr_corretion_spark.sources.webpages import webpages

    docs = _docs_df(spark, docs_rows)
    fused_df = render_and_extract(docs)
    plain_df = extract(webpages(docs))
    assert fused_df.schema == plain_df.schema
    fused = {r.url: r for r in fused_df.collect()}
    plain = {r.url: r for r in plain_df.collect()}
    assert len(fused) == len(docs_rows)
    assert fused == plain


@pytest.mark.parametrize("roulette_seed", [None, 7])
def test_run_beam_udf_equals_fused_stage(spark, docs_rows, fixture_lexicon, fixture_scorer, roulette_seed):
    """render_and_extract + run_beam_udf (enabled column) gives the same
    rows and corrected_words as the flagship's fused stage."""
    from pyspark.sql import functions as F

    from post_ocr_corretion_spark.operators.correction import render_extract_correct, run_beam_udf
    from post_ocr_corretion_spark.operators.extract import render_and_extract

    docs = _docs_df(spark, docs_rows)
    scorer_bc = spark.sparkContext.broadcast(fixture_scorer)
    lex_bc = spark.sparkContext.broadcast(fixture_lexicon)
    enabled = render_and_extract(docs).withColumn(
        "enabled", (F.col("lang") == "en") & (F.col("kind") != "pdf_stub")
    )
    composed_df = run_beam_udf(enabled, scorer_bc, lex_bc, enabled_col="enabled", roulette_seed=roulette_seed)
    fused_df = render_extract_correct(docs, scorer_bc, lex_bc, roulette_seed=roulette_seed)
    cols = fused_df.columns
    composed = {r.url: r for r in composed_df.select(cols).collect()}
    fused = {r.url: r for r in fused_df.collect()}
    assert len(fused) == len(docs_rows)
    assert composed == fused
    # the pass-through branch is exercised too
    assert any(r.lang != "en" or r.kind == "pdf_stub" for r in fused.values())


def test_flagship_auto_bloom_switch(spark, docs_rows, monkeypatch):
    """VERDICT r2 item 3 'done' gate: the flagship with the Bloom
    auto-switch forced on (threshold 0) completes and — at this corpus
    size with AUTO_BLOOM_FPP=1e-6 — stays byte-identical to the exact
    path (md5-deterministic, so this is a stable assertion, not a flaky
    probabilistic one). On corpora where a false positive DOES land,
    divergence is the documented AUTO_BLOOM_FPP trade."""
    from post_ocr_corretion_spark.operators import scorer_fit
    from post_ocr_corretion_spark.pipeline import run_pipeline_from_docs

    docs = _docs_df(spark, docs_rows)
    cols = ["url", "extracted_text", "spans", "corrected_text"]
    exact = {r.url: r for r in run_pipeline_from_docs(spark, docs).select(cols).collect()}
    monkeypatch.setattr(scorer_fit, "AUTO_BLOOM_VOCAB_THRESHOLD", 0)
    bloom = {r.url: r for r in run_pipeline_from_docs(spark, docs).select(cols).collect()}
    assert bloom.keys() == exact.keys()
    mismatches = [u for u in exact if bloom[u] != exact[u]]
    assert mismatches == [], mismatches


def test_failed_scorer_build_leaves_no_overlap_job(spark, docs_rows, monkeypatch, tmp_path):
    """A lexicon build that raises while the overlap thread's checkpoint
    job runs must not orphan that job: it is cancelled before the
    exception reaches the caller."""
    import time

    from post_ocr_corretion_spark import pipeline

    def slow(batches):
        for pdf in batches:
            time.sleep(30)
            yield pdf

    tracker = spark.sparkContext.statusTracker()

    def failing_build_lexicon(*a, **k):
        deadline = time.time() + 20
        while not tracker.getActiveJobsIds() and time.time() < deadline:
            time.sleep(0.05)
        assert tracker.getActiveJobsIds(), "the checkpoint job never started"
        raise RuntimeError("lexicon build failed")

    monkeypatch.setattr(pipeline, "build_lexicon", failing_build_lexicon)
    # over a file scan the frame keeps a known size, so the spread fires
    docs = _docs_scan(spark, docs_rows, tmp_path).mapInPandas(slow, "doc_id long, text string, lang string")
    with pytest.raises(RuntimeError, match="lexicon build failed"):
        pipeline.run_pipeline_from_docs(spark, docs)
    # the job-end event reaches the status tracker through the listener
    # bus, a moment after the cancelled job has ended
    deadline = time.time() + 3
    while tracker.getActiveJobsIds() and time.time() < deadline:
        time.sleep(0.05)
    assert tracker.getActiveJobsIds() == []


def test_lexicon_from_base_table_is_byte_identical_under_replication(spark, docs_rows):
    """run_pipeline_from_docs(lexicon_docs=base) on a replicated input is
    byte-identical to fitting from the replicated table itself —
    replication adds no vocabulary, so the shipped job's --replicate
    fast path (fit from base) changes nothing but the fit cost."""
    from pyspark.sql import functions as F

    from post_ocr_corretion_spark.pipeline import run_pipeline_from_docs

    from post_ocr_corretion_spark.sources.webpages import replicate_docs

    base = _docs_df(spark, docs_rows[:40])
    replicated = replicate_docs(base, 3)
    cols = ["url", "extracted_text", "corrected_text"]
    slow = {r.url: r for r in run_pipeline_from_docs(spark, replicated).select(cols).collect()}
    fast = {
        r.url: r
        for r in run_pipeline_from_docs(spark, replicated, lexicon_docs=base)
        .select(cols)
        .collect()
    }
    assert slow.keys() == fast.keys() and len(slow) == 120
    assert all(slow[u] == fast[u] for u in slow)
