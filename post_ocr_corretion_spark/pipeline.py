"""End-to-end flagship pipeline: webpages → extract → detect → correct.

This is the reference's ``correct_sentences()`` lifecycle (main.py:28-35,
SURVEY.md §3.1) re-expressed over the north-rule web table:

  documents (ground truth) ──► doc spread (hash / range on the doc hash)
        │                                   │
        │ lexicon (A2/U1/A3)                ▼
        ▼                     udf (default): ONE mapInPandas stage —
  scorer + lexicon broadcast ──►  render → extract → beam per document
        │                                   │
        │ catalyst: deletion neighborhood,  │  catalyst: extract → detection
        │ candidate batches (equi-joins,    │  (one pandas-UDF pass) → beam
        └─► distinct error words only) ───► │  fold (one Catalyst expression)
                                            ▼
                     (url, extracted_text, spans, corrected_text, …)

Non-``en`` pages and stubbed real-PDF pages pass through deterministically
(corrected = extracted words; FIXTURES.md F2).

Scale notes (SURVEY.md §4): the scorer is built by
operators/scorer_fit.build_scorer_broadcast. The lexicon rides a parquet
sidecar and each Python worker fits the bigram model from it once — the
driver never materializes the word list. Above AUTO_BLOOM_VOCAB_THRESHOLD
words the bigram counts come from a Spark aggregation (bit-identical to
the local fit) and membership is a Bloom filter (documented fpp trade).
Candidate generation runs on DISTINCT error words (vocabulary-bounded),
never per occurrence.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .datagen.wordlist import COMMON_WORDS
from .functions.text import join_words_quirk, join_words_readable
from .operators.candidates import candidate_batches
from .operators.correction import (
    distinct_error_words,
    render_extract_correct,
    run_beam_fold,
    with_detection,
)
from .operators.extract import extract
from .operators.lexicon import build_lexicon, deletion_neighborhood
from .operators.scorer_fit import build_scorer_broadcast
from .sources.webpages import read_documents, webpages


def run_pipeline(
    spark: SparkSession,
    sf_dir: str,
    mode: str = "udf",
    max_distance: int = 1,
    roulette_seed: int | None = None,
    spread: str = "hash",
    sidecar_path: str | None = None,
) -> DataFrame:
    """``mode='udf'`` (default): single-pass Arrow-batched beam — the
    throughput path, zero shuffles after extraction.  ``mode='catalyst'``:
    the no-Python beam fold over SymSpell equi-join candidate batches.
    Both are byte-identical to the oracle (tests assert it)."""
    return run_pipeline_from_docs(
        spark, read_documents(spark, sf_dir), mode,
        max_distance=max_distance, roulette_seed=roulette_seed, spread=spread,
        sidecar_path=sidecar_path,
    )


def _spread_docs(docs: DataFrame, spread: str, par: int) -> DataFrame:
    """The doc-spreading shuffle feeding the per-doc Python stage (hash
    default; ``range`` = the north rule's repartitionByRange on the doc
    hash). Factored out so the plan-audit tests can pin its
    partitioning directly — in the pipeline the shuffle is materialized
    by the overlap thread (localCheckpoint), which replaces it with a
    Scan ExistingRDD in the final plan."""
    if spread == "range":
        return docs.repartitionByRange(par, F.xxhash64("doc_id"))
    return docs.repartition(par, F.xxhash64("doc_id"))


class _BackgroundCheckpoint:
    """``frame.localCheckpoint(eager=True)`` on a driver thread. The thread
    is an InheritableThread, so its job carries the caller's job group and
    tags, plus one tag of its own that ``cancel`` targets."""

    def __init__(self, spark: SparkSession, frame: DataFrame):
        import uuid

        from pyspark import InheritableThread

        self._sc = spark.sparkContext
        self._tag = f"overlap_checkpoint_{uuid.uuid4().hex}"
        self._value = self._error = None
        self._thread = InheritableThread(target=lambda: self._run(frame), session=spark, daemon=True)
        self._thread.start()

    def _run(self, frame: DataFrame) -> None:
        self._sc.addJobTag(self._tag)
        try:
            self._value = frame.localCheckpoint(eager=True)
        except BaseException as e:  # re-raised on the caller's thread by result()
            self._error = e

    def result(self) -> DataFrame:
        self._thread.join()
        if self._error is not None:
            raise self._error
        return self._value

    def cancel(self) -> None:
        """Cancel the checkpoint job and wait for the thread. Repeats until
        the thread ends: the first cancel can land before the job exists."""
        while self._thread.is_alive():
            self._sc.cancelJobsWithTag(self._tag)
            self._thread.join(0.1)


def run_pipeline_from_docs(
    spark: SparkSession,
    docs: DataFrame,
    mode: str = "udf",
    max_distance: int = 1,
    roulette_seed: int | None = None,
    spread: str = "hash",
    sidecar_path: str | None = None,
    lexicon_docs: DataFrame | None = None,
) -> DataFrame:
    """``lexicon_docs``: optional smaller table to build the lexicon/scorer
    from when ``docs`` is a deterministic replication of it (--replicate
    benchmarking) — replication adds no vocabulary and build_lexicon is a
    distinct, so the lexicon (and therefore every corrected byte) is
    IDENTICAL while the fit reads 1/N of the rows (tested)."""
    from .session import ensure_package_shipped

    if roulette_seed is not None and mode != "udf":
        raise ValueError("the seeded roulette W2 mode (correctionSentences.py:302-330) is UDF-mode only")

    ensure_package_shipped(spark)
    # A single parquet file arrives as one input split; spread the per-doc
    # work (render/extract/correct are all embarrassingly parallel) across
    # every core up front. Hashing the key also breaks the skewed-host
    # clustering of the url space (SURVEY.md §4.1).  ``spread='range'``
    # is the north rule's repartitionByRange-on-url-hash: contiguous hash
    # ranges per partition, which a columnar sink can exploit for
    # min/max pruning on the key — same uniform balance, one extra
    # range-boundary sampling pass.
    #
    # r9: the repartition feeds ONLY the per-doc Python stage. The
    # lexicon/scorer job reads the RAW docs frame instead: its token
    # distinct gets map-side partial aggregation inside the scan tasks,
    # so only per-task vocabularies ever cross an exchange — routing it
    # through the repartition shuffled the ENTIRE corpus text first, an
    # extra full-corpus exchange at any scale (guide §2.4 "remove
    # shuffles outright"; measured 4× on the lexicon job at sf0.1, ~1.2×
    # at the 10× replica, where the scan is a single split — at real
    # multi-split corpora the saving is the whole text shuffle). The
    # lexicon is a distinct ∪ base — set-identical either way.
    lexicon_input = lexicon_docs if lexicon_docs is not None else docs
    par = max(spark.sparkContext.defaultParallelism * 2, 8)
    docs = _spread_docs(docs, spread, par)

    # r9: OVERLAP the doc-spreading shuffle with the lexicon/scorer job
    # (guide §2.6 — Spark happily runs concurrent jobs; actions are only
    # sequential because the driver calls them sequentially). The map
    # stage's input shuffle does not depend on the sidecar, so a driver
    # thread materializes it (localCheckpoint) while the main thread
    # builds the lexicon and writes the sidecar; the correction stage
    # then reads the already-shuffled partitions. Same rows, same
    # partitioning (the checkpoint pins the exact repartition output the
    # stage would otherwise compute inline) → byte-identical output.
    # UDF mode only: the catalyst path materializes `extracted` itself.
    # If the lexicon or scorer build raises, the checkpoint job is
    # cancelled before the exception leaves this call.
    overlap = _BackgroundCheckpoint(spark, docs) if mode == "udf" else None
    try:
        lexicon_df = build_lexicon(
            spark, lexicon_input, COMMON_WORDS, bucketed=(mode == "catalyst"),
        )
        if mode == "catalyst":
            # only this path traverses the lexicon frame more than once
            # (deletion neighborhood / candidate joins). The udf path
            # consumes it exactly once — the sidecar write — so caching it
            # there only added a memory-store materialization to the timed
            # run (guide §5: cache only on reuse). r9 optimization;
            # results unaffected.
            lexicon_df = lexicon_df.cache()
        scorer_bc, lex_words = build_scorer_broadcast(spark, lexicon_df, sidecar_path=sidecar_path)
    except BaseException:
        if overlap is not None:
            overlap.cancel()
        raise

    if mode == "udf":
        # throughput path (r9): render+extract+correct fused into ONE
        # Arrow-batched stage, so no intermediate column (extracted_text,
        # the spans struct array, html_bytes, …) crosses the JVM↔Python
        # boundary twice (guide §4.1). Byte-identical to
        # render_and_extract + run_beam_udf — the parity suite asserts it.
        lexicon_bc = spark.sparkContext.broadcast(lex_words)
        corrected = render_extract_correct(
            overlap.result(), scorer_bc, lexicon_bc, max_distance=max_distance, roulette_seed=roulette_seed
        )
    else:
        enabled = (F.col("lang") == "en") & (F.col("kind") != "pdf_stub")
        extracted = extract(webpages(docs)).localCheckpoint(eager=True)  # materialize once for both branches
        correctable = extracted.filter(enabled)
        from .functions.text import sentence_words

        passthrough = extracted.filter(~enabled).withColumn(
            "corrected_words", sentence_words(F.col("extracted_text"))
        )
        lex_del = deletion_neighborhood(lexicon_df)
        detected = with_detection(correctable, scorer_bc)
        err_words = distinct_error_words(detected)
        cand_agg = candidate_batches(err_words, lexicon_df, lex_del, scorer_bc, max_distance=max_distance).cache()
        cand_agg.count()  # materialize before the fold
        # the beam as one Catalyst expression: one broadcast join, one
        # shuffle, no driver loop (operators/correction.run_beam_fold)
        beamed = run_beam_fold(detected, cand_agg)
        corrected = beamed.drop(
            "words", "probs", "psum", "n", "errors"
        ).unionByName(passthrough)
    return corrected.select(
        "url",
        "warc_ts",
        "lang",
        "doc_id",
        "kind",
        "extracted_text",
        "spans",
        join_words_quirk(F.col("corrected_words")).alias("corrected_text"),
        join_words_readable(F.col("corrected_words")).alias("corrected_readable"),
    )
