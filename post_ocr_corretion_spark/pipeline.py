"""End-to-end flagship pipeline: webpages → extract → detect → correct.

This is the reference's ``correct_sentences()`` lifecycle (main.py:28-35,
SURVEY.md §3.1) re-expressed over the north-rule web table:

  documents (ground truth) ──► doc spread (only when under-split:
        │                         range on the doc hash)
        │                                   │
        │ lexicon (A2/U1/A3)                ▼
        ▼                     udf (default): ONE mapInPandas stage —
  scorer + lexicon broadcast ──►  render → extract → beam per document
        │                                   │
        │ catalyst: deletion neighborhood,  │  catalyst: extract → detection
        │ candidate batches (equi-joins,    │  (one pandas-UDF pass, the one
        │ distinct error words only, one    │  checkpoint) → beam fold (one
        └─► broadcast map word → batch) ──► │  Catalyst expression)
                                            ▼
                     (url, extracted_text, spans, corrected_text, …)

Non-``en`` pages and stubbed real-PDF pages pass through deterministically
(corrected = extracted words; FIXTURES.md F2).

Scale notes (SURVEY.md §4): the scorer is built by
operators/scorer_fit.build_scorer_broadcast. The lexicon rides a parquet
sidecar; the scorer and lexicon broadcasts carry handles to it that each
Python worker unpickles to the NGramScorer and its word set, fitted once
in one vectorized numpy pass — the driver never materializes the word
list, and the beam calls the model directly. The
worker's SymSpell deletion index is three sorted numpy arrays keyed by
deletion-key hash (16 bytes per (word, position)), also built vectorized.
Above AUTO_BLOOM_VOCAB_THRESHOLD
words the bigram counts come from a Spark aggregation (bit-identical to
the local fit) and membership is a Bloom filter (documented fpp trade).
Candidate generation runs on DISTINCT error words (vocabulary-bounded),
never per occurrence. The shipped word list enters the lexicon job as an
Arrow local relation (session.local_frame), so a run starts Python
workers for its one fused stage only.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .datagen.wordlist import COMMON_WORDS
from .functions.text import join_words_quirk, join_words_readable, sentence_words
from .operators.candidates import candidate_batches
from .operators.correction import (
    distinct_error_words,
    render_extract_correct,
    run_beam_fold,
    with_detection,
)
from .operators.extract import render_and_extract
from .operators.lexicon import build_lexicon, deletion_neighborhood
from .operators.scorer_fit import build_scorer_broadcast
from .plans.parallelism import CPU_TASK_BYTES, spread_partitions
from .sources.webpages import read_documents


def run_pipeline(
    spark: SparkSession,
    sf_dir: str,
    mode: str = "udf",
    max_distance: int = 1,
    roulette_seed: int | None = None,
    sidecar_path: str | None = None,
) -> DataFrame:
    """``mode='udf'`` (default): single-pass Arrow-batched beam — the
    throughput path, zero shuffles after extraction.  ``mode='catalyst'``:
    the no-Python beam fold over SymSpell equi-join candidate batches.
    Both are byte-identical to the oracle (tests assert it)."""
    return run_pipeline_from_docs(
        spark, read_documents(spark, sf_dir), mode,
        max_distance=max_distance, roulette_seed=roulette_seed, sidecar_path=sidecar_path,
    )


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
    if max_distance not in (1, 2):
        raise ValueError(f"max_distance must be 1 or 2, got {max_distance}")

    ensure_package_shipped(spark)
    # The lexicon job reads the raw scan: its token distinct aggregates
    # map-side inside the scan tasks, so only per-task vocabularies cross
    # an exchange, never the corpus text. The lexicon is a distinct ∪ base,
    # set-identical either way.
    lexicon_input = lexicon_docs if lexicon_docs is not None else docs
    # The per-doc stage gets the one spread decision (plans/parallelism),
    # range-partitioned on the doc hash as the north rule asks
    # (BASELINE.json), which also breaks the skewed-host clustering of the
    # url space (SURVEY.md §4.1). When the spread fires in udf mode, a
    # driver thread materializes its shuffle while this thread builds the
    # lexicon and the scorer, which hides the shuffle behind that job; the
    # udf stage then reads the checkpointed partitions (catalyst mode
    # checkpoints its detected rows itself). A multi-split or
    # unknown-size input is used as given: nothing is shuffled or pinned.
    # If the lexicon or scorer build raises, the checkpoint job is
    # cancelled before the exception leaves this call.
    n = spread_partitions(docs, CPU_TASK_BYTES)
    overlap = None
    if n is not None:
        docs = docs.repartitionByRange(n, F.xxhash64("doc_id"))
        if mode == "udf":
            overlap = _BackgroundCheckpoint(spark, docs)
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
        if overlap is not None:
            docs = overlap.result()
        corrected = render_extract_correct(
            docs, scorer_bc, lexicon_bc, max_distance=max_distance, roulette_seed=roulette_seed
        )
    else:
        # detection runs once over every extracted row, and that frame is
        # the catalyst engine's one materialization: the error words, the
        # candidate batches and the fold all read it. A page that is not
        # corrected is detected over empty text, so it has no words and
        # no errors, nothing is scored for it, and it takes its split
        # words at the end.
        enabled = (F.col("lang") == "en") & (F.col("kind") != "pdf_stub")
        detected = with_detection(
            render_and_extract(docs).withColumn(
                "detect_text", F.when(enabled, F.col("extracted_text")).otherwise("")
            ),
            scorer_bc,
            text_col="detect_text",
        ).localCheckpoint(eager=True)
        cand_agg = candidate_batches(
            distinct_error_words(detected), lexicon_df, deletion_neighborhood(lexicon_df), scorer_bc,
            max_distance=max_distance,
        )
        corrected = run_beam_fold(detected, cand_agg).withColumn(
            "corrected_words",
            F.when(enabled, F.col("corrected_words")).otherwise(sentence_words(F.col("extracted_text"))),
        )
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
