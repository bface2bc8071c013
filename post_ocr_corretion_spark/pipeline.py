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

Scale notes (SURVEY.md §4): by default (``fit='distributed'``) the bigram
counts are aggregated distributively (groupBy over char pairs, bit-identical
to the local fit) and membership rides a parquet sidecar loaded lazily per
Python worker — the driver never materializes the word list. ``fit='driver'``
keeps the round-1 collect() path for equality testing; ``use_bloom`` in
operators/scorer_fit.py is the further 10^9-vocabulary option (documented
fpp trade). Candidate generation runs on DISTINCT error words
(vocabulary-bounded), never per occurrence.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .core.scoring import NGramScorer
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
from .sources.webpages import read_documents, webpages


# per-worker frozenset membership duplicates the vocabulary per Python
# worker (32 copies/node at local[32]); above this vocabulary count the
# default fit auto-switches to spark-agg bigram counts + Bloom membership
# so per-worker memory is O(bloom bits), not O(|V|) (VERDICT r2 item 3)
AUTO_BLOOM_VOCAB_THRESHOLD = 5_000_000
# the auto path trades exactness for memory: a never-in-lexicon word can
# test positive at this rate (per probe), adding a bogus candidate or
# masking a detection — md5-deterministic, so a given corpus always
# diverges (or not) the same way. 1e-6 keeps 10^9-word filters ~3.5 GB.
AUTO_BLOOM_FPP = 1e-6


def build_scorer_broadcast(
    spark: SparkSession,
    lexicon_df: DataFrame,
    fit: str = "distributed",
    sidecar_path: str | None = None,
    bloom_threshold: int | None = None,
):
    """Broadcast one scorer per executor plus the set-like lexicon.

    ``fit='distributed'`` (default): the lexicon is written distributively
    to a parquet sidecar; each Python worker lazily builds the scorer from
    it ONCE (SidecarScorer — integer-count fits are order-independent, so
    every worker derives identical bits) and membership is the exact
    SidecarLexicon. The driver never materializes the word list, so a
    10^9-word vocabulary cannot OOM it.  Above ``bloom_threshold`` words
    (default AUTO_BLOOM_VOCAB_THRESHOLD) it auto-switches to
    Spark-aggregated counts + Bloom membership (documented
    AUTO_BLOOM_FPP trade) so per-WORKER memory stays bounded too.  The
    threshold check reads the sidecar's parquet footers — no count()
    job on the default path (VERDICT r3); above the threshold the
    already-written sidecar simply becomes the counting pass (one
    distributed pass either way on that rare branch).
    ``fit='spark-agg'``: bigram counts via a Spark aggregation instead of
    per-worker fits (the 10^8+ vocabulary path).  ``fit='driver'``: the
    round-1 collect() path, kept for the equality tests.

    ``sidecar_path``: where the lexicon sidecar lands. Defaults to
    ``spark.post_ocr.sidecarDir`` conf, else a tempdir on local masters;
    on a NON-local master with neither, sidecar fits fall back to the
    driver fit (exact, same bytes) rather than write a path executors
    cannot read (ADVICE r2) — unless the vocabulary exceeds the Bloom
    threshold, in which case the Bloom scorer takes over (it ships no
    files: the driver assembles the bitmap from executor-built block
    rows, m/8 bytes total — ADVICE r4)."""
    if fit == "driver":
        words = frozenset(r.word for r in lexicon_df.select("word").collect())
        return spark.sparkContext.broadcast(NGramScorer(words)), words

    from .operators.scorer_fit import resolve_sidecar_path, scorer_from_spark

    path = sidecar_path or resolve_sidecar_path(spark)
    if path is None:
        # the driver fit is only a safe fallback for vocabularies the
        # driver can hold; above the Bloom threshold fall through to the
        # Bloom scorer instead (ADVICE r4: it needs no shared files — the
        # bitmap is assembled from executor-side block rows whose total
        # size is the filter's own m/8 bytes, which the driver must hold
        # to broadcast anyway)
        n = lexicon_df.count()
        thr = AUTO_BLOOM_VOCAB_THRESHOLD if bloom_threshold is None else bloom_threshold
        if n > thr:
            scorer = scorer_from_spark(
                spark, lexicon_df, use_bloom=True, fpp=AUTO_BLOOM_FPP, n_words=n
            )
            return spark.sparkContext.broadcast(scorer), scorer.lexicon
        import warnings

        warnings.warn(
            "no shared sidecar location on a non-local master "
            "(set spark.post_ocr.sidecarDir or --sidecar-path); "
            "falling back to the driver-side fit",
            stacklevel=2,
        )
        words = frozenset(r.word for r in lexicon_df.select("word").collect())
        return spark.sparkContext.broadcast(NGramScorer(words)), words

    if fit == "spark-agg":
        # Spark-aggregated bigram counts (bit-identical to the local fit,
        # tested) + sidecar membership — the 10^8+-vocabulary path; costs
        # two extra Spark jobs per run, so the default below amortizes the
        # fit per worker instead (same zero-driver-materialization
        # property, same bits).
        from .operators.scorer_fit import bigram_counts, counts_matrix, write_lexicon_sidecar

        counts = counts_matrix(bigram_counts(lexicon_df))  # bounded by V², a model artifact
        side = write_lexicon_sidecar(lexicon_df, path)
        return spark.sparkContext.broadcast(NGramScorer(frozenset(), membership=side, counts=counts)), side
    from .operators.scorer_fit import SidecarScorer, write_lexicon_sidecar

    side = write_lexicon_sidecar(lexicon_df, path)
    # auto-Bloom threshold check rides the sidecar's parquet footers —
    # zero extra Spark jobs on the default path (VERDICT r3: the old
    # unconditional count() scheduled one job per pipeline run)
    thr = AUTO_BLOOM_VOCAB_THRESHOLD if bloom_threshold is None else bloom_threshold
    n = side.row_count()
    if n > thr:
        # the word sidecar doubled as the counting pass; its footers also
        # size the filter (no count() job). The Bloom bitmap rides its own
        # sidecar (a fresh resolve — never this dir, which mode-overwrite
        # would clobber), and the now-unused word parts are removed so the
        # switch leaves no orphans (ADVICE r4).
        scorer = scorer_from_spark(
            spark, lexicon_df, use_bloom=True, fpp=AUTO_BLOOM_FPP, n_words=n
        )
        import shutil

        shutil.rmtree(side.path, ignore_errors=True)  # shared-FS contract, like the sidecars
        # scorer.lexicon IS the BloomFilter (a SidecarBloom proxy here):
        # membership-only, so the UDF beam probes deletion variants
        # instead of building the per-worker SymSpell index
        # (operators/correction._worker_fns)
        return spark.sparkContext.broadcast(scorer), scorer.lexicon
    return spark.sparkContext.broadcast(SidecarScorer(side)), side


def run_pipeline(
    spark: SparkSession,
    sf_dir: str,
    mode: str = "udf",
    fit: str = "distributed",
    max_distance: int = 1,
    roulette_seed: int | None = None,
    spread: str = "hash",
    sidecar_path: str | None = None,
    bloom_threshold: int | None = None,
) -> DataFrame:
    """``mode='udf'`` (default): single-pass Arrow-batched beam — the
    throughput path, zero shuffles after extraction.  ``mode='catalyst'``:
    the no-Python beam fold over SymSpell equi-join candidate batches.
    Both are byte-identical to the oracle (tests assert it)."""
    return run_pipeline_from_docs(
        spark, read_documents(spark, sf_dir), mode, fit=fit,
        max_distance=max_distance, roulette_seed=roulette_seed, spread=spread,
        sidecar_path=sidecar_path, bloom_threshold=bloom_threshold,
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


def run_pipeline_from_docs(
    spark: SparkSession,
    docs: DataFrame,
    mode: str = "udf",
    fit: str = "distributed",
    max_distance: int = 1,
    roulette_seed: int | None = None,
    spread: str = "hash",
    sidecar_path: str | None = None,
    bloom_threshold: int | None = None,
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
    docs_fut = None
    if mode == "udf":
        from concurrent.futures import ThreadPoolExecutor

        _pool = ThreadPoolExecutor(max_workers=1)
        docs_fut = _pool.submit(lambda d=docs: d.localCheckpoint(eager=True))
        _pool.shutdown(wait=False)

    lexicon_df = build_lexicon(
        spark, lexicon_input, COMMON_WORDS, bucketed=(mode == "catalyst"),
    )
    if mode == "catalyst" or fit == "spark-agg":
        # only these paths traverse the lexicon frame more than once
        # (deletion neighborhood / candidate joins; bigram counts +
        # sidecar). The default udf path consumes it exactly once — the
        # sidecar write — so caching it there only added a memory-store
        # materialization to the timed run (guide §5: cache only on
        # reuse). r9 optimization; results unaffected.
        lexicon_df = lexicon_df.cache()
    scorer_bc, lex_words = build_scorer_broadcast(
        spark, lexicon_df, fit=fit, sidecar_path=sidecar_path, bloom_threshold=bloom_threshold
    )

    if mode == "udf":
        # throughput path (r9): render+extract+correct fused into ONE
        # Arrow-batched stage, so no intermediate column (extracted_text,
        # the spans struct array, html_bytes, …) crosses the JVM↔Python
        # boundary twice (guide §4.1). Byte-identical to
        # render_and_extract + run_beam_udf — the parity suite asserts it.
        lexicon_bc = spark.sparkContext.broadcast(lex_words)
        corrected = render_extract_correct(
            docs_fut.result(), scorer_bc, lexicon_bc, max_distance=max_distance, roulette_seed=roulette_seed
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
