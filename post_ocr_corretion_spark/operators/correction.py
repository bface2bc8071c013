"""Distributed beam-search correction (D9).

Reference lifecycle: per document, per flagged error, expand the beam with
candidate substitutions, score, prune (correctionSentences.py:253-294).
Two Spark engines run that one loop:

- the Arrow-batched path (``run_beam_udf``, and ``render_extract_correct``,
  the flagship's fused stage): one mapInPandas stage runs
  core/beam.correct_sentence per document — the very code the parity
  oracle runs — through ONE worker-side corrector whose probability and
  candidate memo (plus the SymSpell deletion index) persists across tasks;
- the no-Python path (``run_beam_fold``): word probabilities come from one
  Arrow-batched pandas UDF (``with_detection``); because the pinned scorer
  is context-free per word, a substitution updates the sentence mean
  INCREMENTALLY, so the whole beam loop is one Catalyst left fold over
  nested arrays per document (array_sort/transform/aggregate), fed by the
  candidate-batch table (operators/candidates.candidate_batches) through
  one broadcast equi-join.

Float parity with core/beam.py is bit-exact: identical expression shapes,
identical left folds (see the FLOAT-PARITY CONTRACT there).
"""
from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.text import sentence_words
from ..functions.udfs import make_word_probs_array_udf
from .extract import EXTRACT_SCHEMA, columnar, render_extract_row
from .scorer_fit import CurrentFit

BEAM_WIDTH = 3
CORRECTED_WORDS = T.StructField("corrected_words", T.ArrayType(T.StringType()), True)


def _cmp(score_a: Column, text_a: Column, score_b: Column, text_b: Column) -> Column:
    """Comparator: score desc, text asc (the pinned tie-break)."""
    return (
        F.when(score_a > score_b, F.lit(-1))
        .when(score_a < score_b, F.lit(1))
        .when(text_a < text_b, F.lit(-1))
        .when(text_a > text_b, F.lit(1))
        .otherwise(F.lit(0))
    )


def with_detection(df: DataFrame, scorer_bc, text_col: str = "extracted_text") -> DataFrame:
    """Adds words, probs, psum, n, errors (array<struct<pos,word,key>>)."""
    word_probs = make_word_probs_array_udf(scorer_bc)
    df = (
        df.withColumn("words", sentence_words(F.col(text_col)))
        .withColumn("n", F.size("words"))
        .withColumn("probs", word_probs(F.col("words")))
        .withColumn("psum", F.aggregate("probs", F.lit(0.0), lambda acc, p: acc + p))
    )
    idx = F.sequence(F.lit(0), F.col("n") - 1)
    err = F.filter(
        F.transform(
            idx,
            lambda i: F.struct(
                i.cast("int").alias("pos"),
                F.element_at(F.col("words"), i + 1).alias("word"),
                F.lower(F.element_at(F.col("words"), i + 1)).alias("key"),
                F.element_at(F.col("probs"), i + 1).alias("p"),
            ),
        ),
        lambda x: x["p"] < 0.5,
    )
    return df.withColumn(
        "errors",
        F.when(F.col("n") > 0, F.transform(err, lambda x: x.dropFields("p"))).otherwise(
            F.array().cast("array<struct<pos:int,word:string,key:string>>")
        ),
    )


def distinct_error_words(detected: DataFrame) -> DataFrame:
    return detected.select(F.explode("errors").alias("e")).select(
        F.col("e.key").alias("err_word")
    ).distinct()


_ECANDS_TYPE = (
    "array<struct<pos:int,cands:array<struct<word:string,score:double,p:double>>,w_total:double>>"
)


def run_beam_fold(
    detected: DataFrame,
    cand_agg: DataFrame,
    beam_width: int = BEAM_WIDTH,
) -> DataFrame:
    """The ENTIRE beam loop as ONE Catalyst expression — no driver loop.

    The candidate batches for every error of a document are attached ONCE
    (explode → one broadcast equi-join → collect_list sorted by
    position), and the loop becomes ``F.aggregate(ecands, initial_beam,
    step)`` — a left fold evaluated at ROW level, so each document runs
    exactly its own number of beam steps, with a single shuffle (the
    per-doc collect) and a single plan.  The step mirrors the loop body
    of core/beam.correct_sentence (same ops, same left folds), so floats
    are bit-identical — tested per document against that reference."""
    state = detected.withColumn("_rid", F.monotonically_increasing_id()).localCheckpoint(
        eager=True
    )  # _rid is materialized INTO the checkpoint → stable across the two scans below
    e = state.select("_rid", F.explode("errors").alias("e"))
    joined = e.join(
        F.broadcast(cand_agg.withColumnRenamed("err_word", "cand_key")),
        F.col("e.key") == F.col("cand_key"),
        "left",
    )
    per_doc = joined.groupBy("_rid").agg(
        F.sort_array(
            F.collect_list(
                F.struct(
                    F.col("e.pos").alias("pos"),
                    F.col("cands").alias("cands"),
                    F.col("w_total").alias("w_total"),
                )
            )
        ).alias("ecands")
    )
    state = state.join(per_doc, "_rid", "left")

    n = F.col("n").cast("double")

    def beam_score(b):
        return b["psum"] / n

    def beam_text(b):
        return F.concat_ws(" ", b["words"])

    def step(beams, ec):
        pos = ec["pos"]
        cands = ec["cands"]
        w_total = ec["w_total"]
        pruned = F.slice(
            F.array_sort(
                beams,
                lambda a, b: _cmp(beam_score(a), beam_text(a), beam_score(b), beam_text(b)),
            ),
            1,
            beam_width,
        )
        # within one candidate batch every sentence shares prefix+suffix,
        # so full-text tie-break order == comparing cand_word + joiner
        # (see core/beam.py) — entries are materialized only for the
        # beam_width survivors, keeping the step expression small
        sep = F.when(pos < F.col("n") - 1, F.lit(" ")).otherwise(F.lit(""))

        def expand(b):
            p_old = F.element_at(b["probs"], pos + 1)
            with_psum = F.transform(
                cands,
                lambda c: F.struct(
                    c["word"].alias("word"),
                    c["score"].alias("score"),
                    c["p"].alias("p"),
                    (b["psum"] - p_old + c["p"]).alias("psum2"),
                ),
            )
            s_total = F.aggregate(with_psum, F.lit(0.0), lambda acc, x: acc + x["psum2"] / n)
            scored = F.transform(
                with_psum,
                lambda x: F.struct(
                    (x["score"] / w_total + (x["psum2"] / n) / s_total).alias("total"),
                    F.concat(x["word"], sep).alias("tie"),
                    x["word"].alias("word"),
                    x["p"].alias("p"),
                    x["psum2"].alias("psum2"),
                ),
            )
            top = F.slice(
                F.array_sort(
                    scored,
                    lambda a, b2: _cmp(a["total"], a["tie"], b2["total"], b2["tie"]),
                ),
                1,
                beam_width,
            )
            return F.transform(
                top,
                lambda t: F.struct(
                    F.concat(
                        F.slice(b["words"], 1, pos),
                        F.array(t["word"]),
                        F.slice(b["words"], pos + 2, F.col("n") - pos - 1),
                    ).alias("words"),
                    F.concat(
                        F.slice(b["probs"], 1, pos),
                        F.array(t["p"]),
                        F.slice(b["probs"], pos + 2, F.col("n") - pos - 1),
                    ).alias("probs"),
                    t["psum2"].alias("psum"),
                ),
            )

        return F.when(cands.isNull(), beams).otherwise(F.flatten(F.transform(pruned, expand)))

    init = F.array(F.struct(F.col("words"), F.col("probs"), F.col("psum")))
    final = F.aggregate(F.coalesce(F.col("ecands"), F.array().cast(_ECANDS_TYPE)), init, step)
    best = F.element_at(
        F.array_sort(
            final,
            lambda a, b: _cmp(beam_score(a), beam_text(a), beam_score(b), beam_text(b)),
        ),
        1,
    )
    return state.withColumn("corrected_words", best["words"]).drop("ecands", "_rid")


_WORKER_STATE = CurrentFit()


def _worker_fns(scorer, lexicon, max_distance: int):
    """Executor-local memoization that PERSISTS across tasks (the Python
    worker process is reused; Spark caches broadcast values per worker, so
    object ids are stable keys).  Round-1 kept these caches per task, so
    every task re-scored the same vocabulary and re-probed candidates from
    scratch; hoisting them to module level plus the SymSpell deletion index
    (core/candidates.build_deletion_index) makes candidate generation and
    word scoring a once-per-worker cost — 2.3× single-core on the flagship
    hot path, bit-identical results (the cached values are exactly what the
    per-task code computed).  Only the current (scorer, lexicon) pair is
    kept: a new pipeline run frees the previous run's memo and index."""
    return _WORKER_STATE.get(
        (id(scorer), id(lexicon), max_distance), lambda: _memo_fns(scorer, lexicon, max_distance)
    )


def _memo_fns(scorer, lexicon, max_distance: int):
    from ..core.beam import candidate_batch
    from ..core.candidates import build_deletion_index

    prob_cache: dict[str, float] = {}
    cand_cache: dict[str, list] = {}
    delidx_box: list = [None]  # built lazily on the first candidate miss
    # bound the memoization for UNBOUNDED streams (the continuous
    # crawl job): real corpora have vocabulary-bounded error words, but
    # adversarial/garbled feeds do not — clear-on-cap keeps worker
    # memory finite at a tiny amortized recompute cost (values are
    # pure functions, so eviction never changes results)
    PROB_CAP, CAND_CAP = 2_000_000, 200_000

    def prob_fn(w: str) -> float:
        p = prob_cache.get(w)
        if p is None:
            if len(prob_cache) >= PROB_CAP:
                prob_cache.clear()
            p = scorer.word_prob(w)
            prob_cache[w] = p
        return p

    def cand_fn(w: str) -> list:
        batch = cand_cache.get(w)
        if batch is None:
            if delidx_box[0] is None:
                # a Bloom-backed lexicon (pipeline auto-switch above
                # the vocab threshold) is membership-only — no word
                # list to index, so candidate generation falls back to
                # probing deletion variants (core/candidates.
                # distance1_matches); False marks "checked, not
                # buildable" so we probe only once
                delidx_box[0] = (
                    build_deletion_index(lexicon) if hasattr(lexicon, "__iter__") else False
                )
            if len(cand_cache) >= CAND_CAP:
                cand_cache.clear()
            batch = candidate_batch(
                w, scorer, lexicon, max_distance, delidx=delidx_box[0] or None
            )
            cand_cache[w] = batch
        return batch

    return prob_fn, cand_fn


def _worker_corrector(scorer_bc, lexicon_bc, max_distance: int, roulette_seed: int | None):
    """Worker side of every Arrow-batched beam stage: ``correct(text,
    enabled)`` → corrected words, the one place the Spark engines call
    core/beam.correct_sentence.  Disabled rows get the deterministic
    pass-through (split words).  ``roulette_seed`` flips W2 to the
    reference's seeded roulette-wheel selection; each document derives its
    rng from (seed, text), so the result is deterministic and independent
    of partitioning."""
    from ..core.beam import correct_sentence, roulette_rng

    scorer, lexicon = scorer_bc.value, lexicon_bc.value
    prob_fn, cand_fn = _worker_fns(scorer, lexicon, max_distance)

    def correct(text: str, enabled=True) -> list[str]:
        if not enabled:
            return text.split()
        rng = None if roulette_seed is None else roulette_rng(roulette_seed, text)
        return correct_sentence(text, scorer, lexicon, prob_fn=prob_fn, cand_fn=cand_fn, rng=rng)

    return correct


def _with_corrected(fields) -> T.StructType:
    return T.StructType([*fields, CORRECTED_WORDS])


def run_beam_udf(
    df: DataFrame,
    scorer_bc,
    lexicon_bc,
    text_col: str = "extracted_text",
    enabled_col: str | None = None,
    max_distance: int = 1,
    roulette_seed: int | None = None,
) -> DataFrame:
    """Single-pass beam correction: one Arrow-batched mapInPandas stage
    runs the ENTIRE pinned beam loop per document and appends
    ``corrected_words`` to the input columns.

    The work is exactly per-document, embarrassingly parallel, with ZERO
    shuffles and no driver round-trips; scorer + lexicon are broadcast
    once per executor, and candidate batches are memoized per error word
    in the worker (the distinct-error-word dedup, executor-local).  This
    is the throughput path; ``run_beam_fold`` is the no-Python path.

    ``enabled_col``: optional boolean column — rows where it is false get
    the deterministic pass-through (corrected = split words), keeping the
    whole flagship a SINGLE stage instead of a two-branch union that would
    recompute the upstream extraction twice.  ``roulette_seed``: see
    ``_worker_corrector`` (flag-gated; deterministic top-k is the
    default)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        correct = _worker_corrector(scorer_bc, lexicon_bc, max_distance, roulette_seed)
        for pdf in batches:
            enabled = pdf[enabled_col] if enabled_col is not None else [True] * len(pdf)
            pdf["corrected_words"] = [correct(t, en) for t, en in zip(pdf[text_col], enabled)]
            yield pdf

    return df.mapInPandas(run, _with_corrected(df.schema.fields))


# every EXTRACT_SCHEMA column but html_bytes (the last), plus corrected_words
FUSED_SCHEMA = _with_corrected(EXTRACT_SCHEMA.fields[:-1])


def render_extract_correct(
    docs: DataFrame,
    scorer_bc,
    lexicon_bc,
    max_distance: int = 1,
    roulette_seed: int | None = None,
) -> DataFrame:
    """ONE Arrow-batched stage running the whole per-doc lifecycle:
    synthetic render → extraction → (correctable ? beam-correct :
    deterministic pass-through). Exactly ``render_and_extract`` +
    ``run_beam_udf`` (same row helper, same worker corrector) minus the
    intermediate Arrow round trip and the html_bytes column the pipeline
    never uses — tests assert the equality."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        correct = _worker_corrector(scorer_bc, lexicon_bc, max_distance, roulette_seed)
        for pdf in batches:
            rows = []
            for r in zip(pdf["doc_id"], pdf["text"], pdf["lang"]):
                url, ts, lang, doc_id, kind, text, spans, _ = render_extract_row(*r)
                enabled = lang == "en" and kind != "pdf_stub"
                rows.append((url, ts, lang, doc_id, kind, text, spans, correct(text, enabled)))
            yield columnar(rows, FUSED_SCHEMA)

    return docs.select("doc_id", "text", "lang").mapInPandas(run, FUSED_SCHEMA)
