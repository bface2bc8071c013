"""Language-model quality scoring — the CCNet-style filter (Wenzek et
al. 2020): score every document by its negative log-likelihood under a
word-bigram model with Laplace smoothing, so boilerplate/gibberish
(high NLL) can be thresholded away before training. The LM here is fit
ON the corpus itself (the self-scoring form — a held-out counts table
plugs into the same join).

Scale shape: the fit is two hash aggregates (bigram and unigram
counts — map-side partials, counts never leave the executors as
anything but (gram, n) rows); scoring explodes each doc's bigrams once
and equi-joins the counts (AQE-skew-splittable; hot function words are
single count rows, so the join output is linear in corpus bigrams).

Determinism contract (the repo's float rule): the only transcendental
is a PER-ROW ln of an exact rational (counts are integers), rounded to
8 decimals and cast to DECIMAL(18,8) BEFORE any aggregation — per-doc
sums are exact decimal arithmetic, so the result is independent of
partitioning and bit-identical in DuckDB (the tfidf operator already
validates cross-engine ln on this corpus).
"""
from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans.parallelism import GRAM_TASK_BYTES, spread


def _doc_bigrams(docs: DataFrame, text_col: str, id_col: str) -> DataFrame:
    # the per-doc DECIMAL/integer aggregates downstream are
    # partition-independent, so the spread changes no result
    docs = spread(docs, GRAM_TASK_BYTES)
    toks = F.split(F.col(text_col), " ")
    # r9: tokens staged through a generator once per doc — the split
    # expression captured in the per-position lambda was re-evaluated
    # for every bigram (no CSE in interpreted HOFs). Same pairs.
    tks = F.col("_toks")
    pairs = F.transform(
        F.sequence(F.lit(0), F.size(tks) - 2),
        lambda i: F.struct(
            F.element_at(tks, i + 1).alias("w1"),
            F.element_at(tks, i + 2).alias("w2"),
        ),
    )
    return (
        docs.filter(F.size(toks) >= 2)
        .select(id_col, F.explode(F.array(toks)).alias("_toks"))
        .select(id_col, F.explode(pairs).alias("bg"))
        .select(id_col, F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
    )


def bigram_lm_fit(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> tuple[DataFrame, DataFrame, int]:
    """(bigram_counts(w1, w2, c2), unigram_counts(w1, c1), vocab_size):
    the model artifact — only per-gram count rows exist, never a
    driver-side vocabulary.

    The unigram counts and the vocabulary size come out of ONE token
    scan (VERDICT r6 item 5 — a separate explode→distinct→count for
    |V| was a third full pass over the corpus): every token is
    exploded once with an is-prefix marker (all but the document's
    last token — exactly the bigram-prefix denominator), grouped by
    word, and the grouped frame is localCheckpointed so the |V| count
    action and the downstream unigram join both read the materialized
    vocab-sized artifact instead of rescanning the corpus. The fit
    therefore touches the corpus twice total: once here, once for the
    bigram aggregate when the score evaluates."""
    bg = _doc_bigrams(docs, text_col, id_col)
    bigrams = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c2"))
    toks = F.split(F.col(text_col), " ")
    # condition on w1 occurrences AS A BIGRAM PREFIX (sum of outgoing
    # bigrams), the standard bigram-LM denominator: a token is a prefix
    # at every position but the document's last
    word_stats = (
        spread(docs, GRAM_TASK_BYTES)
        .select(F.posexplode(toks).alias("_p", "w"), F.size(toks).alias("_n"))
        .groupBy("w")
        .agg(
            F.sum(F.when(F.col("_p") < F.col("_n") - 1, 1).otherwise(0))
            .cast("long")
            .alias("c1")
        )
        .localCheckpoint()
    )
    vocab = word_stats.count()  # |V| = distinct tokens, prefix or not
    unigrams = word_stats.filter(F.col("c1") > 0).withColumnRenamed("w", "w1")
    return bigrams, unigrams, int(vocab)


def lm_nll_score(
    docs: DataFrame,
    bigrams: DataFrame,
    unigrams: DataFrame,
    vocab_size: int,
    alpha: float = 1.0,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id_col, n_bigrams, avg_nll): mean negative log-likelihood per
    bigram under Laplace smoothing p(w2|w1) = (c2+alpha)/(c1+alpha·V).
    Lower = more fluent under the reference counts; rank or threshold
    on it exactly as CCNet does on perplexity (monotone equivalent).
    Unseen (w1, w2) pairs fall back to c2=0 (and unseen w1 to c1=0)
    through the left joins, so a foreign counts table scores any
    document."""
    bg = _doc_bigrams(docs, text_col, id_col)
    joined = (
        bg.join(bigrams, ["w1", "w2"], "left")
        .join(unigrams, "w1", "left")
        .withColumn("_c2", F.coalesce("c2", F.lit(0)))
        .withColumn("_c1", F.coalesce("c1", F.lit(0)))
    )
    p = (F.col("_c2") + F.lit(float(alpha))) / (
        F.col("_c1") + F.lit(float(alpha) * vocab_size)
    )
    nll = F.round(-F.log(p), 8).cast("decimal(18,8)")
    return (
        joined.select(id_col, nll.alias("_nll"))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            # divide in DOUBLES from the exact decimal sum: decimal
            # division scale/rounding rules differ across engines, IEEE
            # double division does not
            F.round(
                F.sum("_nll").cast("double") / F.count(F.lit(1)), 6
            ).alias("avg_nll"),
        )
    )


def ccnet_perplexity_buckets(
    docs: DataFrame,
    scores: DataFrame,
    lang_col: str = "lang",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id_col, lang, avg_nll, bucket) — CCNet's head/middle/tail split
    (Wenzek et al., LREC 2020): per language, documents are bucketed by
    perplexity terciles (head = most fluent third). ``scores`` is
    lm_nll_score's output; docs with < 2 tokens have no score and are
    excluded, exactly as in the scoring step.

    Scale shape — thresholds, not ranks: CCNet assigns buckets by
    comparing each doc to per-language cut points, so this computes the
    EXACT tercile thresholds from the (lang, avg_nll) DISTINCT-VALUE
    histogram (one aggregate; the cumulative window runs over distinct
    ROUNDED score values — bounded by value granularity, ≪ corpus — not
    over documents, so no per-language single-task sort over the data;
    compare d5's no-SinglePartition lesson) and broadcasts the
    |langs|-row threshold table back. Ties at a threshold share its
    bucket (value-deterministic — no dependence on document order), so
    bucket sizes are thirds up to tie mass.

    Determinism: thresholds are SELECTED existing avg_nll values (no
    new arithmetic), cumulative counts are exact integers compared via
    cum*3 >= n — DuckDB replays everything bit-for-bit."""
    from pyspark.sql.window import Window

    scored = scores.join(
        docs.select(id_col, F.col(lang_col).alias("lang")), id_col
    ).select(id_col, "lang", "avg_nll")
    hist = scored.groupBy("lang", "avg_nll").agg(
        F.count(F.lit(1)).cast("long").alias("_c")
    )
    w = (
        Window.partitionBy("lang")
        .orderBy("avg_nll")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = hist.select(
        "lang",
        "avg_nll",
        F.sum("_c").over(w).alias("_cum"),
        F.sum("_c").over(Window.partitionBy("lang")).alias("_n"),
    )
    thresholds = cum.groupBy("lang").agg(
        F.min(F.when(F.col("_cum") * 3 >= F.col("_n"), F.col("avg_nll"))).alias("_t1"),
        F.min(F.when(F.col("_cum") * 3 >= F.col("_n") * 2, F.col("avg_nll"))).alias(
            "_t2"
        ),
    )
    return (
        scored.join(F.broadcast(thresholds), "lang")
        .select(
            id_col,
            "lang",
            "avg_nll",
            F.when(F.col("avg_nll") <= F.col("_t1"), F.lit("head"))
            .when(F.col("avg_nll") <= F.col("_t2"), F.lit("middle"))
            .otherwise(F.lit("tail"))
            .alias("bucket"),
        )
    )
