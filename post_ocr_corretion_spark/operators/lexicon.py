"""Lexicon construction (A2/U1/A3) and its deletion-neighborhood table.

Reference: ``Dictionary`` (correctionSentences.py:28-63) — train words ∪
English word list, bucketed by (first char, last char).  Spark-first:
the lexicon is a DataFrame; the reference's hand-rolled bucket pruning
(J1, :77-80) becomes data layout (repartition/bucket by ``bucket``), and
the regex candidate lookup (J2, :65-75) is replaced by the deletion-
neighborhood table that operators/candidates.py equi-joins against —
a SymSpell-style formulation with identical pinned semantics
(core/candidates.py docstring) and no per-row regex compilation.

The English word list enters as an Arrow local relation
(session.local_frame), a ``LocalTableScan`` leaf of the lexicon job: no
Python task and no Python worker pool besides the flagship's fused stage.

Scale: the neighborhood table has sum(len(word)) rows (~7× lexicon).
It is computed once per corpus, is hash-partitioned on ``delkey`` (the
join key), and every downstream join is an equi-join — broadcastable when
the error-side is small, shuffle-hash otherwise; never a nested-loop
regex theta-join.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import bucket_key, clean_text, remove_punctuation, words_on_space
from ..plans.parallelism import TOKEN_TASK_BYTES, spread
from ..session import local_frame


def corpus_words(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """A2 (correctionSentences.py:35-41): clean (P2) → split on single
    space → strip trailing punct (P6) → lower → drop empties → distinct.
    Column: word.

    The empty filter runs on the RAW token, before the P6 regex: the
    strip can never empty a non-empty token (``(.+)`` captures ≥1 char
    per match) and lower() preserves length, so ``length(w) > 0`` keeps
    exactly the same rows as ``length(word) > 0`` — but a post-projection
    filter gets predicate-pushed below the Project by Catalyst, which
    DUPLICATES the P6 regexp per token (one eval in the filter, one in
    the projection; guide §4.4 shape). Filtering first halves the regex
    work (r9 optimization).

    r9 second pass: DISTINCT on the raw token before the strip/lower
    projection (then distinct again). distinct(f(w) for all w) =
    distinct(f(u) for u in distinct(w)) — identical set — but the P6
    regex now runs once per distinct RAW token (vocabulary-bounded)
    instead of once per token occurrence; the raw-token distinct's
    map-side partial aggregation replaces per-occurrence regex work
    (guide §2.3 "aggregate before you shuffle")."""
    return (
        spread(docs, TOKEN_TASK_BYTES)
        .select(F.explode(words_on_space(clean_text(F.col(text_col)))).alias("w"))
        .filter(F.length("w") > 0)
        .distinct()
        .select(F.lower(remove_punctuation(F.col("w"))).alias("word"))
        .distinct()
    )


def corpus_word_frequencies(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """A2 with counts — unigram frequencies feeding the Viterbi segmenter
    (operators/segmenter_ops.py). Columns: word, freq. Same raw-token
    empty filter as corpus_words (regex evaluated once per token)."""
    return (
        spread(docs, TOKEN_TASK_BYTES)
        .select(F.explode(words_on_space(clean_text(F.col(text_col)))).alias("w"))
        .filter(F.length("w") > 0)
        .select(F.lower(remove_punctuation(F.col("w"))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


def build_lexicon(
    spark: SparkSession,
    docs: DataFrame,
    base_words: tuple[str, ...] = (),
    text_col: str = "text",
    bucketed: bool = True,
) -> DataFrame:
    """U1 (correctionSentences.py:44): shipped word list ∪ corpus words,
    with the A3 bucket column. Columns: word, bucket.  ``bucketed=False``
    skips the bucket repartition shuffle — the layout only pays off for
    the Catalyst candidate equi-joins; the UDF-mode pipeline just writes
    the word column to the scorer sidecar. ``base_words`` become a local
    relation (session.local_frame), so the job runs no Python task."""
    base = local_frame(spark, [(w,) for w in sorted(set(base_words))], "word string")
    # r9: ONE distinct over the raw token stream ∪ base words — the old
    # corpus_words(docs).union(base).distinct() aggregated twice (an
    # extra exchange + stage chain over the vocabulary for the same set:
    # distinct(distinct(A) ∪ B) = distinct(A ∪ B)). Wall-neutral at the
    # bench scale factors (the token-side aggregation dominates) but one
    # fewer shuffle of the vocabulary at any scale; result identical.
    # raw-token distinct BEFORE the strip/lower projection (see
    # corpus_words: the P6 regex runs per distinct raw token, not per
    # occurrence; the final distinct over ∪ base keeps the set identical)
    tokens = (
        spread(docs, TOKEN_TASK_BYTES)
        .select(F.explode(words_on_space(clean_text(F.col(text_col)))).alias("w"))
        .filter(F.length("w") > 0)
        .distinct()
        .select(F.lower(remove_punctuation(F.col("w"))).alias("word"))
    )
    out = (
        tokens.union(base)
        .distinct()
        .withColumn("bucket", bucket_key(F.col("word")))
    )
    return out.repartition("bucket") if bucketed else out


def deletion_neighborhood(lexicon: DataFrame) -> DataFrame:
    """For every lexicon word and position i: (delkey = word minus char i,
    pos = i, ch = word[i], word). Pure Catalyst (posexplode over a
    sequence; substring surgery), no UDF."""
    w = F.col("word")
    return (
        lexicon.select("word")
        .select(w, F.explode(F.sequence(F.lit(0), F.length(w) - 1)).alias("pos"))
        .select(
            F.concat(
                F.substring(w, 1, F.col("pos")),
                w.substr(F.col("pos") + 2, F.length(w) - F.col("pos") - 1),
            ).alias("delkey"),
            "pos",
            F.substring(w, F.col("pos") + 1, 1).alias("ch"),
            "word",
        )
        .repartition("delkey")
    )


def dict_encode_distributed(vocab: DataFrame, num_partitions: int = 8) -> DataFrame:
    """Deterministic dense word→id dictionary (id = rank in global sorted
    order, 1-based) WITHOUT a single-task global sort — the scale path
    promised by q_d5_word_ids' docstring:

    1. range-partition the vocabulary by word (partition p holds a
       contiguous sorted range, p ordered by range bounds);
    2. per-partition counts → driver-side prefix offsets (ONE row per
       partition reaches the driver — bounded metadata, not data);
    3. local rank within each partition + that partition's offset.

    Equal to ``row_number() OVER (ORDER BY word)`` (tested), but every
    heavy step is distributed; the only coordination is the
    ``num_partitions``-row offsets table, exactly like the range
    partitioner's own bound sampling. Columns: (word, wid).

    The range partitioning is MATERIALIZED once (eager localCheckpoint)
    before anything reads it (ADVICE r3): repartitionByRange samples
    range bounds per computation and Spark documents its output as
    possibly inconsistent across recomputes, so letting the counts job
    and the returned plan each recompute the shuffle could place a word
    in different partitions in the two jobs — corrupting the prefix
    offsets into duplicate/skipped wids. Checkpointing pins one
    partition assignment for both consumers (and truncates lineage)."""
    parts = (
        vocab.select("word")
        .distinct()
        .repartitionByRange(num_partitions, F.col("word"))
        .withColumn("pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    counts = {r.pid: r.cnt for r in parts.groupBy("pid").agg(F.count(F.lit(1)).alias("cnt")).collect()}
    offsets, acc = {}, 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    from pyspark.sql.window import Window as W

    offset_col = F.coalesce(
        *[F.when(F.col("pid") == pid, F.lit(off)) for pid, off in offsets.items()],
        F.lit(0),
    ) if offsets else F.lit(0)
    local_rank = F.row_number().over(W.partitionBy("pid").orderBy("word"))
    return parts.select(
        "word", (local_rank + offset_col).cast("long").alias("wid")
    )
