"""Candidate generation as SymSpell-style equi-joins (D7/D8 + J1/J2,
correctionSentences.py:108-151,265-275) — pinned semantics in
core/candidates.py.

The reference compiles a regex per edit pattern and scans Arrow buckets
(a nested-loop theta join). Here the same set algebra is THREE equi-joins
against the lexicon's deletion-neighborhood table (operators/lexicon.py):

- substitution: err-deletion-key ⋈ lex-deletion-key on (delkey, pos) where
  the lexicon char at pos is a word char;
- deletion: err-deletion-key ⋈ lexicon word;
- insertion: err base word ⋈ lex-deletion-key on delkey where the deleted
  char is a word char (insert positions 0..len-1 — the reference never
  inserts at the end, correctionSentences.py:143-145);

plus the unconditional (w, 1.0) / (w_nopunct, 1.0) candidates
(correctionSentences.py:269).  These joins are the only matcher: at max
distance 2 they run a second time over the round-1 frontier (every string
one op away from a base), each score multiplied by the frontier's.
Everything is Catalyst; the only Python is the word-prob pandas UDF, which
scores each batch's words as one array.

Output ``cand_agg``: one row per error word with the pinned ORDERED batch
(sorted base candidates, then +punct variants in the same order — see
core/beam.py float-parity contract) and its left-fold score normalizer:

    err_word: string               (lowercased error word, as keyed)
    cands:    array<struct<word, score, p>>
    w_total:  double

The pair list is read once: one ``groupBy("err_word")`` collects and
sorts the base entries, and the +punct variants (suffix taken from
err_word) and the word probabilities derive from that row, with no join.

Scale: err-side is DISTINCT error words (vocabulary-bounded — dedup before
generation is the big win at 10^12 docs); lex_del is the big side,
hash-partitioned on its join keys. Catalyst broadcasts whichever side is
small; with AQE the skew-join splitter handles hot delkeys. At distance 2
the err side is the round-1 frontier, about 74·len strings per error word.
"""
from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..core.candidates import P_DEL, P_INS, P_SUB, WORDCHAR, WORDS_FOR_GENERATION
from ..functions.text import add_last_punctuation, remove_punctuation
from ..functions.udfs import make_word_probs_array_udf

_WORDCHARS = list(WORDCHAR)


def _deletion_keys(bases: DataFrame) -> DataFrame:
    """(err_word, base, sc) → (err_word, base, sc, pos, delkey) for each position."""
    b = F.col("base")
    return bases.select(
        "err_word",
        "base",
        "sc",
        F.explode(F.sequence(F.lit(0), F.length(b) - 1)).alias("pos"),
    ).select(
        "err_word",
        "base",
        "sc",
        "pos",
        F.concat(
            F.substring(b, 1, F.col("pos")),
            b.substr(F.col("pos") + 2, F.length(b) - F.col("pos") - 1),
        ).alias("delkey"),
    )


def _one_op_entries(s, n):
    """array<struct<t,sc>> of every string one pinned op away from ``s``
    (core/candidates.one_op_strings as a Catalyst expression): per position
    i, |WORDCHAR| substitutions + |WORDCHAR| insertions-before-i + the
    deletion (when it leaves a non-empty string)."""
    chars = F.array(*[F.lit(c) for c in _WORDCHARS])
    empty = F.array().cast("array<struct<t:string,sc:double>>")

    def at(i):
        prefix = s.substr(F.lit(1), i)  # s[:i]
        suffix = s.substr(i + 2, n - i - 1)  # s[i+1:]
        tail = s.substr(i + 1, n - i)  # s[i:]
        subs = F.transform(
            chars, lambda c: F.struct(F.concat(prefix, c, suffix).alias("t"), F.lit(P_SUB).alias("sc"))
        )
        inss = F.transform(
            chars, lambda c: F.struct(F.concat(prefix, c, tail).alias("t"), F.lit(P_INS).alias("sc"))
        )
        dels = F.when(
            n > 1, F.array(F.struct(F.concat(prefix, suffix).alias("t"), F.lit(P_DEL).alias("sc")))
        ).otherwise(empty)
        return F.concat(subs, inss, dels)

    return F.flatten(F.transform(F.sequence(F.lit(0), n - 1), at))


def _matches(bases: DataFrame, lexicon: DataFrame, lex_del: DataFrame) -> DataFrame:
    """(err_word, base, sc) → (err_word, word, score = sc·op) for every
    lexicon word one pinned op away from ``base``: the three equi-joins."""
    err_del = _deletion_keys(bases)
    lex_del_w = lex_del.filter(F.col("ch").isin(_WORDCHARS))
    sub = (
        err_del.join(lex_del_w, ["delkey", "pos"])
        .select("err_word", "word", (F.col("sc") * P_SUB).alias("score"))
    )
    # insertion before i covers i = 0..len(base)-1 only — the reference
    # never inserts at the END (correctionSentences.py:143-145), so the
    # inserted char must not be the lexicon word's last char.
    ins = (
        bases.join(
            lex_del_w,
            (bases.base == lex_del_w.delkey) & (lex_del_w.pos < F.length(lex_del_w.word) - 1),
        )
        .select("err_word", "word", (F.col("sc") * P_INS).alias("score"))
    )
    dele = (
        err_del.filter(F.length("delkey") > 0)
        .join(lexicon.select("word"), err_del.delkey == F.col("word"))
        .select("err_word", "word", (F.col("sc") * P_DEL).alias("score"))
    )
    return sub.unionByName(ins).unionByName(dele)


def candidate_pairs(
    err_words: DataFrame, lexicon: DataFrame, lex_del: DataFrame, max_distance: int = 1
) -> DataFrame:
    """(err_word) → distinct (err_word, word, score) candidate pairs,
    core/candidates.get_alternative_word as equi-joins. Distance 2 runs the
    same joins once more over the round-1 frontier — the bases with score
    1 and every string one op away — for the error words still under the
    ``WORDS_FOR_GENERATION`` guard (correctionSentences.py:280-282); with
    at most two unconditional candidates, the guard never stops round 1."""
    if max_distance not in (1, 2):
        raise ValueError(f"max_distance must be 1 or 2, got {max_distance}")
    w = F.col("err_word")
    bases = (
        err_words.select("err_word", w.alias("base"))
        .union(err_words.select("err_word", remove_punctuation(w).alias("base")))
        .filter(F.length("base") > 0)
        .distinct()
        .withColumn("sc", F.lit(1.0))
    )
    unconditional = err_words.select("err_word", w.alias("word"), F.lit(1.0).alias("score")).union(
        err_words.select("err_word", remove_punctuation(w).alias("word"), F.lit(1.0).alias("score"))
    )
    pairs = _matches(bases, lexicon, lex_del).unionByName(unconditional).distinct()
    if max_distance == 1:
        return pairs
    under = (
        pairs.groupBy("err_word")
        .agg(F.count(F.lit(1)).alias("n_cand"))
        .filter(F.col("n_cand") < WORDS_FOR_GENERATION)
        .select("err_word")
    )
    grown = bases.select(
        "err_word", F.explode(_one_op_entries(F.col("base"), F.length("base"))).alias("e")
    ).select("err_word", F.col("e.t").alias("base"), F.col("e.sc").alias("sc"))
    frontier = bases.unionByName(grown).distinct().join(F.broadcast(under), "err_word")
    return pairs.unionByName(_matches(frontier, lexicon, lex_del)).distinct()


def candidate_batches(
    err_words: DataFrame, lexicon: DataFrame, lex_del: DataFrame, scorer_bc, max_distance: int = 1
) -> DataFrame:
    """Assemble the pinned ordered batch per error word (see module doc)."""
    pairs = candidate_pairs(err_words, lexicon, lex_del, max_distance)
    base = F.col("base")
    punct = add_last_punctuation(F.col("err_word"))
    # each +punct variant is made from its entry of the SORTED BASE batch
    # (core/beam.candidate_batch appends them in base order); sorting on
    # the concatenated variant diverges when one base word is a strict
    # prefix of another and the punct char sorts below the next base char
    # (ADVICE r1: 'wrd;' > 'wrd5;' while 'wrd' < 'wrd5'), which would
    # break bit-exact parity. punct depends only on err_word, so a batch
    # keeps all of its variants or none.
    variants = F.filter(
        F.transform(base, lambda b: F.struct(F.concat(b["word"], punct).alias("word"), b["score"].alias("score"))),
        lambda _: punct != "",
    )
    word_probs = make_word_probs_array_udf(scorer_bc)
    return (
        pairs.groupBy("err_word")
        .agg(F.sort_array(F.collect_list(F.struct("word", "score"))).alias("base"))
        .select("err_word", F.concat(base, variants).alias("entries"))
        .withColumn("probs", word_probs(F.transform("entries", lambda e: e["word"])))
        .select(
            "err_word",
            F.zip_with(
                "entries",
                "probs",
                lambda e, p: F.struct(e["word"].alias("word"), e["score"].alias("score"), p.alias("p")),
            ).alias("cands"),
        )
        .withColumn(
            "w_total",
            F.aggregate(F.col("cands"), F.lit(0.0), lambda acc, c: acc + c["score"]),
        )
    )
