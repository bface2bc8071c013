"""Gopher/MassiveText repetition-quality rules (Rae et al. 2021,
appendix A1.1): documents dominated by repeated n-grams are boilerplate
or spam — score every document by its duplicate-n-gram and
top-n-gram mass and flag the ones a pretraining pipeline would drop.
Complements textstats.quality_stats (length/ratio heuristics) with the
repetition family.

Per document and n in {2, 3}:
- ``top{n}_frac``  — occurrences of the single most frequent word
  n-gram / total n-gram occurrences (Gopher drops docs with
  top-2-gram fraction > 0.20, top-3 > 0.18);
- ``dup{n}_frac`` — occurrences beyond each gram's first, / total
  (the "fraction of characters in duplicate n-grams" rule, in token
  units — our corpus is single-line word streams, so token mass is
  the faithful unit and the line-based rules are degenerate).

Scale shape: one explode per n → a (doc, gram) hash aggregate (map-side
partials; hot grams are PER-DOCUMENT keys, so no corpus-wide skew) → a
per-doc aggregate. Nothing leaves the executors but count rows; all
ratios are exact-integer numerators/denominators divided once in
DOUBLE (identical IEEE op in DuckDB — the gate replays bit-for-bit).
"""
from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans.parallelism import GRAM_TASK_BYTES, spread

# TOP2_MAX/TOP3_MAX are Gopher A1.1's top-2-/top-3-gram caps verbatim.
# DUP2_MAX/DUP3_MAX are REPO-CHOSEN duplicate-mass caps: Rae et al. A1.1
# defines duplicate-n-gram thresholds only for n in 5..10 (0.15 down to
# 0.10) — the paper's 2-/3-gram rows are top-n-gram only, so these dup
# caps extend the duplicate rule to the n we compute, not paper values.
TOP2_MAX, TOP3_MAX = 0.20, 0.18
DUP2_MAX, DUP3_MAX = 0.40, 0.30

# Rae et al. 2021 A1.1, duplicate-n-gram character-fraction caps — these
# six ARE the paper's published thresholds (dup-5-gram 0.15 stepping
# down to dup-10-gram 0.10).
DUP_NGRAM_MAX = {5: 0.15, 6: 0.14, 7: 0.13, 8: 0.12, 9: 0.11, 10: 0.10}



def _token_starts(text_col: str) -> F.Column:
    """0-based char offsets of every token of split(text, ' '), plus a
    ``len(text)+1`` sentinel: token k spans
    [starts[k], starts[k+1]-2] inclusive, so the n-gram starting at
    token i IS ``substring(text, starts[i]+1, starts[i+n]-starts[i]-1)``
    — byte-identical to ``concat_ws(' ', slice(tokens, i+1, n))``
    because split's separators are exactly one space each. One fold
    over the token array (evaluated once per row); grams become ONE
    substring call each instead of an array slice + concat_ws
    (measured 4× on the explode stage at the 10× replica)."""
    text = F.col(text_col)
    parts = F.split(text, " ")
    folded = F.aggregate(
        F.slice(parts, F.lit(1), F.size(parts) - 1),
        F.struct(
            F.lit(0).cast("int").alias("cur"),
            F.array(F.lit(0).cast("int")).alias("ss"),
        ),
        lambda acc, part: F.struct(
            (acc.cur + F.length(part) + 1).cast("int").alias("cur"),
            F.concat(
                acc.ss, F.array((acc.cur + F.length(part) + 1).cast("int"))
            ).alias("ss"),
        ),
    )["ss"]
    return F.concat(folded, F.array((F.length(text) + 1).cast("int")))


def _gram_at(text_col: str, starts: F.Column, i: F.Column, n: int) -> F.Column:
    """The n-gram starting at token index i (0-based), via substring
    arithmetic over the staged starts array (see _token_starts)."""
    s = F.element_at(starts, i + 1)
    return F.substring(F.col(text_col), s + 1, F.element_at(starts, i + n + 1) - s - 1)


def _ngram_stats(docs: DataFrame, n: int, text_col: str, id_col: str) -> DataFrame:
    """(id_col, top{n}, tot{n}, dup{n}): max gram count, total gram
    occurrences, and occurrences beyond first per gram, per document."""
    # r9 second pass: build each gram with ONE substring over the staged
    # token-offset array instead of an array slice + concat_ws per window
    # (see _token_starts; byte-identical grams, measured 4×). The offsets
    # stage through a generator so the fold runs once per row.
    docs = spread(docs, GRAM_TASK_BYTES)
    toks = F.split(F.col(text_col), " ")
    sts = F.col("_starts")
    nt = F.size(sts) - 1
    grams = F.transform(
        F.sequence(F.lit(0), nt - n),
        lambda i: _gram_at(text_col, sts, i, n),
    )
    per_gram = (
        docs.filter(F.size(toks) >= n)
        .select(id_col, text_col, F.explode(F.array(_token_starts(text_col))).alias("_starts"))
        .select(id_col, F.explode(grams).alias("_g"))
        .groupBy(id_col, "_g")
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    return per_gram.groupBy(id_col).agg(
        F.max("_c").cast("long").alias(f"top{n}"),
        F.sum("_c").cast("long").alias(f"tot{n}"),
        F.sum(F.col("_c") - 1).cast("long").alias(f"dup{n}"),
    )


def gopher_repetition(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(id_col, n_words, top2_frac, dup2_frac, top3_frac, dup3_frac,
    gopher_pass) for every input row. Documents too short to form an
    n-gram contribute zero mass for that n (frac 0.0 — nothing repeats)
    and still pass through."""
    toks = F.split(F.col(text_col), " ")
    base = docs.select(id_col, F.size(toks).cast("long").alias("n_words"))
    g2 = _ngram_stats(docs, 2, text_col, id_col)
    g3 = _ngram_stats(docs, 3, text_col, id_col)

    def frac(num: str, den: str) -> F.Column:
        return F.coalesce(
            F.col(num).cast("double") / F.col(den).cast("double"), F.lit(0.0)
        )

    out = (
        base.join(g2, id_col, "left")
        .join(g3, id_col, "left")
        .select(
            id_col,
            "n_words",
            frac("top2", "tot2").alias("top2_frac"),
            frac("dup2", "tot2").alias("dup2_frac"),
            frac("top3", "tot3").alias("top3_frac"),
            frac("dup3", "tot3").alias("dup3_frac"),
        )
    )
    return out.withColumn(
        "gopher_pass",
        (F.col("top2_frac") <= TOP2_MAX)
        & (F.col("dup2_frac") <= DUP2_MAX)
        & (F.col("top3_frac") <= TOP3_MAX)
        & (F.col("dup3_frac") <= DUP3_MAX),
    )


def gopher_dup_ngrams(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Paper-faithful Gopher duplicate-n-gram rules for n in 5..10
    (Rae et al. 2021, A1.1): per document, ``dup{n}_frac`` = characters
    inside n-gram occurrences BEYOND each gram's first / characters in
    the document, and ``dup_ngram_pass`` = AND over the paper's six
    thresholds (0.15 down to 0.10). One repo-chosen resolution of the
    paper's underspecification, stated: overlapping duplicate grams
    each count their full character span (no greedy non-overlap
    de-duplication of spans), so a pathologically repetitive doc can
    exceed 1.0 — it fails the cap either way, which is the rule's
    point. Gram characters include their single inner separator spaces;
    the denominator is the raw text length.

    Scale shape: ONE explode over a concatenated (n, gram) struct array
    builds all six gram families in a single corpus pass → one
    (doc, n, gram) hash aggregate (map-side partials; hot grams stay
    per-document keys) → one (doc, n) aggregate pivoted to columns.
    Ratios are exact-integer numerators/denominators divided once in
    DOUBLE — DuckDB replays them bit-for-bit."""
    # r9: offsets staged through a generator once per doc; each gram is
    # ONE substring via the offset array (see _token_starts —
    # byte-identical to the old concat_ws(slice) windows, measured 4×)
    sts = F.col("_starts")
    nt = F.size(sts) - 1
    entry_t = "array<struct<n:int,gram:string>>"

    def grams_for(n: int) -> F.Column:
        return F.when(
            nt >= n,
            F.transform(
                F.sequence(F.lit(0), nt - n),
                lambda i: F.struct(
                    F.lit(n).alias("n"),
                    _gram_at(text_col, sts, i, n).alias("gram"),
                ),
            ),
        ).otherwise(F.array().cast(entry_t))

    base = docs.select(id_col, F.length(text_col).cast("long").alias("n_chars"))
    per_gram = (
        spread(docs, GRAM_TASK_BYTES)
        .select(id_col, text_col, F.explode(F.array(_token_starts(text_col))).alias("_starts"))
        .select(
            id_col,
            F.explode(F.concat(*[grams_for(n) for n in range(5, 11)])).alias("_e"),
        )
        .select(id_col, F.col("_e.n").alias("_n"), F.col("_e.gram").alias("_g"))
        .groupBy(id_col, "_n", "_g")
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    per_n = per_gram.groupBy(id_col, "_n").agg(
        F.sum((F.col("_c") - 1) * F.length("_g")).cast("long").alias("_dup_chars")
    )
    fracs = [
        F.coalesce(
            F.max(F.when(F.col("_n") == n, F.col("_dup_chars"))), F.lit(0)
        ).alias(f"_d{n}")
        for n in range(5, 11)
    ]
    per_doc = per_n.groupBy(id_col).agg(*fracs)
    out = base.join(per_doc, id_col, "left").select(
        id_col,
        *[
            F.coalesce(
                F.col(f"_d{n}").cast("double") / F.col("n_chars").cast("double"),
                F.lit(0.0),
            ).alias(f"dup{n}_frac")
            for n in range(5, 11)
        ],
    )
    passes = [F.col(f"dup{n}_frac") <= F.lit(DUP_NGRAM_MAX[n]) for n in range(5, 11)]
    flag = passes[0]
    for p in passes[1:]:
        flag = flag & p
    return out.withColumn("dup_ngram_pass", flag)
