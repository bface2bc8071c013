"""Distributed BPE tokenizer fit (Sennrich, Haddow & Birch, ACL 2016)
— the tokenizer-training step of an LLM data pipeline, learned as pure
Catalyst aggregates.

Classic BPE never touches the corpus per merge: it works on the WORD-
FREQUENCY table (Heaps' law: |vocab| ≪ corpus tokens), where each word
is a symbol sequence starting at characters. Each merge step counts
adjacent symbol pairs weighted by word frequency (one hash aggregate),
takes the argmax (deterministic tie-break: count desc, pair lexicog.
asc), and rewrites the pair into one symbol everywhere.

Representation: a word's symbol sequence is the delimited string
``<s1><s2>...<sn>`` (symbols never contain ``<``/``>``), so applying a
merge is ONE literal string replace — ``replace(s, '<a><b>',
'<ab>')``. Left-to-right non-overlapping replacement is exactly BPE's
greedy merge order (``<l><l><l>`` + (l,l) → ``<ll><l>``), and the
bracket delimiters make a cross-token false match impossible (a match
must begin at a token start: '<' never occurs inside a symbol).

Scale shape: the corpus is scanned ONCE (the word-frequency
aggregate); every merge iteration runs on the word table — a
projection + one map-side-partial aggregate over |vocab| rows. The
winning pair per step is a 1-row driver artifact (the same bounded
class as the IVF centroid matrix); applying merges to text
(``bpe_segment``) is a chain of literal replaces — zero joins, zero
shuffles over the corpus.

Determinism contract: pair counts are exact integers; the argmax
tie-break is total; the delimited-string replace is byte-exact in any
engine — DuckDB replays the full fit as an unrolled CTE chain (the
``bpe_merges`` gate pins 4 steps).

Reference parity note: the reference repo tokenizes with pretrained HF
tokenizers (see SURVEY §2.10) — fitting one from the corpus is
engine-added surface, same class as §2.11 streaming.
"""
from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..session import local_frame


def _sym_string(word: Column) -> Column:
    """'abc' → '<a><b><c>' (one regexp_replace; DuckDB:
    regexp_replace(w, '(.)', '<\\1>', 'g'))."""
    return F.regexp_replace(word, "(.)", "<$1>")


def word_freq_symbols(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(word, f, s) — the word-frequency table with initial character
    symbol strings. The ONLY corpus-wide pass of the whole fit.

    Words containing the delimiter characters '<' or '>' are EXCLUDED
    from the fit (they would break the bracket invariant that makes the
    merge replace byte-exact); ``bpe_segment`` passes such words
    through whole. In web text these are markup residue a quality
    filter drops anyway — the exclusion is documented, deterministic,
    and replayed by the oracle's NOT LIKE predicates."""
    toks = F.split(F.col(text_col), " ")
    return (
        docs.select(F.explode(toks).alias("word"))
        .filter(
            (F.col("word") != "")
            & ~F.col("word").contains("<")
            & ~F.col("word").contains(">")
        )
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("f"))
        .select("word", "f", _sym_string(F.col("word")).alias("s"))
    )


def _pair_counts(syms: DataFrame) -> DataFrame:
    """(lft, rgt, cnt) — adjacent-symbol pair counts weighted by word
    frequency. Overlapping pairs both count (standard BPE): 'aaa'
    contributes (a,a) twice per occurrence."""
    toks = F.split(
        F.expr("substring(s, 2, length(s) - 2)"), "><"
    )  # '<a><bc>' → [a, bc]
    idx = F.when(
        F.size(toks) > 1, F.sequence(F.lit(1), F.size(toks) - 1)
    ).otherwise(F.array().cast("array<int>"))
    pairs = syms.select(
        "f", toks.alias("_t"), F.explode(idx).alias("_i")
    ).select(
        F.element_at("_t", F.col("_i")).alias("lft"),
        F.element_at("_t", F.col("_i") + 1).alias("rgt"),
        "f",
    )
    return pairs.groupBy("lft", "rgt").agg(F.sum("f").cast("long").alias("cnt"))


def _apply_merge(syms: DataFrame, lft: str, rgt: str) -> DataFrame:
    return syms.withColumn(
        "s", F.replace(F.col("s"), F.lit(f"<{lft}><{rgt}>"), F.lit(f"<{lft}{rgt}>"))
    )


def bpe_fit(
    docs: DataFrame,
    n_merges: int,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(step, lft, rgt, merged, cnt) — the learned merge table, step
    1-based in merge order. Each step collects exactly ONE row (the
    argmax pair) to the driver; stops early if no pair remains.

    Returns a DataFrame built from the collected merge list so the
    result is a stable, broadcastable artifact (n_merges rows)."""
    spark = docs.sparkSession
    syms = word_freq_symbols(docs, text_col, id_col).localCheckpoint()
    merges: list[tuple[int, str, str, str, int]] = []
    for step in range(1, int(n_merges) + 1):
        top = (
            _pair_counts(syms)
            .orderBy(F.col("cnt").desc(), F.col("lft").asc(), F.col("rgt").asc())
            .limit(1)
            .collect()
        )
        if not top:
            break
        lft, rgt, cnt = top[0]["lft"], top[0]["rgt"], top[0]["cnt"]
        merges.append((step, lft, rgt, lft + rgt, int(cnt)))
        syms = _apply_merge(syms, lft, rgt).localCheckpoint()
    return local_frame(
        spark, merges, "step int, lft string, rgt string, merged string, cnt long"
    )


def bpe_segment(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id_col, tokens) — each document's whitespace words segmented by
    the learned merges, applied in order. A chain of literal replaces
    per word — zero shuffles, zero joins; the merge list is a plan
    literal (broadcast-free, it IS the expression). Words containing
    '<' or '>' (excluded from the fit — see word_freq_symbols) pass
    through whole as a single token."""
    word = F.col("_w")
    s = _sym_string(word)
    for lft, rgt in merges:
        s = F.replace(s, F.lit(f"<{lft}><{rgt}>"), F.lit(f"<{lft}{rgt}>"))
    toks = F.when(
        word.contains("<") | word.contains(">"), F.array(word)
    ).otherwise(F.split(F.expr("substring(_s, 2, length(_s) - 2)"), "><"))
    return (
        docs.select(id_col, F.posexplode(F.split(F.col(text_col), " ")).alias("_p", "_w"))
        .filter(word != "")
        .withColumn("_s", s)
        .select(id_col, "_p", toks.alias("word_tokens"))
        .groupBy(id_col)
        .agg(
            F.flatten(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct(F.col("_p").alias("p"), F.col("word_tokens").alias("t")))
                    ),
                    lambda x: x["t"],
                )
            ).alias("tokens")
        )
    )
