"""Arrow-batched pandas UDFs — the only Python that runs in the hot path.

Everything else in the engine is Catalyst expressions; the UDFs here are
the M1/M5-class ops SURVEY.md §4 reserves for Arrow batches:

- word scoring (replaces BERT inference, M1), one array of words per row:
  a document's words at detection (operators/correction.with_detection)
  and a candidate batch's words (operators/candidates.candidate_batches).
  Scorer state is broadcast once per executor and reused across batches;
- exact ``Levenshtein.ratio`` (M5): Spark's built-in levenshtein() has
  different substitution cost (SURVEY.md §2.4 A12), plus WER for the
  eval path. CER needs no UDF: it is the built-in levenshtein() over the
  reference length.

HTML/PDF extraction (north rule), the other per-document parse, is
Arrow-batched via mapInPandas in operators/extract.py.
"""
from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..core.levenshtein import indel_ratio, wer


def make_word_probs_array_udf(scorer_bc):
    """array<string> words → array<double> probs, one pass per row —
    no shuffle, memoized per batch (documents repeat words heavily)."""

    @F.pandas_udf(T.ArrayType(T.DoubleType()))
    def word_probs(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        scorer = scorer_bc.value
        for s in it:
            cache: dict[str, float] = {}

            def score_all(words):
                out = []
                for w in words:
                    p = cache.get(w)
                    if p is None:
                        p = scorer.word_prob(w)
                        cache[w] = p
                    out.append(p)
                return out

            yield s.map(score_all)

    return word_probs


@F.pandas_udf(T.DoubleType())
def indel_ratio_udf(it: Iterator[tuple[pd.Series, pd.Series]]) -> Iterator[pd.Series]:
    """M5 — exact Levenshtein.ratio(a, b, processor=str.lower)."""
    for a, b in it:
        yield pd.Series(
            [indel_ratio(x if x is not None else "", y if y is not None else "") for x, y in zip(a, b)]
        )


@F.pandas_udf(T.DoubleType())
def wer_udf(it: Iterator[tuple[pd.Series, pd.Series]]) -> Iterator[pd.Series]:
    """Word error rate over whitespace tokens (hyp, ref) — no Spark
    built-in exists for token-level edit distance."""
    for hyp, ref in it:
        yield pd.Series([wer(h or "", r or "") for h, r in zip(hyp, ref)])
