"""Deterministic character-bigram noisy-channel word scorer.

Replaces the reference's fine-tuned DistilBERT token classifier (M1/M3,
BERTEvaluator.py:13-31), whose checkpoint is not shipped with the repo
(models/ is .gitignore'd — SURVEY.md §7.0.6).  Same interface, pinned
deterministic semantics shared by the oracle and the Spark pandas UDFs:

- ``word_prob(w)``: per-word P(correct).  A word is cleaned like the
  reference lexicon path (strip trailing punctuation, lowercase,
  correctionSentences.py:39-40); empty → 1.0; lexicon member → IN_LEXICON_P;
  out-of-vocabulary words score ``min(OOV_CAP, sigmoid(k·(mean_lp − tau)))``
  where mean_lp is the average boundary-padded character-bigram log-prob
  under an add-one-smoothed model trained on the lexicon.  The OOV_CAP
  (< 0.5) pins detection to "OOV ⇒ flagged" (P11 threshold 0.5,
  BERTEvaluator.py:25-26), while the bigram term still grades HOW wrong a
  word is, which drives beam ranking.
- ``sentence_score(words)``: mean word prob (A8, BERTEvaluator.py:28-31).
- ``wrong_indexes(words)``: positions with p < 0.5 (M2).

Scale note: on a cluster the scorer state is one V×V (41×41) float64
log-prob matrix plus the lexicon hash set, broadcast once per executor
(SURVEY.md §4 item 3).  The local fit counts every word's bigrams in one
vectorized numpy pass (``_bigram_counts``), not a Python loop per word; at
10^12-document scale the membership set is replaced by a Bloom filter with
the same pinned semantics modulo a documented false-positive rate.
"""
from __future__ import annotations

import math

import numpy as np

from .textops import remove_punctuation

ALPHABET = "abcdefghijklmnopqrstuvwxyz0123456789_'-"
# index 0 = any char outside ALPHABET; index 1 = word boundary
_CHAR_INDEX = {c: i + 2 for i, c in enumerate(ALPHABET)}
V = len(ALPHABET) + 2

IN_LEXICON_P = 0.95
OOV_CAP = 0.49
TAU = -4.0
K = 1.5


# code point → index for ASCII; every code point ≥ 128 maps to 0 (OTHER)
_ASCII_INDEX = np.array([_CHAR_INDEX.get(chr(c), 0) for c in range(128)], dtype=np.int64)


def _encode(word: str) -> np.ndarray:
    get = _CHAR_INDEX.get
    return np.array([1, *[get(c, 0) for c in word], 1], dtype=np.int64)  # boundary-padded


def _bigram_counts(words) -> np.ndarray:
    """V×V bigram counts of the boundary-padded words, in one pass: the
    same pairs as ``_encode`` per word.  The words are laid end to end
    with ONE boundary between neighbours — ``1 w0 1 w1 1 … 1`` — so each
    adjacent pair belongs to exactly one word's padded window (an empty
    word contributes its (1, 1) pair, an empty lexicon no pair)."""
    words = list(words)
    lens = np.fromiter(map(len, words), dtype=np.int64, count=len(words))
    cps = np.frombuffer("".join(words).encode("utf-32-le", "surrogatepass"), dtype=np.uint32)
    idx = np.where(cps < 128, _ASCII_INDEX[cps & 127], 0)
    seq = np.insert(idx, np.concatenate(([0], np.cumsum(lens))), 1)  # a 1 before each word and at the end
    return np.bincount(seq[:-1] * V + seq[1:], minlength=V * V).reshape(V, V)


class NGramScorer:
    """Bigram char LM over the lexicon + membership test.

    ``membership``/``counts`` let the cluster-scale variants inject their
    artifacts: a distributively-aggregated bigram count matrix
    (operators/scorer_fit.py — bit-identical to the local fit, tested)
    and/or a Bloom-filter membership set (core/bloom.py — documented
    false-positive semantics; identical scoring wherever the filter
    agrees with the exact set)."""

    def __init__(self, lexicon: frozenset[str] | set[str], membership=None, counts: np.ndarray | None = None):
        if membership is not None and counts is None:
            # a membership-only construction would silently fit the bigram
            # model on the (usually empty) ``lexicon`` argument, producing a
            # near-uniform LM — refuse the degenerate path loudly
            raise ValueError("membership injection requires an explicit counts matrix (operators/scorer_fit.py)")
        self.lexicon = membership if membership is not None else frozenset(lexicon)
        if counts is None:
            counts = np.ones((V, V), dtype=np.float64) + _bigram_counts(lexicon)  # add-one smoothing
        self.log_prob = np.log(counts / counts.sum(axis=1, keepdims=True))

    def _mean_lp(self, word: str) -> float:
        e = _encode(word)
        return float(self.log_prob[e[:-1], e[1:]].mean())

    def word_prob(self, word: str) -> float:
        t = remove_punctuation(word).lower()
        if not t:
            return 1.0
        if t in self.lexicon:
            return IN_LEXICON_P
        return min(OOV_CAP, 1.0 / (1.0 + math.exp(-K * (self._mean_lp(t) - TAU))))

    def word_probs(self, words: list[str]) -> list[float]:
        return [self.word_prob(w) for w in words]

    def sentence_score(self, words: list[str]) -> float:
        """A8 — mean word probability. Empty sentences score 1.0 (the
        reference would divide by zero; pinned to 1.0)."""
        if not words:
            return 1.0
        return float(np.mean([self.word_prob(w) for w in words]))

    def wrong_indexes(self, words: list[str]) -> list[tuple[int, str]]:
        """M2 (BERTEvaluator.py:25-26): (index, word) where p < 0.5."""
        return [(i, w) for i, w in enumerate(words) if self.word_prob(w) < 0.5]
