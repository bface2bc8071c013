"""Deterministic beam-search sentence correction (D9/J7/A5/W2-W4).

Single-document reference semantics, pinned per SURVEY.md §7.0:

- errors are computed ONCE on the original sentence
  (correctionSentences.py:256-263) and processed in position order;
- the roulette-wheel selections (correctionSentences.py:296-330, seeded
  ``random.random``) are replaced by deterministic top-k with the stable
  tie-break (score desc, then space-joined text asc) — §7.0.2, identical
  under Spark's UTF8-binary and Python's code-point comparison.  Text
  order is the order of ``word + joiner`` tuples (joiner ' ', or '' for
  the last word), NOT of word tuples: ``str.split()`` keeps control
  characters below ' ', so ``"a\x01 b" < "a b"`` but ``"a\x01" > "a"``;
- per old beam sentence, every candidate substitution is scored as
  normalized-candidate-score + normalized-sentence-score
  (compute_sentence_score, correctionSentences.py:235-242), and the top
  ``beam_width`` survive (selected_sentences :230-233);
- between errors the pooled beam is pruned to ``beam_width`` by sentence
  score (select_best_sentences :288-291); the final answer is the best by
  sentence score (get_best_sentence :293-294, tie-break pinned text-asc);
- candidate words whose source error word had trailing [.,!?;] punctuation
  also get +punctuation variants appended AFTER the base batch
  (get_new_sentences :216-224), each scored on its own (variant words can
  have different probs than their base).

FLOAT-PARITY CONTRACT with operators/correction.py: sentence score is the
word-probability mean maintained INCREMENTALLY — ``psum_new =
(psum - p_old) + p_new`` and ``score = psum / n`` — and every batch
normalizer is a LEFT FOLD in the pinned candidate order (sorted base batch,
then variants in the same order).  The Spark side evaluates the very same
expressions in the same order (F.aggregate is a left fold), so doubles are
bit-identical, not merely close.

OVERLAY INVARIANT: a survivor is ``(psum, tie, subs)``: ``subs`` holds
the words it chose at the errors processed so far, ``tie`` the same words
with their joiners; every other word is the original.  Errors are
distinct positions taken in increasing order, so ``p_old`` is always the
original ``probs[idx]``, and comparing ``tie`` tuples is comparing texts.
Only the winner is expanded back into a word list.

Beam width and candidate count come from evolutionary_argument.json
(sentences_for_generation=3, words_for_generation=15).
"""
from __future__ import annotations

from .candidates import DeletionIndex, get_alternative_word
from .scoring import NGramScorer
from .textops import add_last_punctuation, sentence_words

BEAM_WIDTH = 3
WORDS_FOR_GENERATION = 15


def _prune(beams: list[tuple], n: int, k: int) -> list[tuple]:
    return sorted(beams, key=lambda b: (-(b[0] / n), b[1]))[:k]


def roulette_select(items: list, k: int, eval_fn, rng) -> list:
    """The reference's RouletteWheel (correctionSentences.py:302-330),
    faithfully: sort by value desc (stable — list order breaks ties),
    then repeat k times: renormalize over the REMAINING sample, build the
    cumulative distribution, draw ``rng.random()``, take the first element
    whose cumulative value exceeds the draw, and remove it (weighted
    sampling without replacement).  One pinned divergence: when the draw
    lands beyond the last cumulative value (float rounding at r→1), the
    reference's _roulette_spin returns None and crashes on
    ``sample.remove``; we take the last element instead.  A second pinned
    divergence (ADVICE r2): when the remaining weights sum to ≤ 0 (e.g.
    all-zero word probabilities), renormalizing would divide by zero (the
    reference crashes before its rng draw) — we take the remaining items
    in sorted order instead, consuming no draws (weights are ≥ 0, so once
    the total hits 0 it stays 0 and no later draw exists to misalign)."""
    sample = sorted(items, key=eval_fn, reverse=True)
    out: list = []
    while len(out) < k and sample:
        vals = [eval_fn(e) for e in sample]
        total = sum(vals)
        if total <= 0:
            out.append(sample.pop(0))
            continue
        r = rng.random()
        cum = 0.0
        pick = None
        for v, e in zip(vals, sample):
            cum += v / total
            if cum > r:
                pick = e
                break
        if pick is None:
            pick = sample[-1]
        out.append(pick)
        sample.remove(pick)
    return out


def roulette_rng(seed: int, text: str):
    """Per-document rng for the seeded roulette mode: deterministic in
    (seed, original text), independent of partitioning/batching — both the
    Spark UDF and the single-node oracle derive the identical stream."""
    import random
    import zlib

    return random.Random((seed << 32) ^ zlib.crc32(text.encode("utf-8")))


def candidate_batch(
    err_word: str,
    scorer: NGramScorer,
    lexicon: frozenset[str] | set[str],
    max_distance: int = 1,
    delidx: DeletionIndex | None = None,
    prob_fn=None,
) -> list[tuple[str, float, float]]:
    """The pinned, ordered candidate batch for one error word (original
    case, as it appears in the sentence): sorted (word, score) pairs from
    ``get_alternative_word(err_word.lower())``, each with its own word
    prob, then +punct variants in the same order.  ``delidx`` (optional,
    from candidates.build_deletion_index) swaps the membership-probe
    candidate search for index lookups — identical results, tested.
    ``prob_fn`` overrides ``scorer.word_prob`` as in ``correct_sentence``
    (the Spark UDF path injects its memoized one)."""
    prob_fn = prob_fn or scorer.word_prob
    base = sorted(get_alternative_word(err_word.lower(), lexicon, max_distance, delidx=delidx))
    batch = [(w, s, prob_fn(w)) for w, s in base]
    punct = add_last_punctuation(err_word)
    if punct:
        batch += [(w + punct, s, prob_fn(w + punct)) for w, s in base]
    return batch


def correct_sentence(
    text: str,
    scorer: NGramScorer,
    lexicon: frozenset[str] | set[str],
    beam_width: int = BEAM_WIDTH,
    prob_fn=None,
    cand_fn=None,
    max_distance: int = 1,
    rng=None,
) -> list[str]:
    """Returns the corrected word list for one document.

    ``prob_fn``/``cand_fn`` optionally override the per-word prob and
    candidate-batch lookups (the Spark UDF path injects memoized versions
    — executor-local dedup of the distinct-error-word work).

    ``rng`` flips W2 from the pinned deterministic top-k to the
    reference's EXACT seeded roulette-wheel selection
    (correctionSentences.py:288-291,230-233,293-294): beam pruning and
    per-batch candidate selection become weighted draws without
    replacement, and the final answer is max-by-score with FIRST-in-list
    tie-break (the reference's ``max``), not text-asc."""
    prob_fn = prob_fn or scorer.word_prob
    cand_fn = cand_fn or (lambda w: candidate_batch(w, scorer, lexicon, max_distance, prob_fn=prob_fn))
    words = sentence_words(text)
    n = len(words)
    if n == 0:
        return []
    probs = [prob_fn(w) for w in words]
    psum = 0.0
    for p in probs:  # left fold, matching F.aggregate
        psum += p
    errors = [(i, words[i]) for i in range(n) if probs[i] < 0.5]

    beams: list[tuple] = [(psum, (), ())]
    for idx, err_word in errors:
        batch = cand_fn(err_word)
        w_total = 0.0
        for _, s, _ in batch:
            w_total += s
        if rng is not None:
            # draw indices, so equal survivors stay distinct items
            picks = roulette_select(range(len(beams)), beam_width, lambda i: beams[i][0] / n, rng)
            pruned = [beams[i] for i in picks]
        else:
            pruned = _prune(beams, n, beam_width)
        # within one batch every candidate sentence shares the text around
        # idx, so its tie-break is cand_word + joiner
        sep = " " if idx < n - 1 else ""
        ties = [cw + sep for cw, _, _ in batch]
        p_old = probs[idx]
        new_beams: list[tuple] = []
        for psum, tie, subs in pruned:
            psums = [(psum - p_old) + cp for _, _, cp in batch]
            s_total = 0.0
            for ps in psums:
                s_total += ps / n
            scored = [
                (-(cs / w_total + (ps / n) / s_total), t, cw, ps)
                for (cw, cs, _), t, ps in zip(batch, ties, psums)
            ]
            if rng is not None:
                # reference selected_sentences (:230-233): roulette over the
                # candidate batch, weighted by the total score
                top = roulette_select(scored, beam_width, lambda c: -c[0], rng)
            else:
                scored.sort()  # equal (score, tie) ⇒ equal tuples
                top = scored[:beam_width]
            for _, t, cw, ps in top:
                new_beams.append((ps, tie + (t,), subs + (cw,)))
        beams = new_beams
    if rng is not None:
        # reference get_best_sentence (:293-294): max by score, ties go to
        # the FIRST in list order
        best = max(beams, key=lambda b: b[0] / n)
    else:
        best = _prune(beams, n, 1)[0]
    for (idx, _), cw in zip(errors, best[2]):
        words[idx] = cw
    return words
