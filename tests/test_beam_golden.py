"""Golden outputs of ``core.beam.correct_sentence``: per document, the first
16 hex digits of the sha1 of the readable join, recorded for the 80 fixture documents and 400
sf-shaped documents generated here, in deterministic mode, in seeded
roulette mode (two seeds) and, on a subset, at ``max_distance=2``.

Any change to the beam's selection, tie-break or float order shows up as
a changed digest.  Regenerate (only for an intended output change) with

    python tests/test_beam_golden.py --write
"""
from __future__ import annotations

import functools
import hashlib
import json
import os
import random
import sys

GOLDEN = os.path.join(os.path.dirname(__file__), "golden", "beam_golden.json")

# the sf0.1 documents' vocabulary (the repo's generated ``documents`` table)
SF_WORDS = (
    "spark window merge table column vector stream value data small join filter big group hash "
    "customer sort order slow line part fast row the agg key query a scan batch"
).split()
N_GENERATED = 400
GEN_SEED = 20221206
ROULETTE_SEEDS = (1, 7)
D2_DOCS = 30


def generated_texts() -> list[str]:
    """sf-shaped ground-truth texts (10..100 words over SF_WORDS, ~5%
    near-duplicates); every other document carries sentence punctuation
    on ~15% of its words, so the beam's +punctuation variants run."""
    rng = random.Random(GEN_SEED)
    texts: list[str] = []
    for i in range(N_GENERATED):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[rng.randrange(i)] + " dup")
            continue
        words = [rng.choice(SF_WORDS) for _ in range(rng.randint(10, 100))]
        if i % 2:
            words = [w + rng.choice(".,!?;") if rng.random() < 0.15 else w for w in words]
        texts.append(" ".join(words))
    return texts


def beam_inputs(fixture_texts: list[str]) -> tuple[list[str], list[str]]:
    """(ground truths, texts the beam corrects): every ground truth is
    rendered to a noisy page and extracted, as the flagship does."""
    from post_ocr_corretion_spark.core.extraction import extract_document
    from post_ocr_corretion_spark.datagen.webpages import make_page

    truths = list(fixture_texts) + generated_texts()
    noisy = [extract_document(make_page(i, t, "en")["html"])[0] for i, t in enumerate(truths)]
    return truths, noisy


def digests(fixture_texts: list[str]) -> dict[str, list[str]]:
    from post_ocr_corretion_spark.core.beam import candidate_batch, correct_sentence, roulette_rng
    from post_ocr_corretion_spark.core.oracle import build_lexicon
    from post_ocr_corretion_spark.core.scoring import NGramScorer
    from post_ocr_corretion_spark.core.textops import join_words_readable
    from post_ocr_corretion_spark.datagen.wordlist import COMMON_WORDS

    truths, texts = beam_inputs(fixture_texts)
    lexicon = build_lexicon(truths, COMMON_WORDS)
    scorer = NGramScorer(lexicon)
    prob_fn = functools.lru_cache(maxsize=None)(scorer.word_prob)
    cand_fns = {
        d: functools.lru_cache(maxsize=None)(
            lambda w, d=d: candidate_batch(w, scorer, lexicon, d, prob_fn=prob_fn)
        )
        for d in (1, 2)
    }

    def run(text: str, max_distance: int, seed: int | None) -> str:
        words = correct_sentence(
            text,
            scorer,
            lexicon,
            prob_fn=prob_fn,
            cand_fn=cand_fns[max_distance],
            max_distance=max_distance,
            rng=None if seed is None else roulette_rng(seed, text),
        )
        return hashlib.sha1(join_words_readable(words).encode("utf-8")).hexdigest()[:16]

    out = {"det": [run(t, 1, None) for t in texts]}
    for seed in ROULETTE_SEEDS:
        out[f"roulette{seed}"] = [run(t, 1, seed) for t in texts]
    out["d2_det"] = [run(t, 2, None) for t in texts[:D2_DOCS]]
    out[f"d2_roulette{ROULETTE_SEEDS[0]}"] = [run(t, 2, ROULETTE_SEEDS[0]) for t in texts[:D2_DOCS]]
    return out


def _fixture_texts() -> list[str]:
    import pyarrow.parquet as pq

    from conftest import SF_SMOKE

    return [r["text"] for r in pq.read_table(f"{SF_SMOKE}/documents.parquet").to_pylist()[:80]]


def test_beam_matches_golden(docs_rows):
    with open(GOLDEN) as f:
        want = json.load(f)
    got = digests([r["text"] for r in docs_rows])
    assert set(got) == set(want)
    for mode in want:
        bad = [i for i, (g, w) in enumerate(zip(got[mode], want[mode])) if g != w]
        assert len(got[mode]) == len(want[mode]), mode
        assert not bad, f"{mode}: {len(bad)} docs differ, first {bad[:10]}"


if __name__ == "__main__":
    if sys.argv[1:] != ["--write"]:
        sys.exit("usage: python tests/test_beam_golden.py --write")
    here = os.path.dirname(os.path.abspath(__file__))
    sys.path[:0] = [here, os.path.dirname(here)]
    os.makedirs(os.path.dirname(GOLDEN), exist_ok=True)
    with open(GOLDEN, "w") as f:
        json.dump(digests(_fixture_texts()), f, indent=0)
        f.write("\n")
