"""Spark SymSpell equi-join candidate generation ≡ pinned core semantics,
and both ≡ a brute-force reference over the whole lexicon."""
from __future__ import annotations

from post_ocr_corretion_spark.core.candidates import (
    P_DEL,
    P_INS,
    P_SUB,
    WORDCHAR_SET,
    distance1_matches,
    get_alternative_word,
)

ERR_WORDS = ["ken", "cit.", "dis0ric!", "the", "a", "scn", "qery,", "jion", "x|y", "...."]


def brute_force(w: str, lexicon) -> set[tuple[str, float]]:
    """Independent formulation: scan every lexicon word, classify the edit."""
    out = set()
    for v in lexicon:
        if len(v) == len(w):
            diffs = [i for i in range(len(w)) if v[i] != w[i]]
            if len(diffs) == 1 and v[diffs[0]] in WORDCHAR_SET:
                out.add((v, P_SUB))
            # zero diffs: the substitution pattern at i regenerates w itself
            # whenever w[i] is a word char — so w ∈ lexicon matches at P_SUB
            if len(diffs) == 0 and any(c in WORDCHAR_SET for c in v):
                out.add((v, P_SUB))
        elif len(v) == len(w) - 1:
            for i in range(len(w)):
                if w[:i] + w[i + 1 :] == v and v:
                    out.add((v, P_DEL))
                    break
        elif len(v) == len(w) + 1:
            # insertion before i for i in 0..len(w)-1 → inserted char index i <= len(v)-2
            for i in range(len(w)):
                if v[:i] + v[i + 1 :] == w and v[i] in WORDCHAR_SET:
                    out.add((v, P_INS))
                    break
    return out


def test_core_matches_brute_force(fixture_lexicon):
    for w in ERR_WORDS:
        w = w.lower()
        got = distance1_matches(w, fixture_lexicon)
        want = brute_force(w, fixture_lexicon)
        assert got == want, (w, got ^ want)


def test_spark_pairs_match_core(spark, fixture_lexicon, fixture_scorer, docs_rows):
    from pyspark.sql import functions as F

    from post_ocr_corretion_spark.datagen.wordlist import COMMON_WORDS
    from post_ocr_corretion_spark.operators.candidates import candidate_pairs
    from post_ocr_corretion_spark.operators.lexicon import build_lexicon, deletion_neighborhood

    docs = spark.createDataFrame([(r["doc_id"], r["text"]) for r in docs_rows], "doc_id long, text string")
    lex_df = build_lexicon(spark, docs, COMMON_WORDS)
    spark_lex = {r.word for r in lex_df.collect()}
    assert spark_lex == set(fixture_lexicon)  # A2/U1 parity

    lex_del = deletion_neighborhood(lex_df)
    err = spark.createDataFrame([(w.lower(),) for w in ERR_WORDS], "err_word string")
    pairs = candidate_pairs(err, lex_df, lex_del).collect()
    got: dict[str, set] = {}
    for r in pairs:
        got.setdefault(r.err_word, set()).add((r.word, r.score))
    for w in ERR_WORDS:
        w = w.lower()
        want = get_alternative_word(w, fixture_lexicon)
        assert got.get(w, set()) == want, (w, got.get(w, set()) ^ want)


def test_candidate_batch_order(fixture_lexicon, fixture_scorer):
    from post_ocr_corretion_spark.core.beam import candidate_batch

    batch = candidate_batch("cit.", fixture_scorer, fixture_lexicon)
    base = [(w, s) for w, s, _ in batch if not w.endswith(".") or w in ("cit.",)]
    # base prefix is sorted by (word, score)
    n_base = len(batch) // 2 if any(w.endswith(".") for w, _, _ in batch) else len(batch)
    prefix = [(w, s) for w, s, _ in batch[:n_base]]
    assert prefix == sorted(prefix)
    # punct variants mirror the base order with '.' appended
    suffix = batch[n_base:]
    assert [(w, s) for w, s, _ in suffix] == [(w + ".", s) for w, s, _ in batch[:n_base]]


def test_catalyst_variant_order_matches_core(spark, fixture_scorer):
    """ADVICE r1 regression: when one candidate word is a strict prefix of
    another and the trailing punct sorts below the next base char (';' vs
    '5'), variant order must follow the sorted BASE batch, not the
    concatenated variant string."""
    from post_ocr_corretion_spark.core.beam import candidate_batch
    from post_ocr_corretion_spark.operators.candidates import candidate_batches
    from post_ocr_corretion_spark.operators.lexicon import deletion_neighborhood

    lexicon = frozenset({"wrd", "wrd5"})
    lex_df = spark.createDataFrame([(w,) for w in sorted(lexicon)], "word string")
    lex_del = deletion_neighborhood(lex_df)
    err = "wrd0;"
    err_df = spark.createDataFrame([(err,)], "err_word string")
    scorer_bc = spark.sparkContext.broadcast(fixture_scorer)
    rows = candidate_batches(err_df, lex_df, lex_del, scorer_bc).collect()
    assert len(rows) == 1
    got = [(c.word, c.score, c.p) for c in rows[0].cands]
    want = candidate_batch(err, fixture_scorer, lexicon)
    assert got == want
    # the pinned left-fold normalizer must agree too
    w_total = 0.0
    for _, s, _ in want:
        w_total += s
    assert rows[0].w_total == w_total


def test_indexed_matches_equal_direct(fixture_lexicon):
    """The SymSpell deletion index produces byte-identical candidate sets
    to the direct membership-probe formulation, for every error word and
    through get_alternative_word."""
    from post_ocr_corretion_spark.core.candidates import (
        build_deletion_index,
        distance1_matches_indexed,
    )

    idx = build_deletion_index(fixture_lexicon)
    probes = [w.lower() for w in ERR_WORDS] + list(sorted(fixture_lexicon))[:100]
    for w in probes:
        assert distance1_matches_indexed(w, fixture_lexicon, idx) == distance1_matches(
            w, fixture_lexicon
        ), w
        assert get_alternative_word(w, fixture_lexicon, delidx=idx) == get_alternative_word(
            w, fixture_lexicon
        ), w


def test_colliding_hashes_leave_candidate_sets_unchanged(monkeypatch, fixture_lexicon):
    """With the hash multiplier at 0 every deletion key and every probe
    hashes to 0, so each probe hits every index entry: the candidate sets
    stay exact only because a hit is verified against the probe string."""
    from post_ocr_corretion_spark.core import candidates

    monkeypatch.setattr(candidates, "_P", 0)
    lexicon = frozenset(sorted(fixture_lexicon)[:200]) | {"a", "ab", "abc", "naïve", "x|y", "ken", "kens"}
    idx = candidates.build_deletion_index(lexicon)
    assert len(idx.keys) == sum(map(len, lexicon)) and not idx.keys.any()
    probes = [w.lower() for w in ERR_WORDS] + ["naive", "naïv", "xy", "b", "abd"] + sorted(lexicon)[:60]
    for w in probes:
        assert candidates._probe_hashes(w) == [0] * (len(w) + 1)
        assert candidates.distance1_matches_indexed(w, lexicon, idx) == distance1_matches(w, lexicon), w
