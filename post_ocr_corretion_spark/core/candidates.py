"""Pinned distance-1 candidate-word semantics (D7/D8/J1/J2).

The reference generates regex patterns (substitution ``\\w`` at i,
deletion of i, insertion of ``\\w`` before i — correctionSentences.py:
131-145, probabilities 0.7/0.15/0.15 from :17-21) and matches them against
a bucketed lexicon (correctionSentences.py:65-90).  As-written the match
function always returns ``set()`` (the ``try/finally: return set()`` bug,
:74-75); per SURVEY.md §7.0.1 we implement the *intended* semantics.

The regex theta-join is re-expressed as pure set/equi-join logic, which is
what the Spark side turns into SymSpell-style deletion-key equi-joins
(operators/candidates.py):

- substitution at i matches lexicon word v  ⇔  |v| = |w|, v agrees with w
  everywhere except position i, and v[i] ∈ WORDCHAR;
- deletion at i matches v  ⇔  v = w with char i removed;
- insertion before i (i ∈ 0..|w|−1 — the reference does NOT insert at the
  end, :143-145) matches v  ⇔  deleting v[i] yields w and v[i] ∈ WORDCHAR.

WORDCHAR is pinned to ASCII ``[a-z0-9_]`` (regex ``\\w`` over lowercased
ASCII text; the reference's sentinel-letter escaping round-trip
(:24-25,148-151) is replaced by this direct formulation — SURVEY.md §7.0).

``get_alternative_word`` mirrors correctionSentences.py:265-275: candidates
always include (w, 1) and (w_nopunct, 1); patterns from BOTH w and
w_nopunct are matched; results dedup on the (word, score) pair. At the
pinned max distance 1 (:160-161) one round of distance-1 matching runs. At
distance 2 (the report's §4.4 configuration) a second round matches every
string one op away from a base, with multiplied scores: the lexicon words
two ops away are exactly those strings' distance-1 matches, so both rounds
use the one matcher (the deletion index, or ``distance1_matches``).
"""
from __future__ import annotations

from typing import NamedTuple

import numpy as np

from .textops import remove_punctuation

WORDCHAR = "abcdefghijklmnopqrstuvwxyz0123456789_"
WORDCHAR_SET = frozenset(WORDCHAR)

P_SUB = 0.7
P_DEL = 0.15
P_INS = 0.15
# the reference's loop guard (correctionSentences.py:280-282): a round of
# distance-2 expansion runs only while fewer candidates are held
WORDS_FOR_GENERATION = 15


def distance1_matches(w: str, lexicon: frozenset[str] | set[str]) -> set[tuple[str, float]]:
    """All lexicon words reachable from ``w`` by one substitution /
    deletion / insertion per the pinned semantics, with their operation
    scores. A word reachable via several ops appears once per distinct
    (word, score) pair — matching the reference's tuple-set dedup
    (correctionSentences.py:111,213)."""
    out: set[tuple[str, float]] = set()
    n = len(w)
    for i in range(n):
        prefix, suffix = w[:i], w[i + 1 :]
        for c in WORDCHAR:
            v = prefix + c + suffix
            if v in lexicon:
                out.add((v, P_SUB))
            u = prefix + c + w[i:]  # insertion before i
            if u in lexicon:
                out.add((u, P_INS))
        d = prefix + suffix  # deletion of i
        if d and d in lexicon:
            out.add((d, P_DEL))
    return out


class DeletionIndex(NamedTuple):
    """SymSpell-style deletion index: one entry per (word, deleted
    position), sorted by the hash of the deletion key."""

    keys: np.ndarray  # uint64, sorted: hash of v[:j] + v[j + 1:]
    rows: np.ndarray  # int32: v's row in ``words``
    pos: np.ndarray  # int32: j
    words: list[str]


# The key hash is hash(s) = Σ_t ord(s[t])·P^(t+1) mod 2^64.
_P = 0x9E3779B97F4A7C15
_MASK = (1 << 64) - 1


def _deletion_hashes(cps: np.ndarray) -> np.ndarray:
    """hash(v[:j] + v[j + 1:]) at [r, j] for m words of one length n,
    given as an m×n code-point matrix.  A deletion at j keeps the prefix's
    powers and shifts the suffix's down by one, so every column comes from
    one prefix and one suffix cumsum (uint64 arithmetic wraps mod 2^64)."""
    n = cps.shape[1]
    pw = [1]
    for _ in range(n):
        pw.append(pw[-1] * _P & _MASK)
    pw = np.array(pw, dtype=np.uint64)
    c = cps.astype(np.uint64)
    kept = c * pw[1:]  # c_t·P^(t+1)
    head = np.cumsum(kept, axis=1) - kept  # Σ_{t<j}
    shifted = c * pw[:-1]  # c_t·P^t
    tail = shifted.sum(axis=1, keepdims=True) - np.cumsum(shifted, axis=1)  # Σ_{t>j}
    return head + tail


def _probe_hashes(w: str) -> list[int]:
    """hash(w[:j] + w[j + 1:]) for j < len(w), then hash(w): the same
    sums as ``_deletion_hashes`` in one O(len) pass over Python integers,
    which beat numpy's per-call cost on a single short word."""
    head = [0]  # head[j] = Σ_{t<j} c_t·P^(t+1), reduced at the end
    shifted = []  # c_t·P^t
    p = 1
    h = 0
    for ch in w:
        c = ord(ch)
        shifted.append(c * p)
        p = p * _P & _MASK
        h += c * p
        head.append(h)
    tail = 0  # Σ_{t>j} c_t·P^t
    for j in range(len(w) - 1, -1, -1):
        head[j] = (head[j] + tail) & _MASK
        tail += shifted[j]
    head[-1] &= _MASK
    return head


def build_deletion_index(lexicon) -> DeletionIndex:
    """SymSpell-style deletion index over the lexicon: the key v[:j] +
    v[j + 1:] of every word v and position j, stored as three numpy
    arrays sorted by key hash (hash, word row, j) beside the word list —
    16 bytes an entry.  The executor-local analog of
    operators/lexicon.deletion_neighborhood, hashed vectorized one
    word-length bucket at a time: candidate generation becomes O(len)
    hash probes instead of the O(len·|WORDCHAR|) membership probing of
    ``distance1_matches``.  Memory is Σ len(w) entries (vocabulary-bounded;
    at 10^8+ vocabularies use the Catalyst equi-join mode instead)."""
    words = list(lexicon)
    lens = np.fromiter(map(len, words), dtype=np.int64, count=len(words))
    cps = np.frombuffer("".join(words).encode("utf-32-le", "surrogatepass"), dtype=np.uint32)
    starts = np.cumsum(lens) - lens
    by_len = np.argsort(lens, kind="stable")
    sorted_lens = lens[by_len]
    keys = [np.empty(0, dtype=np.uint64)]
    rows = [np.empty(0, dtype=np.int32)]
    pos = [np.empty(0, dtype=np.int32)]
    for n in np.unique(sorted_lens[sorted_lens > 0]).tolist():
        r = by_len[np.searchsorted(sorted_lens, n) : np.searchsorted(sorted_lens, n, "right")]
        keys.append(_deletion_hashes(cps[starts[r][:, None] + np.arange(n)]).ravel())
        rows.append(np.repeat(r.astype(np.int32), n))
        pos.append(np.tile(np.arange(n, dtype=np.int32), len(r)))
    keys = np.concatenate(keys)
    order = np.argsort(keys)
    return DeletionIndex(keys[order], np.concatenate(rows)[order], np.concatenate(pos)[order], words)


def distance1_matches_indexed(w: str, lexicon, idx: DeletionIndex) -> set[tuple[str, float]]:
    """``distance1_matches`` computed against a prebuilt deletion index —
    identical result set (tested for equality against both the direct
    formulation and the brute force).  The n + 1 probes — w minus each
    position, then w itself — are hashed and looked up in one
    searchsorted, and a hit counts only when its word minus its position
    IS the probe, so a hash collision never changes the set."""
    out: set[tuple[str, float]] = set()
    n = len(w)
    probes = [w[:i] + w[i + 1 :] for i in range(n)]
    for d in probes:
        if d and d in lexicon:
            out.add((d, P_DEL))  # deletion of i
    probes.append(w)
    keys, rows, pos, words = idx
    end = len(keys)
    hashes = _probe_hashes(w)
    starts = keys.searchsorted(np.array(hashes, dtype=np.uint64)).tolist()
    for i, (probe, h, k) in enumerate(zip(probes, hashes, starts)):
        while k < end and keys.item(k) == h:
            j = pos.item(k)
            # i < n: v is w with position i replaced by v[j] (substitution
            # at i); i == n: deleting v[j] yields w, an insertion before
            # j ≤ n - 1 (never at the end)
            if j == i if i < n else j < n:
                v = words[rows.item(k)]
                if v[j] in WORDCHAR_SET and v[:j] + v[j + 1 :] == probe:
                    out.add((v, P_SUB if i < n else P_INS))
            k += 1
    return out


def one_op_strings(s: str) -> set[tuple[str, float]]:
    """All concrete strings one pinned op away from ``s`` with the op
    score — the word-level analog of one D7 pattern round (substituted /
    inserted chars range over WORDCHAR, insertion before i = 0..len-1,
    no end-insertion)."""
    out: set[tuple[str, float]] = set()
    n = len(s)
    for i in range(n):
        prefix, suffix = s[:i], s[i + 1 :]
        for c in WORDCHAR:
            out.add((prefix + c + suffix, P_SUB))
            out.add((prefix + c + s[i:], P_INS))
        d = prefix + suffix
        if d:
            out.add((d, P_DEL))
    return out


def get_alternative_word(
    word: str,
    lexicon: frozenset[str] | set[str],
    max_distance: int = 1,
    words_for_generation: int = WORDS_FOR_GENERATION,
    delidx: DeletionIndex | None = None,
) -> set[tuple[str, float]]:
    """correctionSentences.py:265-275 with the pinned decisions.
    ``word`` arrives lowercased (caller mirrors :261).

    ``max_distance`` mirrors get_max_lev_distance: 1 (the code,
    correctionSentences.py:160-161) is the pinned default, 2 the report's
    §4.4 configuration; any other value raises ValueError. Distance 1 adds
    the distance-1 matches of both bases. Distance 2 runs two rounds, each
    only while fewer than ``words_for_generation`` candidates are held (the
    loop guard, :280-282): round 1 adds the bases' matches; round 2 takes
    the round-1 frontier (the bases with score 1 and their
    ``one_op_strings`` — D7 applied to the pattern SET, :272) and adds each
    string's matches, the op score multiplied by each of its frontier
    scores. The lexicon words two ops away are exactly the distance-1
    matches of the strings one op away, so every round uses the one
    matcher: the deletion index when ``delidx`` is given, else
    ``distance1_matches``, which needs only ``in`` (a Bloom lexicon)."""
    if max_distance not in (1, 2):
        raise ValueError(f"max_distance must be 1 or 2, got {max_distance}")

    def matches(s: str) -> set[tuple[str, float]]:
        if delidx is not None:
            return distance1_matches_indexed(s, lexicon, delidx)
        return distance1_matches(s, lexicon)

    w_nopunct = remove_punctuation(word)
    candidates: set[tuple[str, float]] = {(word, 1.0), (w_nopunct, 1.0)}
    bases = {b for b in (word, w_nopunct) if b}
    if max_distance == 2 and words_for_generation <= len(candidates):
        return candidates
    for b in bases:
        candidates |= matches(b)
    if max_distance == 1 or words_for_generation <= len(candidates):
        return candidates
    frontier: dict[str, set[float]] = {b: {1.0} for b in bases}
    for b in bases:
        for t, op in one_op_strings(b):
            frontier.setdefault(t, set()).add(op)
    for u, scores in frontier.items():
        for v, op in matches(u):
            candidates.update((v, sc * op) for sc in scores)
    return candidates
