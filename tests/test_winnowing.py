"""Winnowing fingerprints (operators/winnowing.py) vs a pure-Python
reference, the paper's match guarantee, and edge cases."""
from __future__ import annotations

import hashlib
import random

from post_ocr_corretion_spark.operators.winnowing import winnow_fingerprints

K, W = 8, 4


def _py_winnow(text: str, k: int = K, w: int = W) -> set[tuple[int, str]]:
    """Reference: min hash per window, ties → rightmost, deduped."""
    n = len(text) - k + 1
    if n < w:
        return set()
    hs = [
        int(hashlib.md5(text[i : i + k].encode()).hexdigest()[:16], 16)
        for i in range(n)
    ]
    out = set()
    for p in range(n - w + 1):
        window = hs[p : p + w]
        m = min(window)
        # rightmost occurrence of the min
        j = p + max(i for i, h in enumerate(window) if h == m)
        out.add((j + 1, hashlib.md5(text[j : j + k].encode()).hexdigest()[:16]))
    return out


def test_matches_pure_python_reference(spark):
    rng = random.Random(8)
    texts = [
        "".join(rng.choice("abcdef ") for _ in range(rng.randint(11, 200)))
        for _ in range(10)
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got: dict[int, set] = {}
    for r in winnow_fingerprints(docs).collect():
        got.setdefault(r["doc_id"], set()).add((r["pos"], r["gram_hash"]))
    for i, t in enumerate(texts):
        assert got.get(i, set()) == _py_winnow(t), f"doc {i}"


def test_shared_substring_shares_a_fingerprint(spark):
    # the paper's guarantee: a common substring of length >= w + k - 1
    # (= 11 here) yields at least one shared selected HASH
    rng = random.Random(99)
    common = "the quick brown fox jumps"
    a = "".join(rng.choice("xyz") for _ in range(40)) + common
    b = common + "".join(rng.choice("uvw") for _ in range(40))
    docs = spark.createDataFrame([(0, a), (1, b)], "doc_id long, text string")
    fps: dict[int, set] = {0: set(), 1: set()}
    for r in winnow_fingerprints(docs).collect():
        fps[r["doc_id"]].add(r["gram_hash"])
    assert fps[0] & fps[1]


def test_short_docs_emit_nothing(spark):
    docs = spark.createDataFrame(
        [(0, "0123456789")], "doc_id long, text string"  # 10 < k + w - 1
    )
    assert winnow_fingerprints(docs).count() == 0
