"""``session.local_frame`` builds the same frame as ``createDataFrame`` on
a Python list, as a ``LocalTableScan`` instead of a pickled Python RDD.

The cases are the schemas of the call sites it replaced, each with rows
and empty, under ``spark.sql.execution.arrow.pyspark.enabled`` on and off.
"""
from __future__ import annotations

import pytest

from post_ocr_corretion_spark.operators.multimodal import BLOB_SCHEMA
from post_ocr_corretion_spark.session import local_frame

from conftest import SF_SMOKE

CASES = {
    "lexicon_base": ("word string", [("apple",), ("zebra",), ("ünïcode",)]),
    "a15_word_list": ("lw string", [("the",), ("of",)]),
    "cms_counts": ("event_type string, n long", [("click", 3), ("view", 2**40)]),
    "pq_codebook": (
        "_cb: array<array<array<double>>>",
        [([[[1.0, -0.0], [2.5, 3.25]], [[-1e300, 5e-324], [0.0, 7.0]]],)],
    ),
    "kmeans_centroids": ("_cents: array<array<double>>", [([[0.6, 0.8], [1.0, 0.0]],)]),
    "lopq_lists": (
        "list_id int, rt array<array<double>>, cb array<array<array<double>>>",
        [(0, [[1.0, 0.0], [0.0, 1.0]], [[[0.5]], [[1.5]]]), (1, [[0.0, 1.0], [1.0, 0.0]], [[[2.0]], [[-2.0]]])],
    ),
    "blobs": (
        BLOB_SCHEMA,
        [
            (0, "image", b"\x89PNG\x00\xff", {"width": 16, "height": 12, "duration_ms": None}),
            (1, "audio", b"", {"width": None, "height": None, "duration_ms": 100}),
            (2, "video", b"fake", None),
        ],
    ),
    "bpe_merges": (
        "step int, lft string, rgt string, merged string, cnt long",
        [(1, "t", "h", "th", 40), (2, "th", "e", "the", 31)],
    ),
    "special_symbols": ("token string, idx int", [("<pad>", 0), ("<s>", 1), ("</s>", 2), ("<unk>", 3)]),
}


@pytest.fixture(params=["true", "false"], ids=["arrow_on", "arrow_off"])
def arrow_conf(spark, request):
    key = "spark.sql.execution.arrow.pyspark.enabled"
    old = spark.conf.get(key)
    spark.conf.set(key, request.param)
    yield
    spark.conf.set(key, old)


@pytest.mark.parametrize("empty", [False, True], ids=["rows", "empty"])
@pytest.mark.parametrize("case", sorted(CASES))
def test_local_frame_equals_create_data_frame(spark, arrow_conf, case, empty):
    schema, rows = CASES[case]
    rows = [] if empty else rows
    got = local_frame(spark, rows, schema)
    want = spark.createDataFrame(rows, schema)
    assert got.schema == want.schema
    assert got.collect() == want.collect()
    assert "LocalTableScan" in got._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize("bucketed", [True, False])
def test_lexicon_base_words_are_a_local_relation(spark, bucketed):
    """The flagship's base words reach the lexicon job without a Python
    task: the plan has a ``LocalTableScan`` leaf, not the scan of an
    RDD that ``applySchemaToPythonRDD`` made from pickled rows."""
    from post_ocr_corretion_spark.datagen.wordlist import COMMON_WORDS
    from post_ocr_corretion_spark.operators.lexicon import build_lexicon

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    plan = build_lexicon(spark, docs, COMMON_WORDS, bucketed=bucketed)._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan [word" in plan
    assert "ExistingRDD" not in plan
