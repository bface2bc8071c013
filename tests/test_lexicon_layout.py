"""The lexicon's distributed dictionary encode against a global
row_number()."""
from __future__ import annotations


def test_dict_encode_distributed_equals_global_rank(spark):
    """The distributed dictionary encode (range partition + per-partition
    offsets + local rank) assigns EXACTLY the ids of the single-task
    row_number() OVER (ORDER BY word) — for several partition counts,
    including more partitions than words."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window as W

    from post_ocr_corretion_spark.operators.lexicon import corpus_words, dict_encode_distributed

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    vocab = corpus_words(docs)
    want = {
        (r.word, r.wid)
        for r in vocab.withColumn(
            "wid", F.row_number().over(W.orderBy("word")).cast("long")
        ).collect()
    }
    assert len(want) > 20
    for n in (1, 3, 8, len(want) + 5):
        got = {(r.word, r.wid) for r in dict_encode_distributed(vocab, n).collect()}
        assert got == want, f"num_partitions={n}"
