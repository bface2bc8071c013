"""Streaming correction: the SAME beam operator (mapInPandas is
stream-capable) applied to a readStream source produces byte-identical
output to the batch run — Structured Streaming's unified-API promise,
exercised on our flagship operator."""
from __future__ import annotations

from pyspark.sql import functions as F


def test_stream_correction_matches_batch(spark, docs_rows, fixture_scorer, fixture_lexicon, tmp_path):
    from post_ocr_corretion_spark.operators.correction import run_beam_udf

    texts = [(r["text"],) for r in docs_rows[:40]]
    src = str(tmp_path / "src")
    spark.createDataFrame(texts, "extracted_text string").coalesce(1).write.parquet(src)

    scorer_bc = spark.sparkContext.broadcast(fixture_scorer)
    lex_bc = spark.sparkContext.broadcast(fixture_lexicon)

    batch = {
        r.extracted_text: r.corrected_words
        for r in run_beam_udf(spark.read.parquet(src), scorer_bc, lex_bc).collect()
    }

    stream = spark.readStream.schema("extracted_text string").parquet(src)
    sink = str(tmp_path / "sink")
    q = (
        run_beam_udf(stream, scorer_bc, lex_bc)
        .writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    streamed = {r.extracted_text: r.corrected_words for r in spark.read.parquet(sink).collect()}
    assert streamed == batch and len(streamed) == len(texts)


def test_dedup_then_correct_composition(spark, docs_rows, fixture_scorer, fixture_lexicon, tmp_path):
    """The stateful url dedup and the beam correction STACK in one
    streaming query: re-delivered urls are corrected exactly once, and
    every emitted correction is byte-identical to the batch operator."""
    from post_ocr_corretion_spark.core.beam import correct_sentence
    from post_ocr_corretion_spark.operators.correction import run_beam_udf
    from post_ocr_corretion_spark.streaming.dedup import first_seen_urls

    rows = [(f"https://h{i % 3}.example.com/p{i}", r["text"]) for i, r in enumerate(docs_rows[:20])]
    src = str(tmp_path / "src")
    # batch 1 + batch 2 re-delivers half of batch 1 plus 5 new urls
    spark.createDataFrame(rows, "url string, extracted_text string").coalesce(1).write.mode(
        "append"
    ).parquet(src)
    extra = [(f"https://hx.example.com/n{i}", docs_rows[30 + i]["text"]) for i in range(5)]
    spark.createDataFrame(rows[:10] + extra, "url string, extracted_text string").coalesce(
        1
    ).write.mode("append").parquet(src)

    scorer_bc = spark.sparkContext.broadcast(fixture_scorer)
    lex_bc = spark.sparkContext.broadcast(fixture_lexicon)
    text_by_url = dict(rows + extra)

    stream = spark.readStream.schema("url string, extracted_text string").parquet(src)
    # re-attach the payload via a Catalyst map literal — a row-wise Python
    # UDF directly over applyInPandasWithState output trips a
    # GenericInternalRow/UnsafeRow cast error in Spark 4.1
    lookup = F.create_map(*[F.lit(x) for kv in text_by_url.items() for x in kv])
    deduped = first_seen_urls(stream).withColumn("extracted_text", lookup[F.col("url")])
    corrected = run_beam_udf(deduped, scorer_bc, lex_bc)
    sink = str(tmp_path / "sink")
    q = (
        corrected.writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(240)
    out = spark.read.parquet(sink).collect()
    urls = [r.url for r in out]
    assert len(urls) == len(set(urls)) == 25  # 20 + 5, each exactly once
    for r in out:
        want = correct_sentence(text_by_url[r.url], fixture_scorer, fixture_lexicon)
        assert r.corrected_words == want, r.url


def test_session_window_batch_stream_parity(spark, tmp_path):
    """session_stats (native session_window) over the events parquet:
    the streaming drain (availableNow, complete mode) produces exactly
    the batch result — the streaming form of the `sessionize` registry
    query, whose batch semantics are oracle-checked vs gaps-and-islands
    SQL in test_entry_queries."""
    import shutil

    from post_ocr_corretion_spark.streaming.windows import (
        EVENTS_SCHEMA,
        session_stats,
        stream_events,
    )

    src = str(tmp_path / "events_dir")
    shutil.os.makedirs(src)
    batch_df = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    batch_df.coalesce(1).write.mode("append").parquet(src)

    q = (
        session_stats(stream_events(spark, src))
        .writeStream.format("memory")
        .queryName("sess_stats")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    streamed = {tuple(r) for r in spark.sql("SELECT * FROM sess_stats").collect()}
    batch = {tuple(r) for r in session_stats(batch_df).collect()}
    assert streamed == batch and len(batch) > 0
