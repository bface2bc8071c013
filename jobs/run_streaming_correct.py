"""spark-submit entry for CONTINUOUS extract+correct over a crawl feed
(Structured Streaming ship path).

    spark-submit --py-files /tmp/pkg.zip jobs/run_streaming_correct.py \
        --src /data/incoming_pages --out /data/corrected \
        --checkpoint /data/ckpt --lexicon-sf /root/testdata/sf0.001

Design: the scorer/lexicon are MODEL ARTIFACTS fit once from a static
corpus (``--lexicon-sf``, same distributed sidecar fit as the batch
flagship) and broadcast; the stream then flows url-dedup (stateful,
optional TTL) → extract (mapInPandas is stream-capable) → beam
correction → checkpointed parquet sink. Restarting the job resumes from
the checkpoint: already-processed files are not re-read and dedup state
is restored (exactly-once per url within the state window).

``--available-now`` drains what exists and exits (batch-ish operation,
used by tests); omit it for a continuous 30s-trigger run. A drain that
does not finish within 600 s is stopped and the job exits 1 without a
success record, because the sink then holds only part of the input.
"""
from __future__ import annotations

import argparse
import json
import sys


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser()
    parser.add_argument("--src", required=True, help="directory of parquet page files (url, html, lang)")
    parser.add_argument("--out", required=True)
    parser.add_argument("--checkpoint", required=True)
    parser.add_argument("--lexicon-sf", default="/root/testdata/sf0.001")
    parser.add_argument(
        "--ttl-seconds",
        type=int,
        default=None,
        help="sliding-window dedup state eviction (ts derived from warc_ts); "
        "default: unbounded exact dedup",
    )
    parser.add_argument("--available-now", action="store_true")
    parser.add_argument("--cores", type=int, default=None)
    args = parser.parse_args(argv)

    from pyspark.sql import functions as F

    from post_ocr_corretion_spark.datagen.wordlist import COMMON_WORDS
    from post_ocr_corretion_spark.operators.correction import run_beam_udf
    from post_ocr_corretion_spark.operators.extract import extract
    from post_ocr_corretion_spark.operators.lexicon import build_lexicon
    from post_ocr_corretion_spark.pipeline import build_scorer_broadcast
    from post_ocr_corretion_spark.session import ensure_package_shipped, get_spark
    from post_ocr_corretion_spark.sources.webpages import read_documents
    from post_ocr_corretion_spark.streaming.dedup import first_seen_pages

    spark = get_spark(app_name="streaming_extract_correct", cores=args.cores)
    ensure_package_shipped(spark)

    # model artifacts: distributed sidecar fit from the static corpus
    lex_df = build_lexicon(
        spark, read_documents(spark, args.lexicon_sf), COMMON_WORDS, bucketed=False
    )
    scorer_bc, lex = build_scorer_broadcast(spark, lex_df)
    lexicon_bc = spark.sparkContext.broadcast(lex)

    schema = "url string, warc_ts timestamp, html binary, text string, lang string, doc_id long"
    pages = spark.readStream.schema(schema).parquet(args.src)
    # stateful dedup carries the FULL row through the state operator —
    # no stream-stream rejoin (which would need watermarks) required
    if args.ttl_seconds is not None:
        with_ts = pages.withColumn("ts", F.unix_timestamp("warc_ts"))
        deduped_pages = first_seen_pages(with_ts, ttl_seconds=args.ttl_seconds).drop("ts")
    else:
        deduped_pages = first_seen_pages(pages)
    extracted = extract(deduped_pages)
    enabled = (F.col("lang") == "en") & (~F.col("kind").isin("pdf_stub"))
    corrected = run_beam_udf(
        extracted.withColumn("correct_enabled", enabled),
        scorer_bc,
        lexicon_bc,
        enabled_col="correct_enabled",
    )
    out_cols = ["url", "lang", "kind", "extracted_text", "corrected_words"]
    writer = (
        corrected.select(*out_cols)
        .withColumn("corrected_text", F.concat_ws("", "corrected_words"))
        .drop("corrected_words")
        .writeStream.format("parquet")
        .option("path", args.out)
        .option("checkpointLocation", args.checkpoint)
        .outputMode("append")
    )
    if args.available_now:
        q = writer.trigger(availableNow=True).start()
        if not q.awaitTermination(600):
            q.stop()  # never read the sink while the query still runs
            print(f"drain did not finish within 600 s; the sink at {args.out} is partial", file=sys.stderr)
            return 1
    else:
        q = writer.trigger(processingTime="30 seconds").start()
        q.awaitTermination()
    try:
        n = spark.read.parquet(args.out).count()
    except Exception:
        n = 0  # an empty drain commits no files — that is a valid run
    print(json.dumps({"rows_in_sink": n, "out": args.out}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
