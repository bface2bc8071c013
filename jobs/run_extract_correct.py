"""spark-submit entry for the flagship extract+correct job (north rule).

Ships with the package via ``--py-files``:

    cd /root/repo && zip -r /tmp/pkg.zip post_ocr_corretion_spark
    spark-submit --py-files /tmp/pkg.zip jobs/run_extract_correct.py \
        --sf-dir /root/testdata/sf0.01 --out /tmp/extract_correct_out

Output is a snapshot-committed parquet table (io/snapshots.py): atomic
manifest, per-file lineage rows + counters, and crash-safe RESUME — re-run
the same command after an interruption and the job either resumes from the
last committed snapshot (default) or appends a new one (--new-snapshot).
Job-level counters (pages, html bytes, pdf stubs, corrected pages) are
collected via ``df.observe`` and printed as one JSON line.
"""
from __future__ import annotations

import argparse
import json
import sys


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser()
    parser.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    parser.add_argument("--out", required=True)
    parser.add_argument("--mode", choices=["udf", "catalyst"], default="udf")
    parser.add_argument(
        "--new-snapshot", action="store_true", help="always write a new snapshot instead of resuming"
    )
    parser.add_argument("--cores", type=int, default=None)
    parser.add_argument("--max-distance", type=int, default=1, choices=[1, 2])
    parser.add_argument(
        "--sidecar-path",
        default=None,
        help="shared-storage dir for the lexicon sidecar (required on multi-node "
        "clusters unless spark.post_ocr.sidecarDir is set; executors must be able "
        "to read it)",
    )
    parser.add_argument(
        "--roulette-seed",
        type=int,
        default=None,
        help="enable the reference's seeded roulette-wheel W2 selection",
    )
    parser.add_argument(
        "--partition-by",
        default=None,
        help="comma-separated partition columns for the snapshot data (e.g. lang)",
    )
    parser.add_argument(
        "--replicate",
        type=int,
        default=1,
        help="deterministically replicate the input ×N (doc_id + 10^7·k) — "
        "scaling benchmarks; pages are pure functions of doc_id, so this IS "
        "a larger instance of the same table",
    )
    parser.add_argument(
        "--source",
        choices=["parquet", "synthetic"],
        default="parquet",
        help="input: the sf-dir documents parquet, or the self-contained "
        "Spark 4 Python DataSource (sources/synthetic_source.py — no "
        "testdata needed; corpus size via --n-docs)",
    )
    parser.add_argument(
        "--n-docs",
        type=int,
        default=500,
        help="corpus size when --source synthetic",
    )
    parser.add_argument(
        "--sink",
        choices=["snapshot", "noop"],
        default="snapshot",
        help="noop: run the identical computation into Spark's noop sink "
        "(no snapshot/lineage/output IO) — isolates compute scaling from "
        "the write path in the N-vs-4N bench",
    )
    args = parser.parse_args(argv)
    if args.source == "synthetic" and args.replicate > 1:
        parser.error("--replicate applies to the parquet source; size the synthetic corpus with --n-docs")

    from pyspark.sql import functions as F
    from pyspark.sql import Observation

    from post_ocr_corretion_spark.io.snapshots import SnapshotWriter
    from post_ocr_corretion_spark.pipeline import run_pipeline_from_docs
    from post_ocr_corretion_spark.session import get_spark
    from post_ocr_corretion_spark.sources.webpages import read_documents

    from pyspark.sql import SparkSession

    owns_session = SparkSession.getActiveSession() is None
    spark = get_spark(app_name="extract_correct", cores=args.cores)

    obs = Observation("counters")

    def job():
        lexicon_docs = None
        if args.source == "synthetic":
            from post_ocr_corretion_spark.sources.synthetic_source import (
                SyntheticPagesDataSource,
            )

            spark.dataSource.register(SyntheticPagesDataSource)
            pages = spark.read.format("synthetic_pages").option("n", args.n_docs).load()
            # the source's page table carries the clean text/lang, and the
            # pipeline's render is the same pure function of (doc_id, text,
            # lang) that produced the source's html — so feeding the docs
            # projection reproduces the identical corpus end-to-end
            docs = pages.select("doc_id", "text", "lang")
        else:
            docs = read_documents(spark, args.sf_dir)
            if args.replicate > 1:
                from post_ocr_corretion_spark.sources.webpages import replicate_docs

                # replication adds no vocabulary: fit the lexicon/scorer
                # from the base table (byte-identical output, tested)
                lexicon_docs, docs = docs, replicate_docs(docs, args.replicate)
        df = run_pipeline_from_docs(
            spark,
            docs,
            mode=args.mode,
            max_distance=args.max_distance,
            roulette_seed=args.roulette_seed,
            sidecar_path=args.sidecar_path,
            lexicon_docs=lexicon_docs,
        )
        return df.observe(
            obs,
            F.count(F.lit(1)).alias("pages"),
            F.sum(F.when(F.col("kind") == "pdf_stub", 1).otherwise(0)).alias("pdf_stubs"),
            F.sum(F.length("corrected_text")).alias("corrected_chars"),
        )

    counters_fn = lambda: {k: int(v) for k, v in obs.get.items()}  # noqa: E731

    if args.sink == "noop":
        df = job()
        df.write.format("noop").mode("overwrite").save()
        counters = counters_fn()
        print(json.dumps({"snapshot_id": None, "resumed": False, "rows": counters["pages"], "counters": counters}))
        if owns_session:
            spark.stop()
        return 0

    writer = SnapshotWriter(args.out)
    part = args.partition_by.split(",") if args.partition_by else None
    if args.new_snapshot and writer.latest() is not None:
        df = job()
        sid = writer.write(df, key_col="url", counters_fn=counters_fn, partition_by=part)
        resumed = False
    else:
        df, resumed = writer.resume_or_run(
            spark, job, key_col="url", counters_fn=counters_fn, partition_by=part
        )
        sid = writer.latest()

    lineage = writer.read_lineage(spark, sid)
    summary = {
        "snapshot_id": sid,
        "resumed": resumed,
        "rows": writer.manifest(sid)["rows"],
        "lineage_files": lineage.count(),
        "counters": writer.manifest(sid).get("counters"),  # persisted with the commit
    }
    print(json.dumps(summary, default=str))
    if owns_session:
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
