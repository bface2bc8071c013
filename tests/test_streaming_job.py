"""The streaming ship path (jobs/run_streaming_correct.py): drain, then
re-deliver with repeats — exactly one corrected row per url across job
restarts (checkpoint + state restore), corrections byte-identical to the
batch flagship."""
from __future__ import annotations

from pyspark.sql import functions as F


def test_streaming_job_exactly_once_and_parity(spark, tmp_path):
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "jobs"))
    from run_streaming_correct import main

    from post_ocr_corretion_spark.pipeline import run_pipeline
    from post_ocr_corretion_spark.sources.webpages import read_documents, webpages

    sf = "/root/testdata/sf0.001"
    src, out, ckpt = str(tmp_path / "src"), str(tmp_path / "out"), str(tmp_path / "ckpt")
    docs = read_documents(spark, sf)
    webpages(docs.filter(F.col("doc_id") < 25)).coalesce(1).write.mode("append").parquet(src)
    args = ["--src", src, "--out", out, "--checkpoint", ckpt, "--lexicon-sf", sf, "--available-now", "--cores", "8"]
    assert main(args) == 0
    assert spark.read.parquet(out).count() == 25

    # re-deliver 10 repeats + 15 new docs; restart the job
    b2 = docs.filter(F.col("doc_id") < 10).union(
        docs.filter((F.col("doc_id") >= 25) & (F.col("doc_id") < 40))
    )
    webpages(b2).coalesce(1).write.mode("append").parquet(src)
    assert main(args) == 0
    sink = spark.read.parquet(out)
    assert sink.count() == 40
    assert sink.select("url").distinct().count() == 40

    # corrections match the batch flagship per url — BOTH fit the scorer
    # on the full static corpus, so outputs must agree byte-for-byte
    batch = {
        r.url: r.corrected_text
        for r in run_pipeline(spark, sf).select("url", "corrected_text").collect()
    }
    for r in sink.select("url", "corrected_text").collect():
        assert r.corrected_text == batch[r.url], r.url


def test_timed_out_drain_exits_nonzero(spark, tmp_path, monkeypatch, capsys):
    """A drain that does not finish in time is stopped; the job must not
    report the partial sink as a complete run."""
    import sys
    from pathlib import Path

    from conftest import SF_SMOKE as sf
    from pyspark.sql.streaming.query import StreamingQuery

    sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "jobs"))
    from run_streaming_correct import main

    from post_ocr_corretion_spark.sources.webpages import read_documents, webpages

    src, out, ckpt = str(tmp_path / "src"), str(tmp_path / "out"), str(tmp_path / "ckpt")
    docs = read_documents(spark, sf).filter(F.col("doc_id") < 5)
    webpages(docs).coalesce(1).write.parquet(src)
    monkeypatch.setattr(StreamingQuery, "awaitTermination", lambda self, timeout=None: False)
    args = ["--src", src, "--out", out, "--checkpoint", ckpt, "--lexicon-sf", sf, "--available-now"]
    assert main(args) != 0
    captured = capsys.readouterr()
    assert "rows_in_sink" not in captured.out
    assert "partial" in captured.err
