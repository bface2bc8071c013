"""CER/WER metrics + the spark-submit job entry (snapshot output, lineage,
resume, counters)."""
from __future__ import annotations

import json
from pathlib import Path

from post_ocr_corretion_spark.core.levenshtein import cer, edit_distance, wer


def test_edit_distance_known():
    assert edit_distance("kitten", "sitting") == 3
    assert edit_distance("", "abc") == 3
    assert edit_distance("abc", "") == 3
    assert edit_distance(["a", "b"], ["b"]) == 1


def test_cer_wer_values():
    assert abs(cer("kitten", "sitting") - 3 / 7) < 1e-12
    assert abs(wer("a b c", "a x c") - 1 / 3) < 1e-12
    assert wer("", "") == 0.0
    assert cer("x", "") == 1.0  # floor denominator


def test_udf_parity(spark):
    from pyspark.sql import functions as F

    from post_ocr_corretion_spark.functions.udfs import wer_udf

    pairs = [("kitten", "sitting"), ("a b c", "a x c"), ("", "")]
    df = spark.createDataFrame(pairs, "h string, r string")
    rows = df.select(wer_udf(F.col("h"), F.col("r")).alias("w")).collect()
    for (h, r), row in zip(pairs, rows):
        assert abs(row.w - wer(h, r)) < 1e-12


def test_job_entry_snapshot_and_resume(spark, tmp_path, capsys):
    import sys

    sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "jobs"))
    import run_extract_correct as job

    out = str(tmp_path / "out")
    rc = job.main(["--sf-dir", "/root/testdata/sf0.001", "--out", out, "--cores", "4"])
    assert rc == 0
    first = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert first["rows"] > 0 and first["resumed"] is False
    assert first["counters"]["pages"] == first["rows"]

    # second invocation resumes from the committed snapshot — no recompute
    rc = job.main(["--sf-dir", "/root/testdata/sf0.001", "--out", out, "--cores", "4"])
    assert rc == 0
    second = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert second["resumed"] is True and second["snapshot_id"] == first["snapshot_id"]
    assert second["rows"] == first["rows"]


def test_job_noop_sink_same_counters(spark, tmp_path, capsys):
    """--sink noop (the scaling bench's compute-only form) runs the
    identical computation with no snapshot output and reports the same
    observed counters as the snapshot-committed run."""
    import sys

    sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "jobs"))
    import run_extract_correct as job

    out = str(tmp_path / "out")
    assert job.main(["--sf-dir", "/root/testdata/sf0.001", "--out", out, "--cores", "4"]) == 0
    snap = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert job.main(
        ["--sf-dir", "/root/testdata/sf0.001", "--out", str(tmp_path / "unused"), "--cores", "4", "--sink", "noop"]
    ) == 0
    noop = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert noop["snapshot_id"] is None and noop["rows"] == snap["rows"]
    assert noop["counters"] == snap["counters"]
    import os

    assert not os.path.exists(str(tmp_path / "unused"))  # noop wrote nothing
