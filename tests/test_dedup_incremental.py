"""Incremental (changelog) near-dup keep (operators/dedup.py
dedup_keep_incremental + jobs/run_dedup_keep.py --incremental):
differential exactness vs the full rebuild under first-wins canonical
election, component-wide transitive prior-drop, shingle-less id
tracking in the band state, and the two-batch job flow with persisted
state."""
from __future__ import annotations

import hashlib
import json
from pathlib import Path

from pyspark.sql import functions as F

from post_ocr_corretion_spark.operators.dedup import (
    dedup_keep_incremental,
    dedup_pipeline_keep,
    lsh_band_keys,
)

# all texts the SAME length so the default quality (text length) is
# constant -> canonical = min id -> first-wins election, the regime
# where incremental == full rebuild exactly
B1 = [
    (0, "alpha bravo charlie delta ech"),
    (1, "alpha bravo charlie delta ech"),   # dup of 0
    (2, "foxtrot golf hotel india juli"),
    (3, "kilo lima mike november oscar"),
    (4, "abc"),                             # shingle-less (< k chars)
]
B2 = [
    (10, "alpha bravo charlie delta ech"),  # dup of prior 0/1 -> drop
    (11, "foxtrot golf hotel india juli"),  # dup of prior 2 -> drop
    (12, "papa quebec romeo sierra tang"),  # new unique -> keep
    (13, "papa quebec romeo sierra tang"),  # new-new dup of 12 -> drop
    (14, "xyz"),                            # shingle-less -> keep
]
SCHEMA = "doc_id long, text string"


def _kept_ids(df):
    return {r.doc_id for r in df.select("doc_id").collect()}


def _py_bands(text: str, n_hashes=4, bands=2, rows_per_band=2, k=5) -> list[str]:
    """Pure-Python replica of lsh_band_keys' band strings for one doc."""
    if len(text) < k:
        return []
    sh = {text[i : i + k] for i in range(len(text) - k + 1)}
    mins = [
        min(hashlib.md5((s + f"s{j}").encode()).hexdigest() for s in sh)
        for j in range(1, n_hashes + 1)
    ]
    return [
        "".join(mins[b * rows_per_band : (b + 1) * rows_per_band])
        for b in range(bands)
    ]


def test_incremental_equals_full_rebuild_first_wins(spark):
    b1 = spark.createDataFrame(B1, SCHEMA)
    b2 = spark.createDataFrame(B2, SCHEMA)
    full = _kept_ids(dedup_pipeline_keep(b1.union(b2), quality=F.lit(0)))
    b1_only = _kept_ids(dedup_pipeline_keep(b1, quality=F.lit(0)))
    prior = lsh_band_keys(b1)
    kept, new_bands = dedup_keep_incremental(
        b2, prior.filter(F.col("band").isNotNull()), quality=F.lit(0)
    )
    b1_ids = {i for i, _ in B1}
    b2_ids = {i for i, _ in B2}
    assert _kept_ids(kept) == full & b2_ids == {12, 14}
    assert b1_only == full & b1_ids  # prior kept rows never revisited
    # the state delta covers EVERY new doc — shingle-less ones via a
    # NULL band row, so they are never mistaken for new again
    assert {r.doc_id for r in new_bands.collect()} == b2_ids
    assert {
        r.doc_id for r in new_bands.filter(F.col("band").isNull()).collect()
    } == {14}


def test_transitive_chain_through_prior_drops_whole_component(spark):
    """new B ~ new A ~ prior P with B sharing NO band with P: the
    touches-prior flag is component-wide, so BOTH A and B drop (a full
    rebuild folds them into P's family the same way)."""
    t1 = "alpha bravo charlie delta ech"
    bands1 = _py_bands(t1)
    # find a suffix extension whose band set OVERLAPS t1's but is not
    # equal — the A~B edge without A==B
    t2 = None
    for i in range(200):
        cand = t1 + f" suffix{i}"
        bc = _py_bands(cand)
        if set(bc) & set(bands1) and set(bc) != set(bands1):
            t2 = cand
            shared = sorted(set(bc) & set(bands1))[0]
            only2 = sorted(set(bc) - set(bands1))
            break
    assert t2 is not None and only2, "fixture search failed"
    new = spark.createDataFrame([(20, t1), (21, t2)], SCHEMA)
    # prior shares a band ONLY with doc 21 (via a band t1 lacks)
    prior = spark.createDataFrame([(999, only2[0])], "doc_id long, band string")
    kept, _ = dedup_keep_incremental(new, prior, quality=F.lit(0))
    assert _kept_ids(kept) == set()  # 21 attaches, 20 follows via the A~B edge
    # sanity: with NO prior attachment the pair keeps its canonical
    none_prior = spark.createDataFrame(
        [(999, "no-such-band")], "doc_id long, band string"
    )
    kept2, _ = dedup_keep_incremental(new, none_prior, quality=F.lit(0))
    assert _kept_ids(kept2) == {20}
    # verify the Python band replica against the real operator (the
    # fixture search is only meaningful if the replica is exact)
    got = {
        r.band
        for r in lsh_band_keys(spark.createDataFrame([(0, t1)], SCHEMA))
        .filter(F.col("band").isNotNull())
        .collect()
    }
    assert got == set(bands1)


def test_incremental_job_two_batches(spark, tmp_path, capsys):
    import sys

    sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "jobs"))
    import run_dedup_keep as job

    # synthetic sf dir: both batches in one documents.parquet, batch
    # boundary simulated via --max-doc
    sf = str(tmp_path / "sf")
    spark.createDataFrame(B1 + B2, SCHEMA).write.parquet(f"{sf}/documents.parquet")
    out = str(tmp_path / "out")

    assert job.main(["--sf-dir", sf, "--out", out, "--incremental", "--max-doc", "10", "--cores", "4"]) == 0
    first = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert first["snapshot_id"] == 1 and first["counters"]["docs_kept"] == 4

    assert job.main(["--sf-dir", sf, "--out", out, "--incremental", "--cores", "4"]) == 0
    second = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert second["snapshot_id"] == 2
    assert second["counters"]["docs_new_in"] == 5
    assert second["counters"]["docs_kept"] == 2
    assert second["counters"]["dropped_as_prior_dup"] == 2  # 10, 11
    assert second["counters"]["dup_docs_removed"] == 1      # 13 under 12

    # delta snapshot holds exactly the newly kept docs; union of the two
    # snapshots == the full-rebuild training table (first-wins regime:
    # equal-length texts -> constant quality)
    from post_ocr_corretion_spark.io.snapshots import SnapshotWriter

    w = SnapshotWriter(out)
    s1 = _kept_ids(w.read(spark, 1))
    s2 = _kept_ids(w.read(spark, 2))
    assert s2 == {12, 14}
    both = spark.createDataFrame(B1 + B2, SCHEMA)
    assert s1 | s2 == _kept_ids(dedup_pipeline_keep(both, quality=F.lit(0)))
    # band state: one sid dir per increment, covering every input id
    import os

    assert sorted(os.listdir(os.path.join(out, "lsh_state"))) == ["sid=1", "sid=2"]
    state = spark.read.parquet(os.path.join(out, "lsh_state", "sid=*"))
    assert {r.doc_id for r in state.select("doc_id").distinct().collect()} == {
        i for i, _ in B1 + B2
    }


# batch texts again same-length (first-wins regime); batch 2 carries an
# email so the redact stage has a non-zero counter on the DELTA
C1 = [
    (0, "alpha bravo charlie delta echo fx"),
    (1, "alpha bravo charlie delta echo fx"),   # dup of 0
    (2, "kilo lima mike november oscar papa"),
]
C2 = [
    (10, "alpha bravo charlie delta echo fx"),  # dup of prior 0 -> drop
    (11, "write to a@b.co for more info today"),  # keep, 1 email
    (12, "tango uniform victor whiskey xray z"),  # keep
]


def test_incremental_job_applies_post_dedup_stages(spark, tmp_path, capsys):
    """--redact-pii and --shuffle-shards apply to each increment's kept
    DELTA (previously silently skipped in incremental mode); the stage
    counters ride the same single write action."""
    import sys

    sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "jobs"))
    import run_dedup_keep as job

    sf = str(tmp_path / "sf")
    spark.createDataFrame(C1 + C2, SCHEMA).write.parquet(f"{sf}/documents.parquet")
    out = str(tmp_path / "out")
    flags = ["--redact-pii", "--shuffle-shards", "2", "--incremental", "--cores", "4"]

    assert job.main(["--sf-dir", sf, "--out", out, "--max-doc", "10"] + flags) == 0
    first = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert first["counters"]["docs_kept"] == 2
    assert first["counters"]["emails_redacted"] == 0

    assert job.main(["--sf-dir", sf, "--out", out] + flags) == 0
    second = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert second["counters"]["docs_kept"] == 2
    assert second["counters"]["dropped_as_prior_dup"] == 1  # 10
    assert second["counters"]["emails_redacted"] == 1       # 11's a@b.co

    from post_ocr_corretion_spark.io.snapshots import SnapshotWriter

    s2 = SnapshotWriter(out).read(spark, 2)
    rows = {r.doc_id: r for r in s2.collect()}
    assert set(rows) == {11, 12}
    assert "<EMAIL>" in rows[11].text and "a@b.co" not in rows[11].text
    # shuffle stage ran on the delta: id-stable shard + per-snapshot pos
    assert all(r.shard in (0, 1) and r.pos_in_shard >= 0 for r in rows.values())


def test_incremental_refuses_substring_scrub(tmp_path, capsys):
    import sys

    import pytest as _pytest

    sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "jobs"))
    import run_dedup_keep as job

    with _pytest.raises(SystemExit) as exc:
        job.main(
            ["--sf-dir", str(tmp_path), "--out", str(tmp_path / "o"),
             "--incremental", "--substring-scrub", "3"]
        )
    assert exc.value.code == 2
    assert "full-rebuild-only" in capsys.readouterr().err
