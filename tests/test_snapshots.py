"""Snapshot-commit writer: atomic commit, lineage counters, resume."""
from __future__ import annotations

import json
import os

from post_ocr_corretion_spark.io.snapshots import SnapshotWriter


def test_write_read_lineage_resume(spark, tmp_path):
    base = str(tmp_path / "table")
    w = SnapshotWriter(base)
    assert w.latest() is None

    df = spark.range(100).withColumnRenamed("id", "k")
    sid = w.write(df, key_col="k")
    assert sid == 1 and w.latest() == 1

    back = w.read(spark)
    assert back.count() == 100

    lin = w.read_lineage(spark).collect()
    assert sum(r.rows for r in lin) == 100
    assert min(r.key_min for r in lin) == 0 and max(r.key_max for r in lin) == 99

    # second snapshot appends, never touches the first
    sid2 = w.write(spark.range(5).withColumnRenamed("id", "k"), key_col="k")
    assert sid2 == 2
    assert w.read(spark, 1).count() == 100
    assert w.read(spark).count() == 5

    # resume: job must NOT run again
    ran = {"n": 0}

    def job():
        ran["n"] += 1
        return spark.range(1)

    got, resumed = w.resume_or_run(spark, job)
    assert resumed and ran["n"] == 0 and got.count() == 5


def test_uncommitted_snapshot_is_invisible(spark, tmp_path):
    base = str(tmp_path / "table2")
    w = SnapshotWriter(base)
    w.write(spark.range(10).withColumnRenamed("id", "k"))
    # simulate a crash: data for snapshot 2 exists but no commit marker
    df = spark.range(7)
    df.write.mode("overwrite").parquet(os.path.join(base, "data", "snapshot=2"))
    assert w.latest() == 1
    assert w.read(spark).count() == 10

    # and a fresh writer allocates snapshot 2 again, overwriting the garbage
    sid = w.write(spark.range(3).withColumnRenamed("id", "k"))
    assert sid == 2 and w.read(spark).count() == 3


def test_manifest_contents(spark, tmp_path):
    base = str(tmp_path / "table3")
    w = SnapshotWriter(base)
    sid = w.write(spark.range(42).withColumnRenamed("id", "k"), key_col="k")
    m = json.load(open(os.path.join(base, "_snapshots", f"{sid}.json")))
    assert m["rows"] == 42 and m["snapshot_id"] == sid


def test_concurrent_sid_claims_never_collide(tmp_path):
    """ADVICE r1: two writers on one base dir must get distinct sids even
    before either commits (O_EXCL claim), and a crashed claim burns its id."""
    from post_ocr_corretion_spark.io.snapshots import SnapshotWriter

    w1 = SnapshotWriter(str(tmp_path))
    w2 = SnapshotWriter(str(tmp_path))
    s1 = w1._claim_sid()
    s2 = w2._claim_sid()  # claimed while s1 is still uncommitted
    assert s1 != s2
    # a third writer skips both outstanding claims
    assert SnapshotWriter(str(tmp_path))._claim_sid() not in (s1, s2)


def test_compact_preserves_rows_and_provenance(spark, tmp_path):
    """Compaction rewrites a snapshot into fewer files as a NEW snapshot;
    rows identical, source stays readable (time travel), manifest records
    provenance."""
    from post_ocr_corretion_spark.io.snapshots import SnapshotWriter

    w = SnapshotWriter(str(tmp_path))
    df = spark.range(0, 1000).withColumnRenamed("id", "k").repartition(32)
    s1 = w.write(df, key_col="k")
    assert len(w.read_lineage(spark, s1).collect()) > 8
    s2 = w.compact(spark, s1, target_files=4)
    assert s2 != s1
    assert w.manifest(s2)["compacted_from"] == s1
    rows1 = sorted(r.k for r in w.read(spark, s1).collect())
    rows2 = sorted(r.k for r in w.read(spark, s2).collect())
    assert rows1 == rows2
    assert len(w.read_lineage(spark, s2).collect()) <= 4


def test_snapshot_diff_changelog(spark, tmp_path):
    from post_ocr_corretion_spark.io.snapshots import SnapshotWriter

    w = SnapshotWriter(str(tmp_path))
    s1 = w.write(spark.createDataFrame([(k,) for k in "abcd"], "k string"), key_col="k")
    s2 = w.write(spark.createDataFrame([(k,) for k in "bcde"], "k string"), key_col="k")
    got = {(r.key, r.change) for r in w.diff(spark, s1, s2, "k").collect()}
    assert got == {("e", "added"), ("a", "removed")}


def test_partitioned_snapshot_prunes(spark, tmp_path):
    """partition_by writes hive-partitioned snapshot data; a reader
    filtering on the partition column shows partition pruning in the
    plan and rows are intact."""
    from post_ocr_corretion_spark.io.snapshots import SnapshotWriter
    from plan_audit import formatted_plan

    w = SnapshotWriter(str(tmp_path))
    df = spark.createDataFrame(
        [(i, ["en", "de", "fr"][i % 3], f"t{i}") for i in range(90)],
        "doc_id long, lang string, text string",
    )
    sid = w.write(df, key_col="doc_id", partition_by=["lang"])
    back = w.read(spark, sid)
    assert back.count() == 90
    en = back.filter(back.lang == "en")
    assert en.count() == 30
    plan = formatted_plan(en)
    assert "PartitionFilters" in plan and "lang" in plan.split("PartitionFilters")[1][:120]


def test_partitioned_readback_schema_pinned(spark, tmp_path):
    """ADVICE r2: reading a partition_by snapshot back must reproduce the
    PRE-write schema exactly — partition columns keep their position and
    dtype even when values look numeric (hive inference would move them
    to the end and re-infer string '7' as int)."""
    from post_ocr_corretion_spark.io.snapshots import SnapshotWriter

    w = SnapshotWriter(str(tmp_path / "snap"))
    df = spark.createDataFrame(
        [(1, "7", "x"), (2, "12", "y"), (3, "7", "z")],
        "doc_id long, shard string, payload string",
    )
    sid = w.write(df, key_col="doc_id", partition_by=["shard"])
    back = w.read(spark, sid)
    assert [f.name for f in back.schema.fields] == ["doc_id", "shard", "payload"]
    assert back.schema["shard"].dataType.simpleString() == "string"
    assert back.schema == df.schema
    assert {(r.doc_id, r.shard, r.payload) for r in back.collect()} == {
        (1, "7", "x"), (2, "12", "y"), (3, "7", "z")
    }

    # resume path returns the identical shape too
    got, resumed = w.resume_or_run(spark, job=lambda: (_ for _ in ()).throw(AssertionError))
    assert resumed and got.schema == df.schema
