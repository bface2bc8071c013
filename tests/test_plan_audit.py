"""Lock in physical-plan properties: pruning, pushdown, broadcast."""
from __future__ import annotations

import __spark_entry__ as em
from plan_audit import (
    assert_columns_pruned,
    count_exchanges,
    formatted_plan,
    join_strategies,
    pushed_filters,
    scan_read_schemas,
)

SF = "/root/testdata/sf0.01"


def test_lexicon_scan_reads_only_text(spark):
    df = em.queries()["a2_lexicon_words"](spark, SF)
    schemas = scan_read_schemas(df)
    assert schemas and all(s == "struct<text:string>" for s in schemas)


def test_revenue_join_is_broadcast_and_pruned(spark):
    df = em.queries()["j4_revenue_by_nation"](spark, SF)
    strategies = join_strategies(df)
    assert strategies and set(strategies) == {"BroadcastHashJoin"}  # never sort-merge
    assert_columns_pruned(df, ["o_orderdate", "o_orderpriority", "c_name", "c_acctbal"])
    assert any("IsNotNull" in f for f in pushed_filters(df))


def test_band_join_is_join_free_window(spark):
    """r9: the band self-join is re-expressed as a RANGE-frame window
    count — the plan must contain a Window over the events scan and NO
    join at all (the old BroadcastHashJoin materialized every in-band
    pair before aggregating)."""
    from plan_audit import formatted_plan

    plan = formatted_plan(em.queries()["j3_band_join"](spark, SF))
    assert "Window" in plan
    for j in ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin", "CartesianProduct"):
        assert j not in plan


def test_textstats_prunes_to_consumed_columns(spark):
    df = em.queries()["textstats_quality"](spark, SF)
    assert_columns_pruned(df, ["lang", "source"])


def test_flagship_udf_mode_shape(spark):
    """The throughput path over an under-split scan is exactly ONE Python
    stage over the pre-shuffled (checkpointed) docs and ZERO further exchanges
    (r9: render+extract+correct fused into a single mapInPandas; the
    doc-spreading shuffle is materialized CONCURRENTLY with the
    lexicon/scorer job by the overlap thread, so the final plan reads
    the checkpointed partitions — Scan ExistingRDD — instead of
    carrying the exchange inline). A regression that splits the Python
    stage or adds a shuffle fails here, not in a benchmark."""
    import re

    from post_ocr_corretion_spark.pipeline import run_pipeline
    from plan_audit import formatted_plan

    plan = formatted_plan(run_pipeline(spark, "/root/testdata/sf0.001"))
    assert len(re.findall(r"^\(\d+\) MapInPandas", plan, re.M)) == 1
    assert len(re.findall(r"^\(\d+\) Exchange\b", plan, re.M)) == 0
    assert re.search(r"Scan ExistingRDD", plan)


def test_no_row_wise_python_in_any_registry_query(spark):
    """Registry-wide anti-pattern sweep (SURVEY §4 'UDFs are the slow
    path'): NO queries() entry may plan a row-wise Python eval
    (BatchEvalPython). Arrow-batched stages (ArrowEvalPython /
    MapInPandas / FlatMapGroupsInPandas*) are the sanctioned Python
    escape hatch. The three flagship entries are plan-locked separately
    (test_flagship_udf_mode_shape) and cost ~10 s each to build, so the
    sweep skips them; streaming entries can't explain on a batch session
    and prove the same property in their own suites."""
    from plan_audit import formatted_plan

    sf = "/root/testdata/sf0.001"
    skip = {
        "flagship_correct", "flagship_catalyst", "flagship_roulette",
        "streaming_window",
        # building this entry RUNS its availableNow stream (the gate
        # executes the real stateful query, then returns the sink
        # read-back, whose plan is a bare parquet scan); the stream's
        # Python stage is the sanctioned applyInPandasWithState, locked
        # in tests/test_streaming_substring_dedup.py
        "dup_windows_bloom",
    }
    offenders = []
    for name, fn in em.queries().items():
        if name in skip:
            continue
        plan = formatted_plan(fn(spark, sf))
        if "BatchEvalPython" in plan:
            offenders.append(name)
    assert offenders == [], f"row-wise Python UDF planned in: {offenders}"


def test_new_tpch_shapes_broadcast_their_dims(spark):
    """Q7 aliases the nation dim twice — both sides must broadcast; Q10's
    nation join likewise; the Q2 argmin joins broadcast part+supplier."""
    for name in ["tpch_q7_volume_shipping", "tpch_q10_returned_items", "tpch_q2_min_price_supplier"]:
        strategies = join_strategies(em.queries()[name](spark, SF))
        assert "BroadcastHashJoin" in strategies, name


def test_d5_gated_plan_has_no_single_task_sort(spark):
    """VERDICT r3 item 5 'done' criterion: the d5_word_ids gate runs the
    DISTRIBUTED dictionary encode — its explain must contain no
    unpartitioned window (the old ``row_number() OVER (ORDER BY word)``
    planned Exchange SinglePartition + a one-task global sort). The
    distributed plan's only window is partitioned by pid."""
    import re

    from plan_audit import formatted_plan

    plan = formatted_plan(em.queries()["d5_word_ids"](spark, SF))
    assert "SinglePartition" not in plan, "single-task exchange in the d5 plan"
    # every Window spec must carry a non-empty partition list
    for m in re.finditer(r"^\(\d+\) Window\b.*\n((?:.+\n)*?)(?=^\(\d+\))", plan, re.M):
        block = m.group(0)
        pb = re.search(r"partitionBy=\[(.*?)\]", block)
        if pb is not None:
            assert pb.group(1).strip() != "", f"unpartitioned window:\n{block}"


def test_sessionize_plans_native_session_window(spark):
    """The sessionize entry must use Spark's native session-window
    aggregation (no per-row Python, one shuffle on the grouping key)."""
    from plan_audit import formatted_plan

    plan = formatted_plan(em.queries()["sessionize"](spark, SF))
    assert "session_window" in plan
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan


def test_pii_redact_is_shuffle_free_and_pruned(spark):
    """redact_pii composes into the scan: per-row regexp work only —
    ZERO exchanges — and the documents scan never deserializes the
    unused columns."""
    from plan_audit import count_exchanges

    df = em.queries()["pii_redact"](spark, SF)
    assert count_exchanges(df) == 0
    assert_columns_pruned(df, ["lang", "source", "n_chars"])


def test_decontaminate_broadcasts_the_benchmark_grams(spark):
    """The benchmark n-gram set is the small side: every join in the
    flag-mode plan is a broadcast (the corpus side never sort-merges),
    and the corpus scan reads only (doc_id, text)."""
    df = em.queries()["decontaminate"](spark, SF)
    strategies = join_strategies(df)
    assert strategies and all(s == "BroadcastHashJoin" for s in strategies), strategies
    assert_columns_pruned(df, ["lang", "source", "n_chars"])


def test_substring_spans_plan_shape(spark):
    """repeated_ngram_spans: the duplicate-fingerprint side is an
    aggregate joined back with an equi-join — no cartesian anywhere —
    the islands window is partitioned (per doc), and the documents scan
    reads only (doc_id, text)."""
    import re

    from plan_audit import formatted_plan

    df = em.queries()["repeated_ngram_spans"](spark, SF)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan
    for m in re.finditer(r"partitionBy=\[(.*?)\]", plan):
        assert m.group(1).strip() != "", "unpartitioned window in spans plan"
    assert_columns_pruned(df, ["lang", "source", "n_chars"])


def test_substring_clean_is_pure_catalyst(spark):
    """The scrub form keeps token filtering in an exists() HOF — no
    Python eval of any kind in the plan."""
    from plan_audit import formatted_plan

    plan = formatted_plan(em.queries()["substring_dedup_clean"](spark, SF))
    assert "EvalPython" not in plan and "MapInPandas" not in plan


def test_shuffle_shards_has_no_global_sort(spark):
    """deterministic_shuffle: the ONLY sort is the per-shard window —
    no SinglePartition exchange, every window partitioned."""
    import re

    from plan_audit import formatted_plan

    plan = formatted_plan(em.queries()["shuffle_shards"](spark, SF))
    assert "SinglePartition" not in plan
    for m in re.finditer(r"partitionBy=\[(.*?)\]", plan):
        assert m.group(1).strip() != "", "unpartitioned window in shuffle plan"


def test_pq_encode_is_map_only(spark):
    """PQ encoding is a projection: zero exchanges, zero Python — the
    codes column computes in whole-stage codegen over the scan."""
    from pyspark.sql import functions as F

    from post_ocr_corretion_spark.operators.pq import pq_encode
    from plan_audit import count_exchanges, formatted_plan

    emb = spark.read.parquet(f"{SF}/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    cb = [[[0.1 * (s + j + p) for p in range(4)] for j in range(4)] for s in range(16)]
    df = pq_encode(emb, cb)
    assert count_exchanges(df) == 0
    assert "EvalPython" not in formatted_plan(df)


def test_r6_tpch_shapes_broadcast_and_lower_subqueries(spark):
    """q8/q9 broadcast every dimension; q20's nested INs lower to
    left-semi joins; q21's EXISTS/NOT EXISTS lower to one semi- and one
    anti-join — never a cartesian."""
    from plan_audit import formatted_plan

    for name in ["tpch_q8_market_share", "tpch_q9_product_profit"]:
        assert "BroadcastHashJoin" in join_strategies(em.queries()[name](spark, SF)), name
    p20 = formatted_plan(em.queries()["tpch_q20_potential_promotion"](spark, SF))
    assert "LeftSemi" in p20
    p21 = formatted_plan(em.queries()["tpch_q21_waiting_suppliers"](spark, SF))
    assert "LeftSemi" in p21 and "LeftAnti" in p21
    assert "CartesianProduct" not in p21


def test_ordered_dup_windows_never_partition_by_raw_gram(spark):
    """De-skew lock (VERDICT r6 item 4): duplicated_windows_ordered's
    lag chain must never plan a window partitioned by the raw gram
    fingerprint alone — a hot boilerplate gram would serialize its
    whole corpus-wide occurrence list into one task's sort. Every
    window spec that carries gh must also carry the time bucket."""
    import re

    from plan_audit import formatted_plan

    plan = formatted_plan(em.queries()["dup_windows_ordered"](spark, SF))
    specs = re.findall(r"windowspecdefinition\((.*?)specifiedwindowframe", plan)
    assert specs, "expected at least one window in the plan"
    for spec in specs:
        if "gh#" in spec:
            assert "_bkt#" in spec, f"window partitioned by raw gram only: ({spec})"


def test_url_canonicalize_is_pure_projection(spark):
    """Canonicalization is a zero-exchange Catalyst expression chain —
    regexps and array HOFs inside whole-stage codegen, no Python."""
    from plan_audit import count_exchanges, formatted_plan

    df = em.queries()["url_canonicalize"](spark, SF)
    assert count_exchanges(df) == 0
    plan = formatted_plan(df)
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan


def test_mixture_sample_never_shuffles_the_corpus(spark):
    """The weight/total tables ride broadcast joins back onto the
    corpus; the only exchange feeds the tiny per-source count aggregate
    (a two-column projection), never the full rows."""
    from plan_audit import formatted_plan, join_strategies

    df = em.queries()["mixture_sample"](spark, SF)
    strategies = join_strategies(df)
    assert strategies, "expected joins in the mixture plan"
    # the single-row total join may plan as BroadcastNestedLoop (it has
    # no key); everything keyed must broadcast — never a shuffle join
    assert "SortMergeJoin" not in strategies and "ShuffledHashJoin" not in strategies
    assert "BroadcastHashJoin" in strategies


def test_cms_probe_broadcasts_the_sketch(spark):
    """Estimation joins candidates against the d×w sketch — the sketch
    side must broadcast (it is bounded by construction)."""
    from plan_audit import join_strategies

    assert "BroadcastHashJoin" in join_strategies(
        em.queries()["cms_heavy_hitters"](spark, SF)
    )


def test_bm25_broadcasts_stats_and_df(spark):
    """The per-term df table and the single-row corpus stats broadcast;
    the token stream is filtered to the query terms BEFORE any shuffle
    (isin shows up as a pushed/early filter, not post-join)."""
    from plan_audit import formatted_plan, join_strategies

    df = em.queries()["bm25_rank"](spark, SF)
    assert "BroadcastHashJoin" in join_strategies(df)
    assert "SortMergeJoin" not in formatted_plan(df)


def test_quality_filter_is_pure_catalyst_and_keyed_joins(spark):
    """The composite quality filter plans NO Python stage of any kind
    (every rule is Catalyst expressions over the component aggregates)
    and composes via KEYED joins only — never a cartesian product."""
    from plan_audit import formatted_plan

    plan = formatted_plan(em.queries()["quality_filter"](spark, SF))
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan and "MapInPandas" not in plan
    assert "CartesianProduct" not in plan


def test_incremental_dedup_prunes_state_and_semi_joins(spark, tmp_path):
    """dedup_keep_incremental reads the persisted band state through a
    column-pruned scan (a fat payload column in the state file must NOT
    reach the plan) and attaches new docs to prior buckets via a SEMI
    join — the prior corpus text is never rescanned (the state is the
    only prior-side input by construction: the operator takes no prior
    docs frame)."""
    from pyspark.sql import functions as F

    from post_ocr_corretion_spark.operators.dedup import dedup_keep_incremental
    from plan_audit import (
        assert_columns_pruned,
        formatted_plan,
    )

    state = str(tmp_path / "state")
    spark.createDataFrame(
        [(1, "bandkey-1", "x" * 64)], "doc_id long, band string, fat string"
    ).write.parquet(state)
    prior = spark.read.parquet(state).select("doc_id", "band")
    new = spark.createDataFrame(
        [(10, "alpha bravo charlie delta echo")], "doc_id long, text string"
    )
    kept, _ = dedup_keep_incremental(new, prior)
    plan = formatted_plan(kept)
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan and "BatchEvalPython" not in plan
    assert_columns_pruned(kept, ["fat"])


def test_dsir_plan_broadcasts_ratio_and_topks(spark):
    """dsir_select: the m-row log-ratio table rides a BroadcastHashJoin
    over the scoring pool; selection plans TakeOrderedAndProject (never
    a single-task global sort); no row-wise Python anywhere."""
    df = em.queries()["dsir_select"](spark, SF)
    plan = formatted_plan(df)
    assert "BroadcastHashJoin" in join_strategies(df)
    assert "TakeOrderedAndProject" in plan
    assert "BatchEvalPython" not in plan


def test_hybrid_rrf_plan_topk_and_no_corpus_shuffle(spark):
    """hybrid_rrf: fused selection is TakeOrderedAndProject over the
    bounded union of two top-k frames; the corpus-side retrievals keep
    their own audited shapes (bm25's stats/df ride broadcasts)."""
    df = em.queries()["hybrid_rrf"](spark, SF)
    plan = formatted_plan(df)
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in join_strategies(df)


def test_ccnet_buckets_no_unpartitioned_window_and_broadcast_thresholds(spark):
    """ccnet_buckets: the cumulative window partitions by lang (over the
    distinct-value histogram — never an unpartitioned/global sort) and
    the |langs|-row threshold table joins back via broadcast."""
    import re

    df = em.queries()["ccnet_buckets"](spark, SF)
    plan = formatted_plan(df)
    assert "BroadcastHashJoin" in join_strategies(df)
    assert "SinglePartition" not in plan
    for m in re.finditer(r"^\(\d+\) Window\b.*\n((?:.+\n)*?)(?=^\(\d+\))", plan, re.M):
        pb = re.search(r"partitionBy=\[(.*?)\]", m.group(0))
        if pb is not None:
            assert pb.group(1).strip() != "", f"unpartitioned window:\n{m.group(0)}"


def test_spread_leaves_frames_of_unknown_size_alone(spark):
    """A 1-split frame with a non-file leaf reports the
    ``spark.sql.defaultSizeInBytes`` sentinel as its size; spreading on
    it would round-robin its whole payload on a guess."""
    from post_ocr_corretion_spark.pipeline import run_pipeline_from_docs
    from post_ocr_corretion_spark.plans.parallelism import CPU_TASK_BYTES, size_estimate, spread

    rows = [(i, "word " * 200) for i in range(400)]
    cdf = spark.createDataFrame(rows, "doc_id long, text string").coalesce(1)
    frames = {
        "createDataFrame": cdf,
        "localCheckpoint": cdf.localCheckpoint(),
        "rdd": spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), "doc_id long, text string"),
    }
    for name, df in frames.items():
        assert df.rdd.getNumPartitions() == 1, name
        assert size_estimate(df) is None, name
        assert count_exchanges(spread(df, CPU_TASK_BYTES)) == 0, name
    # the flagship neither shuffles nor checkpoints such a frame: its one
    # Python stage runs over the input's own single partition
    docs = spark.createDataFrame(
        [(i, t, "en") for i, t in rows], "doc_id long, text string, lang string"
    ).coalesce(1)
    flagship = run_pipeline_from_docs(spark, docs)
    assert count_exchanges(flagship) == 0
    assert flagship.rdd.getNumPartitions() == 1


def test_spread_splits_an_under_split_file_scan(spark):
    """The estimate of a single-file parquet scan is the file's size, and
    the spread asks for one task per ``bytes_per_task`` of it, capped at
    2×defaultParallelism."""
    import os

    from post_ocr_corretion_spark.plans.parallelism import CPU_TASK_BYTES, size_estimate, spread

    path = f"{SF}/documents.parquet"
    scan = spark.read.parquet(path)
    est = size_estimate(scan)
    assert est == os.path.getsize(path)
    want = min(2 * spark.sparkContext.defaultParallelism, est // CPU_TASK_BYTES)
    assert want > scan.rdd.getNumPartitions() == 1
    plan = formatted_plan(spread(scan, CPU_TASK_BYTES))
    assert f"RoundRobinPartitioning({want})" in plan


def test_multi_split_corpus_is_never_spread(spark, tmp_path):
    """A corpus that already has 2×cores splits gets no spread exchange,
    on the token, n-gram and pair-metric paths alike, and the flagship
    neither shuffles nor checkpoints it.

    Spark sizes file splits at min(128 MB, total / defaultParallelism),
    so any corpus under cores × 128 MB reads as about 1×cores splits,
    whatever its file count. ``minPartitionNum`` gives one split per
    file here, as a corpus above that size gets one per 128 MB."""
    from post_ocr_corretion_spark.datagen.wordlist import COMMON_WORDS
    from post_ocr_corretion_spark.operators.lexicon import build_lexicon
    from post_ocr_corretion_spark.pipeline import run_pipeline

    n = 2 * spark.sparkContext.defaultParallelism
    spark.read.parquet(f"{SF}/documents.parquet").repartition(n).write.parquet(
        str(tmp_path / "documents.parquet")
    )
    spark.conf.set("spark.sql.files.minPartitionNum", str(n))
    try:
        docs = spark.read.parquet(str(tmp_path / "documents.parquet"))
        assert docs.rdd.getNumPartitions() >= n
        frames = {
            "build_lexicon": build_lexicon(spark, docs, COMMON_WORDS),
            "gopher_dup_ngrams": em.queries()["gopher_dup_ngrams"](spark, str(tmp_path)),
            "cer": em.queries()["cer"](spark, str(tmp_path)),
        }
        for name, df in frames.items():
            assert "RoundRobinPartitioning" not in formatted_plan(df), name
        flagship = run_pipeline(spark, str(tmp_path))
        assert count_exchanges(flagship) == 0
        assert "Scan ExistingRDD" not in formatted_plan(flagship)
    finally:
        spark.conf.unset("spark.sql.files.minPartitionNum")


def test_catalyst_fold_shuffles_no_document_row(spark, docs_rows, fixture_scorer):
    """run_beam_fold reads each error's batch from one broadcast map. Over
    materialized inputs, the plan it adds holds no row id and no shuffle
    of the documents: its only exchanges are the broadcast and, beneath
    it, the single-partition gather that builds the one map row from the
    (vocabulary-bounded) batch table."""
    import re

    from pyspark.sql import functions as F

    from post_ocr_corretion_spark.datagen.wordlist import COMMON_WORDS
    from post_ocr_corretion_spark.operators.candidates import candidate_batches
    from post_ocr_corretion_spark.operators.correction import (
        distinct_error_words,
        run_beam_fold,
        with_detection,
    )
    from post_ocr_corretion_spark.operators.lexicon import build_lexicon, deletion_neighborhood

    docs = spark.createDataFrame(
        [(r["doc_id"], r["text"]) for r in docs_rows[:8]], "doc_id long, text string"
    ).withColumn("extracted_text", F.col("text"))
    lex_df = build_lexicon(spark, docs, COMMON_WORDS)
    scorer_bc = spark.sparkContext.broadcast(fixture_scorer)
    detected = with_detection(docs, scorer_bc).localCheckpoint(eager=True)
    cand_agg = candidate_batches(
        distinct_error_words(detected), lex_df, deletion_neighborhood(lex_df), scorer_bc
    ).localCheckpoint(eager=True)
    fold = run_beam_fold(detected, cand_agg)
    plan = formatted_plan(fold)
    assert "monotonically_increasing_id" not in plan
    exchanges = re.findall(r"^\(\d+\) (\w*Exchange)\n(?:.*\n)*?Arguments: (\w+)", plan, re.M)
    assert sorted(exchanges) == [("BroadcastExchange", "IdentityBroadcastMode"), ("Exchange", "SinglePartition")]
    assert set(join_strategies(fold)) == {"BroadcastNestedLoopJoin"}


def test_catalyst_flagship_job_count(spark, docs_rows):
    """The catalyst flagship materializes its detected rows once and runs
    no step that only orders or pins work: on the 80 fixture docs it
    launches at most 20 Spark jobs, including the lexicon, the scorer
    sidecar and the collect."""
    from post_ocr_corretion_spark.pipeline import run_pipeline_from_docs

    sc = spark.sparkContext
    docs = spark.createDataFrame(
        [(r["doc_id"], r["text"], r["lang"]) for r in docs_rows], "doc_id long, text string, lang string"
    )
    sc.setJobGroup("catalyst_job_count", "catalyst flagship job count")
    try:
        rows = run_pipeline_from_docs(spark, docs, mode="catalyst").collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(rows) == len(docs_rows)
    jobs = sc.statusTracker().getJobIdsForGroup("catalyst_job_count")
    assert len(jobs) <= 20, len(jobs)
