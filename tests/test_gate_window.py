"""Pin the driver's 50-entry hard-gate window (ADVICE r4: a rotation
comment mis-counted its own block, so the slot-50 boundary silently sat
one entry off — this test makes the window an asserted fact, not a
comment)."""
from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

# the intended r8 window: the ENTIRE r5-stale remainder (47 — the
# 2-round staleness bound hits exactly at r8), url_canonicalize (code +
# oracle changed by the ADVICE r7 unparseable-URL guard), and the two
# r8-new gated operators (see queries() rotation comment)
R8_WINDOW = [
    "pagerank",
    "sliding_window",
    "array_functions",
    "udtf_chunks",
    "stratified_sample",
    "pack_batches",
    "date_functions",
    "string_functions",
    "map_hof",
    "null_semantics",
    "explode_outer",
    "except_all_intersect_all",
    "bloom_positions",
    "ivf_ann_topk",
    "dedup_minhash_lsh",
    "ann_cosine_topk",
    "dedup_clusters",
    "cer",
    "seqeval_f1",
    "tfidf_top_terms",
    "textstats_quality",
    "d2_split_to_fit",
    "skew_salted_counts",
    "sessionize",
    "interval_join",
    "streaming_window",
    "w_rows_frame",
    "hof_array_ops",
    "approx_distinct",
    "approx_quantile",
    "grouping_sets_counts",
    "cms_counts",
    "pivot_returnflag",
    "ntile_quartiles",
    "map_props",
    "unpivot_stats",
    "rollup_cascade",
    "tpch_q1_pricing",
    "tpch_q2_min_price_supplier",
    "tpch_q4_order_priority",
    "tpch_q7_volume_shipping",
    "tpch_q10_returned_items",
    "tpch_q13_cust_distribution",
    "tpch_q16_supplier_cnt",
    "tpch_q19_disjunctive_revenue",
    "j4_revenue_by_nation",
    "a6_cumulative_share",
    "url_canonicalize",
    "dup_windows_bloom",
    "quality_filter",
]


def test_first_50_is_the_intended_window():
    import __spark_entry__ as em

    keys = list(em.queries().keys())
    assert keys[:50] == R8_WINDOW
    assert len(R8_WINDOW) == 50


def test_every_query_has_oracle_or_documented_rows_only():
    """Registry invariant: every queries() key is either oracle-backed or
    one of the five documented non-SQL-expressible rows-only entries."""
    import __spark_entry__ as em

    rows_only = set(em.queries()) - set(em.oracle_sql())
    assert rows_only == {
        "flagship_correct",
        "flagship_catalyst",
        "flagship_roulette",
        "m5_indel_ratio",
        "segmentation_eval",
    }
    assert set(em.oracle_sql()) <= set(em.queries())
