"""The benchmark's workloads: fixed lists of registered query names.

``DRIVEN`` are the workloads ``BENCHMARK.json`` lists; their lists are
trimmed so that a run (set-up, output check and timed passes) stays near
one minute on four cores. ``warehouse_reads`` is kept for runs by hand:
a run of it takes over two minutes, which the benchmark's total
time budget cannot hold next to the other two. README.md gives the
reasons for each choice and the layer each workload loads.
"""

from __future__ import annotations

WORKLOADS: dict[str, tuple[str, ...]] = {
    # BI reads over the warehouse: every query registered in suite/tpch.py,
    # joins.py, aggregates.py, windows.py and merge.py. Short queries where
    # the fixed cost per query (schema inference per table read, job
    # dispatch, planning) dominates; catalog and execution, no streaming.
    "warehouse_reads": (
        "tpch_q1_pricing_summary", "tpch_q2_min_cost_supplier",
        "tpch_q3_shipping_priority", "tpch_q4_order_priority",
        "tpch_q5_local_supplier", "tpch_q6_forecast_revenue",
        "tpch_q7_nation_volume", "tpch_q8_market_share", "tpch_q9_product_profit",
        "tpch_q10_returned_items", "tpch_q11_important_stock",
        "tpch_q12_shipmode_priority", "tpch_q13_customer_distribution",
        "tpch_q14_promo_revenue", "tpch_q15_top_supplier", "tpch_q16_supplier_cnt",
        "tpch_q17_small_qty_revenue", "tpch_q18_large_volume",
        "tpch_q19_discounted_revenue", "tpch_q20_promotion_suppliers",
        "tpch_q21_waiting_suppliers", "tpch_q22_global_sales_opportunity",
        "join_inner", "join_semi", "join_anti", "join_fk_enrich", "join_left_flag",
        "join_interval", "point_lookup_join", "join_asof", "window_lag_lead",
        "join_salted", "join_auto_skew", "incremental_scan", "join_band_dates",
        "join_asof_nearest", "join_range_lookup",
        "agg_count", "agg_group_stats", "agg_rollup", "agg_max_watermark",
        "agg_approx_distinct", "agg_collect", "agg_max_by", "window_tumbling",
        "supplier_hhi", "revenue_concentration",
        "topk_per_group", "window_running_sum", "sort_limit", "ntile_chunks",
        "dedup_last_wins", "window_range_1h", "keyset_paginate",
        "window_range_numeric", "sample_k_per_group",
        "merge_upsert", "upsert_last_wins", "cdc_diff", "staging_merge",
        "merge_three_clause",
    ),
    # The iterative LLM-data family: hand-placed checkpoints (dedup.cluster,
    # suite.graph) run dozens of jobs inside the builder before the
    # returned frame executes.
    "curation_batch": (
        "dedup_clusters", "graph_kcore", "graph_lpa_communities",
    ),
    # The recording.completed webhook path, the workload that writes: REST
    # source, a JVM-stateful drain, an applyInPandasWithState drain, the
    # foreachBatch keyed-upsert sink with its transaction commit, and a
    # partitioned parquet write.
    "webhook_ingest": (
        "paginated_scan", "stream_dedup_watermark", "stream_stateful",
        "stream_upsert_sink", "sink_partitioned_write",
    ),
}

DRIVEN = ("curation_batch", "webhook_ingest")
