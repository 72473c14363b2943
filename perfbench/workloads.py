"""The benchmark's workloads and metric names.

Each workload is a fixed set of registered queries on one corpus. A run
executes a cold pass and then warm passes over the whole set, so every
seed does the same work; the seed only draws the order within each
pass. ``nominal_pass_s`` (a warm pass on a 4-core host) turns
``--seconds`` into a number of warm passes. See README.md for why each
workload exists and which layer metrics it should move.
"""

WORKLOADS = {
    # Fixed per-query overhead dominates: driver-side build, job and
    # stage launch; executors are mostly idle. TPC-H and TPC-DS shapes.
    "olap_sf0.1": {
        "corpus": "sf0.1",
        "nominal_pass_s": 2.9,
        "queries": [
            "tpch_q6_forecast_revenue", "tpch_q12_shipmode_priority",
            "tpch_q13_customer_distribution", "tpch_q14_promo_effect",
            "tpcds_q21_before_after", "tpcds_q48_or_bands",
            "tpcds_q59_weekly_yoy",
        ],
    },
    # Executor, shuffle and scan work dominate: TPC-H over fact tables
    # ten times larger, stored as directories of part files. Runnable by
    # name, but not in BENCHMARK.json: see README.md.
    "olap_x10": {
        "corpus": "x10",
        "nominal_pass_s": 2.3,
        "queries": [
            "tpch_q6_forecast_revenue", "tpch_q14_promo_effect",
            "tpch_q22_global_sales",
        ],
    },
    # The Python-worker path (mapInPandas operators in operators/) and
    # the per-process index caches (full-text postings).
    "llm_pipeline": {
        "corpus": "sf0.1",
        "nominal_pass_s": 2.0,
        "queries": [
            "ai_query_enrich", "multimodal_decode_meta", "fulltext_match_all",
        ],
    },
    # Writes next to reads: copy-on-write lakehouse commits and
    # micro-batch streaming with state stores.
    "write_path": {
        "corpus": "sf0.1",
        "nominal_pass_s": 3.7,
        "queries": [
            "table_lakehouse_zonemap_prune", "table_lakehouse_time_travel",
            "stream_sliding_counts", "stream_static_enrich",
        ],
    },
}

# end-to-end metrics reported by an untraced run, with units. The
# summary line adds peak_rss_mb and failed_ratio (see README.md for why
# those two are not in BENCHMARK.json).
END_TO_END = {
    "setup_s": "s",
    "cold_pass_s": "s",
    "warm_qps": "1/s",
    "query_p50_s": "s",
    "query_tail_s": "s",
    "query_geomean_s": "s",
}

# per-layer metrics reported by a traced run, named after the program's
# modules; per execution over the warm passes unless README.md says
# otherwise
PER_LAYER = {
    "queries.build_s": "s",
    "queries.build_jobs": "count",
    "plans.analysis_ms": "ms",
    "plans.optimization_ms": "ms",
    "plans.planning_ms": "ms",
    "session.jobs": "count",
    "session.stages": "count",
    "session.tasks": "count",
    "session.single_task_stages": "count",
    "session.driver_gap_s": "s",
    "session.core_util": "ratio",
    "session.exec_run_s": "s",
    "session.exec_cpu_s": "s",
    "session.gc_s": "s",
    "session.shuffle_read_bytes": "bytes",
    "session.shuffle_write_bytes": "bytes",
    "session.spill_bytes": "bytes",
    "session.result_rows": "count",
    "catalog.scan_bytes": "bytes",
    "catalog.scan_rows": "count",
    "operators.pyworker_bytes_sent": "bytes",
    "operators.pyworker_bytes_returned": "bytes",
    "scratch.persisted_rdds": "count",
    "scratch.cached_bytes": "bytes",
    "scratch.disk_bytes": "bytes",
    "tables.output_bytes": "bytes",
    "tables.output_rows": "count",
    "tables.files_written": "count",
    "streaming.batches": "count",
    "streaming.batch_s": "s",
}
