"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship QA count-reconciliation report (SURVEY
§2.9 X6 — the reference's own success criterion, runcommand.py:188-203) on
sf0.001.  ``queries()``/``oracle_sql()`` expose the declared operator
inventory from db_migration_spark.queries.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from db_migration_spark.queries import ORACLES, QUERIES

# The driver's correctness harness verifies the FIRST 50 registry entries in
# insertion order.  The block is 15 permanent sentinels plus 35 rotating
# entries that harness has not certified yet; each rotation replaces the
# whole rotating band.  Every other entry follows in registry order.
FLAGSHIP_ORDER = [
    # --- permanent sentinels (15) ---
    "x6_qa_report",          # flagship QA report (reference's own gate)
    "ace_e2e_datoms",        # real-boundary .ace → datoms
    "x1_eav_melt",           # EAV melt
    "x4_apply_patches",      # LWW patch merge
    "x7_pivot_roundtrip",    # EAV → wide pivot
    "stream_stateful_profile",  # applyInPandasWithState rep
    "stream_ace_import",     # streaming .ace ingest
    "datalog_query",         # Datalog compiler rep
    "q1_pricing_summary",    # TPC-H agg rep
    "dedup_components",      # iterative connected components
    "ann_cosine_topk",       # ANN rep
    "multimodal_video_frames",  # codec rep
    "chunk_dedup",           # r3 hash-red #1 (HUGEINT oracle) — green
    "sql_recursive_cte",     # r3 hash-red #2 — green
    "stream_outer_join",     # r3 hash-red #3 — green
    # --- round-9 rotation: 35 never-driver-certified entries ---------
    # Every round-8 rotating entry went green (CORRECTNESS_r08 50/50),
    # so the whole band rotates to backlog; overlap with r8 is exactly
    # the 15 sentinels.  Cumulative distinct: 258 -> 293.
    # (a) the round-9 surface (scale-safe graph maintenance, IVF-PQ
    #     high-recall gate, CDC-feed consumption) + the two round-8
    #     stores that landed after the r8 window froze
    "stream_nsw_descent_mv",
    "ann_ivfpq_hirecall_topk",
    "txlog_cdc_feed",
    "ann_ivfpq_store_topk",
    "stream_ivfpq_mv",
    # (b) the complete f_* scalar-function surface (16 suites — the
    #     largest never-certified family, judge rotation priority)
    "f_variant_json",
    "f_array_suite",
    "f_interval_suite",
    "f_window_suite2",
    "f_array_suite2",
    "f_bitwise_suite",
    "f_aggorder_suite",
    "f_aggmisc_suite",
    "f_like_suite",
    "f_datetime_suite2",
    "f_math_suite",
    "f_hof_suite",
    "f_generator_suite",
    "f_null_semantics",
    "f_try_suite",
    "f_map_suite",
    # (c) families with at most one certified representative
    "graph_label_propagation",
    "graph_bfs_hops",
    "graph_modularity",
    "graph_degree_histogram",
    "eav_cas_patch",
    "eav_lookup_ref",
    "eav_tx_metadata",
    "eav_since",
    "datalog_pull_wildcard",
    "datalog_with",
    "ace_datasource_roundtrip",
    "sql_frontend",
    # (d) heaviest never-certified bench entries
    "events_sessionize",
    "ts_gapfill",
]


def _ordered_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    flagship = [k for k in FLAGSHIP_ORDER if k in QUERIES]
    rest = [k for k in QUERIES if k not in set(flagship)]
    return {k: QUERIES[k] for k in (*flagship, *rest)}


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return QUERIES["x6_qa_report"](spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return _ordered_queries()


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL oracle per query (same column aliases).

    Every registry entry has exactly one oracle by construction: each
    module declares (query function, oracle) pairs.  Sketch/approximate
    queries (minhash, simhash, LSH/IVF/PQ ANN, HLL distinct, GK
    quantiles) gate on deterministic acceptance rows: exact-side counts
    the oracle recomputes in SQL plus error/recall-bound booleans the
    oracle pins TRUE — the sketch internals stay engine-specific, the
    sketch CONTRACT is hash-certified.
    """
    return dict(ORACLES)
