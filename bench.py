"""Benchmark harness — runs the full declared suite at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Round-3 regression fix: the driver tail-captures only the last ~2000 chars
of stdout, and the 205-query JSON line outgrew it (BENCH_r03 ``parsed:
null``).  The per-query timings for the FULL suite now go to
``BENCH_FULL.json`` next to this file; stdout's single final JSON line
carries only the r2-stable 40-query headline subset (1:1 comparable with
BENCH_r02's 52.73s): {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query executes to completion via the noop sink (full pipeline runs,
nothing is collected to the driver — the closest local analog of a cluster
job writing to storage).

Round-7 protocol: the artifact is self-calibrating.  Round 6 proved a
2.3× same-commit, same-boot session spread (builder 54.7s / driver 74.1s
/ judge 123.7s headline) — so before the headline phase the bench times a
fixed calibration pair (the warmed lineitem scan-agg, and a pure-CPU
Python hash loop) with the identical warm-up+3-runs discipline and embeds
both in the stdout JSON (``"calib"``).  The session-invariant quantity is
headline/calib.scan_agg — quote it when comparing rounds.  min-of-3 is
the primary headline (median-of-3 secondary), per-query GC time goes to
BENCH_FULL.json, and the bench heap defaults to 24g (the round-6 GC-cliff
fix).

Round-10 protocol ADDITIONS (nothing timed changed — same 40 queries,
same warm-up+min3 noop-sink methodology, ``queries`` keys 1:1 with
r2..r9): a third calibration probe ``stream`` (a small stateful
streaming drain — the r9 driver artifact's 3-4x per-query spikes were
on streaming/stateful shapes the scan-agg probe could not see), and
``headline_spread`` (per-query med3/min3) in BENCH_FULL.json so a
single-session spike reads as noise, not a plan regression.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# Benchmarks get a large driver heap by default: in local[32] the driver
# JVM hosts all 32 task threads, and at 8g queries with many aggregation
# buffers run near the GC cliff — old-gen state left by prior queries
# flipped a 4s query to 30s between sessions (round-6 verdict).  The box
# has 128 GiB; the reference's own sizing rule is 75% of free RAM
# (azanium util.py:279-286).  Must be set before the JVM launches.
os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "24g")

from db_migration_spark.queries import QUERIES
from db_migration_spark.session import get_spark

FULL_SUITE = [
    "x6_qa_report",
    "q1_pricing_summary",
    "q3_top_revenue",
    "x1_eav_melt",
    "x7_pivot_roundtrip",
    "x4_apply_patches",
    "w1_last_write_wins",
    "events_hourly_rollup",
    "dedup_exact",
    "dedup_minhash",
    "dedup_ngram_jaccard",
    "ann_cosine_topk",
    "text_stats",
    "asof_join",
    "x3_typed_cast",
    "datalog_query",
    "q5_region_revenue",
    "q6_selective_sum",
    "events_sessionize",
    # round-2 breadth: cover the rewritten paths (tfidf join strategy,
    # simhash single-pass fold, LSH-blocked cosine, IVF TakeOrdered
    # seeding) plus the join/agg surface the verdict called out
    "q12_priority_lines",
    "j4_semi_anti",
    "a7_cube",
    "text_tfidf_topterms",
    "dedup_levenshtein",
    "dedup_simhash",
    "ann_ivf_topk",
    "dedup_embedding_cosine",
    "ace_e2e_qa",
    "datalog_join",
    "range_join_campaigns",
    "dedup_components",
    "datalog_ancestors",
    "corpus_datacard",
    # round-2 continuation: hard relational patterns + chunk-granular dedup
    "q17_small_qty_revenue",
    "q21_sole_late_supplier",
    "chunk_dedup",
    # corpus numbering / cleaning / graph / streaming-engine paths
    "dense_ids",
    "winsorize_values",
    "copurchase_triangles",
    "stream_hourly_rollup",
    # round-3: the remaining streaming-engine gates + the new surfaces
    # (r2 entries above are unchanged so r3/r2 deltas compare 1:1)
    "stream_dedup_keys",
    "stream_stream_join",
    "stream_ace_import",
    "datalog_pull",
    "multimodal_jpeg_decode",
    "eav_as_of",
    "datalog_rules",
    # round-3 continuation: TPC-H close-out, Datomic views/upsert/cascade,
    # real GIF/video/G.711 kernels, streaming sessions, SemDeDup, RAG
    # chunking (all prior entries unchanged for 1:1 cross-round deltas)
    "q2_min_cost_supplier",
    "q9_product_profit",
    "q11_important_stock",
    "q16_supplier_count",
    "q20_concentrated_suppliers",
    "eav_upsert_identity",
    "eav_retract_cascade",
    "datalog_with",
    "multimodal_gif_decode",
    "multimodal_video_frames",
    "multimodal_g711_stats",
    "stream_session_rollup",
    "dedup_semantic",
    "passage_chunks",
    "graph_pagerank",
    "graph_bfs_hops",
    "bpe_train_merges",
    "eav_cas_patch",
    "datalog_pull_wildcard",
    # round-3 session-2 batch: runtime pruning showcases, exact stats,
    # sketches, sampling, time series, corpus gates
    "dpp_pruned_join",
    "bloom_filter_join",
    "stats_moments",
    "heavy_hitters_cms",
    "ts_gapfill",
    "cohort_retention",
    "text_gopher_rules",
    "dedup_containment",
    "bpe_encode",
    "lateral_topk",
    "ts_anomaly_flags",
    "eav_excision",
    "stream_cms",
    "attribution_last_touch",
    "dq_expectations",
    "vocab_coverage",
    # round-3 session-7 batch: recursive CTE engine path, mining/segments,
    # k-core peeling, PQ ANN, BMP/resize kernels, streaming outer join
    "sql_recursive_cte",
    "assoc_rules",
    "rfm_segments",
    "ts_ohlc_bars",
    "graph_kcore",
    "ann_pq_topk",
    "multimodal_bmp_decode",
    "multimodal_image_resize",
    "stream_outer_join",
    "eav_tx_log",
    "multimodal_audio_resample",
    "ts_seasonal_forecast",
    "eav_tx_metadata",
    "fixedwidth_source",
    "dedup_image_phash",
    "eav_lookup_ref",
    "f_regex_suite",
    "f_interval_suite",
    "text_quality_logit",
    "csv_multiline_roundtrip",
    "ace_datasource_scan",
    "stats_chi_square",
    "mv_reuse_rollup",
    "dedup_audio_fingerprint",
    "orders_skyline",
    "stream_topk_per_window",
    "ace_datasource_roundtrip",
    "u6_setops_all",
    "f_window_suite2",
    "eav_schema_alter",
    "shard_manifest",
    "ivm_delta_merge",
    "eav_bitemporal",
    "events_markov_transitions",
    "orders_abc_pareto",
    "sink_compaction_roundtrip",
    "eav_nohistory",
    "f_array_suite2",
    "a9_percentile_disc",
    "multimodal_tiff_meta",
    "multimodal_mp3_meta",
    "eav_tuple_attr",
    "profile_gini",
    "f_bitwise_suite",
    "ts_twap",
    "ts_vwap",
    "datalog_indexed",
    "graph_assortativity",
    "orders_benford",
    # round-3 session-8 batch: exact classical statistics, per-node
    # clustering / link prediction, dyadic EWMA, rolling correlation,
    # GROUP BY ALL front door, binaryFile source, bigram census,
    # gazetteer tagging (prior entries unchanged for 1:1 deltas)
    "stats_spearman",
    "stats_linreg",
    "stats_mann_whitney",
    "graph_clustering_coeff",
    "graph_jaccard_linkpred",
    "ts_ewma",
    "ts_rolling_corr",
    "sql_group_by_all",
    "binaryfile_scan",
    "corpus_ngram_counts",
    "text_gazetteer_tag",
    "multimodal_qoi_decode",
    "stream_stateful_profile",
    "eav_attr_stats",
    "a10_percentile_cont",
    "stats_kruskal_wallis",
    "ts_max_drawdown",
    "multimodal_webp_meta",
    "eav_entity_history",
    "f_aggmisc_suite",
    "a11_approx_quantiles",
    "ace_datasource_stream",
    "ace_stream_sink",
    "sql_join_hint",
    "cdc_apply",
    "multimodal_exif_meta",
    "stats_welch_suffstats",
    "graph_degree_histogram",
    "eav_db_filter",
    "corpus_e2e_pipeline",
    "graph_modularity",
    "ts_cusum_changepoint",
    "sql_pipe_syntax",
    "sql_collation_group",
    "f_like_suite",
    "stream_chained_stateful",
    "f_datetime_suite2",
    "stats_bootstrap_means",
    "stats_mad",
    "eav_with_speculative",
    "stats_hhi_concentration",
    "stats_runs_test",
    "f_math_suite",
    "multimodal_ico_meta",
    "eav_ident_resolution",
    "w9_value_range_frame",
    "corpus_unigram_ranks",
    "multimodal_flac_meta",
    "stats_gini_inequality",
    "ts_concurrent_intervals",
    "ts_autocorrelation",
    "cohort_ltv",
    "stats_km_lifetable",
    "graph_ktruss",
    "events_sliding_distinct",
    "multimodal_pdf_meta",
    "events_out_of_order_audit",
    "multimodal_srt_cues",
    "graph_temporal_reach",
    "archive_tar_scan",
    "stats_cohens_kappa",
    "orders_whatif_discount",
    "t5_pagination",
    # round-4: X7 wide-class map fallback at pipeline level, ACID
    # commit-protocol table format
    "x7_sparse_map",
    "txlog_acid_upsert",
    "txlog_time_travel",
    "txlog_zonemap_scan",
    "stream_txlog_sink",
    "txlog_optimize_zorder",
    "geo_cell_density",
    "geo_radius_pairs",
    "geo_nn_radius",
    "geo_polygon_contains",
    "geo_path_manhattan",
    "text_html_extract",
    "udtf_passage_split",
    "asof_nearest_tolerance",
    "f_hof_suite",
    "sql_pivot_clause",
    "sql_ddl_ctas",
    "mapinarrow_stats",
    "sql_bom_rollup",
    "sql_agg_filter",
    "sql_lateral_view",
    "corpus_chat_template",
    "corpus_context_stuffing",
    "sink_dynamic_overwrite",
    "txlog_cdf_read",
    "txlog_stream_source",
    "emb_gram_matrix",
    "graph_random_walks",
    "stats_ks_test",
    "stats_kendall_tau",
    "graph_label_propagation",
    "emb_kmeans_step",
    # round-4 late sessions: merge-on-read DML, governance
    "txlog_delete_vectors",
    "txlog_merge_on_read",
    "privacy_k_anonymity",
    "privacy_l_diversity",
    "sql_udf_functions",
    "corpus_preference_pairs",
    "stream_cdc_upsert",
    "corpus_fim_split",
    "txlog_incremental_mv",
    "txlog_describe_history",
    # round 5: partitioned-table surface
    "txlog_partitioned_scan",
    "txlog_replace_where",
    "stream_partitioned_sink",
    "txlog_bloom_lookup",
    "txlog_column_mapping",
    "sketch_hll_rollup",
    "sketch_hll_union",
    "sketch_hll_merge_total",
    "stream_hll_mv",
    "ann_ivf_pruned_store",
    # round 6: theta sketches, AQP sampling, retrieval, shallow clone
    "sketch_theta_build",
    "sketch_theta_intersect",
    "sketch_theta_diff",
    "stream_theta_mv",
    "sample_deterministic",
    "sample_aqp_revenue",
    "search_bm25_topk",
    "search_bm25_indexed",
    "search_inverted_postings",
    "search_hybrid_rrf",
    "search_dirichlet_lm",
    "txlog_shallow_clone",
    "sketch_quantile_rollup",
    "sketch_quantile_merge_total",
    "stream_quantile_mv",
    "txlog_rtbf_erasure",
    "txlog_partition_evolution",
    # round 7: persisted LSH band index (incremental near-dup serving)
    "dedup_lsh_store_probe",
    "dedup_lsh_point_probe",
    "stream_dedup_lsh_mv",
    # round 7: MaxScore-pruned BM25 serving (exact top-k, term ub sidecar)
    "search_bm25_maxscore",
    # round 7: weighted priority sampling (mergeable subset-sum sketch)
    "sketch_priority_sample",
    "stream_priority_mv",
    # round 7: offline mean-shift changepoint (exact-integer argmax)
    "ts_changepoint",
    # round 7 continuation: exact-integer trend + robust slope
    "ts_holt_trend",
    "ts_theil_sen",
    # round 7: bottom-k rank-quantile sketch + streaming MV
    "sketch_bottomk_quantiles",
    "stream_bottomk_mv",
    # round 7: multi-table catalog transactions / branches
    "txlog_catalog_snapshot",
    "stream_catalog_txn",
    "txlog_catalog_branch",
    # round 7: positional phrase search; MMR / filtered vector serving
    "search_phrase_match",
    "emb_mmr_diversify",
    "ann_filtered_topk",
    # round 7: join-view IVM, DSIR selection (batch + streamed fit),
    # NSW graph ANN, t-closeness, streamed postings index, NDCG eval,
    # PSI drift
    "ivm_join_delta",
    "corpus_dsir_select",
    "stream_dsir_mv",
    "ann_nsw_topk",
    "privacy_t_closeness",
    "stream_postings_mv",
    "search_eval_ndcg",
    "stats_psi_drift",
    "corpus_dsir_resample",
    "txlog_check_constraint",
    "txlog_restore_checkpoint",
    "ann_hnsw_topk",
    "ann_nsw_descent_topk",
    "txlog_export_manifest",
    "corpus_survival_funnel",
    # round 8: persisted graph-ANN store (serving tier), incrementally
    # maintained adjacency MV
    "ann_nsw_store_topk",
    "stream_nsw_mv",
    "search_bm25_blockmax",
    "ann_ivfpq_store_topk",
    "stream_ivfpq_mv",
    "rfm_segments_factscale",
    "orders_abc_factscale",
    "privacy_dp_counts",
    "privacy_randomized_response",
    "stats_permutation_fdr",
    # round-9 surface
    "stream_nsw_descent_mv",
    "ann_ivfpq_hirecall_topk",
    "txlog_cdc_feed",
]

# r2-stable headline subset — the single stdout JSON line (the driver
# tail-captures ~2000 chars; this 40-query dict fits, the 205-query one
# does not).  MUST stay 1:1 with BENCH_r02's parsed["queries"] keys so
# cross-round totals compare directly: FULL_SUITE only grows at its end.
HEADLINE = FULL_SUITE[:40]


# The sketch registry entries became SELF-CERTIFYING this round: each now
# runs its production operator PLUS an in-query exact-side verification
# (brute-force top-k / exact n-gram Jaccard / exact percentiles) so the
# driver can hash-gate the sketch contract.  The bench must keep timing the
# PRODUCTION operator alone — that is what r2's comparable numbers measured
# and what a deployment runs (nobody ships the verification harness).
def _perf_overrides():
    from pyspark.sql import functions as F

    from db_migration_spark.catalog import load_table
    from db_migration_spark.operators import dedup, similarity

    def minhash(spark, sf_dir):
        docs = load_table(spark, sf_dir, "documents")
        return dedup.minhash_near_dups(
            docs, num_hashes=32, bands=8, threshold=0.4
        )

    def simhash(spark, sf_dir):
        docs = load_table(spark, sf_dir, "documents")
        return dedup.simhash_near_dups(docs, max_hamming=3, bands=4)

    def ivf(spark, sf_dir):
        emb = load_table(spark, sf_dir, "embeddings")
        q = emb.filter(F.col("vec_id") < 8)
        return similarity.ivf_topk(emb, q, k=10, n_lists=16, n_probe=6)

    def pq(spark, sf_dir):
        emb = load_table(spark, sf_dir, "embeddings")
        q = emb.filter(F.col("vec_id") < 8)
        return similarity.pq_topk(
            emb, q, k=10, n_sub=8, n_codes=16, rerank=50
        )

    def quantiles(spark, sf_dir):
        li = load_table(spark, sf_dir, "lineitem")
        return li.groupBy("l_returnflag").agg(
            F.expr(
                "approx_percentile(CAST(floor(l_extendedprice * 100) AS"
                " BIGINT), array(0.25, 0.5, 0.75), 10000)"
            ).alias("approx_cents"),
            F.count(F.lit(1)).alias("n"),
        )

    return {
        "dedup_minhash": minhash,
        "dedup_simhash": simhash,
        "ann_ivf_topk": ivf,
        "ann_pq_topk": pq,
        "a11_approx_quantiles": quantiles,
    }


def _gc_millis(spark) -> int:
    """Cumulative stop-the-world GC time of the driver JVM (which in
    local mode IS the executor), via the standard JMX beans."""
    beans = (
        spark._jvm.java.lang.management.ManagementFactory
        .getGarbageCollectorMXBeans()
    )
    return sum(max(b.getCollectionTime(), 0) for b in beans)


def _probe_fns(spark, sf_dir: str):
    """The three fixed calibration probes.

    * ``scan_agg``: a canonical JVM-bound probe — the warmed lineitem
      scan + groupBy aggregate (parquet scan, whole-stage codegen,
      one shuffle).  Tracks everything Spark-session-shaped: GC state,
      JIT, shuffle I/O, core contention.
    * ``cpu_py``: a pure-CPU single-thread Python probe (fixed hash
      loop, no JVM).  Tracks raw host CPU / frequency / steal.
    * ``stream``: a small stateful streaming drain (availableNow
      micro-batch over a fixed parquet slice, stateful groupBy into a
      noop sink, fresh checkpoint per run).  Round-10 addition (r9
      verdict finding #3): the r9 driver artifact's worst per-query
      spikes were 3-4x on STREAMING/STATEFUL shapes while the scan-agg
      probe only read 1.2x — the calib vector could not see state-store
      /micro-batch machinery contention.  This probe tracks exactly
      that session dimension.
    """
    import shutil as _shutil
    import tempfile as _tempfile

    from pyspark.sql import functions as F

    from db_migration_spark.catalog import load_table

    probe_src = "/tmp/dbm_bench_stream_probe"
    if not os.path.exists(os.path.join(probe_src, "_SUCCESS")):
        (
            spark.range(50_000)
            .select(
                (F.col("id") % 997).alias("k"),
                (F.col("id") % 31).alias("v"),
            )
            .coalesce(2)
            .write.mode("overwrite")
            .parquet(probe_src)
        )

    def scan_agg() -> float:
        t0 = time.time()
        (
            load_table(spark, sf_dir, "lineitem")
            .groupBy("l_returnflag", "l_linestatus")
            .agg(
                F.sum("l_quantity").alias("sq"),
                F.sum("l_extendedprice").alias("sp"),
                F.count(F.lit(1)).alias("n"),
            )
            .write.format("noop").mode("overwrite").save()
        )
        return time.time() - t0

    def cpu_py() -> float:
        import hashlib

        t0 = time.time()
        h = b"calib"
        for _ in range(200_000):
            h = hashlib.sha256(h).digest()
        return time.time() - t0

    def stream() -> float:
        chk = _tempfile.mkdtemp(prefix="bench_probe_chk_")
        t0 = time.time()
        q = (
            spark.readStream.schema("k long, v long")
            .parquet(probe_src)
            .groupBy("k")
            .agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("n"))
            .writeStream.format("noop")
            .outputMode("complete")
            .option("checkpointLocation", chk)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        if q.isActive:
            q.stop()
        dt = time.time() - t0
        _shutil.rmtree(chk, ignore_errors=True)
        return dt

    return scan_agg, cpu_py, stream


def _calibrate(spark, sf_dir: str) -> dict:
    """Fixed calibration pair, timed exactly like the headline queries
    (untimed warm-up, then median/min of 3).  Round-6 finding: the same
    commit measured 54.7s / 74.1s / 123.7s headline in three sessions on
    one machine boot — without an in-artifact probe nobody can tell
    engine regressions from session noise.  The ratio headline/calib is
    the session-invariant quantity."""
    scan_agg, cpu_py, stream = _probe_fns(spark, sf_dir)
    out: dict = {}
    for name, fn in (
        ("scan_agg", scan_agg),
        ("cpu_py", cpu_py),
        ("stream", stream),
    ):
        fn()  # warm-up, untimed
        runs = sorted(fn() for _ in range(3))
        out[name + "_min3"] = round(runs[0], 3)
        out[name + "_med3"] = round(runs[1], 3)
    return out


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None
    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")

    # warm the JVM + parquet footers on every table so per-query numbers
    # measure the pipeline, not first-touch JIT / cold file metadata
    from db_migration_spark.catalog import TABLES, load_table

    for t in TABLES:
        load_table(spark, sf_dir, t).count()

    calib = _calibrate(spark, sf_dir)

    overrides = _perf_overrides()
    gc_timings: dict[str, int] = {}  # per-query GC ms across TIMED runs

    def _run_once(name: str) -> float:
        fn = overrides.get(name, QUERIES[name])
        t0 = time.time()
        df = fn(spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
        return time.time() - t0

    def _run_timed(name: str) -> float:
        g0 = _gc_millis(spark)
        dt = _run_once(name)
        gc_timings[name] = gc_timings.get(name, 0) + _gc_millis(spark) - g0
        return dt

    # --- headline phase FIRST, isolated from suite growth ---------------
    # Round-6 protocol fix: the r3-r5 headline drifted 52.7→58.0→72.1s on
    # UNCHANGED plans because the min-of-2 numbers were harvested from a
    # shared-JVM full-suite pass whose length grew every round — the
    # artifact measured accumulated JVM state (JIT/code-cache/GC), not
    # the queries.  The headline subset is now timed in its own early
    # phase, matching the conditions BENCH_r02's 52.73s was measured
    # under (40 queries near JVM start): one untimed warm-up run pays
    # whole-stage-codegen JIT for the query shape, then median-of-3
    # timed runs — robust to one-off pauses in either direction, and
    # invariant to how many OTHER queries the suite carries.
    # min-of-3 is now the PRIMARY headline (r7 protocol): of the three
    # timed runs of a deterministic plan, the minimum is the one least
    # contaminated by GC pauses / scheduling noise — the quantity that
    # tracks the engine.  Median kept as the secondary robustness check.
    timings: dict[str, float] = {}     # min-of-3 (primary)
    head_med3: dict[str, float] = {}   # median-of-3 (secondary)
    # Round-9 protocol (r8 verdict task 6): the single pre-suite probe
    # ranged 0.855–1.344s ACROSS sessions this round — as wide as the
    # session swings it normalizes — so ≥5 probe pairs interleave
    # through the headline phase (pre / 25% / 50% / 75% / post) and the
    # artifact publishes the vector + median + spread.  The pre-suite
    # min3/med3 keys stay for cross-round ratio continuity; the
    # round-9+ session-invariant ratio is headline/calib.scan_agg_med5.
    scan_probe, cpu_probe, stream_probe = _probe_fns(spark, sf_dir)
    probe_vec: list[dict] = [
        {
            "at": "pre",
            "scan_agg": calib["scan_agg_min3"],
            "cpu_py": calib["cpu_py_min3"],
            "stream": calib["stream_min3"],
        }
    ]
    marks = {
        len(HEADLINE) // 4: "q25",
        len(HEADLINE) // 2: "q50",
        (3 * len(HEADLINE)) // 4: "q75",
    }
    for i, name in enumerate(HEADLINE):
        if i in marks:
            probe_vec.append(
                {
                    "at": marks[i],
                    "scan_agg": round(scan_probe(), 3),
                    "cpu_py": round(cpu_probe(), 3),
                    "stream": round(stream_probe(), 3),
                }
            )
        _run_once(name)  # warm-up: JIT + shuffle-file page cache
        runs = sorted(_run_timed(name) for _ in range(3))
        timings[name] = round(runs[0], 3)
        head_med3[name] = round(runs[1], 3)
    probe_vec.append(
        {
            "at": "post",
            "scan_agg": round(scan_probe(), 3),
            "cpu_py": round(cpu_probe(), 3),
            "stream": round(stream_probe(), 3),
        }
    )
    for key in ("scan_agg", "cpu_py", "stream"):
        vals = sorted(p[key] for p in probe_vec)
        calib[key + "_med5"] = round(vals[len(vals) // 2], 3)
        calib[key + "_spread"] = round(vals[-1] / vals[0], 2)
    calib["probes"] = probe_vec
    # sum of the per-query counters, NOT a before/after JVM span: the
    # span would fold the untimed warm-up runs' GC into a field whose
    # meaning is "GC during the TIMED headline runs"
    head_gc_sec = round(
        sum(gc_timings.get(n, 0) for n in HEADLINE) / 1000.0, 3
    )

    head = {k: timings[k] for k in HEADLINE if k in timings}
    total = round(sum(head.values()), 3)
    med3_total = round(sum(head_med3.values()), 3)
    # single compact final line — must fit the driver's ~2000-char tail.
    # "overridden" flags the sketch entries timed via _perf_overrides
    # (production operator, not the declared query's in-query exact-side
    # verification harness) so the artifact is self-describing.  "calib"
    # embeds the fixed-probe timings so cross-session deltas are
    # attributable (headline/calib.scan_agg_min3 is the session-invariant
    # ratio); "gc_sec" is total stop-the-world GC during the timed
    # headline runs.
    headline_json = {
        "metric": "headline-suite wall time",
        "value": total,
        "unit": "sec",
        "queries": head,
        "sf": sf,
        "protocol": "warmup+min3(primary)",
        "median3_total": med3_total,
        "calib": calib,
        "gc_sec": head_gc_sec,
        "overridden": sorted(set(overrides) & set(HEADLINE)),
    }
    print(json.dumps(headline_json, separators=(",", ":")), flush=True)

    # headline-only mode: used for same-session calibration-ratio
    # validation (two consecutive headline runs without the ~5-minute
    # full phase between them).  The driver always runs the default
    # full protocol — this flag only short-circuits local validation.
    if os.environ.get("SPARK_GRAFT_HEADLINE_ONLY"):
        return

    # --- full-suite phase: breadth coverage, min-of-2 ---------------------
    for name in FULL_SUITE:
        if name in timings:
            continue
        timings[name] = round(min(_run_timed(name) for _ in range(2)), 3)

    full_total = round(sum(timings.values()), 3)
    full_path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                             "BENCH_FULL.json")
    with open(full_path, "w") as fh:
        json.dump(
            {
                "metric": "full-suite wall time",
                "value": full_total,
                "unit": "sec",
                "queries": timings,
                "sf": sf,
                "n_queries": len(timings),
                "protocol": "headline=warmup+min3; rest=min-of-2",
                "headline_median3": head_med3,
                "headline_median3_total": med3_total,
                # per-query med3/min3 spread (r9 verdict finding #3):
                # a single-session spike shows up here as a wide ratio,
                # so artifact outliers are visibly noise, not plan
                # regressions
                "headline_spread": {
                    k: round(head_med3[k] / timings[k], 2)
                    if timings.get(k)
                    else None
                    for k in head_med3
                },
                "calib": calib,
                "gc_ms_per_query": gc_timings,
                "headline_gc_sec": head_gc_sec,
                "driver_mem": os.environ.get("SPARK_GRAFT_DRIVER_MEM"),
                "overridden": sorted(set(_perf_overrides())),
            },
            fh,
            indent=1,
        )

    # re-print the headline line LAST so the driver's stdout tail-capture
    # always sees it even if full-phase logging intervened
    print(json.dumps(headline_json, separators=(",", ":")))


if __name__ == "__main__":
    main()
