"""Scale-posture checks: merge work is bounded by touched files (not
table size), and sustained CDC apply throughput across many batches
stays within the reference's one-trigger-interval budget."""

from __future__ import annotations

import json
import time

import pytest

# slow assurance lane (round-17): whole-registry executed-plan scale audits (~5 min);
# skipped in the default verify lane, run with SPARK_GRAFT_FULL_TESTS=1
pytestmark = pytest.mark.slow

from pyspark.sql import functions as F, types as T

from transactional_datalake_using_amazon_datafirehose_iceberg_spark.plans import (
    LakeTable,
    merge_into,
)

SCHEMA = T.StructType(
    [
        T.StructField("k", T.LongType(), False),
        T.StructField("bucket", T.LongType(), True),
        T.StructField("v", T.DoubleType(), True),
    ]
)


def test_merge_rewrites_only_touched_files(spark, tmp_path, monkeypatch):
    """600k-row clustered table; a 50-key micro-batch with keys in ONE
    bucket must rewrite a small fraction of files (manifest pruning +
    file-level semi join), carrying the rest over by reference.

    The probe-skip fast path (candidates under one target file rewrite
    outright) is forced OFF here — this test pins the at-scale path,
    where candidates always exceed that threshold; the skip path is
    pinned separately below."""
    from transactional_datalake_using_amazon_datafirehose_iceberg_spark.plans import (
        merge as merge_mod,
    )

    monkeypatch.setattr(merge_mod, "_PROBE_SKIP_BYTES", 0)
    t = LakeTable.create(str(tmp_path / "big"), SCHEMA, keys=["k"], cluster_by=["bucket"])
    base = spark.range(600_000).select(
        F.col("id").alias("k"),
        (F.col("id") % 64).alias("bucket"),
        (F.col("id") * 1.5).alias("v"),
    )
    t.append(base)
    n_files = len(t.file_paths())
    # file count == write parallelism (4 in the test session); need >1
    # for the carried-over-by-reference assertion to mean anything
    assert n_files >= 4, f"expected a multi-file table, got {n_files}"

    # micro-batch: 50 updates, all keys congruent to 7 mod 64 (one bucket)
    src = spark.range(50).select(
        (F.col("id") * 64 + 7).alias("k"),
        F.lit(7).cast("long").alias("bucket"),
        F.lit(-1.0).alias("v"),
        F.lit("update").alias("operation"),
    )
    merge_into(t, src, on=["k"], op_col="operation")

    m = t.manifest()
    touched = m["summary"]["matched_files"]
    assert touched < n_files / 2, (
        f"merge touched {touched}/{n_files} files; pruning is not bounding work"
    )
    # correctness of the surgical rewrite
    got = t.read(spark, predicates=None).filter("v = -1.0").count()
    assert got == 50
    assert t.row_count() == 600_000


def test_merge_small_candidates_skip_probe(spark, tmp_path, monkeypatch):
    """When the pruned candidates total less than one target output
    file, the Spark MERGE rewrites them outright — the probe scan would
    cost more than the write it saves, and small files compact for free.
    Results must be identical to the probed path. The in-process row
    gate is set to 0 so this small MERGE stays on the Spark path (on
    the driver path the pyarrow probe is exact and costs no job)."""
    from transactional_datalake_using_amazon_datafirehose_iceberg_spark.plans import (
        lake_table,
    )

    monkeypatch.setattr(lake_table, "_INPROCESS_MAX_ROWS", 0)
    t = LakeTable.create(str(tmp_path / "small"), SCHEMA, keys=["k"], cluster_by=["bucket"])
    base = spark.range(1_000).select(
        F.col("id").alias("k"),
        (F.col("id") % 8).alias("bucket"),
        (F.col("id") * 1.5).alias("v"),
    )
    t.append(base)
    n_files = len(t.file_paths())
    src = spark.range(10).select(
        (F.col("id") * 8).alias("k"),
        F.lit(0).cast("long").alias("bucket"),
        F.lit(-1.0).alias("v"),
        F.lit("update").alias("operation"),
    )
    merge_into(t, src, on=["k"], op_col="operation")
    m = t.manifest()
    # every pruned candidate was rewritten without a probe job
    assert m["summary"]["matched_files"] == n_files
    assert t.read(spark).filter("v = -1.0").count() == 10
    assert t.row_count() == 1_000


def test_sustained_cdc_apply_throughput(spark, tmp_path):
    """10 consecutive micro-batches of 2k upserts each into a growing
    table: every batch must apply well inside the reference's 60 s
    trigger interval (README.md:447; firehose buffer 60 s)."""
    from transactional_datalake_using_amazon_datafirehose_iceberg_spark.plans import metrics

    t = LakeTable.create(str(tmp_path / "tput"), SCHEMA, keys=["k"], cluster_by=["bucket"])
    metrics.reset()
    timings = []
    for b in range(10):
        # 50% new keys, 50% updates of earlier keys
        src = spark.range(2_000).select(
            (F.col("id") + b * 1_000).alias("k"),
            ((F.col("id") + b) % 16).alias("bucket"),
            (F.col("id") + F.lit(b * 10.0)).alias("v"),
            F.lit("insert").alias("operation"),
        )
        t0 = time.perf_counter()
        merge_into(t, src, on=["k"], op_col="operation", assume_unique=True)
        timings.append(time.perf_counter() - t0)
    assert max(timings) < 60, f"a micro-batch exceeded the trigger budget: {timings}"
    # last-write-wins converged state
    assert t.row_count() == 11_000
    # batches kept getting applied at roughly constant cost (no blow-up):
    # final batch within 5x of the first (generous local-jitter bound)
    assert timings[-1] < timings[0] * 5 + 2.0, timings
    # planner census pins the micro-batch hot path mechanically: every
    # batch is merged on the driver, so no merge ever ran the
    # touched-file probe scan; batch 0 merges into an empty table
    # (pruning leaves zero candidate files -> append fast path)
    snap = metrics.snapshot()
    assert snap.get("merge.probe_job", 0) == 0, snap
    assert snap.get("merge.inprocess", 0) == 10, snap
    assert snap.get("merge.no_candidates", 0) == 1, snap


# ---------------------------------------------------------------------------
# Plan-assertion sweep (round-4 verdict task 8): every headline query's
# physical plan must be free of the three local-mode-only crutches that
# melt at 100 TB — BroadcastNestedLoopJoin (unless the spec deliberately
# broadcasts a metadata-scale side), CartesianProduct, and row-at-a-time
# Python evaluation (BatchEvalPython; Arrow-vectorized Python is allowed
# only where the spec IS the UDF surface).
# ---------------------------------------------------------------------------

import os as _os

from transactional_datalake_using_amazon_datafirehose_iceberg_spark.queries import (
    QUERY_SPECS,
)

_HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_region_revenue",
    "q6_forecast_revenue",
    "q19_disjunctive_predicates",
    "window_topk_per_group",
    "events_sessionize_gap",
    "agg_rollup",
    "join_broadcast_dims",
    "asof_join_purchase_click",
    "higher_order_array_funcs",
    "dedup_minhash_lsh_pairs",
    "similarity_topk_cosine",
    "text_stats_quality",
    "cdc_retail_replay",
    # round-5 additions (not in the bench headline set, swept anyway)
    "text_repetition_filters",
    "decontaminate_ngram_overlap",
    # round-6 corpus-assembly additions
    "pack_sequences_concat_chunk",
    "dedup_exact_substring_spans",
    "sample_temperature_mixture",
    "multimodal_frame_boundary_sizes",
    "text_rare_token_fraction",
    "merge_not_matched_by_source",
    "rename_column_lifecycle",
    "widen_column_lifecycle",
    "streaming_lake_table_source",
    "join_lateral_topn",
    # round-6 analytics/lifecycle additions
    "events_funnel_stages",
    "events_retention_cohorts",
    "join_null_safe_eq",
    "maintenance_expire_snapshots",
    "multimodal_audio_window_energy",
    "sql_pipe_syntax",
    "streaming_chained_aggregations",
    "scan_prune_stats_proof",
    "add_column_default_lifecycle",
    "window_ntile_buckets",
    "scalar_bit_funcs",
    "row_lineage_lifecycle",
    "scalar_csv_funcs",
    "scalar_mask_format_funcs",
    "array_posexplode_outer",
    "map_zip_with_rollup",
    "streaming_lake_table_sink",
    "udtf_analyze_dynamic_schema",
    "source_csv_orc_roundtrip",
    "udf_map_in_arrow",
    "sql_lateral_column_alias",
    "sql_named_parameters",
    "wap_cherry_pick_publish",
    "similarity_mine_triplets",
    "scalar_collation_ci",
    "agg_boolean_every_any",
    "scalar_pad_overlay_funcs",
    "merge_evolve_widening",
    "streaming_skip_change_commits",
    "text_bigram_fluency",
    # round-8 declarations
    "cdc_routed_fanout",
    "partition_evolution_lifecycle",
    "streaming_sink_txn_app_ids",
    "sql_udf_create_function",
    # round-9 declarations
    "sql_scripting_control_flow",
    "agg_listagg_within_group",
    "agg_approx_top_k",
    "text_compression_ratio",
    "join_runtime_bloom_filter",
    "cdc_dead_letter_replay",
    "split_leakage_free_by_cluster",
    "cdc_point_in_time_asof",
    "source_xml_roundtrip",
    # round-10 declarations
    "merge_not_matched_update_stale",
    "events_gap_fill_interpolate",
    "asof_join_tolerance_bounded",
    "dpp_partitioned_scan_proof",
    "pivot_multi_agg",
    "meta_partitions_inspect",
    "sql_execute_immediate_variables",
    "lake_shallow_clone_divergence",
    "cdc_schema_drift_policy",
    # round-11 declarations
    "agg_bitmap_distinct",
    "agg_mode_median",
    "window_distinct_running",
    "events_transition_matrix",
    "subq_not_in_null_semantics",
    "scalar_xpath_funcs",
    "asof_join_forward_nearest",
    "maintenance_expire_dry_run_audit",
    "dedup_url_canonicalize",
    "agg_grouping_id_cube",
    "join_interval_overlap_binned",
    "events_anomaly_zscore_daily",
    # round-12 sweep widening: the ANN family's docstrings make the
    # strongest plan-shape claims (map-side assignment, shuffle-by-cell,
    # no corpus shuffle) — sweep them too
    "similarity_ann_lsh_bucket",
    "similarity_ann_ivf",
    "similarity_ann_pq",
    "dedup_embedding_cosine",
    # round-12 declarations
    "events_streak_longest_daily",
    "events_peak_concurrency",
    "embedding_truncate_renormalize",
    "multimodal_shot_boundaries",
    "orders_pareto_abc_class",
    "events_rolling_distinct_users_7d",
    "dedup_containment_asymmetric",
    # round-13 declarations
    "orders_rfm_segmentation",
    "orders_market_basket_pairs",
    "events_dau_wau_stickiness",
    "events_inactivity_churn",
    "events_weighted_moving_avg",
    "events_first_touch_attribution",
    "orders_interpurchase_gap_stats",
    "json_variant_props_agg",
    "multimodal_phash_hamming_pairs",
    "streaming_complete_mode_lake_sink",
    "sample_hash_topk_per_group",
    "window_rolling_median_cents",
    "events_binary_decay_smoothing",
    "orders_cohort_retention",
    "events_audience_overlap",
    "events_wow_top_movers",
    "quality_profile_columns",
    "text_bm25_rank",
    # round-14 declarations
    "text_char_entropy",
    "events_active_time_union",
    "orders_mad_dispersion",
    "embedding_quantized_centroids",
    "events_conversion_latency_quantiles",
    "events_hhi_concentration",
    "orders_basket_lift",
    "events_dow_seasonality",
    "orders_gini_coefficient",
    "events_funnel_any_order",
    "text_zipf_rank_frequency",
    "orders_fuzzy_invoice_pairs",
]

# spec -> physical-plan nodes it deliberately uses (with the reason the
# node is scale-safe there)
_DECLARED = {
    # broadcasts the <=5-row query-vector set against the corpus on a
    # non-equi (qid <> vec_id) condition: metadata-scale build side
    "similarity_topk_cosine": {"BroadcastNestedLoopJoin"},
    # same declared shape: metadata-scale anchor set broadcast on a
    # non-equi (id <> anchor) condition
    "similarity_mine_triplets": {"BroadcastNestedLoopJoin"},
    # the IVF/PQ centroid/codebook relations are 1-row metadata-scale
    # broadcasts attached via crossJoin, and the query sets join the
    # corpus on a non-equi (id <> qid) condition with a metadata-scale
    # broadcast build side — the declared ANN shape (docstrings)
    "similarity_ann_ivf": {"BroadcastNestedLoopJoin"},
    "similarity_ann_pq": {"BroadcastNestedLoopJoin"},
    "similarity_ann_lsh_bucket": {"BroadcastNestedLoopJoin"},
    "dedup_embedding_cosine": {"BroadcastNestedLoopJoin"},
    # composes cosine_topk + ivf_topk, inheriting their declared
    # metadata-scale broadcast non-equi joins
    "similarity_ivf_recall_audit": {"BroadcastNestedLoopJoin"},
    # a Python UDTF IS the row-at-a-time Python extension point — the
    # spec exists to exercise that surface (analyze()-derived schema),
    # not to claim a JVM hot path
    "udtf_analyze_dynamic_schema": {"BatchEvalPython"},
}

_FORBIDDEN = ("CartesianProduct", "BroadcastNestedLoopJoin", "BatchEvalPython")


def test_headline_plans_free_of_scale_killers(spark):
    sf = _os.environ.get("SPARK_GRAFT_SF_DIR_TINY", "/root/testdata/sf0.001")
    missing = [n for n in _HEADLINE if n not in QUERY_SPECS]
    assert not missing, f"headline specs missing from registry: {missing}"
    bad: list[str] = []
    for name in _HEADLINE:
        df = QUERY_SPECS[name].run_spark(spark, sf)
        plan = df._jdf.queryExecution().executedPlan().toString()
        for node in _FORBIDDEN:
            if node in plan and node not in _DECLARED.get(name, set()):
                bad.append(f"{name}: {node}")
    assert not bad, "scale-killer plan nodes found:\n" + "\n".join(bad)


# ---------------------------------------------------------------------------
# Extras sweep (round-5 verdict task 7): the bench extras run real MERGEs,
# changelog diffs, SCD2 closes and curation stages as SIDE EFFECTS before
# returning their final DataFrame — inspecting only the returned plan would
# miss them. The SQL status store (populated by SQLAppStatusListener even
# with the UI disabled) retains the physical plan of every execution, so
# each spec is run to completion and every plan it triggered is swept.
# ---------------------------------------------------------------------------

_EXTRAS = [
    "dedup_cluster_components",
    "pipeline_curate_corpus",
    "changelog_incremental_read",
    "text_top_ngrams_per_lang",
    "streaming_interval_join",
    "maintenance_zorder_cluster",
    "scd2_dimension_history",
    "incremental_mv_maintenance",
    "merge_conditional_partial",
    "sample_balanced_per_group",
]


def _flush_listener_bus(spark):
    """The status store is fed asynchronously off the listener bus; drain
    it so executions triggered by the spec are visible (falls back to a
    fixed wait if the private API moves)."""
    import time as _time

    try:
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    except Exception:
        _time.sleep(1.0)


def _executions_after(store, exec_id: int) -> list[tuple[int, str]]:
    """(executionId, physicalPlanDescription) for executions newer than
    ``exec_id``. Keyed by executionId, NOT list size: the store evicts
    old entries past spark.sql.ui.retainedExecutions (1000), so when the
    whole suite runs in one session the list size plateaus while ids
    keep growing — size-based bookkeeping would see 'no new executions'."""
    lst = store.executionsList()
    out = []
    for i in range(lst.size()):
        e = lst.apply(i)
        if e.executionId() > exec_id:
            out.append((e.executionId(), str(e.physicalPlanDescription())))
    return out


def test_headline_scans_push_filters_and_prune_columns(spark):
    """The 100 TB contract for scan-heavy queries: selective predicates
    must reach the parquet reader (PushedFilters non-empty — a filter
    evaluated only post-scan decodes every row group) and unused wide
    columns must not appear in the scan (column pruning). The canary
    column is one the query never references; plan-string truncation
    can only under-detect, never flake."""
    import re as _re

    sf = _os.environ.get("SPARK_GRAFT_SF_DIR_TINY", "/root/testdata/sf0.001")
    cases = {
        "q6_forecast_revenue": "l_returnflag",
        "q19_disjunctive_predicates": "l_returnflag",
        "q14_promo_share": "l_returnflag",
        "q1_pricing_summary": "l_suppkey",
    }
    for name, canary in cases.items():
        df = QUERY_SPECS[name].run_spark(spark, sf)
        plan = df._jdf.queryExecution().executedPlan().toString()
        # "[" not immediately followed by "]" — the list itself may be
        # truncated with "..." before its closing bracket
        assert _re.search(r"PushedFilters: \[(?!\])", plan), (
            f"{name}: no filters pushed to the parquet scan"
        )
        assert canary not in plan, (
            f"{name}: unused column {canary} appears in the scan — "
            "column pruning regressed"
        )


def test_extras_all_executed_plans_free_of_scale_killers(spark):
    sf = _os.environ.get("SPARK_GRAFT_SF_DIR_TINY", "/root/testdata/sf0.001")
    missing = [n for n in _EXTRAS if n not in QUERY_SPECS]
    assert not missing, f"extras specs missing from registry: {missing}"
    store = spark._jsparkSession.sharedState().statusStore()
    bad: list[str] = []
    for name in _EXTRAS:
        _flush_listener_bus(spark)
        last = max((eid for eid, _ in _executions_after(store, -1)), default=-1)
        QUERY_SPECS[name].run_spark(spark, sf).count()
        _flush_listener_bus(spark)
        new = _executions_after(store, last)
        assert new, f"{name}: no executions recorded"
        for eid, plan in new:
            for node in _FORBIDDEN:
                if node in plan and node not in _DECLARED.get(name, set()):
                    bad.append(f"{name} (execution {eid}): {node}")
    assert not bad, "scale-killer plan nodes found in extras:\n" + "\n".join(bad)


def test_probe_skip_rewrites_diff_as_no_change_in_changelog(spark, tmp_path, monkeypatch):
    """The Spark MERGE's probe-skip fast path rewrites candidate files
    that hold NO matching key; their carried-over rows appear in both the
    removed and added file sets of the merge commit and must classify as
    non-changes in the changelog — only the real upsert may surface. The
    in-process row gate is set to 0 to keep this small MERGE on Spark."""
    from transactional_datalake_using_amazon_datafirehose_iceberg_spark.plans import (
        lake_table,
    )

    monkeypatch.setattr(lake_table, "_INPROCESS_MAX_ROWS", 0)
    t = LakeTable.create(str(tmp_path / "t"), SCHEMA, keys=["k"], cluster_by=["bucket"])
    base = spark.range(200).select(
        F.col("id").alias("k"),
        (F.col("id") % 4).alias("bucket"),
        (F.col("id") * 1.0).alias("v"),
    )
    t.append(base)
    v0 = t.current_version()
    n_files = len(t.file_paths())
    assert n_files > 1  # several candidates, most without the key
    src = spark.createDataFrame([(7, 3, -1.0, "update")], "k long, bucket long, v double, operation string")
    merge_into(t, src, on=["k"], op_col="operation")
    assert t.manifest()["summary"]["matched_files"] == n_files  # skip path
    log = t.changelog(spark, v0, t.current_version())
    got = sorted((r["_change_type"], r["k"]) for r in log.collect())
    assert got == [("UPDATE_AFTER", 7), ("UPDATE_BEFORE", 7)]


def test_scd2_delta_job_count_stays_single_shuffle(spark, tmp_path):
    """The round-12 rewrite collapsed scd2_delta from three broadcast
    exchanges + a double history evaluation (~16 driver-sequential jobs
    per micro-batch delta) to one batch-key semi broadcast + one key
    shuffle (~6 jobs including AQE stage materializations). Pin the job
    count so the multi-broadcast shape cannot silently come back — at
    micro-batch scale the driver round-trips ARE the latency."""
    import datetime as dt

    from transactional_datalake_using_amazon_datafirehose_iceberg_spark.operators.scd2 import (
        scd2_delta,
    )

    sch = T.StructType([
        T.StructField("k", T.LongType()),
        T.StructField("seq", T.LongType()),
        T.StructField("ts", T.TimestampType()),
    ])
    hsch = T.StructType(sch.fields + [
        T.StructField("valid_from", T.TimestampType()),
        T.StructField("valid_to", T.TimestampType()),
        T.StructField("is_current", T.IntegerType()),
    ])
    t0, t1 = dt.datetime(2024, 1, 1), dt.datetime(2024, 1, 2)
    open_rows = spark.createDataFrame([(1, 10, t0, t0, None, 1)], hsch)
    batch = spark.createDataFrame([(1, 11, t1), (2, 20, t1)], sch)
    st = spark.sparkContext.statusTracker()
    before = len(st.getJobIdsForGroup(None))
    rows = scd2_delta(open_rows, batch, ["k"], "ts", "seq").collect()
    jobs = len(st.getJobIdsForGroup(None)) - before
    assert {(r["k"], r["seq"], r["is_current"]) for r in rows} == {
        (1, 10, 0), (1, 11, 1), (2, 20, 1),
    }
    # 1 semi broadcast + shuffle-stage materializations + final collect;
    # the old shape ran 14+ even on this 3-row fixture
    assert jobs <= 9, (
        f"scd2_delta ran {jobs} jobs for a 3-row micro-batch — the "
        "single-shuffle shape regressed toward per-pass broadcast builds"
    )
