"""Structural plan assertions: the scale claims in operator docstrings,
checked against the actual physical plans."""

from __future__ import annotations

from big_data_traffict_prediction_spark.plans import explain


def test_scan_pushes_filters_and_prunes_columns(spark, sf_dir):
    from big_data_traffict_prediction_spark.operators.scans import q_camera_history_scan

    df = q_camera_history_scan(spark, sf_dir)
    assert explain.has_pushed_filters(df), "range predicates must reach the parquet scan"
    cols = explain.read_schema_columns(df)
    assert "props" not in cols and "value" in cols, (
        f"column pruning failed; scan reads {cols}"
    )


def test_topn_export_is_take_ordered_with_broadcast(spark, sf_dir):
    from big_data_traffict_prediction_spark.operators.joins import q_topn_export

    df = q_topn_export(spark, sf_dir)
    assert explain.has_take_ordered(df), "orderBy+limit must plan as TakeOrderedAndProject"
    assert explain.broadcast_join_count(df) >= 1, "dim join must broadcast"


def test_tpch_q5_broadcasts_small_dims(spark, sf_dir):
    from big_data_traffict_prediction_spark.operators.tpch import q_tpch_q5

    df = q_tpch_q5(spark, sf_dir)
    assert explain.broadcast_join_count(df) >= 3, "supplier/nation/region must broadcast"


def test_predict_decision_is_single_pass(spark, sf_dir):
    from big_data_traffict_prediction_spark.operators.prediction import q_predict_decision

    # thresholds + slot average fold into one scan and one conditional
    # aggregation chain — no join, bounded shuffles
    a = explain.audit(q_predict_decision(spark, sf_dir))
    assert a["broadcast_joins"] == 0 and a["sort_merge_joins"] == 0
    assert a["shuffles"] <= 3, f"unexpected shuffle count: {a['shuffles']}"


def test_no_row_at_a_time_python_anywhere(spark, sf_dir):
    from big_data_traffict_prediction_spark import registry

    for name, fn in registry.all_queries().items():
        if name.startswith("q_stream_"):
            continue  # streaming queries materialize eagerly
        df = fn(spark, sf_dir)
        assert explain.python_eval_count(df) == 0, (
            f"{name} has a row-at-a-time Python UDF in its plan"
        )


def test_no_driver_side_materialization_in_package_source():
    """No registered query may funnel its result through the driver:
    toPandas()/collect()-then-createDataFrame defeats distribution. A
    source-level sweep (plans can't see what already materialized), so
    intent stays greppable. toPandas is banned outright; collect/
    createDataFrame sites must carry a 'bounded' justification within
    the preceding 10 lines (model state, calendar-sized partition
    lists, capped training samples are legitimate — data-sized pulls
    are not); conftest/test fixtures are exempt."""
    import pathlib

    pkg = pathlib.Path(__file__).resolve().parents[1] / (
        "big_data_traffict_prediction_spark"
    )
    offenders = []
    for py in pkg.rglob("*.py"):
        lines = py.read_text().splitlines()
        for i, line in enumerate(lines, 1):
            code = line.split("#", 1)[0]
            if ".toPandas()" in code:
                offenders.append(f"{py.name}:{i} toPandas")
            elif ".collect()" in code or "createDataFrame(" in code:
                window = "\n".join(lines[max(0, i - 11) : i]).lower()
                if "bounded" not in window:
                    offenders.append(f"{py.name}:{i} unjustified driver pull")
    assert not offenders, f"driver-side materialization: {offenders}"


def test_no_unpartitioned_ordered_window_anywhere(spark, sf_dir):
    """Registry-wide 100 TB guard: no query may plan an ORDERED window
    with an empty partition spec — that moves every row to one task.
    Data-scaling ranks go through compat.global_rank; genuinely
    bounded frames (calendars, cluster-width offset tables) declare an
    explicit constant partition key instead, so intent is visible in
    the plan and WindowExec's warning stays meaningful."""
    import re

    from big_data_traffict_prediction_spark import registry

    for name, fn in registry.all_queries().items():
        if name.startswith("q_stream_"):
            continue  # streaming queries materialize eagerly
        plan = explain.formatted_plan(fn(spark, sf_dir))
        m = re.search(r"windowspecdefinition\(([^,)]+ (?:ASC|DESC))", plan)
        assert m is None, (
            f"{name} has an unpartitioned ordered window on {m.group(1)!r}"
        )


# Batch queries that still run Spark jobs while their DataFrame is
# built, each with its reason; every other batch query builds a pure
# plan. A lazy localCheckpoint counts: under AQE, cutting the RDD runs
# the shuffle and broadcast stages below the cut.
_EAGER = "eager localCheckpoint"
_LAZY = "lazy localCheckpoint (AQE runs the stages below the cut)"
_CKPT_DRIVER = "localCheckpoint, plus driver collect/count of bounded state"
_COLLECT = "driver collect of a bounded training sample"
# memoized per application (ml/forecast.py), so only the first build fits
_FIT = "MLlib fit"
JOBS_AT_BUILD = {
    "q_profile_correlation": _LAZY,
    "q_part_affinity": _EAGER,
    "q_camera_quartiles": _LAZY,
    "q_skyline_pareto": _LAZY,
    "q_volume_percentile_rank": _LAZY,
    "q_similar_days": _EAGER,
    "q_rfm_segments": _LAZY,
    "q_audience_overlap": _EAGER,
    "q_tfidf_top_terms": _EAGER,
    "q_vocab_coverage": _LAZY,
    "q_pmi_collocations": _EAGER,
    "q_rolling_origin_eval": _EAGER,
    "q_camera_neighbors": _EAGER,
    "q_cc_delta": _CKPT_DRIVER,
    "q_dedup_sorted_neighborhood": _LAZY,
    "q_dedup_minhash_lsh": _LAZY,
    "q_dedup_clusters": _CKPT_DRIVER,
    "q_dedup_recall_eval": _LAZY,
    "q_graph_triangles": _EAGER,
    "q_pagerank_parts": _EAGER,
    "q_kcore_parts": _CKPT_DRIVER,
    "q_lpa_communities": _CKPT_DRIVER,
    "q_hll_distinct": _EAGER,
    "q_mixture_sample": _EAGER,
    "q_training_manifest": _EAGER,
    "q_quality_percentile_filter": _LAZY,
    "q_weighted_sample": _EAGER,
    "q_set_overlap_sketch": _EAGER,
    "q_hll_rolling_distinct": _EAGER,
    "q_analyze_table": _EAGER,
    "q_clustering_depth": _LAZY,
    "q_sample_histogram": _LAZY,
    "q_selectivity_equality": _LAZY,
    "q_t_closeness": _LAZY,
    "q_mcv_merge": _LAZY,
    "q_bloom_skipping_eval": _LAZY,
    "q_tpch_q11": _LAZY,
    "q_join_size_histogram": _LAZY,
    "q_scd2_apply": _LAZY,
    "q_bpe_merges": _CKPT_DRIVER,
    "q_bpe_token_counts": _CKPT_DRIVER,
    "q_ann_ivf_delta": _EAGER,
    "q_ann_pq": _COLLECT,
    "q_ann_pq_fixed": _CKPT_DRIVER,
    "q_ann_ivf_pq_fixed": _CKPT_DRIVER,
    "q_ann_srp_lsh": _EAGER,
    "q_ml_forecast": _FIT,
    "q_ml_forecast_eval": _FIT,
}


def test_all_registered_outputs_are_scalar_columns(spark, sf_dir, build_jobs):
    """Registry-wide harness-compat guard: no registered query may
    return a top-level ArrayType/MapType/StructType column. The
    correctness harness canonicalizes results by sorting RAW cells in
    pandas; a list cell is unhashable there and hard-crashes even the
    row-count check (the r5 q_embedding_{centroids,quantize} /
    q_multimodal_features failure class). Vector-valued outputs must
    serialize to a deterministic scalar (comma-joined fixed-point
    string, to_json) in the returned frame. Batch queries only: the
    streaming queries execute eagerly on build, and their (static)
    result schemas are pinned scalar-only by their own tests.

    The same sweep pins the lazy contract: each build is counted in a
    job group of its own, and the queries that fire jobs must be
    exactly ``JOBS_AT_BUILD``."""
    from pyspark.sql import types as T

    from big_data_traffict_prediction_spark import registry

    offenders = []
    jobs_at_build = {}
    for name, fn in registry.all_queries().items():
        if name.startswith("q_stream_"):
            continue
        df, jobs = build_jobs(lambda: fn(spark, sf_dir))
        if jobs:
            jobs_at_build[name] = jobs
        for field in df.schema.fields:
            if isinstance(
                field.dataType, (T.ArrayType, T.MapType, T.StructType)
            ):
                offenders.append(f"{name}.{field.name}: {field.dataType}")
    assert not offenders, f"non-scalar output columns: {offenders}"
    unlisted = {n: j for n, j in jobs_at_build.items() if n not in JOBS_AT_BUILD}
    assert not unlisted, f"queries firing Spark jobs at build: {unlisted}"
    now_lazy = sorted(
        n for n, why in JOBS_AT_BUILD.items()
        if n not in jobs_at_build and why != _FIT
    )
    assert not now_lazy, f"listed in JOBS_AT_BUILD but build lazily: {now_lazy}"


def test_bucket_series_dense_broadcasts_agg_side(spark, sf_dir):
    from big_data_traffict_prediction_spark.operators.timeseries import (
        q_bucket_series_dense,
    )

    # the aggregated (small) side must broadcast; a hint on the
    # preserved side of the left join would be silently discarded
    df = q_bucket_series_dense(spark, sf_dir)
    assert explain.broadcast_join_count(df) >= 1, "agg side must broadcast"


def test_iou_dedup_is_single_window_pass(spark, sf_dir):
    from big_data_traffict_prediction_spark.operators.iou import q_iou_dedup

    # lag() over one window — NO self-join, one (camera_id) shuffle
    # plus the final presentation sort
    a = explain.audit(q_iou_dedup(spark, sf_dir))
    assert a["broadcast_joins"] == 0 and a["sort_merge_joins"] == 0
    assert a["shuffles"] <= 2, f"unexpected shuffle count: {a['shuffles']}"


def test_embedding_neardup_is_blocked_equi_join(spark, sf_dir):
    from big_data_traffict_prediction_spark.functions.similarity import (
        q_embedding_neardup,
    )

    # exact all-pairs must plan as the blocked hash equi-join —
    # never BroadcastNestedLoopJoin / CartesianProduct
    df = q_embedding_neardup(spark, sf_dir)
    assert explain.nested_loop_join_count(df) == 0, "all-pairs planned as nested loop"


def test_tpch_q17_semi_joins_before_aggregate(spark, sf_dir):
    from big_data_traffict_prediction_spark.operators.tpch import q_tpch_q17

    # the brand semi-join must run BELOW the per-part avg aggregate so
    # the shuffle carries one brand's rows, not every part's
    df = q_tpch_q17(spark, sf_dir)
    plan = explain.formatted_plan(df)
    assert "LeftSemi" in plan, "brand pre-filter must plan as a semi join"
    assert explain.broadcast_join_count(df) >= 2


def test_tpch_q19_pushes_disjunctive_part_filter(spark, sf_dir):
    import re

    from big_data_traffict_prediction_spark.operators.tpch import q_tpch_q19

    # Catalyst must extract the part-only implication of the cross-side
    # OR predicate and push it into the part parquet scan
    df = q_tpch_q19(spark, sf_dir)
    plan = explain.formatted_plan(df)
    pushed = " ".join(re.findall(r"PushedFilters: \[([^\]]*)\]", plan))
    assert "p_brand" in pushed, f"p_brand disjunction not pushed: {pushed!r}"


def test_flagship_is_two_aggregates_one_scan(spark, sf_dir):
    from big_data_traffict_prediction_spark.operators.prediction import q_predict_dow_hour

    a = explain.audit(q_predict_dow_hour(spark, sf_dir))
    assert a["pushed_filters"], "dow/hour predicates derive from ts — ts filter prunes"
    # two-level agg + final order: shuffles stay bounded (no join, no extra exchange)
    assert a["shuffles"] <= 3, f"unexpected shuffle count: {a['shuffles']}"


def test_contamination_probes_broadcast_never_nested_loop(spark, sf_dir):
    from big_data_traffict_prediction_spark.functions.curation import (
        q_contamination_check,
    )

    # corpus grams must PROBE a broadcast benchmark build — an equi-join
    # on the gram hash, never a nested loop over doc pairs
    df = q_contamination_check(spark, sf_dir)
    assert explain.nested_loop_join_count(df) == 0
    assert explain.broadcast_join_count(df) >= 1, "benchmark gram set must broadcast"


def test_anomaly_zscore_window_is_unordered(spark, sf_dir):
    from big_data_traffict_prediction_spark.operators.analytics import (
        q_anomaly_zscore,
    )

    # baseline stats come from an UNORDERED partition window: no join
    # anywhere, bounded shuffles (pre-agg, window, presentation sort)
    a = explain.audit(q_anomaly_zscore(spark, sf_dir))
    assert a["broadcast_joins"] == 0 and a["sort_merge_joins"] == 0
    assert a["shuffles"] <= 3, f"unexpected shuffle count: {a['shuffles']}"


def test_profile_correlation_pair_join_broadcasts(spark, sf_dir):
    from big_data_traffict_prediction_spark.operators.analytics import (
        q_profile_correlation,
    )

    # both the top-N semi filter and the pair join must broadcast the
    # dimension-sized side; the quadratic step never shuffles facts
    df = q_profile_correlation(spark, sf_dir)
    assert explain.broadcast_join_count(df) >= 2
    assert explain.nested_loop_join_count(df) == 0


def test_tpch_q9_broadcasts_all_dims(spark, sf_dir):
    from big_data_traffict_prediction_spark.operators.tpch import q_tpch_q9

    # part/supplier/nation broadcast; lineitem reaches its first probe
    # unshuffled (the only possible exchange family is orderkey + agg)
    df = q_tpch_q9(spark, sf_dir)
    assert explain.broadcast_join_count(df) >= 3
    assert explain.nested_loop_join_count(df) == 0


def test_tpch_q20_semi_filters_at_scan_and_reuses_aggregate(spark, sf_dir):
    from big_data_traffict_prediction_spark.operators.tpch import q_tpch_q20

    df = q_tpch_q20(spark, sf_dir)
    plan = explain.formatted_plan(df)
    assert "LeftSemi" in plan, "keyword partkeys must semi-filter lineitem"
    # facts scanned once: exactly one lineitem scan in the whole plan
    assert plan.count("lineitem.parquet") == 1, "per-part rollup must derive from sp"


def test_count_histogram_single_shuffle(spark, sf_dir):
    from big_data_traffict_prediction_spark.operators.analytics import (
        q_count_histogram,
    )

    a = explain.audit(q_count_histogram(spark, sf_dir))
    # bucket in the projection; one partial+final agg exchange (the
    # distinct-camera count expands in the same family) + final sort
    assert a["broadcast_joins"] == 0 and a["sort_merge_joins"] == 0
    assert a["shuffles"] <= 3, f"unexpected shuffle count: {a['shuffles']}"


def test_camera_gaps_single_window_no_join(spark, sf_dir):
    from big_data_traffict_prediction_spark.operators.windows import q_camera_gaps

    a = explain.audit(q_camera_gaps(spark, sf_dir))
    assert a["broadcast_joins"] == 0 and a["sort_merge_joins"] == 0
    assert a["shuffles"] <= 2, f"unexpected shuffle count: {a['shuffles']}"


def test_tpch_q2_semi_prunes_before_aggregate(spark, sf_dir):
    from big_data_traffict_prediction_spark.operators.tpch import q_tpch_q2

    # part + region-supplier broadcast semi-joins must sit BELOW the
    # (partkey, suppkey) aggregate so the shuffle carries only the
    # selected slice; the min-cost-per-part scalar is a window over
    # that aggregate (no second fact scan); LIMIT plans as top-k
    df = q_tpch_q2(spark, sf_dir)
    plan = explain.formatted_plan(df)
    assert "LeftSemi" in plan, "dim pre-filters must plan as semi joins"
    assert explain.broadcast_join_count(df) >= 4
    assert explain.has_take_ordered(df)


def test_tpch_q11_single_fact_shuffle(spark, sf_dir):
    from big_data_traffict_prediction_spark.operators.tpch import _q11_pv, q_tpch_q11

    # nation suppliers semi-prune lineitem before its one aggregate
    # shuffle (asserted on the pre-checkpoint pv — the checkpoint hides
    # the subtree from the final explain)
    pv_plan = explain.formatted_plan(_q11_pv(spark, sf_dir))
    assert "LeftSemi" in pv_plan
    assert explain.broadcast_join_count(_q11_pv(spark, sf_dir)) >= 1

    # the final plan reads pv ONCE from the materialized checkpoint
    # (both the grand total and the filter consume ExistingRDD, so
    # lineitem is scanned exactly once per execution); the
    # HAVING-fraction scalar arrives via broadcast, never a window
    df = q_tpch_q11(spark, sf_dir)
    plan = explain.formatted_plan(df)
    assert "ExistingRDD" in plan, "pv must be checkpoint-materialized"
    assert "Scan parquet" not in plan, "no second fact scan in the final plan"
    assert "Window" not in plan, "scalar total must broadcast, not window"


def test_mixture_sample_facts_never_shuffle(spark, sf_dir):
    from big_data_traffict_prediction_spark.functions.curation import q_mixture_sample

    # the corpus scan meets only broadcast rate/scalar tables; Exchange
    # nodes belong to the dimension-sized aggregates and the final sort
    a = explain.audit(q_mixture_sample(spark, sf_dir))
    assert a["broadcast_joins"] >= 1
    assert a["shuffles"] <= 4, f"unexpected shuffle count: {a['shuffles']}"


def test_pack_sequences_single_window_pass(spark, sf_dir):
    from big_data_traffict_prediction_spark.functions.curation import q_pack_sequences

    plan = explain.formatted_plan(q_pack_sequences(spark, sf_dir))
    assert plan.count("Window") <= 2, "one running-total window expected"
    a = explain.audit(q_pack_sequences(spark, sf_dir))
    assert a["sort_merge_joins"] == 0 and a["broadcast_joins"] == 0


def test_training_manifest_composes_bounded_shuffles(spark, sf_dir):
    from big_data_traffict_prediction_spark.operators.pipeline import (
        q_training_manifest,
    )

    # fingerprint agg + source agg + packing window + final sort, plus
    # AQE bookkeeping — but never an unbounded join or Python stage
    df = q_training_manifest(spark, sf_dir)
    a = explain.audit(df)
    assert a["python_row_udfs"] == 0
    assert a["shuffles"] <= 8, f"unexpected shuffle count: {a['shuffles']}"
    assert a["broadcast_joins"] >= 2, "rates + scalar must broadcast"


def test_data_quality_report_scans_each_table_minimally(spark, sf_dir):
    from big_data_traffict_prediction_spark.operators.analytics import (
        q_data_quality_report,
    )

    # every lineitem rule (orphan included) rides ONE scan through the
    # row-preserving left join; events likewise one scan
    plan = explain.formatted_plan(q_data_quality_report(spark, sf_dir))
    assert plan.count("lineitem.parquet") <= 2 * 1  # (tree + detail) x 1 scan
    assert plan.count("events.parquet") <= 2 * 1


def test_substring_dedup_one_full_stream_shuffle(spark, sf_dir):
    from big_data_traffict_prediction_spark.functions.pretrain import (
        q_substring_dedup,
    )

    # the repartition(h) is the ONLY exchange over the exploded span
    # stream: groupBy(h, doc) and the PARTITION BY h window both reuse
    # it (h ⊆ grouping keys satisfies the clustering requirement);
    # per-doc rollup + final sort shuffle the reduced set only
    a = explain.audit(q_substring_dedup(spark, sf_dir))
    assert a["shuffles"] <= 3, f"unexpected shuffle count: {a['shuffles']}"
    assert a["broadcast_joins"] == 0 and a["sort_merge_joins"] == 0
    assert a["python_row_udfs"] == 0


def test_bigram_familiarity_one_full_stream_shuffle(spark, sf_dir):
    from big_data_traffict_prediction_spark.functions.pretrain import (
        q_bigram_familiarity,
    )

    a = explain.audit(q_bigram_familiarity(spark, sf_dir))
    assert a["shuffles"] <= 3, f"unexpected shuffle count: {a['shuffles']}"
    assert a["broadcast_joins"] == 0 and a["sort_merge_joins"] == 0
    assert a["python_row_udfs"] == 0


def test_domain_cap_single_window_pass(spark, sf_dir):
    from big_data_traffict_prediction_spark.functions.pretrain import q_domain_cap

    # quality computed pre-shuffle; one window by source + final sort,
    # no joins at all
    a = explain.audit(q_domain_cap(spark, sf_dir))
    assert a["shuffles"] <= 2, f"unexpected shuffle count: {a['shuffles']}"
    assert a["broadcast_joins"] == 0 and a["sort_merge_joins"] == 0


def test_twa_single_shuffle_no_join(spark, sf_dir):
    from big_data_traffict_prediction_spark.operators.tsdb import q_time_weighted_avg

    # lead window and groupBy both partition on camera_id: one fact
    # shuffle + the final tiny sort, no joins
    a = explain.audit(q_time_weighted_avg(spark, sf_dir))
    assert a["broadcast_joins"] == 0 and a["sort_merge_joins"] == 0
    assert a["shuffles"] <= 2, f"unexpected shuffle count: {a['shuffles']}"
    assert a["pushed_filters"], "trailing-window predicate must reach the scan"


def test_ohlc_is_one_aggregate_no_window(spark, sf_dir):
    from big_data_traffict_prediction_spark.operators.tsdb import q_ohlc_candles

    # struct min/max open/close: no Window/Sort pass, no join — one
    # (camera, bucket) aggregate + final sort
    a = explain.audit(q_ohlc_candles(spark, sf_dir))
    assert a["broadcast_joins"] == 0 and a["sort_merge_joins"] == 0
    assert a["shuffles"] <= 2, f"unexpected shuffle count: {a['shuffles']}"


def test_gap_fill_spine_joins_broadcast(spark, sf_dir):
    from big_data_traffict_prediction_spark.operators.tsdb import q_gap_fill_locf

    df = q_gap_fill_locf(spark, sf_dir)
    # buckets×cameras spine cross-join + aggregated side both broadcast;
    # facts never sort-merge
    a = explain.audit(df)
    assert a["broadcast_joins"] >= 1, "aggregated side must broadcast"
    assert a["sort_merge_joins"] == 0
    assert explain.nested_loop_join_count(df) <= 1  # tiny bucket spine only


def test_heavy_hitters_broadcast_scalar_no_window(spark, sf_dir):
    from big_data_traffict_prediction_spark.operators.tsdb import q_heavy_hitters

    # grand total = one-row scalar aggregate broadcast back (the
    # q15/q11 pattern); the fleet-sized per-camera table never passes
    # through a single-partition window, even an unordered one
    df = q_heavy_hitters(spark, sf_dir)
    a = explain.audit(df)
    plan = explain.formatted_plan(df)
    # a one-row scalar crossJoin plans as a broadcast nested-loop with
    # a single-row build side — the benign q15/q11 shape
    assert "BroadcastNestedLoopJoin" in plan, "scalar side must broadcast"
    assert explain.nested_loop_join_count(df) <= 1
    assert a["sort_merge_joins"] == 0
    assert "Window" not in plan, "no window pass expected"
    # the per-camera aggregate exchange prints in both branches of the
    # static plan; it is canonically identical, so AQE's ReuseExchange
    # runs it once at execution
    assert a["shuffles"] <= 4, f"unexpected shuffle count: {a['shuffles']}"


def test_embedding_centroids_bounded_shuffles_no_join(spark, sf_dir):
    from big_data_traffict_prediction_spark.functions.similarity import (
        q_embedding_centroids,
    )

    # posexplode → (label,pos) partial-agg shuffle → label reassembly →
    # final sort; map-side combine keeps the exchange at one row per
    # (label, pos) per task
    a = explain.audit(q_embedding_centroids(spark, sf_dir))
    assert a["broadcast_joins"] == 0 and a["sort_merge_joins"] == 0
    assert a["shuffles"] <= 3, f"unexpected shuffle count: {a['shuffles']}"


def test_skyline_is_window_passes_not_theta_join(spark, sf_dir):
    from big_data_traffict_prediction_spark.operators.analytics import q_skyline_pareto

    df = q_skyline_pareto(spark, sf_dir)
    # the dominance check must be the distributed prefix-min form,
    # never the oracle's quadratic NOT-EXISTS join
    assert explain.nested_loop_join_count(df) == 0
    a = explain.audit(df)
    assert a["sort_merge_joins"] == 0
    # cluster-width prefix-min offsets broadcast; the marks join back
    # to cameras may broadcast at test SF (size-based, not forced)
    assert a["broadcast_joins"] >= 1, "prefix-min offsets must broadcast"
    plan = explain.formatted_plan(df)
    import re

    for m in re.finditer(r"min\(m_grp[^\n]*windowspecdefinition\(([^)]*)", plan):
        assert "_pid" in m.group(1), "unpartitioned running-min window"


def test_peak_hours_one_fact_shuffle_family(spark, sf_dir):
    from big_data_traffict_prediction_spark.operators.analytics import q_peak_hours

    a = explain.audit(q_peak_hours(spark, sf_dir))
    assert a["broadcast_joins"] == 0 and a["sort_merge_joins"] == 0
    assert a["shuffles"] <= 4, f"unexpected shuffle count: {a['shuffles']}"


def test_cm_sketch_probe_broadcasts_fixed_grid(spark, sf_dir):
    from big_data_traffict_prediction_spark.operators.tsdb import q_heavy_hitters_sketch

    df = q_heavy_hitters_sketch(spark, sf_dir)
    # the depth×width grid is fixed-size → it must broadcast to the
    # probe; neither side sort-merges
    a = explain.audit(df)
    assert a["broadcast_joins"] >= 1, "sketch grid must broadcast"
    assert a["sort_merge_joins"] == 0
    assert explain.nested_loop_join_count(df) == 0


def test_attribution_single_window_no_join(spark, sf_dir):
    from big_data_traffict_prediction_spark.operators.windows import (
        q_first_touch_attribution,
    )

    a = explain.audit(q_first_touch_attribution(spark, sf_dir))
    assert a["broadcast_joins"] == 0 and a["sort_merge_joins"] == 0
    assert a["shuffles"] <= 2, f"unexpected shuffle count: {a['shuffles']}"


def test_markov_normalization_over_matrix_only(spark, sf_dir):
    from big_data_traffict_prediction_spark.operators.windows import (
        q_markov_transitions,
    )

    # lag window on camera_id → (prev,next) count agg → normalization
    # window over the dimension-sized matrix + final sort
    a = explain.audit(q_markov_transitions(spark, sf_dir))
    assert a["broadcast_joins"] == 0 and a["sort_merge_joins"] == 0
    assert a["shuffles"] <= 4, f"unexpected shuffle count: {a['shuffles']}"


def test_geo_neighbors_is_cell_equi_join_never_nested_loop(spark, sf_dir):
    from big_data_traffict_prediction_spark.operators.geo import q_camera_neighbors

    # radius semantics make the 3×3 grid-cell equi-join exact — the
    # config-quadratic theta join must never appear (it cost 158 s at
    # sf0.1 before this plan)
    df = q_camera_neighbors(spark, sf_dir)
    assert explain.nested_loop_join_count(df) == 0, "pair step regressed to a theta join"
    # the point frame is materialized once (r13 opt round), so the
    # pruned-scan assert targets its lazy builder; the query plan
    # itself must show the single materialization, not re-derived
    # dim scans per consumer
    from big_data_traffict_prediction_spark.operators.geo import _neighbor_points

    a = explain.audit(_neighbor_points(spark, sf_dir))
    cols = a["read_schema"]
    assert "c_custkey" in cols and "c_comment" not in cols, (
        f"geo dim scan must prune to the key column; reads {cols}"
    )
    assert "Scan ExistingRDD" in explain.formatted_plan(df)


def test_reservoir_sample_is_take_ordered(spark, sf_dir):
    from big_data_traffict_prediction_spark.operators.pipeline import q_reservoir_sample

    df = q_reservoir_sample(spark, sf_dir)
    assert explain.has_take_ordered(df), "hash-rank top-K must not global-sort"


def test_vocab_coverage_single_count_shuffle(spark, sf_dir):
    from big_data_traffict_prediction_spark.functions.text import q_vocab_coverage

    df = q_vocab_coverage(spark, sf_dir)
    a = explain.audit(df)
    # one count shuffle family + the cluster-width rank offsets
    # (broadcast); the vocabulary is corpus-scaling, so no global
    # single-partition rank/cumsum window may appear
    assert a["broadcast_joins"] == 1 and a["sort_merge_joins"] == 0
    assert a["shuffles"] <= 4, f"unexpected shuffle count: {a['shuffles']}"
    plan = explain.formatted_plan(df)
    import re

    for m in re.finditer(r"row_number\(\)[^\n]*", plan):
        assert "_pid" in m.group(0), "unpartitioned vocabulary ranking window"


def test_rising_streaks_one_camera_shuffle_family(spark, sf_dir):
    from big_data_traffict_prediction_spark.operators.analytics import q_rising_streaks

    a = explain.audit(q_rising_streaks(spark, sf_dir))
    assert a["broadcast_joins"] == 0 and a["sort_merge_joins"] == 0
    assert a["shuffles"] <= 3, f"unexpected shuffle count: {a['shuffles']}"


def test_zorder_preview_is_take_ordered(spark, sf_dir):
    from big_data_traffict_prediction_spark.operators.reshape import q_zorder_key

    df = q_zorder_key(spark, sf_dir)
    assert explain.has_take_ordered(df), "layout preview must not global-sort"
    assert explain.python_eval_count(df) == 0


def test_similar_days_broadcast_profile_take_ordered(spark, sf_dir):
    from big_data_traffict_prediction_spark.operators.analytics import q_similar_days

    df = q_similar_days(spark, sf_dir)
    assert explain.has_take_ordered(df), "top-k must not global-sort"
    a = explain.audit(df)
    assert a["sort_merge_joins"] == 0
    assert a["broadcast_joins"] >= 1, "query profile must broadcast"


def test_pmi_vocab_joins_broadcast(spark, sf_dir):
    from big_data_traffict_prediction_spark.functions.text import q_pmi_collocations

    df = q_pmi_collocations(spark, sf_dir)
    assert explain.has_take_ordered(df), "top-k must not global-sort"
    a = explain.audit(df)
    assert a["sort_merge_joins"] == 0
    # the one-row corpus-totals crossJoin must broadcast; the
    # vocabulary-sized unigram joins are size-based (AQE), not forced
    assert a["broadcast_joins"] >= 1, "corpus totals must broadcast"


def test_arrival_audit_single_camera_family(spark, sf_dir):
    from big_data_traffict_prediction_spark.operators.analytics import (
        q_arrival_order_audit,
    )

    a = explain.audit(q_arrival_order_audit(spark, sf_dir))
    assert a["broadcast_joins"] == 0 and a["sort_merge_joins"] == 0
    assert a["shuffles"] <= 3, f"unexpected shuffle count: {a['shuffles']}"


def test_gdpr_delete_anti_join_broadcasts(spark, sf_dir):
    from big_data_traffict_prediction_spark.operators.scans import q_gdpr_delete

    a = explain.audit(q_gdpr_delete(spark, sf_dir))
    assert a["broadcast_joins"] >= 1, "tombstone list must broadcast"
    assert a["sort_merge_joins"] == 0


def test_day_over_day_no_self_join(spark, sf_dir):
    from big_data_traffict_prediction_spark.operators.timeseries import q_day_over_day

    # lag over (camera, hour) replaces the naive shifted self-join
    a = explain.audit(q_day_over_day(spark, sf_dir))
    assert a["broadcast_joins"] == 0 and a["sort_merge_joins"] == 0
    assert a["shuffles"] <= 3, f"unexpected shuffle count: {a['shuffles']}"


def test_salted_totals_two_stage_aggregate(spark, sf_dir):
    from big_data_traffict_prediction_spark.operators.aggregates import q_salted_totals

    # (camera, salt) partial stage + camera combine stage + final sort
    a = explain.audit(q_salted_totals(spark, sf_dir))
    assert a["broadcast_joins"] == 0 and a["sort_merge_joins"] == 0
    assert a["shuffles"] >= 2, "salting needs the two-stage exchange"
    assert a["shuffles"] <= 3


def test_snapshot_diff_single_aggregate_no_join(spark, sf_dir):
    from big_data_traffict_prediction_spark.operators.aggregates import q_snapshot_diff

    # both snapshot states come from conditional struct maxes in ONE
    # aggregate — no self-join, no window
    a = explain.audit(q_snapshot_diff(spark, sf_dir))
    assert a["broadcast_joins"] == 0 and a["sort_merge_joins"] == 0
    assert a["shuffles"] <= 2, f"unexpected shuffle count: {a['shuffles']}"


def test_embedding_outliers_joins_broadcast(spark, sf_dir):
    from big_data_traffict_prediction_spark.functions.similarity import (
        q_embedding_outliers,
    )

    a = explain.audit(q_embedding_outliers(spark, sf_dir))
    assert a["sort_merge_joins"] == 0
    assert a["broadcast_joins"] >= 2, "centroid + median sides must broadcast"


def test_cusum_is_windows_only_one_camera_family(spark, sf_dir):
    from big_data_traffict_prediction_spark.operators.timeseries import (
        q_cusum_changepoints,
    )

    # the sequential recurrence is expressed as stacked windows — no
    # join, no fold, one camera-keyed shuffle family
    a = explain.audit(q_cusum_changepoints(spark, sf_dir))
    assert a["broadcast_joins"] == 0 and a["sort_merge_joins"] == 0
    assert a["shuffles"] <= 3, f"unexpected shuffle count: {a['shuffles']}"


def test_top_paths_take_ordered_one_window(spark, sf_dir):
    from big_data_traffict_prediction_spark.operators.windows import q_top_paths

    df = q_top_paths(spark, sf_dir)
    assert explain.has_take_ordered(df)
    a = explain.audit(df)
    assert a["broadcast_joins"] == 0 and a["sort_merge_joins"] == 0


def test_stickiness_month_side_broadcasts(spark, sf_dir):
    from big_data_traffict_prediction_spark.operators.aggregates import (
        q_engagement_stickiness,
    )

    a = explain.audit(q_engagement_stickiness(spark, sf_dir))
    assert a["broadcast_joins"] >= 1, "calendar-sized month side must broadcast"
    assert a["sort_merge_joins"] == 0


def test_seasonal_decompose_single_fact_shuffle(spark, sf_dir):
    from big_data_traffict_prediction_spark.operators.timeseries import (
        q_seasonal_decompose,
    )

    a = explain.audit(q_seasonal_decompose(spark, sf_dir))
    assert a["sort_merge_joins"] == 0
    assert a["broadcast_joins"] >= 1, "7-row seasonal table must broadcast"


def test_rfm_no_global_ntile_window(spark, sf_dir):
    from big_data_traffict_prediction_spark.operators.analytics import q_rfm_segments

    df = q_rfm_segments(spark, sf_dir)
    a = explain.audit(df)
    assert a["sort_merge_joins"] == 0
    # visible plan = the last scoring pass (earlier passes sit behind
    # lazy localCheckpoints): exactly one broadcast offset join and
    # only the tiny counts-aggregate exchanges — never a data-sized
    # global sort.
    assert a["broadcast_joins"] == 1, f"expected 1 offset broadcast: {a}"
    assert a["shuffles"] <= 4, f"unexpected shuffle count: {a}"
    plan = explain.formatted_plan(df)
    # 100 TB guard: no global ntile; every data-sized ranking window
    # must be partitioned by the range-partition id (parallel rank).
    assert "ntile" not in plan, "global single-partition ntile reintroduced"
    import re

    for m in re.finditer(r"row_number\(\)[^\n]*", plan):
        assert "_pid" in m.group(0), f"unpartitioned ranking window: {m.group(0)[:120]}"


def test_audience_overlap_reduces_before_joining(spark, sf_dir):
    from big_data_traffict_prediction_spark.operators.analytics import (
        q_audience_overlap,
    )

    a = explain.audit(q_audience_overlap(spark, sf_dir))
    assert a["sort_merge_joins"] == 0
    assert a["broadcast_joins"] >= 2, "calendar-sized sides must broadcast"


def test_fulfillment_lag_keys_on_order_family(spark, sf_dir):
    from big_data_traffict_prediction_spark.operators.tpch import q_fulfillment_lag

    # fact-fact join: no nested loop; at test SF Spark may broadcast
    # the smaller orders side — either hash strategy is fine, a
    # cartesian is not
    df = q_fulfillment_lag(spark, sf_dir)
    assert explain.nested_loop_join_count(df) == 0
    a = explain.audit(df)
    assert a["broadcast_joins"] + a["sort_merge_joins"] >= 1, "order-key join missing"
    cols = a["read_schema"]
    assert "l_extendedprice" not in cols, f"lineitem scan must prune; reads {cols}"
    # 100 TB guard: the exact percentile must come from the bounded
    # (priority, lag_days) histogram, never from ranking fact rows in
    # 5 priority-keyed window partitions. row_number over the fact
    # join was the round-2 scale-killer; the histogram plan has no
    # ranking function at all and aggregates facts BEFORE any window.
    plan = explain.formatted_plan(df)
    assert "row_number" not in plan, "fact-ranking window reintroduced"
    import re

    win_funcs = re.findall(r"^\(\d+\) Window\n(?:.*\n)*?Arguments: \[([^\]]*)", plan, re.M)
    for args in win_funcs:
        assert "count(1)" not in args, "per-priority count window over facts"


def test_hll_register_build_is_partial_aggregate(spark, sf_dir):
    from big_data_traffict_prediction_spark.operators.pipeline import q_hll_distinct

    # the register build must plan as a hash aggregate with map-side
    # partial max (HashAggregate below the Exchange) and never a
    # nested loop; the only joins are the tiny est ⋈ exact combine
    df = q_hll_distinct(spark, sf_dir)
    plan = explain.formatted_plan(df)
    assert explain.nested_loop_join_count(df) == 0
    assert "partial_max" in plan or "partial_" in plan, (
        "register build lost its map-side partial aggregation"
    )


def test_interval_join_binned_is_pure_equi_join(spark, sf_dir):
    from big_data_traffict_prediction_spark.operators.joins import (
        q_interval_join_binned,
    )

    # the whole point: the range predicate rides an EQUI join keyed on
    # (camera, bin) — no nested loop anywhere in the plan
    df = q_interval_join_binned(spark, sf_dir)
    assert explain.nested_loop_join_count(df) == 0, (
        "binned range join degenerated to a nested loop"
    )


def test_srp_lsh_corpus_never_shuffles_for_the_probe(spark, sf_dir):
    from big_data_traffict_prediction_spark.functions.similarity import (
        q_ann_srp_lsh,
    )

    # the query-side band table must broadcast into the corpus bands
    # (hash probe), and no nested loop may appear; shuffles belong to
    # the candidate distinct + the per-query top-K window only
    df = q_ann_srp_lsh(spark, sf_dir)
    a = explain.audit(df)
    assert a["broadcast_joins"] >= 2, "query bands / query vectors must broadcast"
    assert explain.nested_loop_join_count(df) == 0


def test_weighted_sample_selection_is_take_ordered(spark, sf_dir):
    from big_data_traffict_prediction_spark.operators.pipeline import (
        _priority_top,
        q_weighted_sample,
    )

    # the top-(K+1) priority selection must plan as per-partition
    # heaps + a K-row merge, never a global sort of the corpus — the
    # query materializes this stage once (r13 opt round), so the
    # assert targets the lazy selection builder, and the query's own
    # plan must show the single materialization (ExistingRDD), not a
    # re-derived corpus pass per consumer
    plan = explain.formatted_plan(_priority_top(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    qplan = explain.formatted_plan(q_weighted_sample(spark, sf_dir))
    assert "Scan ExistingRDD" in qplan
    assert "TakeOrderedAndProject" not in qplan


def test_negative_samples_collision_check_is_hash_join(spark, sf_dir):
    from big_data_traffict_prediction_spark.operators.analytics import (
        q_negative_samples,
    )

    # the accidental-positive flag tests candidates against the
    # customer's own positives IN-ROW (collect_set basket +
    # array_contains — r13-opt rewrite): no candidate/positive join at
    # all, so the only nested loop allowed is the one-row n_parts
    # scalar broadcast (TPC-H q11/q15 pattern), and the only
    # data-sized exchange is the customer-basket groupBy (the other
    # two shuffles reduce one-row aggregates)
    df = q_negative_samples(spark, sf_dir)
    plan = explain.formatted_plan(df)
    assert explain.nested_loop_join_count(df) <= 1, (
        "candidate/positive check degenerated to a nested loop"
    )
    assert "SortMergeJoin" not in plan, (
        "candidate/positive check regressed to a data-sized join"
    )
    assert explain.shuffle_count(df) <= 3, plan


def test_k_anonymity_is_one_fact_aggregation(spark, sf_dir):
    from big_data_traffict_prediction_spark.operators.scans import q_k_anonymity

    # facts reduce to the dimension-sized QI group frame in ONE hash
    # aggregation; the only nested loop is the one-row stats scalar
    # broadcast, and the risky-group top-N plans as TakeOrdered
    df = q_k_anonymity(spark, sf_dir)
    a = explain.audit(df)
    assert explain.nested_loop_join_count(df) <= 1
    assert a["take_ordered"], "risky-group top-N must plan as TakeOrdered"


def test_cdc_merge_join_is_copartitioned(spark, sf_dir):
    from big_data_traffict_prediction_spark.operators.joins import q_cdc_merge

    # both sides compact via one hash aggregation each, partitioned on
    # exactly the join keys — the full-outer join must add NO exchange
    # beyond the two aggregation exchanges + the final orderBy range
    # partition (3 total; a 4th would mean the join re-shuffled a side)
    df = q_cdc_merge(spark, sf_dir)
    assert explain.shuffle_count(df) <= 3, explain.formatted_plan(df)


def test_zone_map_is_one_pruned_aggregation(spark, sf_dir):
    from big_data_traffict_prediction_spark.operators.scans import q_zone_map_stats

    df = q_zone_map_stats(spark, sf_dir)
    a = explain.audit(df)
    # scan reads ONLY (ts, user_id, value); the distinct-count expand
    # plus the final sort bound the exchanges at 3 — all stats are
    # map-side partial over the zone grain
    assert sorted(set(a["read_schema"])) == ["ts", "user_id", "value"]
    assert a["shuffles"] <= 3, explain.formatted_plan(df)
    assert a["broadcast_joins"] == 0 and a["sort_merge_joins"] == 0


def test_compaction_plan_windows_stay_per_day(spark, sf_dir):
    from big_data_traffict_prediction_spark.operators.reshape import (
        q_compaction_plan,
    )

    df = q_compaction_plan(spark, sf_dir)
    a = explain.audit(df)
    # chunk aggregation + day-partitioned window + final sort; a 4th
    # exchange would mean a window re-partitioned globally
    assert sorted(set(a["read_schema"])) == ["props", "ts", "user_id"]
    assert a["shuffles"] <= 3, explain.formatted_plan(df)
    assert a["sort_merge_joins"] == 0


def test_scd2_build_is_one_window_family(spark, sf_dir):
    from big_data_traffict_prediction_spark.operators.windows import q_scd2_build

    df = q_scd2_build(spark, sf_dir)
    a = explain.audit(df)
    # every window partitions by camera_id: one exchange for the
    # family + the final sort, no joins at all
    assert a["shuffles"] <= 2, explain.formatted_plan(df)
    assert a["broadcast_joins"] == 0 and a["sort_merge_joins"] == 0
    assert explain.nested_loop_join_count(df) == 0


def test_zone_map_merge_join_is_copartitioned(spark, sf_dir):
    from big_data_traffict_prediction_spark.operators.scans import q_zone_map_merge

    # base and delta stats each compact via one hash aggregation
    # partitioned on exactly the zone key — the full-outer merge must
    # add NO exchange beyond the two aggregation exchanges + the final
    # orderBy range partition (3 total; a 4th would mean the merge
    # re-shuffled a side — i.e. the "incremental" path re-shuffled the
    # stored index)
    df = q_zone_map_merge(spark, sf_dir)
    a = explain.audit(df)
    assert a["shuffles"] <= 3, explain.formatted_plan(df)
    assert explain.nested_loop_join_count(df) == 0


def test_scd2_apply_never_windows_the_union(spark, sf_dir):
    from big_data_traffict_prediction_spark.operators.windows import q_scd2_apply

    # base history and delta change-detection each window ONCE behind
    # lazy checkpoints; the drivable plan windows only the delta feed
    # (the lead/rank versioning pass). More visible Window nodes would
    # mean a multi-referenced stage re-executes its window family, or
    # the "incremental" path re-windowed base+delta history (the
    # O(history) rebuild this operator exists to avoid)
    df = q_scd2_apply(spark, sf_dir)
    plan = explain.formatted_plan(df)
    import re as _re

    windows = len(_re.findall(r"^\(\d+\) Window\b", plan, _re.MULTILINE))
    assert windows == 1, plan
    assert explain.nested_loop_join_count(df) == 0


def test_l_diversity_tops_as_take_ordered(spark, sf_dir):
    from big_data_traffict_prediction_spark.operators.scans import q_l_diversity

    df = q_l_diversity(spark, sf_dir)
    a = explain.audit(df)
    assert a["take_ordered"], "risky-group top-N must plan as TakeOrdered"
    # the only nested loop is the one-row stats broadcast
    assert explain.nested_loop_join_count(df) <= 1


def test_mv_refresh_merge_is_copartitioned(spark, sf_dir):
    from big_data_traffict_prediction_spark.operators.aggregates import q_mv_refresh

    # stored-MV and delta sides aggregate once each on exactly the
    # view key; the full-outer merge must add no exchange beyond the
    # two aggregation exchanges + the final orderBy range partition
    df = q_mv_refresh(spark, sf_dir)
    a = explain.audit(df)
    assert a["shuffles"] <= 3, explain.formatted_plan(df)
    assert explain.nested_loop_join_count(df) == 0


def test_drift_tvd_tops_as_take_ordered(spark, sf_dir):
    from big_data_traffict_prediction_spark.operators.analytics import q_drift_tvd

    df = q_drift_tvd(spark, sf_dir)
    a = explain.audit(df)
    assert a["take_ordered"], "top drift movers must plan as TakeOrdered"
    assert explain.nested_loop_join_count(df) == 0


def test_ann_ivf_delta_is_broadcast_only(spark, sf_dir):
    from big_data_traffict_prediction_spark.functions.similarity import (
        q_ann_ivf_delta,
    )

    # assignment is a HOF over one-row broadcasts (params, the center
    # array, the occupancy total) — the only joins allowed are those
    # scalar broadcasts; no sort-merge join and no corpus-sized
    # exchange beyond the |cells|-row aggregation + final sort
    df = q_ann_ivf_delta(spark, sf_dir)
    a = explain.audit(df)
    assert a["sort_merge_joins"] == 0, explain.formatted_plan(df)
    assert a["shuffles"] <= 4, explain.formatted_plan(df)


def test_aqe_splits_skewed_camera_join(spark, sf_dir):
    """SURVEY §7 hard-part 7, witnessed: a sort-merge join whose fact
    side is dominated by one EXTREME camera must come out of AQE with
    the skewed partition SPLIT (the final adaptive plan marks the join
    skew=true). Thresholds are scaled down so the small fixture
    exhibits the production shape (one shuffle partition >> median);
    at 100 TB the same conf defaults fire on real sizes."""
    from pyspark.sql import functions as F

    from big_data_traffict_prediction_spark.tables import traffic_history

    confs = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.forceOptimizeSkewedJoin": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "8k",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "4k",
        # keep the shuffle partition layout so the hot partition stands
        # against a many-partition median instead of being coalesced away
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        from big_data_traffict_prediction_spark.tables import load_table

        h = traffic_history(spark, sf_dir).select("camera_id", "id", "new_count")
        hot = h.groupBy("camera_id").count().orderBy(F.desc("count")).first()[0]
        # Amplify the hottest camera 512x — the EXTREME-profile shape.
        # The repartition matters: a skewed reduce partition splits at
        # MAPPER boundaries, so the fact shuffle needs >1 map task (the
        # sf0.001 parquet is a single input split — at 100 TB the many
        # input files provide this for free).
        fact = h.withColumn(
            "rep",
            F.explode(
                F.sequence(
                    F.lit(1),
                    F.when(F.col("camera_id") == hot, 512).otherwise(1),
                )
            ),
        ).repartition(16)
        # Dim side must be pattern-clean (Sort over the shuffle stage,
        # no aggregate in between) or OptimizeSkewedJoin can't match —
        # the same reason production skew-splits want the dim side
        # pre-materialized rather than derived in the same stage.
        dim = load_table(spark, sf_dir, "customer").select(
            F.col("c_custkey").cast("string").alias("camera_id"),
            F.col("c_name").alias("cam_name"),
        )
        joined = fact.join(dim, "camera_id").select(
            "camera_id", "id", "new_count", "rep", "cam_name"
        )
        joined.collect()  # finalizes THIS plan (count() would plan anew)
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, f"AQE did not split the skewed join:\n{plan[:2000]}"
        assert "AQEShuffleRead skewed" in plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_histogram_merge_is_copartitioned(spark, sf_dir):
    from big_data_traffict_prediction_spark.operators.scans import (
        q_histogram_merge,
        q_histogram_stats,
    )

    import re

    # Both vf aggregations hash-partition on exactly v, so each side of
    # the full-outer merge must feed its SMJ Sort STRAIGHT from its
    # aggregation — a re-shuffled "incremental" path would plan an
    # Exchange directly under a join-side Sort. Concretely: the only
    # Sort-fed Exchanges allowed in the whole plan are the window
    # re-key (constant partition key) and the final orderBy; every
    # join-side Sort sits on a HashAggregate. (The merged frame is
    # referenced twice — cum + tot — so the static tree shows the join
    # twice; AQE stage reuse dedups the identical vf exchanges at run.)
    df = q_histogram_merge(spark, sf_dir)
    tree = explain.formatted_plan(df).split("\n\n")[0].splitlines()
    sort_over_exchange = sum(
        1
        for a, b in zip(tree, tree[1:])
        if re.search(r"\bSort \(\d+\)", a) and re.search(r"\bExchange \(\d+\)", b)
    )
    assert sort_over_exchange == 2, "\n".join(tree)  # window re-key + orderBy
    sort_over_agg = sum(
        1
        for a, b in zip(tree, tree[1:])
        if re.search(r"\bSort \(\d+\)", a) and "HashAggregate" in b
    )
    assert sort_over_agg >= 2, "\n".join(tree)  # the co-partitioned join sides
    assert explain.audit(df)["shuffles"] <= explain.audit(
        q_histogram_stats(spark, sf_dir)
    )["shuffles"] + 2
