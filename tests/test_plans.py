"""Plan-quality gates: pin the physical-plan properties that matter at
100 TB so a refactor that silently de-optimizes a query fails CI."""

from __future__ import annotations

import re
import threading

import pandas as pd
import pytest

from ex_aws_firehose_spark.plans.audit import (
    pushed_filters,
    python_eval_operators,
    read_schemas,
    uses_broadcast_join,
    uses_take_ordered,
)
from ex_aws_firehose_spark.registry import REGISTRY, load_all_operators

load_all_operators()

# Queries whose plans must stay Python-free (everything except the
# explicitly Arrow-batched multimodal/UDF surfaces and the streaming
# keys, which materialize through sinks).
_PYTHON_OK = {
    "q_embed_top_pc",  # Arrow-batched numpy Gram matrix (BLAS domain)
    "q_multimodal_decode",
    "q_multimodal_phash",  # Arrow-batched numpy byte-plane signature
    "q_multimodal_resize",
    "q_udf_scalar",
    "q_udaf",
}
_PLAN_CHECKED = sorted(
    k
    for k in REGISTRY
    if not k.startswith(("q_stream_", "sink_", "src_stream", "src_test"))
)


def test_broadcast_dim_join(spark, sf_dir):
    assert uses_broadcast_join(REGISTRY["q_join_broadcast"].fn(spark, sf_dir))


def test_scan_projection_prunes_columns(spark, sf_dir):
    schemas = read_schemas(REGISTRY["q_scan_project"].fn(spark, sf_dir))
    assert schemas, "no file scan found"
    # lineitem has 16 columns; the projection needs 4.
    assert all(s.count(":") <= 4 for s in schemas), schemas


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    fs = pushed_filters(REGISTRY["q_filter_predicate"].fn(spark, sf_dir))
    assert any("GreaterThan" in f or "LessThan" in f for f in fs), fs


def test_filter_pattern_bound_predicates_reach_scan(spark, sf_dir):
    """The compiled CloudWatch pattern's BOUND comparisons must arrive
    at the parquet scan as pushed filters: '$.event_type = "s*"' as a
    StringStartsWith, '$.value > 100.5' as a GreaterThan. The unbound
    '$.k != 7' get_json_object residue cannot push — but must also not
    block the bound conjuncts from pushing."""
    fs = pushed_filters(REGISTRY["q_filter_pattern_json_bound"].fn(spark, sf_dir))
    assert any("StringStartsWith" in f for f in fs), fs
    assert any("GreaterThan" in f for f in fs), fs


def test_manifest_pruned_read_scans_fewer_files(spark, sf_dir):
    """The manifest-planned scan must hand Spark ONLY the surviving
    files: inputFiles() on the pruned frame is exactly the 3 Q1-1997
    month files out of the ~80-file table — file skipping, not a
    post-scan filter."""
    df = REGISTRY["q_read_manifest_pruned"].fn(spark, sf_dir)
    from ex_aws_firehose_spark.sources.formats import _stage_manifest_table

    _root, _manifest, files_total = _stage_manifest_table(spark, sf_dir)
    scanned = [f for f in df.inputFiles() if "orders_manifest_" in f]
    assert 0 < len(scanned) < files_total, (len(scanned), files_total)
    assert len(scanned) == 3, scanned  # Jan/Feb/Mar 1997 month files
    assert all("month=1997-0" in f for f in scanned), scanned


def test_bloom_pruned_read_scans_fewer_files(spark, sf_dir):
    """Bloom file skipping must hand Spark strictly fewer files than
    the table holds (zone maps prune NOTHING for this uncorrelated
    point predicate — the bloom is doing all the work), and every
    month that truly contains the probe key must survive (no false
    negatives)."""
    df = REGISTRY["q_read_bloom_pruned"].fn(spark, sf_dir)
    from ex_aws_firehose_spark.sources.formats import (
        BLOOM_PROBE_CUSTKEY,
        _stage_manifest_table,
    )
    from ex_aws_firehose_spark.tables import load_table

    _root, _manifest, files_total = _stage_manifest_table(spark, sf_dir)
    scanned = {
        f.split("month=")[1].split("/")[0]
        for f in df.inputFiles()
        if "orders_manifest_" in f
    }
    assert 0 < len(scanned) < files_total, (len(scanned), files_total)
    from pyspark.sql import functions as F

    truth = {
        r.m
        for r in load_table(spark, sf_dir, "orders")
        .filter(F.col("o_custkey") == BLOOM_PROBE_CUSTKEY)
        .select(F.date_format("o_orderdate", "yyyy-MM").alias("m"))
        .distinct()
        .collect()
    }
    assert truth <= scanned, truth - scanned  # no false negatives


def test_persisted_index_probe_is_partition_pruned(spark, sf_dir):
    """The persisted inverted lists are partitioned by coarse cell; the
    ADC probe must reach them as a DYNAMIC partition-pruned scan (cell
    IN <broadcast probe result>) — at 100 TB this is the difference
    between reading ADC_NPROBE cells and reading the corpus."""
    from ex_aws_firehose_spark.plans.audit import physical_plan

    plan = physical_plan(REGISTRY["q_sim_index_persist"].fn(spark, sf_dir))
    members_lines = [l for l in plan.splitlines() if "ivf_members" in l]
    assert members_lines, plan
    assert any("dynamicpruning" in l.lower() for l in members_lines), (
        members_lines
    )


def test_topk_avoids_global_sort(spark, sf_dir):
    assert uses_take_ordered(REGISTRY["q_sort_limit_topk"].fn(spark, sf_dir))


@pytest.mark.parametrize("key", _PLAN_CHECKED)
def test_no_row_at_a_time_python(spark, sf_dir, key):
    ops = python_eval_operators(REGISTRY[key].fn(spark, sf_dir))
    if key in _PYTHON_OK:
        assert "BatchEvalPython" not in ops, ops
    else:
        # the Python operators these keys use are Arrow-batched
        # (ArrowEvalPython, MapInPandas, FlatMapGroupsInPandas*)
        assert all(op != "BatchEvalPython" for op in ops), (key, ops)


def test_python_eval_finds_arrow_map_cogroup_and_agg_nodes(spark):
    """The "no Python node" audit must see every node that ships rows
    to a Python worker, not only the scalar-UDF and mapInPandas forms:
    mapInArrow, cogrouped applyInPandas and a grouped-agg pandas UDF
    plan as MapInArrow, FlatMapCoGroupsInPandas and
    ArrowAggregatePython."""
    # the pandas_udf type hints are strings under `from __future__ import
    # annotations`; pyspark resolves them against module globals
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    from ex_aws_firehose_spark.plans.audit import physical_plan

    df = spark.range(4).select(
        F.col("id").alias("k"), F.col("id").cast("double").alias("v")
    )

    @pandas_udf("double")
    def mean_udf(v: pd.Series) -> float:
        return v.mean()

    plans = {
        "MapInArrow": df.mapInArrow(lambda it: it, df.schema),
        "FlatMapCoGroupsInPandas": df.groupBy("k")
        .cogroup(df.groupBy("k"))
        .applyInPandas(lambda left, right: left, df.schema),
        "ArrowAggregatePython": df.groupBy("k").agg(mean_udf("v")),
    }
    for node, plan in plans.items():
        assert python_eval_operators(plan) == [node], (node, physical_plan(plan))


def test_bucketed_join_is_shuffle_free(spark, sf_dir):
    # Both the SMJ and the per-order aggregation ride the at-rest
    # bucketing: zero shuffle exchanges in the whole plan.
    from ex_aws_firehose_spark.plans.audit import shuffle_count

    df = REGISTRY["q_join_bucketed"].fn(spark, sf_dir)
    assert shuffle_count(df) == 0, df._jdf.queryExecution().executedPlan().toString()


def test_hash_sample_filter_is_map_only(spark, sf_dir):
    from ex_aws_firehose_spark.plans.audit import shuffle_count

    assert shuffle_count(REGISTRY["q_sample_hash"].fn(spark, sf_dir)) == 0


def test_partitioned_read_prunes_partitions(spark, sf_dir):
    from ex_aws_firehose_spark.plans.audit import physical_plan

    df = REGISTRY["src_partitioned_pruning"].fn(spark, sf_dir)
    plan = physical_plan(df)
    assert "PartitionFilters: [" in plan and "o_orderpriority" in plan.split(
        "PartitionFilters: ["
    )[1].split("]")[0], plan


def test_contamination_eval_set_broadcasts(spark, sf_dir):
    # The eval shingle dictionary must broadcast so the training corpus
    # streams map-side (no shuffle of the big side's shingles).
    assert uses_broadcast_join(
        REGISTRY["q_contamination_ngram"].fn(spark, sf_dir)
    )


def test_cross_join_broadcasts_grid_side(spark, sf_dir):
    from ex_aws_firehose_spark.plans.audit import physical_plan

    plan = physical_plan(REGISTRY["q_join_cross"].fn(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan, plan


def test_anti_join_is_null_aware(spark, sf_dir):
    from ex_aws_firehose_spark.plans.audit import physical_plan

    plan = physical_plan(REGISTRY["q_join_anti_null_aware"].fn(spark, sf_dir))
    assert "LeftAnti" in plan and "BroadcastHashJoin" in plan, plan


def test_centroid_codebook_broadcasts(spark, sf_dir):
    # The k-row codebook meets the vectors via a broadcast nested loop
    # (cross join — there is no equi-key); the big side never shuffles.
    from ex_aws_firehose_spark.plans.audit import physical_plan

    plan = physical_plan(REGISTRY["q_sim_centroid_assign"].fn(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan, plan


def test_kmeans_iterate_codebook_broadcasts(spark, sf_dir):
    # Both Lloyd halves stay broadcast-side: the E-step fans the k-row
    # codebook out over the vectors (BNLJ), and the old↔new centroid
    # comparison is a k-row join — neither may shuffle the data side
    # into a cartesian product.
    from ex_aws_firehose_spark.plans.audit import physical_plan

    plan = physical_plan(REGISTRY["q_sim_kmeans_iterate"].fn(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_er_blocking_joins_on_block_key(spark, sf_dir):
    # The candidate generator must be an EQUI join on the blocking key
    # (shuffle or broadcast hash) — never an all-pairs cartesian; the
    # key-inequality dedup rides along as an in-join filter.
    from ex_aws_firehose_spark.plans.audit import physical_plan

    plan = physical_plan(REGISTRY["q_er_blocking"].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert (
        "SortMergeJoin" in plan
        or "ShuffledHashJoin" in plan
        or "BroadcastHashJoin" in plan
    ), plan


def test_tcloseness_grid_broadcasts(spark, sf_dir):
    # The QI×band dense grid is catalog-sized: the band distribution
    # and the totals row must broadcast, never shuffle the QI side.
    from ex_aws_firehose_spark.plans.audit import physical_plan

    plan = physical_plan(REGISTRY["q_anon_tcloseness"].fn(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_gapfill_spine_joins_broadcast(spark, sf_dir):
    # The per-type spine is tiny; the rollup side must not be
    # re-shuffled to meet it.
    assert uses_broadcast_join(
        REGISTRY["q_timeseries_gapfill"].fn(spark, sf_dir)
    )


def test_tpch_q3_topk_and_pushdown(spark, sf_dir):
    df = REGISTRY["q_tpch_q3"].fn(spark, sf_dir)
    assert uses_take_ordered(df)
    fs = pushed_filters(df)
    # both date filters and the segment filter must reach the scans
    assert any("l_shipdate" in f for f in fs), fs
    assert any("c_mktsegment" in f for f in fs), fs


def test_tpch_q18_qualifying_keys_broadcast(spark, sf_dir):
    assert uses_broadcast_join(REGISTRY["q_tpch_q18"].fn(spark, sf_dir))


def test_bloom_prefilter_broadcasts_and_prunes(spark, sf_dir):
    df = REGISTRY["q_join_bloom_prefilter"].fn(spark, sf_dir)
    assert uses_broadcast_join(df)
    # the fact scan must read only the join key + revenue column
    schemas = read_schemas(df)
    assert any(
        "l_suppkey" in s and s.count(":") <= 2 for s in schemas
    ), schemas


def test_zonemap_audit_single_aggregation_pass(spark, sf_dir):
    from ex_aws_firehose_spark.plans.audit import shuffle_count

    # one hash agg at bucket grain -> exactly one exchange
    assert shuffle_count(REGISTRY["q_layout_zonemap_audit"].fn(spark, sf_dir)) == 1


def test_sessionize_gap_single_exchange_and_sort(spark, sf_dir):
    from ex_aws_firehose_spark.plans.audit import physical_plan, shuffle_count

    df = REGISTRY["q_sessionize_gap"].fn(spark, sf_dir)
    # lag + running sum + rollup all share one (user_id) partitioning:
    # one shuffle for the window chain, one for the final agg at most
    assert shuffle_count(df) <= 2, physical_plan(df)
    # and a single sort serves both window functions
    assert physical_plan(df).count("Sort ") <= 1, physical_plan(df)


def test_pagerank_iterations_broadcast_edges(spark, sf_dir):
    assert uses_broadcast_join(REGISTRY["q_graph_pagerank"].fn(spark, sf_dir))


def test_cdc_snapshot_diff_single_join_no_extra_exchange(spark, sf_dir):
    from ex_aws_firehose_spark.plans.audit import shuffle_count

    # full-outer join on the PK: one exchange per side, nothing after
    assert shuffle_count(REGISTRY["q_cdc_snapshot_diff"].fn(spark, sf_dir)) <= 2


def test_tpch_q1_pushdown_and_single_exchange(spark, sf_dir):
    from ex_aws_firehose_spark.plans.audit import shuffle_count

    df = REGISTRY["q_tpch_q1"].fn(spark, sf_dir)
    # the shipdate predicate reaches the parquet scan...
    assert any("l_shipdate" in f for f in pushed_filters(df)), pushed_filters(df)
    # ...and the whole query is one partial-agg + one tiny exchange
    assert shuffle_count(df) == 1


def test_tpch_q6_all_filters_pushed_no_join(spark, sf_dir):
    from ex_aws_firehose_spark.plans.audit import physical_plan, shuffle_count

    df = REGISTRY["q_tpch_q6"].fn(spark, sf_dir)
    fs = pushed_filters(df)
    assert any("l_shipdate" in f for f in fs), fs
    assert any("l_quantity" in f for f in fs), fs
    assert "Join" not in physical_plan(df)
    assert shuffle_count(df) == 1  # global-agg partials only


def test_tpch_q14_broadcast_and_month_pushdown(spark, sf_dir):
    df = REGISTRY["q_tpch_q14"].fn(spark, sf_dir)
    assert uses_broadcast_join(df)
    assert any("l_shipdate" in f for f in pushed_filters(df))


def test_tpch_q19_brand_inlist_pushed_below_join(spark, sf_dir):
    df = REGISTRY["q_tpch_q19"].fn(spark, sf_dir)
    assert uses_broadcast_join(df)
    # Catalyst must derive the per-table OR-halves: the brand IN-list
    # prunes the part scan, the quantity range prunes lineitem
    fs = pushed_filters(df)
    assert any("p_brand" in f for f in fs), fs
    assert any("l_quantity" in f for f in fs), fs


def test_tpch_q2_topk_and_broadcast_dims(spark, sf_dir):
    df = REGISTRY["q_tpch_q2"].fn(spark, sf_dir)
    assert uses_take_ordered(df)
    assert uses_broadcast_join(df)


def test_tpch_q8_dims_broadcast_type_filter_pushed(spark, sf_dir):
    df = REGISTRY["q_tpch_q8"].fn(spark, sf_dir)
    assert uses_broadcast_join(df)
    assert any("p_type" in f for f in pushed_filters(df))


def test_tpch_q9_name_pattern_pushed(spark, sf_dir):
    df = REGISTRY["q_tpch_q9"].fn(spark, sf_dir)
    assert uses_broadcast_join(df)
    # LIKE '%widget%' pushes as StringContains
    assert any("p_name" in f for f in pushed_filters(df))


def test_tpch_q17_stats_join_reuses_partitioning(spark, sf_dir):
    from ex_aws_firehose_spark.plans.audit import shuffle_count

    df = REGISTRY["q_tpch_q17"].fn(spark, sf_dir)
    assert uses_broadcast_join(df)
    # fact->stats agg and the re-join share the l_partkey partitioning:
    # at most the agg exchange + the re-join's second side + global agg
    assert shuffle_count(df) <= 3


def test_tpch_q20_small_parts_prefix_pushed(spark, sf_dir):
    df = REGISTRY["q_tpch_q20"].fn(spark, sf_dir)
    assert uses_broadcast_join(df)
    # LIKE 'small%' pushes as StringStartsWith
    assert any("p_name" in f for f in pushed_filters(df))


def test_temporal_join_is_equi_not_bnlj(spark, sf_dir):
    from ex_aws_firehose_spark.plans.audit import physical_plan

    plan = physical_plan(REGISTRY["q_join_temporal"].fn(spark, sf_dir))
    # the range condition must ride inside an equi join on user_id,
    # never a nested-loop join
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "SortMergeJoin" in plan or "BroadcastHashJoin" in plan or (
        "ShuffledHashJoin" in plan
    ), plan


def test_interval_merge_single_exchange_and_sort(spark, sf_dir):
    from ex_aws_firehose_spark.plans.audit import physical_plan, shuffle_count

    df = REGISTRY["q_interval_merge"].fn(spark, sf_dir)
    # running-max, island sum, span agg, and final agg share the
    # user_id partitioning: one window exchange + at most one agg
    assert shuffle_count(df) <= 2, physical_plan(df)
    assert physical_plan(df).count("Sort ") <= 1, physical_plan(df)


def test_image_patch_no_python_no_shuffle(spark, sf_dir):
    from ex_aws_firehose_spark.plans.audit import (
        physical_plan,
        python_eval_operators,
        shuffle_count,
    )

    df = REGISTRY["q_multimodal_image_patch"].fn(spark, sf_dir)
    assert not python_eval_operators(df), physical_plan(df)
    assert shuffle_count(df) == 0, physical_plan(df)


def test_embed_truncate_is_map_only(spark, sf_dir):
    from ex_aws_firehose_spark.plans.audit import shuffle_count

    assert shuffle_count(REGISTRY["q_embed_truncate_mrl"].fn(spark, sf_dir)) == 0


def test_sliding_distinct_one_fact_aggregate(spark, sf_dir):
    from ex_aws_firehose_spark.plans.audit import physical_plan

    plan = physical_plan(REGISTRY["q_sketch_sliding_distinct"].fn(spark, sf_dir))
    # the events scan must feed exactly one aggregate (the bitmap
    # build); the window runs over sketch rows, not raw events
    assert plan.count("bitmap_construct_agg") <= 4, plan  # partial+final pairs
    assert "bitmap_or_agg" in plan, plan


def test_knn_graph_norms_not_recomputed_per_pair(spark, sf_dir):
    from ex_aws_firehose_spark.plans.audit import physical_plan

    plan = physical_plan(REGISTRY["q_sim_knn_graph"].fn(spark, sf_dir))
    # norms are projected below the join: the join output should carry
    # nrm columns rather than evaluating sqrt(aggregate(...)) per pair.
    # Count the expensive fold expressions ABOVE the join: the cosine
    # should reference exactly one aggregate( fold (the dot product).
    join_pos = plan.find("Join")
    assert join_pos != -1
    above = plan[:join_pos]
    assert above.count("SQRT(aggregate") == 0, above


def test_minhash_band_join_is_bucketed_equi(spark, sf_dir):
    import re

    from ex_aws_firehose_spark.plans.audit import physical_plan

    plan = physical_plan(REGISTRY["q_dedup_minhash"].fn(spark, sf_dir))
    # LSH candidates must come from the (band, bsig) bucket equi-join —
    # never an all-pairs product. (The bucket key IS the scale knob;
    # at test SF AQE may broadcast the small side, at 100 TB the same
    # logical plan shuffles both sides on the band key.)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert re.search(
        r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin) \[band", plan
    ), plan


def test_simhash_join_prefix_bucketed(spark, sf_dir):
    import re

    from ex_aws_firehose_spark.plans.audit import physical_plan

    plan = physical_plan(REGISTRY["q_dedup_simhash"].fn(spark, sf_dir))
    # Hamming-ball candidates must be generated inside the high-bit
    # prefix bucket (equi-join on shiftright(simhash, 20)), with the
    # bit_count distance as a post-join filter — never a product.
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert re.search(
        r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin) "
        r"\[shiftright\(simhash",
        plan,
    ), plan


def test_fuzzy_edit_blocks_before_distance(spark, sf_dir):
    from ex_aws_firehose_spark.plans.audit import physical_plan

    plan = physical_plan(REGISTRY["q_dedup_fuzzy_edit"].fn(spark, sf_dir))
    # candidates come from the bucket equi-join, never a cross join
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_schema_drift_two_fused_aggregates(spark, sf_dir):
    from ex_aws_firehose_spark.plans.audit import shuffle_count

    # one wide agg per generation + the tiny col-grain join
    df = REGISTRY["q_dq_schema_drift"].fn(spark, sf_dir)
    assert shuffle_count(df) <= 2


def test_rolling_p95_single_window_exchange(spark, sf_dir):
    from ex_aws_firehose_spark.plans.audit import physical_plan, shuffle_count

    df = REGISTRY["q_window_rolling_p95"].fn(spark, sf_dir)
    assert shuffle_count(df) == 1, physical_plan(df)
    assert physical_plan(df).count("Sort ") <= 1, physical_plan(df)


def test_tpch_q5_dims_broadcast_year_pushed(spark, sf_dir):
    df = REGISTRY["q_tpch_q5"].fn(spark, sf_dir)
    assert uses_broadcast_join(df)
    fs = " ".join(pushed_filters(df))
    assert "o_orderdate" in fs, fs


def test_gopher_rules_map_only_before_agg(spark, sf_dir):
    from ex_aws_firehose_spark.plans.audit import shuffle_count

    # One exchange: the per-source counter aggregation. Rule evaluation
    # itself must never shuffle the text.
    df = REGISTRY["q_quality_gopher_rules"].fn(spark, sf_dir)
    assert shuffle_count(df) == 1


def test_range_search_scan_is_map_only(spark, sf_dir):
    from ex_aws_firehose_spark.plans.audit import physical_plan, shuffle_count

    df = REGISTRY["q_sim_range_search"].fn(spark, sf_dir)
    plan = physical_plan(df)
    # Query vector joined as a 1-row broadcast; the only exchange is
    # the final result ordering (tiny survivor set).
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert shuffle_count(df) <= 1, plan


def test_count_min_cells_broadcast_to_point_queries(spark, sf_dir):
    df = REGISTRY["q_sketch_count_min"].fn(spark, sf_dir)
    assert uses_broadcast_join(df)


def test_key_skew_topk_avoids_global_sort(spark, sf_dir):
    df = REGISTRY["q_dq_key_skew"].fn(spark, sf_dir)
    assert uses_take_ordered(df)


def test_triangles_all_joins_are_hash_equi(spark, sf_dir):
    from ex_aws_firehose_spark.plans.audit import physical_plan

    plan = physical_plan(REGISTRY["q_graph_triangles"].fn(spark, sf_dir))
    # Pair-gen, wedge, and closure joins must all be hash/merge equi
    # joins on bucket / vertex keys — never a nested-loop product.
    # (The final 1-row summary crossJoins are BNLJ over single rows.)
    assert "CartesianProduct" not in plan, plan


def test_transition_matrix_single_user_exchange(spark, sf_dir):
    from ex_aws_firehose_spark.plans.audit import physical_plan

    plan = physical_plan(
        REGISTRY["q_funnel_transition_matrix"].fn(spark, sf_dir)
    )
    # The row-total join must broadcast (tiny |types| side).
    assert "BroadcastHashJoin" in plan, plan


def test_minhash_estimate_reuses_candidates_no_product(spark, sf_dir):
    from ex_aws_firehose_spark.plans.audit import physical_plan

    plan = physical_plan(
        REGISTRY["q_dedup_minhash_estimate"].fn(spark, sf_dir)
    )
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_attribution_touch_join_is_equi_not_bnlj(spark, sf_dir):
    from ex_aws_firehose_spark.plans.audit import physical_plan

    plan = physical_plan(REGISTRY["q_attribution_last_touch"].fn(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_bigram_lm_generation_is_map_side(spark, sf_dir):
    from ex_aws_firehose_spark.plans.audit import python_eval_operators

    # Bigram generation + scoring must stay JVM-side.
    assert not python_eval_operators(
        REGISTRY["q_text_bigram_lm"].fn(spark, sf_dir)
    )


def test_text_source_parse_stays_jvm_side(spark, sf_dir):
    from ex_aws_firehose_spark.plans.audit import python_eval_operators

    assert not python_eval_operators(
        REGISTRY["src_format_text"].fn(spark, sf_dir)
    )


def test_recursive_cte_stays_jvm_side(spark, sf_dir):
    from ex_aws_firehose_spark.plans.audit import (
        physical_plan,
        python_eval_operators,
    )

    df = REGISTRY["q_recursive_cte"].fn(spark, sf_dir)
    assert not python_eval_operators(df)
    # The recursion must plan as the native loop operator, not a
    # driver-side unrolling.
    assert "UnionLoop" in physical_plan(df), physical_plan(df)


def test_range_bucketed_join_is_equi_not_bnlj(spark, sf_dir):
    from ex_aws_firehose_spark.plans.audit import physical_plan

    plan = physical_plan(REGISTRY["q_join_range_bucketed"].fn(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_benford_expected_table_broadcasts(spark, sf_dir):
    df = REGISTRY["q_dq_benford"].fn(spark, sf_dir)
    assert uses_broadcast_join(df)


def test_percent_change_window_not_on_fact(spark, sf_dir):
    from ex_aws_firehose_spark.plans.audit import physical_plan

    plan = physical_plan(REGISTRY["q_window_percent_change"].fn(spark, sf_dir))
    # The lag window must consume the daily aggregate, never the raw
    # fact scan. Printed top-down, the correct plan shows Window ABOVE
    # HashAggregate; a window pushed onto the fact side would print the
    # final aggregate above the window.
    assert "Window" in plan and "HashAggregate" in plan
    assert plan.index("Window") < plan.index("HashAggregate"), plan


def test_ngram_novelty_no_cartesian(spark, sf_dir):
    from ex_aws_firehose_spark.plans.audit import physical_plan

    plan = physical_plan(REGISTRY["q_text_ngram_novelty"].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_grid_join_2d_is_cell_equi_not_product(spark, sf_dir):
    from ex_aws_firehose_spark.plans.audit import physical_plan

    plan = physical_plan(REGISTRY["q_sim_grid_join_2d"].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_ewma_all_lags_share_one_window(spark, sf_dir):
    from ex_aws_firehose_spark.plans.audit import physical_plan

    plan = physical_plan(REGISTRY["q_window_ewma"].fn(spark, sf_dir))
    # All 8 lag expressions must collapse into ONE Window operator
    # (one user_id shuffle + one sort), not a stack of windows.
    assert plan.count("Window") == 1, plan


def test_kmv_sketch_is_partial_topk(spark, sf_dir):
    from ex_aws_firehose_spark.plans.audit import physical_plan

    plan = physical_plan(REGISTRY["q_sketch_kmv_distinct"].fn(spark, sf_dir))
    # The K smallest hashes must come from TakeOrderedAndProject (K rows
    # per partition cross the wire), never a global Sort.
    assert "TakeOrdered" in plan, plan


def test_brand_pairs_join_is_equi_on_order(spark, sf_dir):
    import re

    from ex_aws_firehose_spark.plans.audit import physical_plan

    plan = physical_plan(REGISTRY["q_assoc_brand_pairs"].fn(spark, sf_dir))
    # Basket self-join must be an equi join on the order key (bounded
    # per-basket fan-out), never a cross-order product.
    assert "CartesianProduct" not in plan, plan
    assert re.search(
        r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin) \[okey", plan
    ), plan


def test_mad_outliers_medians_broadcast_back(spark, sf_dir):
    assert uses_broadcast_join(
        REGISTRY["q_timeseries_mad_outliers"].fn(spark, sf_dir)
    )


def test_referential_orphans_small_dims_broadcast(spark, sf_dir):
    assert uses_broadcast_join(
        REGISTRY["q_dq_referential_orphans"].fn(spark, sf_dir)
    )


def test_dpp_subquery_on_fact_scan(spark, sf_dir):
    from ex_aws_firehose_spark.plans.audit import physical_plan

    plan = physical_plan(REGISTRY["q_join_dpp"].fn(spark, sf_dir))
    # The fact scan must carry a dynamicpruning PartitionFilter fed by
    # the dim-side subquery — the whole point of the operator.
    assert "dynamicpruning" in plan.lower(), plan


def test_correlated_subqueries_decorrelate_to_joins(spark, sf_dir):
    from ex_aws_firehose_spark.plans.audit import physical_plan

    plan = physical_plan(
        REGISTRY["q_subquery_decorrelated"].fn(spark, sf_dir)
    )
    # Catalyst must rewrite both correlated aggregates into grouped
    # aggregate + join — never execute a subquery per row.
    assert "Subquery" not in plan, plan
    assert "HashAggregate" in plan, plan
    assert (
        "BroadcastHashJoin" in plan
        or "SortMergeJoin" in plan
        or "ShuffledHashJoin" in plan
    ), plan


def test_shuffle_hash_hint_is_honored(spark, sf_dir):
    from ex_aws_firehose_spark.plans.audit import physical_plan

    plan = physical_plan(
        REGISTRY["q_join_hint_shuffle_hash"].fn(spark, sf_dir)
    )
    assert "ShuffledHashJoin" in plan, plan


def test_skyline_has_no_dominance_join(spark, sf_dir):
    from ex_aws_firehose_spark.plans.audit import physical_plan

    plan = physical_plan(REGISTRY["q_skyline_pareto"].fn(spark, sf_dir))
    # 2-D collapse: per-day agg + running max — NO pairwise join at all.
    assert "Join" not in plan, plan


def test_trimmed_mean_single_exchange(spark, sf_dir):
    from ex_aws_firehose_spark.plans.audit import shuffle_count

    # rank window, group count window, and final agg all share one
    # (event_type) partitioning.
    assert (
        shuffle_count(REGISTRY["q_agg_trimmed_mean"].fn(spark, sf_dir)) == 1
    )


def test_null_skew_split_joins_are_equi_only(spark, sf_dir):
    from ex_aws_firehose_spark.plans.audit import physical_plan

    plan = physical_plan(
        REGISTRY["q_join_null_skew_split"].fn(spark, sf_dir)
    )
    # The null slice bypasses both joins (matched + anti); neither may
    # degrade to a product.
    assert "CartesianProduct" not in plan, plan
    assert "LeftAnti" in plan, plan


def test_ohlc_needs_no_window_operator(spark, sf_dir):
    from ex_aws_firehose_spark.plans.audit import physical_plan, shuffle_count

    df = REGISTRY["q_window_ohlc"].fn(spark, sf_dir)
    # open/close come from min_by/max_by INSIDE the hash agg — no sort,
    # no Window operator, one exchange.
    assert "Window" not in physical_plan(df)
    assert shuffle_count(df) == 1


def test_template_mining_single_exchange(spark, sf_dir):
    from ex_aws_firehose_spark.plans.audit import shuffle_count

    assert (
        shuffle_count(REGISTRY["q_log_template_mining"].fn(spark, sf_dir))
        == 1
    )


def test_aqe_skew_join_actually_splits(spark, sf_dir):
    """q_join_skew_aqe's claim is runtime skew mitigation — prove AQE's
    OptimizeSkewedJoin fired: under the query's conf scope, the final
    adaptive plan must mark the sort-merge join skew=true and read the
    hot side through a skewed AQEShuffleRead."""
    from ex_aws_firehose_spark.operators.relational import (
        _SKEW_AQE_CONFS,
        _skew_aqe_agg,
    )

    old = {k: spark.conf.get(k, None) for k in _SKEW_AQE_CONFS}
    for k, v in _SKEW_AQE_CONFS.items():
        spark.conf.set(k, v)
    try:
        agg = _skew_aqe_agg(spark, sf_dir)
        agg.collect()  # AQE finalizes the plan only on execution
        plan = agg._jdf.queryExecution().executedPlan().toString()
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    assert "skew=true" in plan, plan
    assert "AQEShuffleRead skewed" in plan, plan


def test_balance_classes_majority_never_sorts(spark, sf_dir):
    """q_sample_balance_classes claims exact selection WITHOUT a
    per-class full sort: the only row_number window must rank the
    boundary-bucket slice (routed through the b_star bounds join below
    the window), never the raw documents scan."""
    from ex_aws_firehose_spark.plans.audit import physical_plan

    plan = physical_plan(REGISTRY["q_sample_balance_classes"].fn(spark, sf_dir))
    assert plan.count("row_number") == 1, plan
    below_window = plan.split("row_number", 1)[1]
    to_first_scan = below_window.split("FileScan", 1)[0]
    assert "b_star" in to_first_scan, to_first_scan


def test_simhash_rotate_join_is_bucketed_equi(spark, sf_dir):
    """The rotated-prefix union must still generate candidates through
    ONE (rotation, bucket) equi-join — never a product, and never three
    sequential joins (one Generate explode feeds both join sides)."""
    from ex_aws_firehose_spark.plans.audit import physical_plan

    plan = physical_plan(REGISTRY["q_dedup_simhash_rotate"].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    # exactly one candidate join (plus none hidden): count join operators
    import re

    joins = re.findall(
        r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin)", plan
    )
    assert len(joins) == 1, joins


def test_skyline_3d_point_joins_are_equi(spark, sf_dir):
    """q_skyline_pareto_3d routes point-grain dominance through cell-id
    EQUI-joins; the only nested-loop joins allowed are the ≤G³-row cell
    frames (broadcast). Gate: every BNLJ in the plan must sit over
    sub-frames that aggregate to cell grain — cheap proxy: the plan's
    BNLJ count is bounded by the 3 cell-grain combinations and the
    1-row bounds crossJoin, and point-grain hash joins exist."""
    from ex_aws_firehose_spark.plans.audit import physical_plan

    plan = physical_plan(REGISTRY["q_skyline_pareto_3d"].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    # point-grain candidate and anti joins hash on cell_id / day_nr
    assert "cell_id" in plan, plan


def test_pq_centroids_broadcast(spark, sf_dir):
    """q_embed_pq_codes' E-step must join the component frame against a
    BROADCAST centroid table (K·d rows) — a shuffled centroid join
    would re-shuffle n·d component rows per Lloyd round. Since round 6
    the trained assignment is localCheckpointed (session cache shared
    across the ADC keys), which hides the training joins from the final
    registered plan — so the gate rebuilds the E-step frame exactly as
    pq_train does and inspects THAT plan."""
    from pyspark.sql import functions as F

    from ex_aws_firehose_spark.operators.llm import pq_train
    from ex_aws_firehose_spark.plans.audit import physical_plan

    comp, cent, _codes = pq_train(spark, sf_dir)
    diff = F.col("sv") - F.col("icv")
    dist = (
        comp.join(F.broadcast(cent), ["subspace", "pos"])
        .groupBy("vec_id", "subspace", "code")
        .agg(F.sum(diff * diff).alias("dist"))
    )
    plan = physical_plan(dist)
    assert "BroadcastHashJoin" in plan, plan


def test_prefix_filter_prunes_in_join_condition(spark, sf_dir):
    """The PPJoin length + positional prunes (added after the 64× probe
    measured 26 M candidates for 16 k outputs) must stay INSIDE the
    candidate join condition — a refactor that drops them re-opens the
    1600:1 verify amplification. The physical join condition must
    reference the per-doc sizes (nd) beyond the token equality."""
    from ex_aws_firehose_spark.plans.audit import physical_plan

    plan = physical_plan(REGISTRY["q_dedup_prefix_filter"].fn(spark, sf_dir))
    import re

    m = re.search(
        r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin) \[tok[^\n]*", plan
    )
    assert m, plan
    cond = m.group(0)
    assert "least" in cond and "greatest" in cond, cond


def test_incremental_dedup_probes_are_semi_joins(spark, sf_dir):
    """q_dedup_incremental's scale claim is that index rows never
    materialize — both collision probes must plan as LeftSemi joins
    (an inner join here would emit per-collision pair rows before the
    distinct)."""
    from ex_aws_firehose_spark.plans.audit import physical_plan

    plan = physical_plan(REGISTRY["q_dedup_incremental"].fn(spark, sf_dir))
    assert plan.count("LeftSemi") >= 2, plan
    assert "CartesianProduct" not in plan, plan


def test_span_dedup_probe_is_semi_join(spark, sf_dir):
    """q_dedup_spans' scale claim: positioned shingles probe the
    duplicate-shingle vocabulary via LEFT SEMI (an inner join would
    fan out per vocabulary row), and nothing in the span family plans
    a CartesianProduct."""
    from ex_aws_firehose_spark.plans.audit import physical_plan

    plan = physical_plan(REGISTRY["q_dedup_spans"].fn(spark, sf_dir))
    assert "LeftSemi" in plan, plan
    for key in ("q_dedup_spans", "q_dedup_span_pairs", "q_dedup_span_strip"):
        p = physical_plan(REGISTRY[key].fn(spark, sf_dir))
        assert "CartesianProduct" not in p, (key, p)


def test_adc_luts_are_broadcast(spark, sf_dir):
    """The ADC scoring join must stream candidate PQ codes against a
    BROADCAST LUT — a shuffled LUT join would exchange the code frame
    (n·M rows) per query batch."""
    from ex_aws_firehose_spark.plans.audit import physical_plan

    for key in ("q_sim_ivf_pq_adc", "q_sim_ivf_pq_adc_batch"):
        plan = physical_plan(REGISTRY[key].fn(spark, sf_dir))
        assert "BroadcastHashJoin" in plan, (key, plan)
        assert "CartesianProduct" not in plan, (key, plan)


def test_bfs_and_shortest_path_loops_precompute(spark, sf_dir):
    """The BFS / Bellman-Ford drivers localCheckpoint each round, so
    the registered result plans must be flat scans + final ops over
    checkpointed state — no join replay of the whole loop lineage (a
    regression would show the edge-build joins re-appearing)."""
    from ex_aws_firehose_spark.plans.audit import physical_plan

    for key in ("q_graph_bfs_hops", "q_graph_shortest_path"):
        plan = physical_plan(REGISTRY[key].fn(spark, sf_dir))
        assert "SortMergeJoin" not in plan, (key, plan)
        assert "Scan ExistingRDD" in plan, (key, plan)


def test_markov_chain_is_single_expression(spark, sf_dir):
    """Round 14: the five what-if chains run as ONE aggregate()
    expression over per-scenario (E, S) arrays — no per-step joins at
    all. Gate (a) the registered key's plan stays join-sane, and (b)
    the expression fixpoint is bit-identical to a straightforward
    per-step loop reference on a synthetic edge set that exercises
    branching, absorption into both 'purchase' and 'END', floor
    division losing mass, and an unreachable state."""
    from ex_aws_firehose_spark.operators.analytics import (
        _MK_EDGE_SCALE,
        _MK_SCALE,
        _MK_STEPS,
        _mk_fixpoint_expr,
    )
    from ex_aws_firehose_spark.plans.audit import physical_plan

    plan = physical_plan(
        REGISTRY["q_attribution_markov_removal"].fn(spark, sf_dir)
    )
    assert "CartesianProduct" not in plan, plan

    edges = [
        ("START", "click", 700_000),
        ("START", "view", 300_000),
        ("click", "purchase", 333_333),
        ("click", "END", 333_333),
        ("click", "view", 333_334),
        ("view", "click", 500_000),
        ("view", "END", 500_000),
        # state with in-flow but no out-edges: its mass must DIE
        ("click", "stuck", 1),
    ]
    # reference: the old per-step dict loop (absorbing keeps mass,
    # flowing mass redistributes with per-edge floor division)
    p = {"START": _MK_SCALE}
    for _ in range(_MK_STEPS):
        nxt = {}
        for st, mass in p.items():
            if st in ("purchase", "END"):
                nxt[st] = nxt.get(st, 0) + mass
                continue
            for src, dst, q in edges:
                if src == st:
                    nxt[dst] = nxt.get(dst, 0) + (mass * q) // _MK_EDGE_SCALE
        p = nxt
    scen = spark.createDataFrame(
        [("t", s, d, q) for s, d, q in edges],
        "scenario string, src string, dst string, q long",
    )
    from pyspark.sql import functions as F

    sa = (
        scen.groupBy("scenario")
        .agg(F.collect_list(F.struct("src", "dst", "q")).alias("E"))
        .withColumn(
            "S",
            F.expr(
                "array_sort(array_distinct(concat("
                "transform(E, e -> e.src), transform(E, e -> e.dst), "
                "array('START', 'purchase', 'END'))))"
            ),
        )
    )
    row = sa.select("S", F.expr(_mk_fixpoint_expr()).alias("R")).collect()[0]
    got = dict(zip(row["S"], row["R"]))
    for st, mass in p.items():
        assert got[st] == mass, (st, got, p)
    for st, mass in got.items():
        assert p.get(st, 0) == mass, (st, got, p)
    # the fixpoint plan itself must be join-free (one projection)
    fp_plan = physical_plan(sa.select(F.expr(_mk_fixpoint_expr())))
    assert "Join" not in fp_plan, fp_plan


# ---------------------------------------------------------------------------
# Round-10 key plan gates
# ---------------------------------------------------------------------------


def test_mannwhitney_rank_window_not_on_users(spark, sf_dir):
    """The global rank window must run on the distinct-metric table,
    downstream of BOTH aggs — the plan shows window after (user, then
    metric) aggregation, and no sort of the raw events."""
    from ex_aws_firehose_spark.plans.audit import (
        physical_plan,
        shuffle_count,
    )

    df = REGISTRY["q_ab_mannwhitney"].fn(spark, sf_dir)
    plan = physical_plan(df)
    assert "Window" in plan
    # user-grain agg + metric-grain agg + single-partition window +
    # final 1-row agg: the shuffle budget is small and fixed
    assert shuffle_count(df) <= 5, plan


def test_interval_bin_join_is_equi_not_bnlj(spark, sf_dir):
    """The bucketed rewrite's whole point: the candidate join must be
    hash-equi on the bucket, never BroadcastNestedLoop over iv×pt."""
    from ex_aws_firehose_spark.plans.audit import physical_plan

    plan = physical_plan(REGISTRY["q_join_interval_bin"].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan
    # the only BNLJ allowed is the 1-row count cross-joins at the top
    for line in plan.splitlines():
        if "BroadcastNestedLoopJoin" in line:
            assert "Cross" in line, plan  # 1-row stat assembly only
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan, plan


def test_rrf_fusion_gain_table_broadcasts(spark, sf_dir):
    """Both 50-row gain joins and the query-token set must broadcast;
    no cartesian anywhere in the fusion."""
    from ex_aws_firehose_spark.plans.audit import physical_plan

    plan = physical_plan(REGISTRY["q_sim_rrf_fusion"].fn(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 3, plan
    assert "CartesianProduct" not in plan


def test_horvitz_thompson_is_map_only_plus_one_agg(spark, sf_dir):
    """PPS inclusion is a scan-time predicate: the whole estimator is
    one map-side-combined aggregate — at most one shuffle, no join,
    no window, no Python."""
    from ex_aws_firehose_spark.plans.audit import (
        physical_plan,
        python_eval_operators,
        shuffle_count,
    )

    df = REGISTRY["q_sample_horvitz_thompson"].fn(spark, sf_dir)
    plan = physical_plan(df)
    assert shuffle_count(df) <= 1, plan
    assert "Join" not in plan and "Window" not in plan, plan
    assert not python_eval_operators(df)


def test_shapley_coalition_join_broadcasts(spark, sf_dir):
    """The 32-row coalition table and 16-row v-table joins must all be
    broadcast — the game theory must cost nothing."""
    from ex_aws_firehose_spark.plans.audit import physical_plan

    plan = physical_plan(REGISTRY["q_attribution_shapley"].fn(spark, sf_dir))
    assert "SortMergeJoin" not in plan, plan
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 2, plan


def test_target_encode_category_stats_broadcast_back(spark, sf_dir):
    """LOO encoding joins the catalog-sized category stats back to the
    fact rows — that join must be broadcast, never a fact shuffle."""
    from ex_aws_firehose_spark.plans.audit import physical_plan

    plan = physical_plan(
        REGISTRY["q_feature_target_encode_loo"].fn(spark, sf_dir)
    )
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_dq_profile_single_scan_single_exchange(spark, sf_dir):
    """The whole multi-column profile is ONE wide aggregate over one
    scan: exactly one shuffle, one file scan, no join."""
    from ex_aws_firehose_spark.plans.audit import (
        physical_plan,
        shuffle_count,
    )

    df = REGISTRY["q_dq_profile"].fn(spark, sf_dir)
    plan = physical_plan(df)
    assert plan.count("FileScan") == 1, plan
    assert "Join" not in plan, plan
    assert shuffle_count(df) <= 2, plan  # partial/final agg split


def test_exp_histogram_sketch_aggs_are_partial(spark, sf_dir):
    """The histogram build must map-side combine (partial_count in the
    agg) — the ≤64-row sketch is the only thing that shuffles."""
    from ex_aws_firehose_spark.plans.audit import physical_plan

    plan = physical_plan(REGISTRY["q_sketch_exp_histogram"].fn(spark, sf_dir))
    assert "partial_count" in plan or "partial count" in plan.lower(), plan
    assert "CartesianProduct" not in plan


def test_power_mde_design_rows_broadcast(spark, sf_dir):
    """The 3-row MDE sweep crosses the 1-row baseline — broadcast
    nested loop over single rows is the ONLY join machinery allowed."""
    from ex_aws_firehose_spark.plans.audit import physical_plan

    plan = physical_plan(REGISTRY["q_ab_power_mde_sweep"].fn(spark, sf_dir))
    assert "SortMergeJoin" not in plan, plan


# ---------------------------------------------------------------------------
# Round-11 additions
# ---------------------------------------------------------------------------


def test_ivf_incremental_add_codebooks_broadcast(spark, sf_dir):
    """The add path's joins must all be broadcast (k-row coarse
    codebook for assignment, M*K-row PQ codebook for encoding, probed
    cells, LUT) — a shuffle on the batch side would mean the base
    index participates in a data exchange, which the add must never
    cause."""
    from ex_aws_firehose_spark.plans.audit import physical_plan

    plan = physical_plan(
        REGISTRY["q_sim_ivf_incremental_add"].fn(spark, sf_dir)
    )
    assert "CartesianProduct" not in plan
    for line in plan.splitlines():
        if "BroadcastNestedLoopJoin" in line:
            assert "Cross" in line, plan  # scalar/codebook assembly only
    assert plan.count("BroadcastHashJoin") >= 3, plan


def test_ivf_delete_tombstones_apply_as_broadcast_anti(spark, sf_dir):
    """Tombstones must land as a broadcast LEFT ANTI hash join — never
    a shuffled anti join (the delete set is O(batch) metadata; the
    lists must not shuffle to subtract it)."""
    from ex_aws_firehose_spark.plans.audit import physical_plan

    plan = physical_plan(REGISTRY["q_sim_ivf_delete"].fn(spark, sf_dir))
    assert "LeftAnti" in plan, plan
    for line in plan.splitlines():
        if "LeftAnti" in line:
            assert "Broadcast" in line, line
    assert "CartesianProduct" not in plan


def test_unigram_em_is_python_free_and_vit_stays_map_only(spark, sf_dir):
    """The whole EM round is Catalyst expressions (no Python eval
    anywhere), and the Viterbi E-step runs at distinct-token grain off
    the checkpointed toks table: past the corpus token agg the plan
    adds no data-scale exchange — total shuffles stay bounded by the
    small piece/count aggs."""
    from ex_aws_firehose_spark.plans.audit import (
        physical_plan,
        python_eval_operators,
        shuffle_count,
    )

    df = REGISTRY["q_tokenizer_unigram_em"].fn(spark, sf_dir)
    assert not python_eval_operators(df)
    # em-count agg + final small joins: everything downstream of the
    # two checkpointed catalog-grain frames, hence a small constant
    assert shuffle_count(df) <= 3, physical_plan(df)


def test_commit_conflict_head_scans_only_live_files(spark, sf_dir):
    """The head read must plan over exactly the manifest-live files —
    the aborted writer's staged file (on disk!) must not be scanned."""
    from ex_aws_firehose_spark.sources.formats import (
        _stage_conflict_scenario,
    )

    data, head_files, _ = _stage_conflict_scenario(spark, sf_dir)
    df = REGISTRY["q_table_commit_conflict"].fn(spark, sf_dir)
    scans = [
        f
        for f in df.inputFiles()
        if "orders_occ_" in f
    ]
    assert scans, "no staged-table scan found in the plan"
    for f in scans:
        assert "f1-b2-staged" not in f, f
        assert any(f.startswith("file:" + h) or h in f for h in head_files), (
            f,
            head_files,
        )


def test_ivm_join_delta_broadcasts_delta_sides(spark, sf_dir):
    """Every delta term joins with a broadcast on its batch-sized
    side — the base table must never shuffle for an incremental
    update; no cartesian anywhere."""
    from ex_aws_firehose_spark.plans.audit import physical_plan

    plan = physical_plan(REGISTRY["q_ivm_join_delta"].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 6, plan  # 3 deltas + 4 assembly


def test_reingest_fold_matches_loop(spark, sf_dir):
    """Round 15: the reingest attempt loop runs as ONE sequential
    greedy bin-packing pass over the idx-sorted Dropped tail.
    Bit-equivalence against a straightforward per-round loop
    reference (the round-14 execution: per-round running sum, deliver
    the prefix that fits, give up at the attempt bound) on a synthetic
    tail exercising: exact-threshold
    fit, bin rollover, an over-threshold blocker that bricks the queue
    behind it, and a queue long enough to outlast the attempt bound."""
    from ex_aws_firehose_spark.operators.firehose import reingest

    thr, max_att = 10, 5
    # (idx, record_id, result, payload 'data' whose length drives sz)
    rows = [
        # settled rows keep their result at attempt 1
        (0, "s1", "Ok", "xxxx"),
        (1, "s2", "ProcessingFailed", "yyyy"),
        # dropped tail: record_id length counts toward sz too
        (2, "a", "Dropped", "x" * 4),     # sz 5, fits bin 1
        (3, "b", "Dropped", "x" * 4),     # sz 5, closes bin 1 (== thr)
        (4, "c", "Dropped", "x" * 6),     # sz 7, bin 2
        (5, "d", "Dropped", "x" * 2),     # sz 3, bin 2 (== thr)
        (6, "e", "Dropped", "x" * 8),     # sz 9, bin 3
        (7, "f", "Dropped", "x" * 9),     # sz 10, bin 4 — attempt 5 = bound
        (8, "g", "Dropped", "x" * 1),     # sz 2, bin 4 — outlasts? fits bin 4
        (9, "h", "Dropped", "x" * 30),    # sz 31 > thr: BLOCKS
        (10, "i", "Dropped", "x" * 1),    # behind the blocker: never moves
    ]
    split_df = spark.createDataFrame(
        rows, "idx long, record_id string, result string, data string"
    )
    got = {
        r["record_id"]: (r["final_result"], r["attempts"])
        for r in reingest(split_df, max_attempts=max_att, threshold=thr).collect()
    }

    # reference: the literal per-round loop
    pend = [(i, rid, len(d) + len(rid)) for i, rid, res, d in rows if res == "Dropped"]
    exp = {rid: (res, 1) for _, rid, res, _d in rows if res != "Dropped"}
    attempt = 1
    while attempt < max_att and pend:
        attempt += 1
        cum, delivered, rest = 0, [], []
        for i, rid, sz in pend:
            cum += sz
            (delivered if cum <= thr else rest).append((i, rid, sz))
        for _i, rid, _sz in delivered:
            exp[rid] = ("Ok", attempt)
        pend = rest
    for _i, rid, _sz in pend:
        exp[rid] = ("Dropped", attempt)

    assert got == exp, (got, exp)


def test_reingest_null_size_does_not_poison_packing(spark):
    """A Dropped record with NULL ``data`` sizes 0, as the per-round
    window sum skipped it: the records behind it still share bins
    (a NULL reaching the pandas pass as NaN made every later record
    open a new bin)."""
    from ex_aws_firehose_spark.operators.firehose import reingest

    rows = [
        (0, "a", "Dropped", "x" * 4),  # sz 5
        (1, "n", "Dropped", None),     # sz NULL → 0
        (2, "b", "Dropped", "x" * 2),  # sz 3
        (3, "c", "Dropped", "x"),      # sz 2: running sum 10 == thr
    ]
    split_df = spark.createDataFrame(
        rows, "idx long, record_id string, result string, data string"
    )
    got = {
        r["record_id"]: (r["final_result"], r["attempts"])
        for r in reingest(split_df, max_attempts=5, threshold=10).collect()
    }
    assert got == {rid: ("Ok", 2) for rid in "anbc"}, got


def test_reingest_tail_over_row_bound_raises(spark, monkeypatch):
    """The serial reingest pass refuses a Dropped tail longer than
    ``REINGEST_MAX_TAIL_ROWS`` with an error naming the bound, instead
    of running one task over it (the bound is lowered here so a
    five-row tail passes it)."""
    from ex_aws_firehose_spark.operators import firehose

    monkeypatch.setattr(firehose, "REINGEST_MAX_TAIL_ROWS", 4)
    rows = [(i, f"r{i}", "Dropped", "x") for i in range(5)]
    split_df = spark.createDataFrame(
        rows, "idx long, record_id string, result string, data string"
    )
    with pytest.raises(Exception, match="REINGEST_MAX_TAIL_ROWS"):
        firehose.reingest(split_df, max_attempts=5, threshold=10).collect()
    # at the bound the pass runs: sz 3 each, so three fit bin 1
    at_bound = spark.createDataFrame(rows[:4], split_df.schema)
    got = firehose.reingest(at_bound, max_attempts=5, threshold=10).collect()
    assert sorted(r["attempts"] for r in got) == [2, 2, 2, 3]


def _tri_sink_inputs(spark, tmp_path):
    """A three-record micro-batch (data, control, bare) read from one
    parquet file, and the sink paths of a delivery run under
    ``tmp_path``."""
    import base64
    import gzip
    import json

    from ex_aws_firehose_spark.streaming.pipeline import SinkPaths

    def enc(payload):
        return base64.b64encode(gzip.compress(json.dumps(payload).encode())).decode()

    env = {
        "messageType": "DATA_MESSAGE",
        "logEvents": [{"id": "1", "timestamp": 1, "message": "Hello"}],
    }
    rows = [
        (0, "rec-0", enc(env)),
        (1, "rec-1", enc({**env, "messageType": "CONTROL_MESSAGE"})),
        (2, "rec-2", enc("bare")),
    ]
    src = str(tmp_path / "source")
    spark.createDataFrame(
        rows, "idx long, record_id string, data string"
    ).coalesce(1).write.parquet(src)
    routed = str(tmp_path / "routed")
    paths = SinkPaths(
        source=src,
        routed=routed,
        primary=routed + "/result=Ok",
        backup=str(tmp_path / "backup"),
        errors=routed + "/result=ProcessingFailed",
        checkpoint=str(tmp_path / "checkpoint"),
    )
    return spark.read.parquet(src), paths


def test_tri_sink_batch_two_jobs_no_shuffle(spark, tmp_path):
    """One delivery micro-batch is exactly two jobs (backup write,
    routed write), both in the caller's job group, and the routed write
    has no exchange, no join and no Python evaluation node: the gunzip
    runs in the JVM. A return to the explode/join-back route (4 jobs,
    4 gzip decodes) or to a Python codec fails here, and so does a
    backup write on a thread that drops the caller's local properties."""
    from ex_aws_firehose_spark.plans.audit import PYTHON_EVAL
    from ex_aws_firehose_spark.streaming.pipeline import tri_sink_batch

    batch, paths = _tri_sink_inputs(spark, tmp_path)
    sc = spark.sparkContext
    group = f"tri_sink_structure_{tmp_path.name}"
    sc.setJobGroup(group, group)
    try:
        tri_sink_batch(batch, 0, paths)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 2
    # The two writes run concurrently, so either can be the last SQL
    # execution: pick the routed write by its partition column and path.
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    plan = next(
        p
        for p in (
            execs.apply(i).physicalPlanDescription()
            for i in reversed(range(execs.size()))
        )
        if '__partition_columns=["result"]' in p and paths.routed in p
    )
    assert PYTHON_EVAL.findall(plan) == [] and "firehose_gunzip" in plan, plan
    assert "Exchange" not in plan and "Join" not in plan, plan
    assert spark.read.parquet(paths.routed).count() == 3


def test_tri_sink_batch_backup_failure_is_loud(spark, tmp_path):
    """A backup write that fails re-raises from ``tri_sink_batch`` after
    the routed write has finished, and the backup thread is joined, not
    left running: a batch whose backup sink lost its rows must not
    commit."""
    from pyspark import InheritableThread

    from ex_aws_firehose_spark.streaming.pipeline import tri_sink_batch

    batch, paths = _tri_sink_inputs(spark, tmp_path)
    with open(paths.backup, "w") as f:  # a file where the backup dir goes
        f.write("not a directory")
    with pytest.raises(Exception) as info:
        tri_sink_batch(batch, 0, paths)
    assert "backup" in str(info.value), info.value
    alive = [t for t in threading.enumerate() if isinstance(t, InheritableThread)]
    assert alive == [], alive
    assert spark.read.parquet(paths.routed).count() == 3


def test_bradley_terry_fold_matches_loop(spark, sf_dir):
    """Round 15: the BT MM rounds run as ONE aggregate() expression
    (_bt_fold). Bit-equivalence against the literal per-round loop
    (the round-14 execution: per-i integer-div denominators, mean-1e6
    renormalization) on a synthetic tournament with asymmetric win
    counts, an undefeated contestant, and a winless one — the shapes
    where integer-div truncation differences would show."""
    from pyspark.sql import functions as F

    from ex_aws_firehose_spark.operators.llm import _BT_ROUNDS, _bt_fold

    rows = [  # (i, j, g, wi): g games of i vs j, wi wins for i
        # asymmetric but non-degenerate (every contestant wins some
        # games — a winless contestant drives its rating to 0 and the
        # MM update itself divides by zero, in the loop and the fold
        # alike, so that regime is outside the operator's domain)
        ("a", "b", 50, 41), ("b", "a", 50, 9),
        ("a", "c", 30, 12), ("c", "a", 30, 18),
        ("b", "c", 70, 33), ("c", "b", 70, 37),
        ("c", "d", 20, 11), ("d", "c", 20, 9),
        ("b", "d", 15, 8), ("d", "b", 15, 7),
    ]
    pairs = spark.createDataFrame(rows, "i string, j string, g long, wi long")
    tot = pairs.groupBy("i").agg(
        F.sum("g").alias("games"), F.sum("wi").alias("wins")
    )
    got = {r["i"]: r["r"] for r in _bt_fold(pairs, tot).collect()}

    # reference: the literal per-round loop in plain integer python
    g = {(i, j): gg for i, j, gg, _w in rows}
    wins = {r["i"]: r["wins"] for r in tot.collect()}
    rat = {i: 1_000_000 for i in wins}
    for _ in range(_BT_ROUNDS):
        u = {
            i: 1_000_000 * wins[i]
            // sum(
                gg * 1_000_000 // (rat[i] + rat[j])
                for (pi, j), gg in g.items()
                if pi == i
            )
            for i in wins
        }
        s = sum(u.values())
        rat = {i: u[i] * 5_000_000 // s for i in u}

    assert got == rat, (got, rat)
