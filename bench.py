"""Benchmark harness: run every registered query at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and print ONE
JSON line:  {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {key: sec, ...}, "sf": ...}

The round driver captures only the LAST 2000 CHARACTERS of stdout and
parses the JSON out of that tail — a per-query dict over the full
100+-key registry serializes to ~3 KB and overflows it (round 1's bench
recorded ``parsed: null`` for exactly this reason). So stdout carries a
compact line: the total, registry size, and per-query seconds for a
fixed HEADLINE subset covering every SURVEY §2 family; the full
per-query map is written to BENCH_DETAIL.json (committed per round,
referenced from BASELINE.md). The line length is enforced (<1900 chars)
by trimming trailing headline entries if it ever grows past the budget.

Each query is timed as a full materialization through the ``noop``
batch sink — unlike ``count()``, which lets Catalyst prune every
projected expression and would time map-only queries as bare row
counts, the noop write evaluates every output column and row without
driver-side transfer. A warm-up pass primes the JVM/code-cache before
the timed pass.
"""

from __future__ import annotations

import json
import os
import sys
import time

import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from ex_aws_firehose_spark.registry import REGISTRY, load_all_operators
from ex_aws_firehose_spark.session import get_spark

# One representative (and every historically slow) key per §2 family.
HEADLINE = [
    "q_sql_flagship",
    "q_decode_chain",
    "q_reassemble_concat",
    "q_route_message_type",
    "q_reingest_retry",
    "q_size_overflow_split",
    "q_join_inner_equi",
    "q_join_bucketed",
    "q_join_asof",
    "q_join_skew_salted",
    "q_agg_hash",
    "q_agg_percentile",
    "q_window_rank",
    "q_window_range_time",
    "q_sort_limit_topk",
    "q_pivot",
    "q_grouping_sets",
    "q_dedup_exact",
    "q_dedup_minhash",
    "q_dedup_simhash",
    "q_dedup_ngram_jaccard",
    "q_dedup_embedding",
    "q_dedup_clusters",
    "q_dedup_prefix_filter",
    "q_tpch_q1",
    "q_tpch_q5",
    "q_tpch_q6",
    "q_layout_zorder",
    "q_graph_triangles",
    "q_quality_gopher_rules",
    "q_recursive_cte",
    "q_sim_knn_graph",
    "q_sim_cosine_topk",
    "q_sim_ann_ivf",
    "q_sim_pairwise_join",
    "q_text_stats",
    "q_text_tfidf_topterms",
    "q_pack_sequences",
    "q_curate_corpus",
    "q_embed_centroid",
    "q_multimodal_decode",
    "q_multimodal_dedup",
    "q_stream_dual_sink",
    "q_stream_stateful_count",
    "q_stream_stream_join",
    "q_stream_dedup",
    "src_format_jsonl_gz",
    "src_partitioned_pruning",
]

MAX_LINE = 1900  # hard budget: driver tail is 2000 chars


def _warmup_codegen_battery(spark) -> None:
    """One cheap representative plan per operator family, run under an
    attributed ``_warmup_codegen`` prelude row BEFORE the timed loop.

    Why (VERDICT r14 item 1 / OPTIMIZATION_r14.md entries 14-15):
    first-use Catalyst analysis + whole-stage-codegen compilation of an
    operator family lands on whichever early bench key touches the
    family first — q_ab_fdr_bh (bench position 2) read 12-15 s in full
    benches vs 0.9-1.0 s warm, purely from absorbing the agg/join
    family's first-touch JIT. This battery runs each family once over
    ~128 synthetic range rows (no testdata dependency, nothing reused
    by any query — the cost is compilation, not data), so the charge
    appears as its own named row instead of polluting early keys.
    """
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    def noop(df):
        df.write.format("noop").mode("overwrite").save()

    r = spark.range(128).select(
        "id",
        (F.col("id") % 7).alias("k"),
        (F.col("id") % 3).cast("string").alias("g"),
        F.col("id").cast("double").alias("x"),
    )
    s = spark.range(64).select(
        (F.col("id") % 7).alias("k"), F.col("id").alias("v")
    )
    # join + hash-agg family (broadcast build, then sort-merge)
    noop(
        r.join(F.broadcast(s), "k")
        .groupBy("g")
        .agg(F.sum("v"), F.avg("x"), F.count("*"))
    )
    noop(r.join(s.hint("merge"), "k").select("id", "v"))
    # distinct-expand + object hash agg (collect_list)
    noop(r.groupBy("g").agg(F.countDistinct("k"), F.collect_list("k")))
    # window family: ranking + running frame over one partitioning
    wr = W.partitionBy("g").orderBy("id")
    noop(
        r.select(
            F.row_number().over(wr).alias("rn"),
            F.sum("x").over(wr.rowsBetween(W.unboundedPreceding, 0)).alias("cs"),
        )
    )
    # generate (explode) + higher-order array expression families
    arr = F.sequence(F.lit(0), (F.col("id") % 4).cast("int"))
    noop(r.select("g", F.posexplode(arr)).groupBy("pos").count())
    noop(
        r.select(
            F.aggregate(arr, F.lit(0).cast("long"), lambda a, b: a + b).alias("s")
        )
    )
    # expand (rollup), pivot, global sort + limit (TakeOrdered)
    noop(r.rollup("g", "k").count())
    noop(r.groupBy("g").pivot("k", list(range(7))).agg(F.sum("x")))
    noop(r.orderBy(F.desc("x")).limit(5))
    # Python boundary: ArrowEvalPython, FlatMapGroupsInPandas, MapInArrow
    @F.pandas_udf("double")
    def _twice(v: pd.Series) -> pd.Series:
        return v * 2.0

    noop(r.select(_twice("x")))
    noop(
        r.groupBy("g").applyInPandas(
            lambda pdf: pdf[["g"]].head(1), schema="g string"
        )
    )
    noop(r.select("id").mapInArrow(lambda it: it, schema="id long"))


def preludes(spark, sf_dir: str):
    """Yield bench.py's ``(row name, thunk)`` prelude rows in order.

    Family-ordered prelude (VERDICT r11 ask #5): session-cached index
    TRAINING is timed under its own named row instead of being charged
    to whichever alphabetically-first key happens to call it
    (q_eval_average_precision was paying the whole IVF/PQ training
    bill). The training frames are eager (localCheckpoint'd), so
    calling the trainers materializes them. tools/opt_probe.py runs the
    same rows so per-key timings see the bench's session-cache state.
    """
    from ex_aws_firehose_spark.operators.llm import (
        ADC_K,
        ADC_M,
        INC_ADD_MOD,
        _top_pc_frames,
        graph_ann_build,
        ivf_train,
        minhash_sig_frame,
        pq_train,
        shingle_card,
        shingle_pair_counts,
        star_components,
    )
    from ex_aws_firehose_spark.operators.scale import (
        co_edges,
        sym_edges,
        wedge_frames,
    )

    # Attributed codegen warm-up battery (VERDICT r15 item 1): must run
    # FIRST so the trainer preludes and early keys below don't absorb
    # operator-family first-touch compilation.
    yield "_warmup_codegen", lambda: _warmup_codegen_battery(spark)
    yield "_train_ivf_codebook", lambda: ivf_train(spark, sf_dir)
    yield "_train_pq_codebook", lambda: pq_train(spark, sf_dir, ADC_M, ADC_K)
    # the PQ_M/PQ_K default-family training (q_embed_pq_codes /
    # q_embed_opq_rotate) caches under a different key than the
    # ADC_M/ADC_K row above
    yield "_train_pq_codebook_default", lambda: pq_train(spark, sf_dir)
    # top-PC Gram pass + power iteration (q_embed_top_pc /
    # q_embed_pca_residual / q_embed_opq_rotate)
    yield "_build_top_pc", lambda: _top_pc_frames(spark, sf_dir)
    yield "_build_graph_ann_index", lambda: graph_ann_build(spark, sf_dir)
    # The where-filtered base fixtures (r12 ask #6): the incremental
    # add/delete/compact keys train on the batchless / tombstone-free
    # base, which misses the unfiltered cache above — without these
    # rows the first such key eats the whole filtered-training bill.
    base_w = f"vec_id % {INC_ADD_MOD} != {INC_ADD_MOD - 1}"
    yield "_train_ivf_codebook_filtered", lambda: ivf_train(
        spark, sf_dir, where=base_w
    )
    yield "_train_pq_codebook_filtered", lambda: pq_train(
        spark, sf_dir, ADC_M, ADC_K, where=base_w
    )
    yield "_build_graph_ann_index_filtered", lambda: graph_ann_build(
        spark, sf_dir, where=base_w
    )
    # Shared thresholded co-occurrence edge list (round 14): nine graph
    # keys derive from it; the one persisted build is timed here
    # instead of being charged to q_graph_adamic_adar (the
    # alphabetically-first consumer). count() materializes the persist
    # exactly as the first consumer would.
    yield "_build_co_edges", lambda: co_edges(spark, sf_dir).count()
    # Round-14: the symmetrized adjacency over co_edges, shared by
    # k-core / two-hop / link-prediction / adamic-adar /
    # label-propagation / assortativity.
    yield "_build_sym_edges", lambda: sym_edges(spark, sf_dir).count()
    # Round-14: the degree-ordered wedge/closure chain over co_edges,
    # shared by q_graph_triangles and q_graph_local_clustering
    # (counting `closed` materializes the oriented → wedges → closed
    # persists in one pass).
    yield "_build_wedges", lambda: wedge_frames(spark, sf_dir)[
        "closed"
    ].count()
    # Round-14 shared dedup fixtures (same attribution device): the
    # corpus minhash signature table, the shingle pair-count /
    # cardinality frames, and the star-CC labels over the minhash pair
    # graph — each previously rebuilt per consuming key.
    yield "_build_minhash_sig", lambda: minhash_sig_frame(
        spark, sf_dir
    ).count()
    yield "_build_shingle_pairs", lambda: (
        shingle_pair_counts(spark, sf_dir).count(),
        shingle_card(spark, sf_dir).count(),
    )
    yield "_build_star_components", lambda: star_components(
        spark, sf_dir
    )[0].count()


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf_str = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    try:
        sf: float | str = float(sf_str)
    except ValueError:
        sf = sf_str
    load_all_operators()
    spark = get_spark(app_name="ex-aws-firehose-spark-bench")
    spark.sparkContext.setLogLevel("ERROR")

    def materialize(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    # Warm up the JVM / whole-stage-codegen compiler on a cheap query.
    try:
        materialize(REGISTRY["q_scan_project"].fn(spark, sf_dir))
    except Exception as exc:
        print(f"bench: warm-up failed: {exc}", file=sys.stderr)

    timings: dict[str, float] = {}

    for key, thunk in preludes(spark, sf_dir):
        t0 = time.perf_counter()
        try:
            thunk()
            timings[key] = round(time.perf_counter() - t0, 3)
        except Exception as exc:
            timings[key] = -1.0
            print(f"bench: prelude {key} failed: {exc}", file=sys.stderr)
    for key in sorted(REGISTRY):
        fn = REGISTRY[key].fn
        t0 = time.perf_counter()
        try:
            materialize(fn(spark, sf_dir))
            timings[key] = round(time.perf_counter() - t0, 3)
        except Exception as exc:  # never let one query sink the bench
            timings[key] = -1.0
            print(f"bench: {key} failed: {exc}", file=sys.stderr)

    total = round(sum(t for t in timings.values() if t >= 0), 3)
    # registry keys only — the _-prefixed prelude rows are attribution
    # devices, not queries (their seconds still count in the total);
    # their failures are likewise tracked apart from n_failed so both
    # counters read against the same population (ADVICE r12).
    n_failed = sum(
        1 for k, t in timings.items() if t < 0 and not k.startswith("_")
    )
    n_prelude_failed = sum(
        1 for k, t in timings.items() if t < 0 and k.startswith("_")
    )
    n_queries = sum(1 for k in timings if not k.startswith("_"))
    # Stream keys carry fixed Structured-Streaming machinery cost
    # (checkpoint dirs, micro-batch scheduling) that is ~flat in SF;
    # split them out so the batch rate is readable on its own.
    stream_total = round(
        sum(
            t
            for k, t in timings.items()
            if t >= 0 and k.startswith(("q_stream_", "src_stream", "src_test", "sink_"))
        ),
        3,
    )
    batch_total = round(total - stream_total, 3)

    detail = {
        "metric": "total_query_wall_clock",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "n_queries": n_queries,
        "n_failed": n_failed,
        "n_prelude_failed": n_prelude_failed,
        "batch_total": batch_total,
        "stream_total": stream_total,
    }
    detail_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json"
    )
    try:
        with open(detail_path, "w") as f:
            json.dump(detail, f, indent=1, sort_keys=True)
        print(f"bench: full per-query detail -> {detail_path}", file=sys.stderr)
    except OSError as exc:
        print(f"bench: could not write detail file: {exc}", file=sys.stderr)

    headline = {
        k: round(timings[k], 2) for k in HEADLINE if k in timings
    }
    summary = {
        "metric": "total_query_wall_clock",
        "value": total,
        "unit": "sec",
        "queries": headline,
        "sf": sf,
        "n_queries": n_queries,
        "n_failed": n_failed,
        "n_prelude_failed": n_prelude_failed,
        "batch_total": batch_total,
        "stream_total": stream_total,
        "detail": "BENCH_DETAIL.json",
    }
    line = json.dumps(summary, separators=(",", ":"))
    while len(line) > MAX_LINE and summary["queries"]:
        summary["queries"].popitem()
        line = json.dumps(summary, separators=(",", ":"))
    print(line)
    spark.stop()


if __name__ == "__main__":
    main()
