"""Scale-pattern operator surface ([EXT], SURVEY.md §2.4 extension):
the composite shapes that only matter once a table stops fitting on one
machine — CDC snapshot reconciliation, mergeable exact/approximate
sketch rollups, data-layout (zone-map) auditing, fixed-point iterative
graph analytics, and an explicit bloom-prefiltered join.

Mandated by ``repo:BASELINE.json`` ("design every operator for 100 TB
scale") rather than the reference (which has no relational surface —
see SURVEY.md §2.4 preamble). Every operator is a pure DataFrame
composition except the Misra–Gries sketch, which is the canonical
"mergeable summary" shape: per-partition ``mapInPandas`` sketches merged
once — the raw data is never shuffled.

Cross-engine determinism rules (see operators/relational.py:13): money
in exact int64 cents, iterative math in scaled *integer* arithmetic
(``div``), aggregate oracles wrapped ``CAST(... AS BIGINT)`` so DuckDB's
HUGEINT widening never leaks into the driver's dtype-sensitive hash.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ex_aws_firehose_spark.caching import session_cached
from ex_aws_firehose_spark.operators.relational import _cents
from ex_aws_firehose_spark.registry import query
from ex_aws_firehose_spark.tables import fixpoint, load_table

# DuckDB reads the raw ns-precision event timestamps; Spark reads µs
# (see operators/relational.py EVENTS_US).
EVENTS_US = (
    "WITH events_us AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, "
    "event_type, value, props FROM events)"
)


# ---------------------------------------------------------------------------
# CDC snapshot reconciliation
# ---------------------------------------------------------------------------


@query(
    "q_cdc_snapshot_diff",
    oracle="""
    WITH old_snap AS (
        SELECT o_orderkey, CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders WHERE o_orderkey % 7 <> 0
    ),
    new_snap AS (
        SELECT o_orderkey,
               CAST(ROUND(o_totalprice * 100) AS BIGINT)
               + CASE WHEN o_orderkey % 3 = 0 THEN 100 ELSE 0 END AS cents
        FROM orders WHERE o_orderkey % 5 <> 0
    )
    SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS o_orderkey,
           CASE WHEN o.o_orderkey IS NULL THEN 'insert'
                WHEN n.o_orderkey IS NULL THEN 'delete'
                ELSE 'update' END AS change_type,
           o.cents AS old_cents,
           n.cents AS new_cents
    FROM old_snap o FULL OUTER JOIN new_snap n ON o.o_orderkey = n.o_orderkey
    WHERE o.o_orderkey IS NULL OR n.o_orderkey IS NULL OR o.cents <> n.cents
    """,
    tags=("scale", "cdc"),
)
def q_cdc_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-diff CDC: reconcile two point-in-time table images into
    an insert/update/delete changelog — the standard way to bootstrap
    CDC when the source has no log (and the inverse of
    q_upsert_compact, which folds a changelog back into an image).

    Two deterministic snapshots are derived from `orders` (key-modulo
    membership simulates deletes/inserts; a price nudge on key%3
    simulates updates), then reconciled with one full-outer join on the
    primary key and a three-way CASE. Unchanged rows are dropped
    *after* the join by a cheap column compare.

    100 TB shape: a full-outer join cannot broadcast — both snapshots
    hash-shuffle on the key once, and that is the entire cost. With
    both snapshots bucketed by key at write time (q_join_bucketed
    pattern) the diff is exchange-free. State never accumulates — this
    is the restartable batch alternative to streaming CDC."""
    o = load_table(spark, sf_dir, "orders")
    old_snap = (
        o.filter(F.col("o_orderkey") % 7 != 0)
        .select("o_orderkey", _cents("o_totalprice").alias("old_cents"))
    )
    new_snap = (
        o.filter(F.col("o_orderkey") % 5 != 0)
        .select(
            "o_orderkey",
            (
                _cents("o_totalprice")
                + F.when(F.col("o_orderkey") % 3 == 0, F.lit(100)).otherwise(0)
            ).alias("new_cents"),
        )
    )
    joined = old_snap.withColumnRenamed("o_orderkey", "old_key").join(
        new_snap.withColumnRenamed("o_orderkey", "new_key"),
        F.col("old_key") == F.col("new_key"),
        "full_outer",
    )
    return (
        joined.withColumn(
            "change_type",
            F.when(F.col("old_key").isNull(), "insert")
            .when(F.col("new_key").isNull(), "delete")
            .otherwise("update"),
        )
        .filter(
            F.col("old_key").isNull()
            | F.col("new_key").isNull()
            | (F.col("old_cents") != F.col("new_cents"))
        )
        .select(
            F.coalesce("old_key", "new_key").alias("o_orderkey"),
            "change_type",
            "old_cents",
            "new_cents",
        )
    )


# ---------------------------------------------------------------------------
# Mergeable sketch rollups
# ---------------------------------------------------------------------------


@query(
    "q_sketch_bitmap_rollup",
    oracle=EVENTS_US
    + """
    SELECT date_trunc('day', ts) AS day,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events_us GROUP BY 1
    UNION ALL
    SELECT CAST(NULL AS TIMESTAMP) AS day,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events_us
    """,
    tags=("scale", "sketch"),
)
def q_sketch_bitmap_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact mergeable distinct-count rollup via roaring-style bitmaps —
    the precise counterpart of q_sketch_hll_union: per-day user bitmaps
    (`bitmap_construct_agg` over `bitmap_bit_position`, bucketed every
    32 Ki ids) are OR-merged (`bitmap_or_agg`) into an all-days total
    *without touching raw events again*. Emitted as per-day rows plus a
    NULL-day grand-total row, so the oracle can recompute both grains
    from scratch — proving the merge loses nothing.

    100 TB shape: raw events aggregate once into |days|×|id-buckets|
    bitmap rows (a few KB each); every coarser grain (week / month /
    lifetime) re-aggregates those sketches, shuffling kilobytes instead
    of terabytes. This is the materialized-rollup pattern for exact
    COUNT(DISTINCT) over dense integer keys; HLL (q_sketch_hll_union)
    is the fallback when keys aren't dense integers."""
    e = load_table(spark, sf_dir, "events")
    sketch = (
        e.select(F.date_trunc("day", "ts").alias("day"), "user_id")
        .groupBy("day", F.expr("bitmap_bucket_number(user_id)").alias("bkt"))
        .agg(
            F.expr("bitmap_construct_agg(bitmap_bit_position(user_id))").alias(
                "bm"
            )
        )
    )
    daily = sketch.groupBy("day").agg(
        F.expr("CAST(sum(bitmap_count(bm)) AS BIGINT)").alias("n_users")
    )
    total = (
        sketch.groupBy("bkt")
        .agg(F.expr("bitmap_or_agg(bm)").alias("bm"))
        .agg(F.expr("CAST(sum(bitmap_count(bm)) AS BIGINT)").alias("n_users"))
        .select(F.lit(None).cast("timestamp").alias("day"), "n_users")
    )
    return daily.unionByName(total)


_MG_CAPACITY = 64


def _mg_compress(counters: dict[int, int]) -> dict[int, int]:
    """Misra–Gries compression: decrement all counters by the (k+1)-th
    largest so at most k stay positive. Total undercount across all
    merges is bounded by N/(k+1) (Agarwal et al., "Mergeable
    Summaries", PODS'12)."""
    if len(counters) <= _MG_CAPACITY:
        return counters
    cut = sorted(counters.values(), reverse=True)[_MG_CAPACITY]
    return {k: v - cut for k, v in counters.items() if v > cut}


def _mg_partial(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    counters: dict[int, int] = {}
    for pdf in batches:
        for hk, c in pdf["hk"].value_counts().items():
            counters[int(hk)] = counters.get(int(hk), 0) + int(c)
        counters = _mg_compress(counters)
    yield pd.DataFrame(
        {
            "hk": pd.Series(list(counters), dtype="int64"),
            "cnt": pd.Series(list(counters.values()), dtype="int64"),
        }
    )


def _mg_merge(pdf: pd.DataFrame) -> pd.DataFrame:
    agg = pdf.groupby("hk")["cnt"].sum().to_dict()
    agg = _mg_compress({int(k): int(v) for k, v in agg.items()})
    return pd.DataFrame({"hk": pd.Series(sorted(agg), dtype="int64")})


@query(
    "q_sketch_heavy_hitters",
    oracle="""
    WITH keyed AS (
        SELECT CAST(FLOOR(SQRT(CAST(event_id % 10000 AS DOUBLE))) AS BIGINT)
               AS hk
        FROM events
    ),
    exact AS (
        SELECT hk, CAST(COUNT(*) AS BIGINT) AS exact_cnt
        FROM keyed GROUP BY hk
    ),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM keyed)
    SELECT hk, exact_cnt, TRUE AS found
    FROM exact, tot WHERE exact_cnt * 65 > n_total
    """,
    tags=("scale", "sketch", "udf"),
)
def q_sketch_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Misra–Gries heavy hitters as a mergeable per-partition sketch:
    each partition streams its rows through a capacity-64 counter map
    (`mapInPandas`, constant memory), the ≤64-row partials are merged
    once (`applyInPandas` on a single group), and the survivors form
    the candidate set. The MG guarantee — every key with true frequency
    > N/(k+1) survives any merge order — is the oracle-checked
    contract: Spark joins the candidates against exact counts and emits
    (key, exact_cnt, found) for every key above N/65; DuckDB recomputes
    that set with found=TRUE. A missed hitter would surface as
    found=false and fail the hash gate.

    The synthetic key floor(sqrt(event_id % 10000)) gives a linear-
    density 100-key domain (count(j) ∝ 2j+1) so evictions actually
    fire; real corpora (token frequencies at 100 TB) are Zipfian and
    favor this sketch even more.

    100 TB shape: the raw table never shuffles — each executor emits 64
    rows regardless of input size, the merge handles |partitions|×64
    rows on one task, and the exact-count verification (here part of
    the contract) is exactly the expensive full groupBy the sketch
    replaces in production."""
    e = load_table(spark, sf_dir, "events")
    keyed = e.select(
        F.floor(F.sqrt((F.col("event_id") % 10000).cast("double")))
        .cast("long")
        .alias("hk")
    )
    partials = keyed.mapInPandas(_mg_partial, schema="hk long, cnt long")
    cands = (
        partials.groupBy(F.lit(1).alias("g"))
        .applyInPandas(_mg_merge, schema="hk long")
        .withColumn("found", F.lit(True))
    )
    exact = keyed.groupBy("hk").agg(F.count("*").alias("exact_cnt"))
    tot = keyed.agg(F.count("*").alias("n_total"))
    return (
        exact.crossJoin(F.broadcast(tot))
        .filter(F.col("exact_cnt") * 65 > F.col("n_total"))
        .join(F.broadcast(cands), "hk", "left")
        .select(
            "hk",
            "exact_cnt",
            F.coalesce("found", F.lit(False)).alias("found"),
        )
    )


# ---------------------------------------------------------------------------
# Data-layout (zone-map) audit
# ---------------------------------------------------------------------------

_ZM_DATE_LO, _ZM_DATE_HI = "1997-01-01 00:00:00", "1997-03-31 00:00:00"
_ZM_KEY_LO, _ZM_KEY_HI = 1000, 2000


@query(
    "q_layout_zonemap_audit",
    oracle=f"""
    SELECT date_trunc('month', o_orderdate) AS month,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(MIN(o_orderkey) AS BIGINT) AS min_key,
           CAST(MAX(o_orderkey) AS BIGINT) AS max_key,
           (MAX(o_orderdate) < TIMESTAMP '{_ZM_DATE_LO}'
            OR MIN(o_orderdate) > TIMESTAMP '{_ZM_DATE_HI}')
               AS prunable_by_date,
           (MAX(o_orderkey) < {_ZM_KEY_LO}
            OR MIN(o_orderkey) > {_ZM_KEY_HI}) AS prunable_by_key
    FROM orders GROUP BY 1
    """,
    tags=("scale", "layout"),
)
def q_layout_zonemap_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map / clustering-layout audit: partition the table into its
    physical-layout buckets (month of o_orderdate — the natural
    ingestion partitioning) and compute each bucket's min/max
    statistics, then evaluate which buckets a given predicate could
    skip. Two probe predicates demonstrate the payoff asymmetry: a
    3-month date range prunes every bucket outside it (date is the
    clustering key — zone maps are tight), while an o_orderkey range
    prunes ~nothing (orderkey is uncorrelated with layout — every
    bucket's [min,max] straddles the probe).

    This is exactly the min/max footer pruning parquet / Iceberg / Delta
    do per file; run as a query it audits whether the *current* layout
    serves the workload, and quantifies what re-clustering (Z-order /
    range-sort by the hot predicate column) would buy.

    100 TB shape: one hash aggregate over the scan at |buckets|
    cardinality — the audit itself is a map-side-combinable pass that
    never moves row data, so it's safe to run on the full table."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy(F.date_trunc("month", "o_orderdate").alias("month")).agg(
        F.count("*").alias("n_rows"),
        F.min("o_orderkey").alias("min_key"),
        F.max("o_orderkey").alias("max_key"),
        (
            (F.max("o_orderdate") < F.lit(_ZM_DATE_LO).cast("timestamp"))
            | (F.min("o_orderdate") > F.lit(_ZM_DATE_HI).cast("timestamp"))
        ).alias("prunable_by_date"),
        (
            (F.max("o_orderkey") < F.lit(_ZM_KEY_LO))
            | (F.min("o_orderkey") > F.lit(_ZM_KEY_HI))
        ).alias("prunable_by_key"),
    )


# ---------------------------------------------------------------------------
# Fixed-point iterative graph analytics
# ---------------------------------------------------------------------------

_PR_SCALE = 1_000_000_000_000
_PR_ITERS = 5


def _pagerank_step_sql(prev: str) -> str:
    return f"""
    SELECT nd.node,
           ({_PR_SCALE} * 15) // (100 * nn.n)
           + (85 * COALESCE(c.s, 0)) // 100 AS rank
    FROM nodes nd CROSS JOIN nn
    LEFT JOIN (
        SELECT e.dst AS node, CAST(SUM((p.rank * e.w) // o.ow) AS BIGINT) AS s
        FROM {prev} p
        JOIN edges e ON p.node = e.src
        JOIN outw o ON o.src = e.src
        GROUP BY e.dst
    ) c ON c.node = nd.node
    """


_PR_ORACLE = (
    """
    WITH edges AS (
        SELECT c.c_nationkey AS src, s.s_nationkey AS dst,
               CAST(COUNT(*) AS BIGINT) AS w
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        GROUP BY 1, 2
    ),
    outw AS (SELECT src, CAST(SUM(w) AS BIGINT) AS ow FROM edges GROUP BY src),
    nodes AS (SELECT n_nationkey AS node FROM nation),
    nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nodes),
    r0 AS (SELECT node, """
    + f"{_PR_SCALE} // nn.n AS rank FROM nodes, nn),"
    + ",".join(
        f"r{i + 1} AS ({_pagerank_step_sql(f'r{i}')})" for i in range(_PR_ITERS)
    )
    + f" SELECT node, rank FROM r{_PR_ITERS}"
)


def _trade_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The nation trade graph shared by PageRank, BFS, shortest path
    and HITS: customer-nation → supplier-nation edges weighted by
    co-occurring lineitems (src, dst, w). Dimensions are broadcast;
    the lineitem ⋈ orders join is the only fact-scale work. A lazy
    frame, not session-cached: each consumer derives and materializes
    its own edge list from it."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), F.col("o_custkey") == c.c_custkey)
        .join(F.broadcast(s), F.col("l_suppkey") == s.s_suppkey)
        .groupBy(
            F.col("c_nationkey").alias("src"), F.col("s_nationkey").alias("dst")
        )
        .agg(F.count("*").alias("w"))
    )


@query("q_graph_pagerank", oracle=_PR_ORACLE, tags=("scale", "graph"))
def q_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-point PageRank over the trade graph (customer-nation →
    supplier-nation edges, weight = co-occurring lineitems), 5 damped
    power iterations. All rank math is scaled *integer* arithmetic
    (`div` floor-division on 1e-12 rank units) so Spark and DuckDB's
    unrolled-CTE oracle agree bit-for-bit — float summation order can
    never flip a result. Dangling mass (nodes with no out-edges) is
    dropped, documented and mirrored on both sides.

    Structure (round 14): the edge list is built once with three joins
    (dims broadcast) — the only fact-scale work — and the five damped
    iterations then run as ONE ``aggregate(sequence(1, 5), …)``
    expression over the collected (src, dst, w, ow) edge array: the
    rank vector is a 25-slot array indexed by nation key, each step a
    ``transform`` whose per-node credit folds the node's in-edges with
    the identical per-edge floor division. The nation graph's state is
    CONSTANT-size (|nodes| = 25 at every SF — nations, not users), so
    the old per-iteration loop of 5 broadcast joins + 5 hash aggs
    (~11 scheduler-bound stages of ≤ 625-row work, measured 3.5-4 s
    warm) collapses into one projection (1.1-1.7 s warm, identical 25
    output rows) — guide §8: decide with small rows; the lambda-bound
    accumulator keeps the expression tree linear in ITERS where naive
    per-step substitution explodes exponentially.

    100 TB shape: rank state is |nodes| rows and edges are |nodes|²
    max — both metadata-grain relative to the fact table that *built*
    them; the expensive part (edge extraction) runs exactly once and
    stays a distributed join+agg. For web-scale graphs (|nodes| beyond
    one array) the loop form applies: edges hash-partitioned by src,
    ranks co-partitioned, checkpointing every few iterations — the
    mechanism q_graph_hits / _lp_state still demonstrate."""
    edges = _trade_edges(spark, sf_dir)
    outw = edges.groupBy("src").agg(F.sum("w").alias("ow"))
    ew = edges.join(outw, "src")

    eagg = ew.agg(F.collect_list(F.struct("src", "dst", "w", "ow")).alias("E"))
    nodes = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("node")
    )
    nagg = nodes.agg(
        F.sort_array(F.collect_list("node")).alias("NODES"),
        F.count("*").alias("n"),
    )
    # element_at(r, src + 1) relies on NODES being the contiguous
    # 0..n-1 nation keys (sorted) — the same identification the
    # left-join form made through the node equi-join key.
    power = (
        f"aggregate(sequence(1, {_PR_ITERS}), "
        f"transform(NODES, nd -> {_PR_SCALE} div n), "
        "(r, it) -> transform(NODES, nd -> "
        f"(({_PR_SCALE} * 15) div (100 * n)) + "
        "(85 * aggregate(filter(E, e -> e.dst = nd), cast(0 as bigint), "
        "(acc, e) -> acc + (element_at(r, cast(e.src as int) + 1) * e.w)"
        " div e.ow)) div 100))"
    )
    row = eagg.crossJoin(F.broadcast(nagg)).withColumn("r", F.expr(power))
    return row.select(
        F.explode(F.arrays_zip("NODES", "r")).alias("z")
    ).select(F.col("z.NODES").alias("node"), F.col("z.r").alias("rank"))


# ---------------------------------------------------------------------------
# Explicit bloom-prefiltered join
# ---------------------------------------------------------------------------

_BLOOM_M = 8192
_BLOOM_HASHES = ((2654435761, 7, 1000003), (40503, 11, 999983), (97, 101, 1000033))


def _bloom_pos(col: F.Column, a: int, b: int, p: int) -> F.Column:
    return ((col * a + b) % p) % _BLOOM_M


@query(
    "q_join_bloom_prefilter",
    oracle="""
    SELECT s.s_nationkey,
           CAST(SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)) AS BIGINT)
               AS revenue_cents,
           CAST(COUNT(*) AS BIGINT) AS n_items
    FROM lineitem l
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'EUROPE'
    GROUP BY 1
    """,
    tags=("scale", "join"),
)
def q_join_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-prefiltered selective join: revenue by European supplier
    nation, where the fact scan is prefiltered through an explicit
    3-hash bloom filter (m=8192, deterministic multiply-mod hashes)
    built from the ~1/5-selective dim key set before the real join
    runs. Each hash's occupied-position set is a tiny broadcast
    left-semi join, so fact rows missing from the dim are dropped at
    the scan with zero shuffle; blooms admit false positives but never
    false negatives, so the exact broadcast join after the prefilter
    yields the identical result the oracle computes with plain joins.

    This is a portable, engine-visible version of what Spark's runtime
    row-group/shuffle bloom filters (spark.sql.optimizer.runtime.
    bloomFilter, applied above ~10 GB creation thresholds — covered in
    tests/test_plans.py) inject automatically on real clusters.

    100 TB shape: the win is shuffle avoidance — with a 20%-selective
    dim, 80% of fact bytes never leave the scan stage. The position
    sets are O(m) regardless of fact size and ride the broadcast path;
    at larger dim cardinalities you'd raise m or switch to the built-in
    bloom_filter_agg sketch, same plan shape."""
    region = load_table(spark, sf_dir, "region").filter(
        F.col("r_name") == "EUROPE"
    )
    nation = load_table(spark, sf_dir, "nation").join(
        F.broadcast(region),
        F.col("n_regionkey") == F.col("r_regionkey"),
    )
    dim = (
        load_table(spark, sf_dir, "supplier")
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", "s_nationkey")
    )
    fact = load_table(spark, sf_dir, "lineitem").select(
        "l_suppkey", _cents("l_extendedprice").alias("cents")
    )
    pref = fact
    for i, (a, b, p) in enumerate(_BLOOM_HASHES):
        pos = dim.select(
            _bloom_pos(F.col("s_suppkey"), a, b, p).alias(f"pos{i}")
        ).distinct()
        pref = pref.withColumn(
            f"h{i}", _bloom_pos(F.col("l_suppkey"), a, b, p)
        ).join(
            F.broadcast(pos), F.col(f"h{i}") == F.col(f"pos{i}"), "left_semi"
        )
    return (
        pref.join(F.broadcast(dim), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_nationkey")
        .agg(
            F.sum("cents").alias("revenue_cents"),
            F.count("*").alias("n_items"),
        )
    )


@query(
    "q_sketch_histogram_quantile",
    oracle="""
    WITH e AS (
        SELECT CAST(ROUND(value * 100) AS BIGINT) AS cents,
               date_trunc('day', CAST(ts AS TIMESTAMP)) AS day
        FROM events
    ),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM e),
    daily AS (
        SELECT day, LEAST(cents // 1024, 63) AS bin,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM e GROUP BY 1, 2
    ),
    hist AS (SELECT bin, CAST(SUM(c) AS BIGINT) AS nb FROM daily GROUP BY 1),
    cumh AS (
        SELECT bin, SUM(nb) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS cum
        FROM hist
    ),
    pcts AS (SELECT * FROM (VALUES (50), (90)) AS t(p)),
    est AS (
        SELECT p, CAST(MIN(bin) * 1024 AS BIGINT) AS est_cents
        FROM pcts, cumh, tot WHERE cum * 100 >= p * n GROUP BY p
    ),
    vals AS (SELECT cents, CAST(COUNT(*) AS BIGINT) AS c FROM e GROUP BY 1),
    cumv AS (
        SELECT cents,
               SUM(c) OVER (ORDER BY cents ROWS UNBOUNDED PRECEDING) AS cum
        FROM vals
    ),
    exact AS (
        SELECT p, CAST(MIN(cents) AS BIGINT) AS exact_cents
        FROM pcts, cumv, tot WHERE cum * 100 >= p * n GROUP BY p
    )
    SELECT CAST(e1.p AS BIGINT) AS pct, e1.est_cents, e2.exact_cents,
           ((e2.exact_cents - e1.est_cents) BETWEEN 0 AND 1023) AS within_bin
    FROM est e1 JOIN exact e2 USING (p)
    """,
    tags=("scale", "sketch"),
)
def q_sketch_histogram_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-percentile rollup via fixed-bin histograms — the
    re-aggregatable answer to quantiles over pre-aggregated data:
    per-day 64-bin histograms (integer counts) sum into a range
    histogram, whose cumulative walk yields the p50/p90 bin lower edge
    as the estimate. The oracle-checked contract is the histogram
    error bound: the true order statistic (computed exactly from a
    domain-bounded value-count cumsum, same integer math both engines)
    must land inside the estimate's bin — within one 1024-cent bin
    width, by construction.

    Completes the mergeable-sketch family: HLL (q_sketch_hll_union)
    and bitmap (q_sketch_bitmap_rollup) for distincts, Misra–Gries
    (q_sketch_heavy_hitters) for frequencies, histograms for
    quantiles. Unlike percentile_approx's opaque sketch, histogram
    partials are plain (bin, count) rows — storable in any table and
    mergeable by SUM, which is what a 100 TB continuous-aggregate
    pipeline needs (percentile_approx cannot re-aggregate from stored
    state).

    100 TB shape: level-1 is one map-side-combinable agg at
    |days|×64 cardinality; every coarser range merges by SUM over
    kilobytes. The exact side's window runs at |distinct cents| ≤
    domain-bound rows (not |rows|) — and exists only to verify the
    contract; production reads the estimate."""
    e = load_table(spark, sf_dir, "events").select(
        F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
        F.date_trunc("day", "ts").alias("day"),
    )
    tot = e.agg(F.count("*").alias("n"))
    daily = e.groupBy(
        "day", F.least(F.expr("cents div 1024"), F.lit(63)).alias("bin")
    ).agg(F.count("*").alias("c"))
    hist = daily.groupBy("bin").agg(F.sum("c").alias("nb"))

    from pyspark.sql import Window

    w_bin = Window.orderBy("bin").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cumh = hist.withColumn("cum", F.sum("nb").over(w_bin))
    pcts = spark.createDataFrame([(50,), (90,)], "p int")
    est = (
        pcts.crossJoin(cumh)
        .crossJoin(F.broadcast(tot))
        .filter(F.col("cum") * 100 >= F.col("p") * F.col("n"))
        .groupBy("p")
        .agg((F.min("bin") * 1024).cast("long").alias("est_cents"))
    )
    vals = e.groupBy("cents").agg(F.count("*").alias("c"))
    w_val = Window.orderBy("cents").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cumv = vals.withColumn("cum", F.sum("c").over(w_val))
    exact = (
        pcts.crossJoin(cumv)
        .crossJoin(F.broadcast(tot))
        .filter(F.col("cum") * 100 >= F.col("p") * F.col("n"))
        .groupBy("p")
        .agg(F.min("cents").cast("long").alias("exact_cents"))
    )
    return (
        est.join(exact, "p")
        .select(
            F.col("p").cast("long").alias("pct"),
            "est_cents",
            "exact_cents",
            (F.col("exact_cents") - F.col("est_cents")).between(0, 1023).alias(
                "within_bin"
            ),
        )
    )


@query(
    "q_dq_constraints",
    oracle="""
    WITH checks AS (
        SELECT 'orderkey_not_null' AS constraint_name,
               CAST(COUNT(*) FILTER (WHERE o_orderkey IS NULL) AS BIGINT)
                   AS violations
        FROM orders
        UNION ALL
        SELECT 'orderkey_unique',
               CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS BIGINT)
        FROM orders
        UNION ALL
        SELECT 'custkey_references_customer',
               CAST(COUNT(*) AS BIGINT)
        FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
        WHERE c.c_custkey IS NULL
        UNION ALL
        SELECT 'totalprice_positive_bounded',
               CAST(COUNT(*) FILTER (
                   WHERE o_totalprice <= 0 OR o_totalprice > 1000000
               ) AS BIGINT)
        FROM orders
        UNION ALL
        SELECT 'orderstatus_in_domain',
               CAST(COUNT(*) FILTER (
                   WHERE o_orderstatus NOT IN ('O', 'F', 'P')
               ) AS BIGINT)
        FROM orders
        UNION ALL
        SELECT 'totalprice_under_450k',
               CAST(COUNT(*) FILTER (WHERE o_totalprice >= 450000)
                    AS BIGINT)
        FROM orders
        UNION ALL
        SELECT 'orderdate_within_2000',
               CAST(COUNT(*) FILTER (WHERE year(o_orderdate) > 2000)
                    AS BIGINT)
        FROM orders
    )
    SELECT constraint_name, violations, violations = 0 AS passed
    FROM checks
    """,
    tags=("scale", "quality"),
)
def q_dq_constraints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality constraint validation (the Deequ /
    dbt-test shape): one audit emits a row per constraint — not-null,
    uniqueness, referential integrity against a dimension, numeric
    range, and categorical domain — with exact violation counts and a
    pass verdict. This is the admission gate a training-data pipeline
    runs on every landed partition before downstream jobs trust it.

    100 TB shape: the four single-table checks fuse into scans +
    map-side-combinable aggregates (conditional counts); uniqueness is
    one groupBy-free COUNT vs COUNT(DISTINCT) agg; referential
    integrity is a left-anti join that broadcasts the dimension's key
    column. Total cost ≈ one pass over the fact table. Violation ROWS
    (not just counts) route to a dead-letter table in production — the
    same pattern as q_decode_dead_letter."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").select("c_custkey")

    def check(name: str, df: DataFrame) -> DataFrame:
        return df.select(
            F.lit(name).alias("constraint_name"),
            F.coalesce(F.col("violations"), F.lit(0))
            .cast("long")
            .alias("violations"),
        )

    not_null = check(
        "orderkey_not_null",
        o.agg(
            F.count_if(F.col("o_orderkey").isNull()).alias("violations")
        ),
    )
    unique = check(
        "orderkey_unique",
        o.agg(
            (F.count("*") - F.countDistinct("o_orderkey")).alias("violations")
        ),
    )
    referential = check(
        "custkey_references_customer",
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey, "left_anti").agg(
            F.count("*").alias("violations")
        ),
    )
    in_range = check(
        "totalprice_positive_bounded",
        o.agg(
            F.count_if(
                (F.col("o_totalprice") <= 0) | (F.col("o_totalprice") > 1_000_000)
            ).alias("violations")
        ),
    )
    domain = check(
        "orderstatus_in_domain",
        o.agg(
            F.count_if(~F.col("o_orderstatus").isin("O", "F", "P")).alias(
                "violations"
            )
        ),
    )
    # Two constraints the fixture GENUINELY violates (totalprice tail
    # above 450k, orders dated past 2000) so the audit's failing arm —
    # non-zero violations, passed=false — is validated cross-engine,
    # not just the all-green path of a clean load.
    tail = check(
        "totalprice_under_450k",
        o.agg(
            F.count_if(F.col("o_totalprice") >= 450_000).alias("violations")
        ),
    )
    horizon = check(
        "orderdate_within_2000",
        o.agg(
            F.count_if(F.year("o_orderdate") > 2000).alias("violations")
        ),
    )
    return (
        not_null.unionByName(unique)
        .unionByName(referential)
        .unionByName(in_range)
        .unionByName(domain)
        .unionByName(tail)
        .unionByName(horizon)
        .withColumn("passed", F.col("violations") == 0)
    )


@query(
    "q_sketch_sliding_distinct",
    oracle=EVENTS_US
    + """
    , days AS (SELECT DISTINCT date_trunc('day', ts) AS day FROM events_us)
    SELECT d.day,
           (SELECT CAST(COUNT(DISTINCT e.user_id) AS BIGINT)
            FROM events_us e
            WHERE date_trunc('day', e.ts)
                  BETWEEN d.day - INTERVAL 6 DAY AND d.day) AS users_7d
    FROM days d
    """,
    tags=("scale", "sketch", "window"),
)
def q_sketch_sliding_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window EXACT distinct count — trailing-7-day active
    users per day — via windowed bitmap OR-merge: the one distinct-
    count shape neither plain COUNT(DISTINCT) nor HLL rollups serve
    well (a naive per-window recount re-reads 7× the data; HLL loses
    exactness). Raw events aggregate ONCE into per-(day, id-bucket)
    bitmaps; each day's trailing window OR-merges ≤7 bitmap rows per
    bucket (RANGE-framed on day number, so calendar gaps stay
    correct); counts sum over buckets.

    The (day × bucket) spine is densified before the window — a bucket
    with no NEW users on day D must still contribute its D−3 bitmap to
    D's window, which a row-less (D, bkt) would silently drop.

    100 TB shape: the only fact-scale operation is the one bitmap
    aggregate (map-side combined); the window runs over |days|×|buckets|
    kilobyte rows. Every trailing-window width reuses the SAME stored
    sketches — this is the materialized continuous-aggregate pattern
    for sliding distincts."""
    e = load_table(spark, sf_dir, "events")
    by_day = e.select(
        F.date_trunc("day", "ts").alias("day"),
        F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01").cast("date")).alias(
            "day_num"
        ),
        "user_id",
    )
    sketch = by_day.groupBy(
        "day", "day_num", F.expr("bitmap_bucket_number(user_id)").alias("bkt")
    ).agg(
        F.expr("bitmap_construct_agg(bitmap_bit_position(user_id))").alias("bm")
    )
    days = by_day.select("day", "day_num").distinct()
    bkts = sketch.select("bkt").distinct()
    spine = days.crossJoin(F.broadcast(bkts))
    full = spine.join(sketch, ["day", "day_num", "bkt"], "left")
    w = (
        Window.partitionBy("bkt")
        .orderBy("day_num")
        .rangeBetween(-6, Window.currentRow)
    )
    merged = full.withColumn("bm7", F.expr("bitmap_or_agg(bm)").over(w))
    return merged.groupBy("day").agg(
        F.sum(F.expr("bitmap_count(bm7)")).cast("long").alias("users_7d")
    )


ANOMALY_PCT = 50  # flag days deviating >50% from trailing-7-day median


@query(
    "q_dq_volume_anomaly",
    oracle=EVENTS_US
    + """
    , daily0 AS (
        SELECT date_trunc('day', ts) AS day,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM events_us GROUP BY 1
    ),
    daily AS (
        SELECT 'observed' AS series, day, n FROM daily0
        UNION ALL
        SELECT 'incident_sim' AS series, day,
               CASE WHEN day = TIMESTAMP '2024-01-20' THEN n // 3
                    ELSE n END AS n
        FROM daily0
    ),
    scored AS (
        SELECT series, day, n,
               list_sort(list(n) OVER (PARTITION BY series ORDER BY day
                    ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)) AS win
        FROM daily
    )
    SELECT series, day, n,
           CAST(win[(len(win) + 1) // 2] AS BIGINT) AS med7,
           CAST(ABS(n - win[(len(win) + 1) // 2]) * 100
                > 50 * win[(len(win) + 1) // 2] AS BOOLEAN) AS is_anomaly
    FROM scored WHERE len(win) > 0
    """,
    tags=("scale", "dq", "window"),
)
def q_dq_volume_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pipeline volume-anomaly audit: each day's event count compared
    to the trailing-7-day MEDIAN; days deviating more than 50% are
    flagged — the drop/spike detector every ingest pipeline runs
    before letting a day's partition promote to "published". Median
    (not mean) so a single bad day doesn't poison the baseline that
    judges the next ones.

    The median is the exact LOWER order statistic — element
    ⌈k/2⌉ of the sorted ≤7-count window, computed identically in both
    engines as a sorted-list pick (Spark bans median() with a window
    frame, and interpolated medians would reintroduce float math); the
    anomaly test cross-multiplies exact int64 (|n − med|·100 > 50·med),
    so no float threshold anywhere.

    100 TB shape: the only fact-scale work is the per-day count
    (map-side combined to |days| rows); the window runs over the tiny
    daily frame. This composes with q_sketch_sliding_distinct's spine:
    one daily-stats table serves volume, distinct, and anomaly audits
    without re-touching raw data."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(F.date_trunc("day", "ts").alias("day")).agg(
        F.count("*").alias("n")
    )
    # Two series through the SAME detector: the observed counts (clean
    # at every SF — Poisson noise shrinks as 1/sqrt(n), so the 50%
    # gate must NOT fire) and a deterministic incident simulation with
    # one day cut to a third (the drop the alarm exists for). The
    # planted arm validates the firing path cross-engine at every SF;
    # the observed arm pins the false-positive rate at zero.
    daily = daily.select(
        F.lit("observed").alias("series"), "day", "n"
    ).unionByName(
        daily.select(
            F.lit("incident_sim").alias("series"),
            "day",
            F.when(
                F.col("day") == F.lit("2024-01-20").cast("timestamp"),
                F.expr("n div 3"),
            )
            .otherwise(F.col("n"))
            .alias("n"),
        )
    )
    w = Window.partitionBy("series").orderBy("day").rowsBetween(-7, -1)
    scored = daily.withColumn(
        "win", F.sort_array(F.collect_list("n").over(w))
    )
    med7 = F.element_at("win", ((F.size("win") + 1) / 2).cast("int")).cast(
        "long"
    )
    dev = F.abs(F.col("n") - med7)
    return scored.filter(F.size("win") > 0).select(
        "series",
        "day",
        "n",
        med7.alias("med7"),
        (dev * 100 > ANOMALY_PCT * med7).alias("is_anomaly"),
    )


DRIFT_PERMILLE = 50  # flag columns whose null rate moved > 5 percentage points


@query(
    "q_dq_schema_drift",
    oracle=f"""
    WITH gen_a AS (
        SELECT o_totalprice, o_orderpriority FROM orders
        WHERE o_orderkey % 2 = 0
    ),
    gen_b AS (
        SELECT CASE WHEN o_orderstatus = 'F' THEN NULL
                    ELSE o_totalprice END AS o_totalprice,
               o_orderpriority
        FROM orders WHERE o_orderkey % 2 = 1
    ),
    stats AS (
        SELECT 'o_totalprice' AS col,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM gen_a) AS n_a,
               (SELECT CAST(COUNT(*) - COUNT(o_totalprice) AS BIGINT)
                FROM gen_a) AS nulls_a,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM gen_b) AS n_b,
               (SELECT CAST(COUNT(*) - COUNT(o_totalprice) AS BIGINT)
                FROM gen_b) AS nulls_b
        UNION ALL
        SELECT 'o_orderpriority',
               (SELECT COUNT(*) FROM gen_a),
               (SELECT COUNT(*) - COUNT(o_orderpriority) FROM gen_a),
               (SELECT COUNT(*) FROM gen_b),
               (SELECT COUNT(*) - COUNT(o_orderpriority) FROM gen_b)
    )
    SELECT col, n_a, nulls_a, n_b, nulls_b,
           CAST(ABS(nulls_a * n_b - nulls_b * n_a) * 1000
                > {DRIFT_PERMILLE} * n_a * n_b AS BOOLEAN) AS drifted
    FROM stats
    """,
    tags=("scale", "dq"),
)
def q_dq_schema_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Landing-zone drift audit: per-column null rates compared across
    two table generations (here: the even-key image vs an odd-key image
    whose o_totalprice nulls out for finished orders — the silent
    upstream change this audit exists to catch before it poisons
    downstream aggregates). A column drifts when its null rate moves
    more than 5 points.

    The rate comparison never divides: |nulls_a·n_b − nulls_b·n_a|·1000
    > 50·n_a·n_b cross-multiplies exact int64 counts, so both engines
    flag identically.

    100 TB shape: each generation contributes ONE wide aggregate
    (count + per-column null counts fused in a single pass — the same
    shape as q_profile_table); the drift compare runs on a
    columns-count-sized frame. Composes with src_schema_evolution
    (added columns back-fill NULL, which this audit surfaces as 100%
    null rate on the old generation)."""
    o = load_table(spark, sf_dir, "orders")
    gen_a = o.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_totalprice", "o_orderpriority"
    )
    gen_b = o.filter(F.col("o_orderkey") % 2 == 1).select(
        F.when(F.col("o_orderstatus") == "F", F.lit(None))
        .otherwise(F.col("o_totalprice"))
        .alias("o_totalprice"),
        "o_orderpriority",
    )

    def profile(g: DataFrame, suffix: str) -> DataFrame:
        agg = g.agg(
            F.count("*").alias("n"),
            (F.count("*") - F.count("o_totalprice")).alias("nulls_tp"),
            (F.count("*") - F.count("o_orderpriority")).alias("nulls_op"),
        )
        return agg.select(
            F.explode(
                F.array(
                    F.struct(
                        F.lit("o_totalprice").alias("col"),
                        F.col("n").alias(f"n_{suffix}"),
                        F.col("nulls_tp").alias(f"nulls_{suffix}"),
                    ),
                    F.struct(
                        F.lit("o_orderpriority").alias("col"),
                        F.col("n").alias(f"n_{suffix}"),
                        F.col("nulls_op").alias(f"nulls_{suffix}"),
                    ),
                )
            ).alias("s")
        ).select("s.*")

    a = profile(gen_a, "a")
    b = profile(gen_b, "b")
    joined = a.join(b, "col")
    drift = (
        F.abs(
            F.col("nulls_a") * F.col("n_b") - F.col("nulls_b") * F.col("n_a")
        )
        * 1000
        > DRIFT_PERMILLE * F.col("n_a") * F.col("n_b")
    )
    return joined.select(
        "col", "n_a", "nulls_a", "n_b", "nulls_b", drift.alias("drifted")
    )


# ---------------------------------------------------------------------------
# Join-key skew profiler
# ---------------------------------------------------------------------------

SKEW_TOP_K = 10


@query(
    "q_dq_key_skew",
    oracle=EVENTS_US
    + f"""
    , per_key AS (
        SELECT user_id, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM events_us GROUP BY user_id
    ),
    tot AS (
        SELECT CAST(SUM(cnt) AS BIGINT) AS total,
               CAST(COUNT(*) AS BIGINT) AS n_keys
        FROM per_key
    )
    SELECT p.user_id, p.cnt,
           CAST(p.cnt * 1000000 // t.total AS BIGINT) AS share_ppm,
           CAST(p.cnt * t.n_keys * 100 // t.total AS BIGINT)
               AS x_mean_pct,
           t.total, t.n_keys
    FROM per_key p CROSS JOIN tot t
    ORDER BY p.cnt DESC, p.user_id
    LIMIT {SKEW_TOP_K}
    """,
    tags=("scale", "dq", "skew"),
)
def q_dq_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew profiler: the top-K hottest join keys with their
    exact row share (ppm) and hotness as a percent of the mean key load
    — the report that decides whether a join needs salting
    (q_join_skew_salted), AQE skew splitting, or a broadcast rewrite.
    A key at x_mean_pct ≈ 100 is uniform; thousands of percent means one
    shuffle partition stalls the stage at scale.

    All-integer math (floor div) so shares hash identically cross-engine.

    100 TB shape: one map-side-combined count per key (the same shuffle
    the join itself would do, but carrying only counters), a 1-row total
    broadcast, and TakeOrdered for the top-K — the profile costs a scan,
    not a sort."""
    per_key = (
        load_table(spark, sf_dir, "events").groupBy("user_id").count()
    ).select("user_id", F.col("count").alias("cnt"))
    tot = F.broadcast(
        per_key.agg(
            F.sum("cnt").alias("total"), F.count("*").alias("n_keys")
        )
    )
    return (
        per_key.crossJoin(tot)
        .select(
            "user_id",
            "cnt",
            F.expr("cnt * 1000000 div total").alias("share_ppm"),
            F.expr("cnt * n_keys * 100 div total").alias("x_mean_pct"),
            "total",
            "n_keys",
        )
        .orderBy(F.desc("cnt"), "user_id")
        .limit(SKEW_TOP_K)
    )


# ---------------------------------------------------------------------------
# Count-Min sketch as a relational aggregate
# ---------------------------------------------------------------------------

CMS_W = 64                      # counters per hash row
CMS_A = (3, 5, 7)               # per-row multipliers (d = 3 pairwise hashes)
CMS_B = (11, 17, 23)
CMS_P = 4294967311              # prime > 2^32 (functions/text.py)
CMS_TRACKED = 20                # query the estimate for user_id < 20


@query(
    "q_sketch_count_min",
    oracle=EVENTS_US
    + f"""
    , h AS (
        SELECT user_id,
               CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 8))
                    AS BIGINT) AS kh
        FROM events_us
    ),
    cells AS (
        SELECT i.i, (a.a * h.kh + b.b) % {CMS_P} % {CMS_W} AS bucket,
               CAST(COUNT(*) AS BIGINT) AS cnt
        FROM h
        CROSS JOIN (SELECT unnest([0, 1, 2]) AS i) i
        JOIN (VALUES (0, 3), (1, 5), (2, 7)) a(i, a) ON a.i = i.i
        JOIN (VALUES (0, 11), (1, 17), (2, 23)) b(i, b) ON b.i = i.i
        GROUP BY 1, 2
    ),
    tracked AS (
        SELECT DISTINCT user_id, kh FROM h WHERE user_id < {CMS_TRACKED}
    ),
    est AS (
        SELECT t.user_id, MIN(c.cnt) AS est_cnt
        FROM tracked t
        CROSS JOIN (SELECT unnest([0, 1, 2]) AS i) i
        JOIN (VALUES (0, 3), (1, 5), (2, 7)) a(i, a) ON a.i = i.i
        JOIN (VALUES (0, 11), (1, 17), (2, 23)) b(i, b) ON b.i = i.i
        JOIN cells c ON c.i = i.i
                    AND c.bucket = (a.a * t.kh + b.b) % {CMS_P} % {CMS_W}
        GROUP BY t.user_id
    ),
    exact AS (
        SELECT user_id, CAST(COUNT(*) AS BIGINT) AS exact_cnt
        FROM events_us WHERE user_id < {CMS_TRACKED} GROUP BY user_id
    ),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM events_us)
    SELECT e.user_id, e.exact_cnt, s.est_cnt,
           s.est_cnt >= e.exact_cnt AS never_under,
           (s.est_cnt - e.exact_cnt) * {CMS_W} <= 2 * t.n AS within_eps
    FROM exact e JOIN est s ON e.user_id = s.user_id CROSS JOIN tot t
    """,
    tags=("scale", "sketch"),
)
def q_sketch_count_min(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch built as a RELATIONAL aggregate: d=3 pairwise
    hash rows × w=64 counters, populated by one groupBy over (row,
    bucket) — the mergeable-summary shape (Cormode & Muthukrishnan
    2005). Point queries take min over the d cells; the output audits
    the two CMS guarantees per tracked key: never-underestimate, and
    overestimate ≤ 2N/w. Because the "sketch" is rows in a DataFrame,
    sketches from different days/partitions merge by SUM — the same
    re-aggregation story as q_sketch_hll_union but exact-arithmetic
    and oracle-mirrorable.

    100 TB shape: the sketch build is one map-side-combined agg to
    d×w = 192 cells regardless of input size; point queries broadcast
    the tiny cell table. No full per-key count ever materializes —
    that is the point of CMS when keys are too many to count exactly."""
    ev = load_table(spark, sf_dir, "events")
    from ex_aws_firehose_spark.functions.text import hex_hash

    h = ev.select(
        "user_id", hex_hash(F.col("user_id").cast("string")).alias("kh")
    )
    a_lit = F.array(*[F.lit(a) for a in CMS_A])
    b_lit = F.array(*[F.lit(b) for b in CMS_B])
    with_i = h.withColumn("i", F.explode(F.sequence(F.lit(0), F.lit(2))))
    bucket = (
        F.element_at(a_lit, F.col("i") + 1) * F.col("kh")
        + F.element_at(b_lit, F.col("i") + 1)
    ) % CMS_P % CMS_W
    cells = (
        with_i.select("i", bucket.alias("bucket"))
        .groupBy("i", "bucket")
        .agg(F.count("*").alias("cnt"))
    )
    tracked = (
        h.filter(F.col("user_id") < CMS_TRACKED)
        .distinct()
        .withColumn("i", F.explode(F.sequence(F.lit(0), F.lit(2))))
        .select("user_id", "i", bucket.alias("bucket"))
    )
    est = (
        tracked.join(F.broadcast(cells), ["i", "bucket"])
        .groupBy("user_id")
        .agg(F.min("cnt").alias("est_cnt"))
    )
    exact = (
        ev.filter(F.col("user_id") < CMS_TRACKED)
        .groupBy("user_id")
        .agg(F.count("*").alias("exact_cnt"))
    )
    tot = F.broadcast(ev.agg(F.count("*").alias("n")))
    return (
        exact.join(est, "user_id")
        .crossJoin(tot)
        .select(
            "user_id",
            "exact_cnt",
            "est_cnt",
            (F.col("est_cnt") >= F.col("exact_cnt")).alias("never_under"),
            (
                (F.col("est_cnt") - F.col("exact_cnt")) * CMS_W
                <= 2 * F.col("n")
            ).alias("within_eps"),
        )
    )


# ---------------------------------------------------------------------------
# Z-order (Morton) layout audit
# ---------------------------------------------------------------------------

Z_BUCKETS = 32
Z_USER_BITS = 12
Z_DAY_BITS = 5
# probe rectangle: user_id in [4, 12), day in [8, 16)
Z_PROBE = (4, 12, 8, 16)


def _morton_sql(user: str, day: str, divop: str = "//") -> str:
    """Bit-interleave expression in integer arithmetic (div/%/× only —
    no bit operators). Same structure both engines; only the integer-
    division spelling differs (`div` in Spark SQL, `//` in DuckDB)."""
    terms = [
        f"(({user}) {divop} {1 << i} % 2) * {1 << (2 * i)}"
        for i in range(Z_USER_BITS)
    ] + [
        f"(({day}) {divop} {1 << i} % 2) * {1 << (2 * i + 1)}"
        for i in range(Z_DAY_BITS)
    ]
    return " + ".join(terms)


@query(
    "q_layout_zorder",
    oracle=EVENTS_US
    + f"""
    , base AS (
        SELECT event_id, user_id,
               date_diff('day', TIMESTAMP '2024-01-01', ts) AS day
        FROM events_us
    ),
    laid AS (
        SELECT 'time_linear' AS layout, user_id, day,
               ntile({Z_BUCKETS}) OVER (ORDER BY day, event_id) AS bucket
        FROM base
        UNION ALL
        SELECT 'zorder' AS layout, user_id, day,
               ntile({Z_BUCKETS}) OVER (
                   ORDER BY {_morton_sql('user_id', 'day')}, event_id
               ) AS bucket
        FROM base
    ),
    stats AS (
        SELECT layout, bucket,
               MIN(user_id) AS min_u, MAX(user_id) AS max_u,
               MIN(day) AS min_d, MAX(day) AS max_d,
               CAST(COUNT(*) AS BIGINT) AS cnt,
               CAST(SUM(CASE WHEN user_id >= {Z_PROBE[0]}
                              AND user_id < {Z_PROBE[1]}
                              AND day >= {Z_PROBE[2]}
                              AND day < {Z_PROBE[3]}
                        THEN 1 ELSE 0 END) AS BIGINT) AS matched
        FROM laid GROUP BY layout, bucket
    )
    SELECT layout,
           CAST(COUNT(*) AS BIGINT) AS n_buckets,
           CAST(SUM(CASE WHEN min_u < {Z_PROBE[1]} AND max_u >= {Z_PROBE[0]}
                          AND min_d < {Z_PROBE[3]} AND max_d >= {Z_PROBE[2]}
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_overlap,
           CAST(SUM(CASE WHEN min_u < {Z_PROBE[1]} AND max_u >= {Z_PROBE[0]}
                          AND min_d < {Z_PROBE[3]} AND max_d >= {Z_PROBE[2]}
                    THEN cnt ELSE 0 END) AS BIGINT) AS rows_scanned,
           CAST(SUM(matched) AS BIGINT) AS rows_matched
    FROM stats GROUP BY layout ORDER BY layout
    """,
    tags=("scale", "layout"),
)
def q_layout_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton-curve) clustering audit: lay the events table
    out two ways — time-linear (the default ingest order) and Morton-
    interleaved over (user_id, day) — cut each into {Z_BUCKETS} equal
    files, and measure how many files a 2-D probe rectangle must scan
    under each layout's zone maps. Z-order keeps BOTH dimensions' spans
    tight per file, so the multi-dimensional probe prunes files that
    the single-dimension sort cannot (the Delta/Iceberg OPTIMIZE
    ZORDER BY rationale, expressed as a measurable audit).

    The Morton code is pure div/mod/× integer arithmetic — the same
    expression TEXT evaluates in Spark SQL and DuckDB, and the bucket
    assignment (ntile over the z order, event_id tie-break) is a total
    order, so the audit is bit-deterministic cross-engine.

    100 TB shape: writing z-ordered files is repartitionByRange on the
    z-code (one range shuffle, same cost as any sorted write); the
    audit itself is one hash agg at bucket grain. The global ntile
    window here exists to make bucket boundaries bit-deterministic for
    the oracle diff — a production audit derives buckets from the
    actual file boundaries (one row per file from the parquet footer),
    which needs no global sort at all. The payoff column is
    rows_scanned: zonemap pruning is the difference between scanning
    the probe's ~1/32 of files and scanning them all."""
    base = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.datediff(
            F.to_date("ts"), F.to_date(F.lit("2024-01-01"))
        ).alias("day"),
    )
    z = F.expr(_morton_sql("user_id", "day", divop="div"))
    lin = base.select(
        F.lit("time_linear").alias("layout"),
        "user_id",
        "day",
        F.ntile(Z_BUCKETS)
        .over(Window.orderBy("day", "event_id"))
        .alias("bucket"),
    )
    zord = base.withColumn("z", z).select(
        F.lit("zorder").alias("layout"),
        "user_id",
        "day",
        F.ntile(Z_BUCKETS)
        .over(Window.orderBy("z", "event_id"))
        .alias("bucket"),
    )
    lo_u, hi_u, lo_d, hi_d = Z_PROBE
    in_probe = (
        (F.col("user_id") >= lo_u)
        & (F.col("user_id") < hi_u)
        & (F.col("day") >= lo_d)
        & (F.col("day") < hi_d)
    )
    stats = (
        lin.unionByName(zord)
        .groupBy("layout", "bucket")
        .agg(
            F.min("user_id").alias("min_u"),
            F.max("user_id").alias("max_u"),
            F.min("day").alias("min_d"),
            F.max("day").alias("max_d"),
            F.count("*").alias("cnt"),
            F.sum(F.when(in_probe, 1).otherwise(0)).alias("matched"),
        )
    )
    overlaps = (
        (F.col("min_u") < hi_u)
        & (F.col("max_u") >= lo_u)
        & (F.col("min_d") < hi_d)
        & (F.col("max_d") >= lo_d)
    )
    return (
        stats.groupBy("layout")
        .agg(
            F.count("*").alias("n_buckets"),
            F.sum(F.when(overlaps, 1).otherwise(0)).alias("n_overlap"),
            F.sum(F.when(overlaps, F.col("cnt")).otherwise(0)).alias(
                "rows_scanned"
            ),
            F.sum("matched").alias("rows_matched"),
        )
        .orderBy("layout")
    )


# ---------------------------------------------------------------------------
# Triangle counting over a thresholded co-occurrence graph
# ---------------------------------------------------------------------------

TRI_MIN_COOCCUR = 3  # edge iff users co-occur in >= 3 (type, hour) buckets


@session_cached
def co_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The thresholded co-occurrence edge list (ua < ub) every graph
    key is defined over: events → (user_id, event_type, hour) →
    bucketed self-join on (hr, event_type) → pair count →
    ``w >= TRI_MIN_COOCCUR``. Built ONCE per session and persisted —
    nine keys (triangles, degree-hist, link-prediction, adamic-adar,
    k-core, label-propagation communities/modularity, local
    clustering, assortativity, two-hop) previously re-ran the
    identical fact-scale self-join + pair aggregation each; every
    derived view (degrees, symmetrization, wedges) is orders of
    magnitude cheaper than the build (guide §1.2 — don't recompute;
    §5 — persist exactly the reused, expensive-to-recompute frame).
    The bench charges the one build to the `_build_co_edges` prelude
    row, the same attribution device as the IVF/PQ trainers."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.date_trunc("hour", "ts").alias("hr"),
    )
    a, b = e.alias("a"), e.alias("b")
    edges = (
        a.join(
            b,
            (F.col("a.hr") == F.col("b.hr"))
            & (F.col("a.event_type") == F.col("b.event_type"))
            & (F.col("a.user_id") < F.col("b.user_id")),
        )
        .groupBy(
            F.col("a.user_id").alias("ua"), F.col("b.user_id").alias("ub")
        )
        .agg(F.count("*").alias("w"))
        .filter(F.col("w") >= TRI_MIN_COOCCUR)
        .select("ua", "ub")
        .persist()
    )
    return edges


@session_cached
def sym_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SYMMETRIZED (src, dst) adjacency over :func:`co_edges` —
    every undirected edge as both directed rows — built once per
    session and persisted (round 14, parked item 3): five keys
    (k-core, two-hop reach, link prediction, adamic-adar, the
    label-propagation state behind communities/modularity, and the
    assortativity moments) each re-derived the identical union from
    the persisted edge list, two of them through an EAGER
    localCheckpoint (a driver job per call). The union is cheap but
    the per-key barrier + recompute is pure scheduler overhead on a
    small frame (guide §1.2/§5 — persist exactly the reused frame).
    The bench charges the one build to the ``_build_sym_edges``
    prelude row (the co_edges attribution device)."""
    edges = co_edges(spark, sf_dir)
    sym = (
        edges.select(F.col("ua").alias("src"), F.col("ub").alias("dst"))
        .unionByName(
            edges.select(F.col("ub").alias("src"), F.col("ua").alias("dst"))
        )
        .persist()
    )
    return sym


@session_cached
def wedge_frames(spark: SparkSession, sf_dir: str) -> dict:
    """Degree-ordered wedge enumeration over :func:`co_edges`, built
    once per session and persisted (round 14): ``oriented`` (each edge
    pointed at its higher-(degree, id) endpoint), ``wedges`` (out-edge
    pairs at each center) and ``closed`` (wedges whose third side is an
    edge — one row per triangle, since co_edges rows are unique
    (ua, ub) pairs). q_graph_triangles and q_graph_local_clustering
    each re-ran this identical chain — the only heavy stages in both
    keys (measured warm 1.8-2.6 s and 4.0-5.5 s respectively on the
    probe host); their own derivations over the shared frames are
    count-grain. The bench charges the one build to the
    ``_build_wedges`` prelude row (the co_edges attribution device,
    guide §1.2 — don't recompute; §5 — persist the reused frame)."""
    edges = co_edges(spark, sf_dir)
    deg = (
        edges.select(F.col("ua").alias("v"))
        .unionByName(edges.select(F.col("ub").alias("v")))
        .groupBy("v")
        .agg(F.count("*").alias("d"))
    )
    da = deg.select(F.col("v").alias("ua"), F.col("d").alias("da"))
    db = deg.select(F.col("v").alias("ub"), F.col("d").alias("db"))
    oriented = (
        edges.join(da, "ua")
        .join(db, "ub")
        .select(
            F.when(F.col("da") <= F.col("db"), F.col("ua"))
            .otherwise(F.col("ub"))
            .alias("src"),
            F.when(F.col("da") <= F.col("db"), F.col("ub"))
            .otherwise(F.col("ua"))
            .alias("dst"),
        )
        .persist()
    )
    o1, o2 = oriented.alias("o1"), oriented.alias("o2")
    wedges = (
        o1.join(
            o2,
            (F.col("o1.src") == F.col("o2.src"))
            & (F.col("o1.dst") < F.col("o2.dst")),
        )
        .select(
            F.col("o1.src").alias("a"),
            F.col("o1.dst").alias("b"),
            F.col("o2.dst").alias("c"),
        )
        .persist()
    )
    e3 = edges.select(F.col("ua").alias("e_lo"), F.col("ub").alias("e_hi"))
    # co_edges rows are unique (ua, ub) pairs (groupBy output), so this
    # inner join matches each wedge at most once: its row count equals
    # the left-semi count q_graph_triangles used to take, and the
    # (a, b, c) triples are exactly q_graph_local_clustering's.
    closed = (
        wedges.join(
            e3,
            (F.col("e_lo") == F.least("b", "c"))
            & (F.col("e_hi") == F.greatest("b", "c")),
        )
        .select("a", "b", "c")
        .persist()
    )
    out = {"deg": deg, "oriented": oriented, "wedges": wedges, "closed": closed}
    return out


@query(
    "q_graph_triangles",
    oracle=EVENTS_US
    + f"""
    , e AS (
        SELECT user_id, event_type,
               time_bucket(INTERVAL 1 HOUR, ts) AS hr
        FROM events_us
    ),
    pairs AS (
        SELECT a.user_id AS ua, b.user_id AS ub,
               CAST(COUNT(*) AS BIGINT) AS w
        FROM e a JOIN e b
          ON a.hr = b.hr AND a.event_type = b.event_type
         AND a.user_id < b.user_id
        GROUP BY a.user_id, b.user_id
    ),
    edges AS (SELECT ua, ub FROM pairs WHERE w >= {TRI_MIN_COOCCUR}),
    deg AS (
        SELECT v, COUNT(*) AS d FROM (
            SELECT ua AS v FROM edges UNION ALL SELECT ub FROM edges
        ) GROUP BY v
    ),
    oriented AS (
        SELECT CASE WHEN da.d <= db.d THEN e.ua ELSE e.ub END AS src,
               CASE WHEN da.d <= db.d THEN e.ub ELSE e.ua END AS dst
        FROM edges e
        JOIN deg da ON da.v = e.ua
        JOIN deg db ON db.v = e.ub
    ),
    wedges AS (
        SELECT o1.src AS a, o1.dst AS b, o2.dst AS c
        FROM oriented o1 JOIN oriented o2
          ON o1.src = o2.src AND o1.dst < o2.dst
    ),
    tri AS (
        SELECT COUNT(*) AS n
        FROM wedges w JOIN edges e3
          ON e3.ua = LEAST(w.b, w.c) AND e3.ub = GREATEST(w.b, w.c)
    )
    SELECT CAST((SELECT COUNT(*) FROM edges) AS BIGINT) AS n_edges,
           CAST((SELECT COUNT(*) FROM wedges) AS BIGINT) AS n_wedges,
           CAST((SELECT n FROM tri) AS BIGINT) AS n_triangles,
           CAST((SELECT n FROM tri) * 1000000
                // GREATEST((SELECT COUNT(*) FROM wedges), 1) AS BIGINT)
               AS closure_ppm
    """,
    tags=("scale", "graph"),
)
def q_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count + global closure coefficient over a thresholded
    user co-occurrence graph (edge iff two users share ≥ 3 (event-type,
    hour) buckets — the weight threshold is what keeps a co-occurrence
    projection sparse enough to be a graph, not a clique soup). The
    count uses the DEGREE-ORDERED wedge method (the production form —
    MapReduce triangle counting à la Suri/Vassilvitskii): each edge is
    oriented from its lower-(degree, id) endpoint to the higher, wedges
    enumerate out-edge pairs at the center, and a hash join against the
    undirected edge set closes them — no BNLJ, no driver-side graph.

    100 TB shape: pair generation joins inside (hour, type) buckets
    (bounded fan-out per bucket); the degree orientation is the skew
    lever that makes the wedge join survive hubs — a vertex of degree D
    contributes C(out-deg, 2) wedges, and orienting toward higher
    degree caps out-degrees near sqrt(|E|) instead of D, so a hot
    vertex never expands quadratically on the build side. Measured on
    a 4× replica-correlated blow-up (docs/SCALE.md §13): the naive
    a<b<c orientation went 59× slower; this form stays near-linear.
    Triangle count is identical under either orientation (each
    triangle has exactly one vertex with two out-edges); n_wedges /
    closure_ppm are DEFINED at the degree-ordered center. Output is
    one exact-integer summary row."""
    # Round 14: the oriented/wedge/closure chain is the shared
    # wedge_frames fixture (built once, persisted — it was also
    # q_graph_local_clustering's entire cost); this key is now three
    # count-grain aggs over the persisted frames. The closure count is
    # unchanged: co_edges rows are unique (ua, ub), so the fixture's
    # inner closure join has exactly the old left-semi cardinality.
    edges = co_edges(spark, sf_dir)
    wf = wedge_frames(spark, sf_dir)
    n_edges = edges.agg(F.count("*").alias("n_edges"))
    n_wedges = wf["wedges"].agg(F.count("*").alias("n_wedges"))
    n_tri = wf["closed"].agg(F.count("*").alias("n_triangles"))
    out = (
        n_edges.crossJoin(n_wedges)
        .crossJoin(n_tri)
        .select(
            "n_edges",
            "n_wedges",
            "n_triangles",
            F.expr(
                "n_triangles * 1000000 div greatest(n_wedges, 1)"
            ).alias("closure_ppm"),
        )
    )
    return out


# ---------------------------------------------------------------------------
# k-anonymity audit
# ---------------------------------------------------------------------------

K_ANON = 5
KANON_COHORT = 400  # signup-cohort QI width: SF-invariant class sizes


@query(
    "q_anon_kanonymity",
    oracle=f"""
    WITH g AS (
        SELECT c_nationkey, c_mktsegment,
               c_custkey // {KANON_COHORT} AS cohort,
               CAST(COUNT(*) AS BIGINT) AS group_size
        FROM customer GROUP BY 1, 2, 3
    )
    SELECT c_nationkey, c_mktsegment, cohort, group_size,
           group_size >= {K_ANON} AS is_k_anon
    FROM g
    """,
    tags=("scale", "dq", "privacy"),
)
def q_anon_kanonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over a quasi-identifier tuple (nation ×
    market segment): every QI equivalence class with its size and a
    k ≥ {K_ANON} verdict — the release gate for sharing keyed data
    (classes below k re-identify individuals and must be suppressed or
    generalized before export). This is the measurement half of a
    privacy pipeline; the enforcement half is a filter on the flag.
    The QI includes the signup cohort (custkey div {KANON_COHORT}),
    which keeps equivalence-class size CONSTANT as the table grows —
    so the below-k arm exists at every SF (with QI = nation × segment
    alone, classes grow with the data and the flag was constant-true
    at every SF, validating only the trivial path).

    100 TB shape: one map-side-combined hash agg at QI grain — the
    audit costs a scan regardless of table size; generalization
    ladders (re-binning a QI column and re-auditing) just re-run the
    same agg on coarser keys."""
    c = load_table(spark, sf_dir, "customer")
    return (
        c.groupBy(
            "c_nationkey",
            "c_mktsegment",
            F.expr(f"c_custkey div {KANON_COHORT}").alias("cohort"),
        )
        .agg(F.count("*").alias("group_size"))
        .select(
            "c_nationkey",
            "c_mktsegment",
            "cohort",
            "group_size",
            (F.col("group_size") >= K_ANON).alias("is_k_anon"),
        )
    )


# ---------------------------------------------------------------------------
# Referential-integrity audit & KMV distinct sketch
# ---------------------------------------------------------------------------


@query(
    "q_dq_referential_orphans",
    oracle="""
    SELECT * FROM (
        SELECT 'lineitem->orders' AS relation,
               CAST((SELECT COUNT(*) FROM lineitem) AS BIGINT) AS n_rows,
               CAST((SELECT COUNT(*) FROM lineitem l
                     WHERE NOT EXISTS (SELECT 1 FROM orders o
                                       WHERE o.o_orderkey = l.l_orderkey))
                    AS BIGINT) AS n_orphans
        UNION ALL
        SELECT 'lineitem->part',
               CAST((SELECT COUNT(*) FROM lineitem) AS BIGINT),
               CAST((SELECT COUNT(*) FROM lineitem l
                     WHERE NOT EXISTS (SELECT 1 FROM part p
                                       WHERE p.p_partkey = l.l_partkey))
                    AS BIGINT)
        UNION ALL
        SELECT 'orders->customer',
               CAST((SELECT COUNT(*) FROM orders) AS BIGINT),
               CAST((SELECT COUNT(*) FROM orders o
                     WHERE NOT EXISTS (SELECT 1 FROM customer c
                                       WHERE c.c_custkey = o.o_custkey))
                    AS BIGINT)
        UNION ALL
        SELECT 'customer->nation',
               CAST((SELECT COUNT(*) FROM customer) AS BIGINT),
               CAST((SELECT COUNT(*) FROM customer c
                     WHERE NOT EXISTS (SELECT 1 FROM nation n
                                       WHERE n.n_nationkey = c.c_nationkey))
                    AS BIGINT)
        UNION ALL
        SELECT 'orders->customer_canary99',
               CAST((SELECT COUNT(*) FROM orders) AS BIGINT),
               CAST((SELECT COUNT(*) FROM orders o
                     WHERE NOT EXISTS (SELECT 1 FROM customer c
                                       WHERE c.c_custkey = o.o_custkey
                                         AND c.c_custkey % 100 <> 0))
                    AS BIGINT)
    ) ORDER BY relation
    """,
    tags=("scale", "dq"),
)
def q_dq_referential_orphans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Foreign-key orphan audit across the star schema: for each child→
    parent edge, the child row count and how many children reference a
    missing parent — the first integrity check a lake pipeline runs
    after every load (a non-zero count means a partial upsert or a
    late-arriving dimension).

    100 TB shape: each relation is a LEFT ANTI join projected to the
    key column only before joining, so the scan prunes to one int64
    column; small parents (nation, part, customer) broadcast — only
    lineitem→orders shuffles, and that join co-partitions with the
    bucketed-table layout (q_join_bucketed) when present. The four
    audits are independent and union cheaply (each is ≤1 row)."""

    def audit(child: DataFrame, ckey: str, parent: DataFrame, pkey: str,
              name: str, bcast: bool) -> DataFrame:
        ch = child.select(F.col(ckey).alias("k"))
        pa = parent.select(F.col(pkey).alias("k"))
        if bcast:
            pa = F.broadcast(pa)
        orphans = ch.join(pa, "k", "left_anti")
        return (
            ch.agg(F.count("*").alias("n_rows"))
            .crossJoin(orphans.agg(F.count("*").alias("n_orphans")))
            .select(
                F.lit(name).alias("relation"), "n_rows", "n_orphans"
            )
        )

    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    p = load_table(spark, sf_dir, "part")
    # Canary relation: the same orders->customer edge against a
    # dimension with every 100th key dropped — the partial-dimension-
    # load fault this audit exists to catch, injected deterministically
    # so the NON-ZERO arm of the detector is validated cross-engine at
    # every SF (the clean fixture keeps all real relations at 0, which
    # alone would never exercise it).
    c99 = c.filter(F.col("c_custkey") % 100 != 0)
    return (
        audit(l, "l_orderkey", o, "o_orderkey", "lineitem->orders", False)
        .unionByName(audit(l, "l_partkey", p, "p_partkey", "lineitem->part", True))
        .unionByName(audit(o, "o_custkey", c, "c_custkey", "orders->customer", True))
        .unionByName(audit(c, "c_nationkey", n, "n_nationkey", "customer->nation", True))
        .unionByName(audit(o, "o_custkey", c99, "c_custkey",
                           "orders->customer_canary99", True))
    )


# KMV (k-minimum-values) sketch: keep the K smallest *distinct* hash
# values; estimate distinct count as (K-1) * SPACE / h_(K).  The hash is
# a shared LCG so both engines compute bit-identical sketches.
KMV_K = 64
KMV_SPACE = 1 << 40
KMV_A = 1103515245
KMV_B = 12345


def _kmv_hash_sql(col: str) -> str:
    return f"(({col} * {KMV_A} + {KMV_B}) % {KMV_SPACE})"


@query(
    "q_sketch_kmv_distinct",
    oracle=f"""
    WITH h AS (
        SELECT DISTINCT o_custkey AS k,
               {_kmv_hash_sql('o_custkey')} AS h
        FROM orders
    ),
    r AS (
        SELECT h, ROW_NUMBER() OVER (ORDER BY h) AS rn FROM h
    ),
    kth AS (SELECT h AS hk FROM r WHERE rn = {KMV_K}),
    exact AS (
        SELECT CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS exact_distinct
        FROM orders
    )
    SELECT CAST({KMV_K} AS BIGINT) AS k,
           CAST(kth.hk AS BIGINT) AS kth_hash,
           CAST(({KMV_K} - 1) * {KMV_SPACE} // kth.hk AS BIGINT)
               AS est_distinct,
           exact.exact_distinct,
           CAST(abs(({KMV_K} - 1) * {KMV_SPACE} // kth.hk
                    - exact.exact_distinct) * 100
                // exact.exact_distinct AS BIGINT) AS err_pct
    FROM kth CROSS JOIN exact
    """,
    tags=("scale", "sketch"),
)
def q_sketch_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (k-minimum-values) distinct-count sketch — the mergeable
    order-statistics estimator (Bar-Yossef et al. 2002): hash every key
    with a shared LCG into a 2⁴⁰ space, keep the K=64 smallest distinct
    hashes, estimate |D| ≈ (K−1)·SPACE/h₍K₎. Reported next to the exact
    count with an integer error percentage, so the accuracy contract is
    part of the result (same pattern as q_agg_approx_distinct).

    100 TB shape: the sketch is an order statistic, so it computes as a
    partial top-K per partition (TakeOrderedAndProject — no full
    shuffle, no global sort: only K rows per partition cross the wire)
    and a driver-side K-merge; union-merging two sketches is
    concatenate + re-take-K, which is how a partitioned table rolls up
    without re-scanning. The LCG (not xxhash/md5) keeps the hash
    bit-identical across engines at zero cost."""
    o = load_table(spark, sf_dir, "orders")
    h = (
        o.select(
            ((F.col("o_custkey") * KMV_A + KMV_B) % KMV_SPACE).alias("h")
        )
        .distinct()
    )
    kth = (
        h.orderBy("h")
        .limit(KMV_K)
        .agg(F.max("h").alias("kth_hash"))
    )
    exact = o.agg(
        F.countDistinct("o_custkey").alias("exact_distinct")
    )
    return (
        F.broadcast(kth)
        .crossJoin(F.broadcast(exact))
        .select(
            F.lit(KMV_K).cast("long").alias("k"),
            F.col("kth_hash").cast("long"),
            F.expr(f"({KMV_K} - 1) * CAST({KMV_SPACE} AS LONG) div kth_hash")
            .alias("est_distinct"),
            F.col("exact_distinct").cast("long"),
            F.expr(
                f"abs(({KMV_K} - 1) * CAST({KMV_SPACE} AS LONG) div kth_hash"
                " - exact_distinct) * 100 div exact_distinct"
            ).alias("err_pct"),
        )
    )


@query(
    "q_graph_degree_hist",
    oracle=EVENTS_US
    + f"""
    , e AS (
        SELECT user_id, event_type,
               time_bucket(INTERVAL 1 HOUR, ts) AS hr
        FROM events_us
    ),
    pairs AS (
        SELECT a.user_id AS ua, b.user_id AS ub,
               CAST(COUNT(*) AS BIGINT) AS w
        FROM e a JOIN e b
          ON a.hr = b.hr AND a.event_type = b.event_type
         AND a.user_id < b.user_id
        GROUP BY a.user_id, b.user_id
    ),
    edges AS (SELECT ua, ub FROM pairs WHERE w >= {TRI_MIN_COOCCUR}),
    deg AS (
        SELECT v, CAST(COUNT(*) AS BIGINT) AS degree FROM (
            SELECT ua AS v FROM edges
            UNION ALL
            SELECT ub AS v FROM edges
        ) GROUP BY v
    )
    SELECT degree,
           CAST(COUNT(*) AS BIGINT) AS n_vertices,
           MIN(v) AS min_vertex
    FROM deg GROUP BY degree
    """,
    tags=("scale", "graph"),
)
def q_graph_degree_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the thresholded co-occurrence graph (the
    same edge set as q_graph_triangles): per-vertex degree, then the
    degree histogram — the first thing you compute on any production
    graph, because the tail of this histogram IS the skew you must
    plan around (a power-law hub breaks naive wedge joins; the cap/
    salting decision reads off this exact output).

    100 TB shape: edges → one explode-both-endpoints union (map-only)
    → hash agg on vertex → hash agg on degree. Each agg shrinks the
    data by orders of magnitude and partial-aggregates map-side; the
    edge build reuses the bucketed co-occurrence join (bounded
    per-bucket fan-out, never a crossJoin)."""
    edges = co_edges(spark, sf_dir)
    deg = (
        edges.select(F.col("ua").alias("v"))
        .unionByName(edges.select(F.col("ub").alias("v")))
        .groupBy("v")
        .agg(F.count("*").alias("degree"))
    )
    return deg.groupBy("degree").agg(
        F.count("*").alias("n_vertices"),
        F.min("v").alias("min_vertex"),
    )


# Stale = the stream's high-water lag exceeds FRESH_MISSED expected
# inter-arrivals (lag_seconds x n_rows > FRESH_MISSED x span_seconds).
# A density-RELATIVE SLA: the fixture's lags shrink ~1/SF (denser
# traffic -> smaller trailing gap), so any absolute threshold (the old
# 6 h) is either never or always stale depending on SF — the relative
# form keeps both verdict arms populated at every SF (a normalized
# final gap is ~Exponential(1) regardless of n). Seconds x rows keeps
# the cross-multiply < 2^63 out to 10^9-row streams.
FRESH_MISSED = 1


@query(
    "q_dq_freshness",
    oracle=EVENTS_US
    + f"""
    , per AS (
        SELECT event_type, MAX(ts) AS last_ts,
               CAST(COUNT(*) AS BIGINT) AS n_rows
        FROM events_us GROUP BY event_type
    ),
    g AS (SELECT MAX(ts) AS global_ts, MIN(ts) AS min_ts FROM events_us)
    SELECT per.event_type, per.last_ts, per.n_rows,
           CAST((epoch_us(g.global_ts) - epoch_us(per.last_ts)) // 1000000
               AS BIGINT) AS lag_seconds,
           CAST((epoch_us(g.global_ts) - epoch_us(per.last_ts)) // 1000000
                    * per.n_rows
                > {FRESH_MISSED}
                  * ((epoch_us(g.global_ts) - epoch_us(g.min_ts)) // 1000000)
                AS BOOLEAN) AS is_stale
    FROM per CROSS JOIN g
    """,
    tags=("scale", "dq"),
)
def q_dq_freshness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stream freshness audit: each event type's high-water mark,
    its lag behind the global high-water mark in whole seconds, and a
    DENSITY-RELATIVE SLA verdict — stale when the lag exceeds
    {FRESH_MISSED} expected inter-arrival(s) of that stream (lag x
    n_rows > span, integer cross-multiply) — the first alarm a
    delivery pipeline wires up, because a silently-stuck upstream
    shows up as freshness lag long before volume anomalies trip, and
    the relative form keeps the alarm meaningful at any traffic
    density (both verdict arms fire on the fixture at every SF).

    100 TB shape: two MAX aggregations — per-type (map-side combined
    to ~5 rows) and global (1 row, broadcast via crossJoin). With a
    date/hour-partitioned layout the scan prunes to the newest
    partitions only; the lag arithmetic is integer epoch seconds, so
    the SLA verdict is engine-exact."""
    e = load_table(spark, sf_dir, "events")
    per = e.groupBy("event_type").agg(
        F.max("ts").alias("last_ts"), F.count("*").alias("n_rows")
    )
    g = F.broadcast(
        e.agg(F.max("ts").alias("global_ts"), F.min("ts").alias("min_ts"))
    )
    # Exact µs difference floored to whole seconds — identical to the
    # oracle's epoch_us // 1e6 (per-side second truncation would skew
    # by one when the two timestamps' sub-second fractions straddle).
    lag = F.expr(
        "(unix_micros(global_ts) - unix_micros(last_ts)) div 1000000"
    )
    span = F.expr(
        "(unix_micros(global_ts) - unix_micros(min_ts)) div 1000000"
    )
    return per.crossJoin(g).select(
        "event_type",
        "last_ts",
        "n_rows",
        lag.cast("long").alias("lag_seconds"),
        (lag * F.col("n_rows") > F.lit(FRESH_MISSED) * span).alias(
            "is_stale"
        ),
    )


# Bin-packing target: contiguous manifest chunks of ~this many proxy
# bytes (64 bytes/row on the monthly file model below).
BINPACK_TARGET_BYTES = 1 << 21


@query(
    "q_maintenance_bin_packing",
    oracle=f"""
    WITH files AS (
        SELECT date_trunc('month', o_orderdate) AS part,
               CAST(COUNT(*) * 64 AS BIGINT) AS f_bytes
        FROM orders GROUP BY date_trunc('month', o_orderdate)
    ),
    planned AS (
        SELECT part, f_bytes,
               CAST((SUM(f_bytes) OVER (ORDER BY part) - f_bytes)
                    // {BINPACK_TARGET_BYTES} AS BIGINT) AS bin
        FROM files
    )
    SELECT bin,
           CAST(COUNT(*) AS BIGINT) AS n_files,
           CAST(SUM(f_bytes) AS BIGINT) AS bin_bytes,
           MIN(part) AS first_part,
           MAX(part) AS last_part
    FROM planned GROUP BY bin
    """,
    tags=("maintenance", "scale"),
)
def q_maintenance_bin_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compaction/scan-task bin-packing planner (the manifest-splitting
    step of an OPTIMIZE or a scan scheduler): the table's file listing
    — modeled deterministically as one file per order-month with
    64 B/row — is split into contiguous target-size chunks by an
    exclusive running sum over the sorted manifest: a file starting
    inside chunk k belongs to bin k. Each bin reports file count,
    bytes, and its partition range (contiguity preserved, so bins map
    to partition-range rewrites).

    100 TB shape: planning runs over the MANIFEST (files/partitions),
    not the data — orders of magnitude smaller than the table; the
    cumsum is one global-ordered window over that manifest, which is
    exactly how Iceberg/Delta plan rewrites (driver-side over
    metadata; here it stays distributed). The rewrite each bin implies
    is embarrassingly parallel (q_maintenance_compact)."""
    o = load_table(spark, sf_dir, "orders")
    files = o.groupBy(
        F.date_trunc("month", "o_orderdate").alias("part")
    ).agg((F.count("*") * 64).alias("f_bytes"))
    w = Window.orderBy("part").rowsBetween(Window.unboundedPreceding, 0)
    planned = files.withColumn(
        "bin",
        F.expr(
            f"(sum(f_bytes) OVER (ORDER BY part ROWS BETWEEN UNBOUNDED"
            f" PRECEDING AND CURRENT ROW) - f_bytes)"
            f" div {BINPACK_TARGET_BYTES}"
        ),
    )
    return planned.groupBy("bin").agg(
        F.count("*").alias("n_files"),
        F.sum("f_bytes").alias("bin_bytes"),
        F.min("part").alias("first_part"),
        F.max("part").alias("last_part"),
    )


@query(
    "q_dq_uniqueness",
    oracle="""
    SELECT * FROM (
        SELECT 'orders.o_orderkey' AS key_col,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_distinct,
               CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS BIGINT)
                   AS n_dup_rows
        FROM orders
        UNION ALL
        SELECT 'lineitem.(l_orderkey,l_linenumber)',
               CAST(COUNT(*) AS BIGINT),
               CAST(COUNT(DISTINCT l_orderkey * 100 + l_linenumber)
                    AS BIGINT),
               CAST(COUNT(*) - COUNT(DISTINCT l_orderkey * 100
                                     + l_linenumber) AS BIGINT)
        FROM lineitem
        UNION ALL
        SELECT 'events.event_id',
               CAST(COUNT(*) AS BIGINT),
               CAST(COUNT(DISTINCT event_id) AS BIGINT),
               CAST(COUNT(*) - COUNT(DISTINCT event_id) AS BIGINT)
        FROM events
    ) ORDER BY key_col
    """,
    tags=("scale", "dq"),
)
def q_dq_uniqueness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Primary-key uniqueness audit — the remaining classic of the DQ
    suite (constraints, drift, volume, skew, freshness, referential,
    Benford are siblings): per declared key, total rows vs distinct
    keys vs duplicate-row count. The composite lineitem key packs into
    one int64 (linenumber < 100 by spec) so the distinct is a single
    hash agg, not a multi-column one.

    100 TB shape: COUNT(DISTINCT key) over a near-unique key is the
    worst-case distinct (no reduction until the final agg) — Spark
    expands it to a two-stage partial/final on the key hash, which is
    exactly the right plan; the three audits run independently and
    each emits one row."""

    def audit(df: DataFrame, key: F.Column, name: str) -> DataFrame:
        return df.agg(
            F.count("*").alias("n_rows"),
            F.countDistinct(key).alias("n_distinct"),
            (F.count("*") - F.countDistinct(key)).alias("n_dup_rows"),
        ).select(F.lit(name).alias("key_col"), "n_rows", "n_distinct", "n_dup_rows")

    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    e = load_table(spark, sf_dir, "events")
    return (
        audit(o, F.col("o_orderkey"), "orders.o_orderkey")
        .unionByName(
            audit(
                li,
                F.col("l_orderkey") * 100 + F.col("l_linenumber"),
                "lineitem.(l_orderkey,l_linenumber)",
            )
        )
        .unionByName(audit(e, F.col("event_id"), "events.event_id"))
    )


# Link-prediction degree cap: hub centers contribute O(D²) wedges and
# the weakest common-neighbor evidence; cap them out deterministically.
LINKPRED_MAX_DEGREE = 64
LINKPRED_TOP = 20


@query(
    "q_graph_link_prediction",
    oracle=EVENTS_US
    + f"""
    , e AS (
        SELECT user_id, event_type,
               time_bucket(INTERVAL 1 HOUR, ts) AS hr
        FROM events_us
    ),
    pairs AS (
        SELECT a.user_id AS ua, b.user_id AS ub,
               CAST(COUNT(*) AS BIGINT) AS w
        FROM e a JOIN e b
          ON a.hr = b.hr AND a.event_type = b.event_type
         AND a.user_id < b.user_id
        GROUP BY a.user_id, b.user_id
    ),
    edges AS (SELECT ua, ub FROM pairs WHERE w >= {TRI_MIN_COOCCUR}),
    adj AS (
        SELECT ua AS src, ub AS dst FROM edges
        UNION ALL
        SELECT ub AS src, ua AS dst FROM edges
    ),
    deg AS (SELECT src AS v, COUNT(*) AS d FROM adj GROUP BY src),
    centers AS (
        SELECT a.src, a.dst FROM adj a JOIN deg ON deg.v = a.src
        WHERE deg.d <= {LINKPRED_MAX_DEGREE}
    ),
    cand AS (
        SELECT c1.dst AS b, c2.dst AS c,
               CAST(COUNT(*) AS BIGINT) AS common_neighbors
        FROM centers c1 JOIN centers c2
          ON c1.src = c2.src AND c1.dst < c2.dst
        GROUP BY c1.dst, c2.dst
    )
    SELECT b AS user_a, c AS user_b, common_neighbors
    FROM cand
    WHERE NOT EXISTS (SELECT 1 FROM edges
                      WHERE edges.ua = cand.b AND edges.ub = cand.c)
    ORDER BY common_neighbors DESC, user_a, user_b
    LIMIT {LINKPRED_TOP}
    """,
    tags=("scale", "graph"),
)
def q_graph_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Common-neighbor link prediction over the co-occurrence graph —
    the "people you may know" / co-purchase recommendation primitive:
    non-adjacent user pairs ranked by shared neighbors, top-20. The
    complement of q_graph_triangles: wedges whose closing edge is
    ABSENT (left-anti) instead of present.

    100 TB shape: common-neighbor counting is inherently quadratic at
    hubs — and unlike triangle counting there is NO orientation trick
    (every center must be enumerated, not just the minimal one). The
    scalable form is therefore an explicit DEGREE CAP on wedge centers
    (≤ 64 here, deterministic and part of the operator's definition):
    exactly what docs/SCALE.md §13's densification probe mandates, and
    standard practice in production recommenders — a hub's
    common-neighbor evidence is weakest anyway (TF-IDF-style degree
    discounting is the refinement). Candidates then anti-join the edge
    set and TakeOrdered picks the top-20."""
    edges = co_edges(spark, sf_dir)
    adj = sym_edges(spark, sf_dir)  # shared persisted union (round 14)
    deg = adj.groupBy("src").agg(F.count("*").alias("d"))
    centers = (
        adj.join(deg, "src")
        .filter(F.col("d") <= LINKPRED_MAX_DEGREE)
        .select("src", "dst")
        .persist()
    )
    c1, c2 = centers.alias("c1"), centers.alias("c2")
    cand = (
        c1.join(
            c2,
            (F.col("c1.src") == F.col("c2.src"))
            & (F.col("c1.dst") < F.col("c2.dst")),
        )
        .groupBy(
            F.col("c1.dst").alias("user_a"), F.col("c2.dst").alias("user_b")
        )
        .agg(F.count("*").alias("common_neighbors"))
    )
    new_links = cand.join(
        edges,
        (cand.user_a == edges.ua) & (cand.user_b == edges.ub),
        "left_anti",
    )
    return new_links.orderBy(
        F.desc("common_neighbors"), "user_a", "user_b"
    ).limit(LINKPRED_TOP)


# Chi-square drift split point: orders up to 1997 vs after — mid-range
# of the fixture's 1995-2001 calendar. A 1994 split left the 'before'
# period EMPTY, which zeroes every chi-square contribution (o*N equals
# row_total*col_total when only one period exists): the key validated
# the trivial all-zero statistic at every SF. Both periods now carry
# ~half the orders; tests/test_new_key_invariants.py pins both periods
# present and a non-zero total.
CHISQ_SPLIT_YEAR = 1997


@query(
    "q_dq_chisq_drift",
    oracle=f"""
    WITH cells AS (
        SELECT o_orderpriority AS cat,
               CASE WHEN year(o_orderdate) <= {CHISQ_SPLIT_YEAR}
                    THEN 'before' ELSE 'after' END AS period,
               CAST(COUNT(*) AS BIGINT) AS o
        FROM orders GROUP BY 1, 2
    ),
    m AS (
        SELECT c.cat, c.period, c.o,
               SUM(c.o) OVER (PARTITION BY c.cat) AS row_total,
               SUM(c.o) OVER (PARTITION BY c.period) AS col_total,
               SUM(c.o) OVER () AS grand
        FROM cells c
    ),
    contrib AS (
        SELECT cat, period, o,
               CAST(CAST(o * grand - row_total * col_total AS HUGEINT)
                    * (o * grand - row_total * col_total) * 1000000
                    // (CAST(grand AS HUGEINT) * row_total * col_total)
                    AS BIGINT) AS chi2_contrib_ppm
        FROM m
    )
    SELECT cat, period, o, chi2_contrib_ppm,
           CAST(SUM(chi2_contrib_ppm) OVER () AS BIGINT)
               AS chi2_total_ppm
    FROM contrib
    """,
    tags=("scale", "dq"),
)
def q_dq_chisq_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Categorical-distribution drift via the chi-square statistic:
    the order-priority mix before vs after the split year, each
    contingency cell contributing ((O·N − R·C)²·10⁶) div (N·R·C) —
    the χ²·ppm decomposition in exact integer arithmetic (squares run
    in DECIMAL(38)/HUGEINT: (O·N)² passes 2⁶³ at sf0.1 already — the
    bounded-side rule's escape hatch, same as q_agg_gini). A drifted
    category mix (new upstream release, enum addition) shows up as a
    fat cell contribution long before volumes move; this is the
    categorical sibling of q_dq_volume_anomaly and the null-rate drift
    audit.

    100 TB shape: one hash agg to |categories|×2 cells, then windows
    over those ≤10 rows — the audit costs a scan, invariant to table
    width; the marginals are window sums, not re-scans."""
    o = load_table(spark, sf_dir, "orders")
    cells = o.groupBy(
        F.col("o_orderpriority").alias("cat"),
        F.when(F.year("o_orderdate") <= CHISQ_SPLIT_YEAR, "before")
        .otherwise("after")
        .alias("period"),
    ).agg(F.count("*").alias("o"))
    w_row = Window.partitionBy("cat")
    w_col = Window.partitionBy("period")
    w_all = Window.partitionBy()
    m = cells.select(
        "cat",
        "period",
        "o",
        F.sum("o").over(w_row).alias("row_total"),
        F.sum("o").over(w_col).alias("col_total"),
        F.sum("o").over(w_all).alias("grand"),
    )
    contrib = m.select(
        "cat",
        "period",
        "o",
        F.expr(
            "CAST(CAST(o * grand - row_total * col_total AS DECIMAL(38,0))"
            " * (o * grand - row_total * col_total) * 1000000"
            " div (CAST(grand AS DECIMAL(38,0)) * row_total * col_total)"
            " AS LONG)"
        ).alias("chi2_contrib_ppm"),
    )
    return contrib.withColumn(
        "chi2_total_ppm",
        F.sum("chi2_contrib_ppm").over(Window.partitionBy()),
    )


@query(
    "q_sketch_hll_intersection",
    oracle="""
    SELECT CAST(COUNT(DISTINCT CASE WHEN event_type = 'view'
                                    THEN user_id END) AS BIGINT) AS exact_a,
           CAST(COUNT(DISTINCT CASE WHEN event_type = 'click'
                                    THEN user_id END) AS BIGINT) AS exact_b,
           CAST(COUNT(DISTINCT CASE WHEN event_type IN ('view', 'click')
                                    THEN user_id END) AS BIGINT)
               AS exact_union,
           CAST(COUNT(DISTINCT CASE WHEN event_type = 'view'
                                    THEN user_id END)
                + COUNT(DISTINCT CASE WHEN event_type = 'click'
                                      THEN user_id END)
                - COUNT(DISTINCT CASE WHEN event_type IN ('view', 'click')
                                      THEN user_id END) AS BIGINT)
               AS exact_intersection,
           TRUE AS hll_within_15pct
    FROM events
    """,
    tags=("scale", "sketch", "approx"),
)
def q_sketch_hll_intersection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience-overlap estimation — |A∩B| by inclusion–exclusion over
    HLL sketches (viewers ∩ clickers here; ad-tech's daily bread): the
    sketches give |A|, |B|, |A∪B| mergeably, the intersection falls
    out as A+B−U. The oracle-checked contract follows
    q_agg_approx_distinct: exact values plus a verdict that the
    HLL-derived intersection lands within 15% of exact (looser than
    the single-set 5% — inclusion–exclusion compounds three sketch
    errors, and THAT compounding is the documented caveat: for small
    intersections of huge sets the estimate degrades and a minhash
    Jaccard sketch (q_dedup_minhash_estimate) is the right tool).

    100 TB shape: one pass, one agg row — three conditional
    COUNT(DISTINCT)s expand to partial/final on the user key; the HLL
    variants are fixed-memory mergeable sketches, which is the whole
    point at this scale."""
    e = load_table(spark, sf_dir, "events")
    a = F.when(F.col("event_type") == "view", F.col("user_id"))
    b = F.when(F.col("event_type") == "click", F.col("user_id"))
    u = F.when(
        F.col("event_type").isin("view", "click"), F.col("user_id")
    )
    est_i = (
        F.approx_count_distinct(a, 0.02)
        + F.approx_count_distinct(b, 0.02)
        - F.approx_count_distinct(u, 0.02)
    )
    exact_i = (
        F.countDistinct(a) + F.countDistinct(b) - F.countDistinct(u)
    )
    return e.agg(
        F.countDistinct(a).alias("exact_a"),
        F.countDistinct(b).alias("exact_b"),
        F.countDistinct(u).alias("exact_union"),
        exact_i.alias("exact_intersection"),
        (F.abs(est_i - exact_i) <= exact_i * 0.15).alias(
            "hll_within_15pct"
        ),
    )


@query(
    "q_dq_functional_dep",
    oracle="""
    WITH fd1 AS (
        SELECT c_nationkey AS k, COUNT(DISTINCT c_mktsegment) AS nd
        FROM customer GROUP BY 1
    ),
    fd2 AS (
        SELECT o_custkey AS k, COUNT(DISTINCT o_orderpriority) AS nd
        FROM orders GROUP BY 1
    ),
    fd3 AS (
        SELECT o_orderdate AS k, COUNT(DISTINCT o_orderstatus) AS nd
        FROM orders GROUP BY 1
    )
    SELECT 'customer.c_nationkey->c_mktsegment' AS fd,
           CAST(COUNT(*) AS BIGINT) AS n_keys,
           CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_violating_keys,
           CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) * 1000000
                // COUNT(*) AS BIGINT) AS violation_ppm
    FROM fd1
    UNION ALL
    SELECT 'orders.o_custkey->o_orderpriority',
           CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT),
           CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) * 1000000
                // COUNT(*) AS BIGINT)
    FROM fd2
    UNION ALL
    SELECT 'orders.o_orderdate->o_orderstatus',
           CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT),
           CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) * 1000000
                // COUNT(*) AS BIGINT)
    FROM fd3
    """,
    tags=("scale", "dq"),
)
def q_dq_functional_dep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency audit — the schema-inference half of data
    profiling (Papenbrock's FD-discovery family, reduced to candidate
    CHECKING): for each declared candidate FD lhs→rhs, count the lhs
    keys whose rhs is not single-valued. A 0-ppm row is an inferred
    constraint you can exploit (join elimination, dimension
    normalization, dedup keys); a high-ppm row kills the hypothesis.
    Three representative candidates run here (nation→segment,
    custkey→priority, date→status — all expected violated on TPC-H
    data, which is the point: the audit MEASURES, not assumes).

    100 TB shape: each candidate is one map-side-combined
    (lhs, distinct-rhs) aggregate that shrinks to |lhs| rows, then a
    1-row summary — candidates are independent and Spark runs the
    union's branches as parallel stages sharing the table scan when
    possible. Checking k candidates costs k aggregates, not a profile
    of all column pairs (that's the discovery problem; checking is the
    scalable half)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")

    def check(df: DataFrame, lhs: str, rhs: str, name: str) -> DataFrame:
        g = df.groupBy(lhs).agg(F.countDistinct(rhs).alias("nd"))
        viol = F.sum(F.when(F.col("nd") > 1, 1).otherwise(0))
        return g.agg(
            F.lit(name).alias("fd"),
            F.count("*").alias("n_keys"),
            viol.alias("n_violating_keys"),
            F.expr(
                "SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) * 1000000"
                " DIV COUNT(*)"
            ).alias("violation_ppm"),
        )

    return (
        check(c, "c_nationkey", "c_mktsegment",
              "customer.c_nationkey->c_mktsegment")
        .unionByName(
            check(o, "o_custkey", "o_orderpriority",
                  "orders.o_custkey->o_orderpriority")
        )
        .unionByName(
            check(o, "o_orderdate", "o_orderstatus",
                  "orders.o_orderdate->o_orderstatus")
        )
    )


KCORE_K = 2
KCORE_MAX_ROUNDS = 12  # peel rounds; the peel raises if still shrinking


def _kcore_oracle() -> str:
    ctes = [
        """e AS MATERIALIZED (
        SELECT user_id, event_type,
               time_bucket(INTERVAL 1 HOUR, ts) AS hr
        FROM events_us
    )""",
        f"""pairs AS MATERIALIZED (
        SELECT a.user_id AS ua, b.user_id AS ub
        FROM e a JOIN e b
          ON a.hr = b.hr AND a.event_type = b.event_type
         AND a.user_id < b.user_id
        GROUP BY a.user_id, b.user_id
        HAVING COUNT(*) >= {TRI_MIN_COOCCUR}
    )""",
        """sym AS MATERIALIZED (
        SELECT ua AS u, ub AS v FROM pairs
        UNION ALL SELECT ub, ua FROM pairs
    )""",
        "alive0 AS MATERIALIZED (SELECT DISTINCT u FROM sym)",
    ]
    for i in range(KCORE_MAX_ROUNDS):
        ctes.append(
            f"""alive{i + 1} AS MATERIALIZED (
        SELECT s.u FROM sym s
        JOIN alive{i} a ON s.u = a.u
        JOIN alive{i} b ON s.v = b.u
        GROUP BY s.u HAVING COUNT(*) >= {KCORE_K}
    )"""
        )
    last = f"alive{KCORE_MAX_ROUNDS}"
    return (
        "WITH events_us AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, "
        "user_id, event_type, value, props FROM events),\n    "
        + ",\n    ".join(ctes)
        + f"""
    , coredeg AS (
        SELECT s.u AS v, CAST(COUNT(*) AS BIGINT) AS core_degree
        FROM sym s
        JOIN {last} a ON s.u = a.u
        JOIN {last} b ON s.v = b.u
        GROUP BY s.u
    )
    SELECT core_degree,
           CAST(COUNT(*) AS BIGINT) AS n_vertices,
           MIN(v) AS min_vertex
    FROM coredeg GROUP BY core_degree
    """
    )


@query("q_graph_kcore", oracle=_kcore_oracle(), tags=("scale", "graph"))
def q_graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core decomposition (k=2) of the co-occurrence graph — the
    degeneracy peel that separates structurally-embedded vertices from
    tendrils (community detection preprocessing, influence floors,
    spam-ring hunting): repeatedly delete vertices with fewer than k
    surviving neighbors until a fixpoint; what remains is the maximal
    subgraph of minimum degree k. The peel is expressed MONOTONICALLY
    (the alive set only shrinks), so each round is two semi-joins +
    one counting aggregate over the symmetric edge list, and the
    driver loop converges by alive-count fixpoint with lineage
    truncated per round (the q_dedup_clusters pattern). The DuckDB
    oracle unrolls KCORE_MAX_ROUNDS peel rounds — exact because a
    converged alive set is idempotent under further rounds, and the
    peel raises if it is still shrinking at round KCORE_MAX_ROUNDS.

    100 TB shape: per round the edge frame is filtered by two
    broadcast-able semi-joins against the shrinking alive set and hash
    aggregated — never a self-join of the graph; round count is
    bounded by the peel depth (≤ max core number), not the diameter.
    Output is the degree histogram WITHIN the core — the first audit
    of how much graph survives the floor."""
    # Shared persisted symmetrized adjacency (round 14) — the old
    # per-call union + EAGER localCheckpoint was a driver job per call
    # over the same small frame.
    sym = sym_edges(spark, sf_dir).select(
        F.col("src").alias("u"), F.col("dst").alias("v")
    )
    alive = sym.select("u").distinct().localCheckpoint()
    alive, _ = fixpoint(
        alive,
        lambda alive: (
            sym.join(alive, "u", "left_semi")
            .join(alive.select(F.col("u").alias("v")), "v", "left_semi")
            .groupBy("u")
            .agg(F.count("*").alias("deg"))
            .filter(F.col("deg") >= KCORE_K)
            .select("u")
            .localCheckpoint()
        ),
        DataFrame.count,
        max_rounds=KCORE_MAX_ROUNDS,
        name="q_graph_kcore",
        # The input is often already the k-core (round 1 converges at
        # sf0.01 and sf0.1), so its count is worth one job.
        prev=alive.count(),
    )
    coredeg = (
        sym.join(alive, "u", "left_semi")
        .join(alive.select(F.col("u").alias("v")), "v", "left_semi")
        .groupBy(F.col("u").alias("v_id"))
        .agg(F.count("*").alias("core_degree"))
    )
    return coredeg.groupBy("core_degree").agg(
        F.count("*").alias("n_vertices"),
        F.min("v_id").alias("min_vertex"),
    )


# ---------------------------------------------------------------------------
# Bounded-depth BFS / shortest hop distance from a seed set
# ---------------------------------------------------------------------------

_BFS_DEPTH = 3
_BFS_OUT_DEGREE = 2  # keep each node's top-2 out-edges (by weight) — a
# scale-independent sparsification; the raw nation trade graph is complete
# at every SF, which would make every BFS a 1-hop triviality.

# e0 (weighted nation-trade edges) is its own constant so _sp_oracle can
# compose it with a weighted edge list instead of string-splitting the
# formatted _BFS_EDGE_CTE (which silently broke on whitespace edits).
# The edge CTEs of the BFS, SP and HITS oracles are MATERIALIZED: each
# round references them, and DuckDB otherwise re-inlines the 4-way
# lineitem join per reference (out of memory at sf0.1 under a 4 GB cap).
_BFS_E0_CTE = """WITH e0 AS MATERIALIZED (
        SELECT c.c_nationkey AS src, s.s_nationkey AS dst,
               CAST(COUNT(*) AS BIGINT) AS w
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        WHERE c.c_nationkey <> s.s_nationkey
        GROUP BY 1, 2
    )"""

_BFS_EDGE_CTE = f"""
    {_BFS_E0_CTE},
    edges AS MATERIALIZED (
        SELECT src, dst FROM (
            SELECT src, dst,
                   row_number() OVER (PARTITION BY src
                                      ORDER BY w DESC, dst) AS rn
            FROM e0
        ) WHERE rn <= {_BFS_OUT_DEGREE}
    )
"""


def _bfs_oracle(depth: int = _BFS_DEPTH) -> str:
    ctes = [
        "d0 AS (SELECT n_nationkey AS node, CAST(0 AS BIGINT) AS hops"
        " FROM nation WHERE n_regionkey = 0)",
        "f0 AS (SELECT node FROM d0)",
    ]
    for r in range(1, depth + 1):
        ctes.append(
            f"""n{r} AS (
        SELECT DISTINCT e.dst AS node, CAST({r} AS BIGINT) AS hops
        FROM edges e JOIN f{r - 1} f ON e.src = f.node
        WHERE e.dst NOT IN (SELECT node FROM d{r - 1})
    )"""
        )
        ctes.append(
            f"d{r} AS (SELECT * FROM d{r - 1} UNION ALL SELECT * FROM n{r})"
        )
        ctes.append(f"f{r} AS (SELECT node FROM n{r})")
    return (
        _BFS_EDGE_CTE
        + ", "
        + ",\n    ".join(ctes)
        + f"\n    SELECT node, hops FROM d{depth}"
    )


@query("q_graph_bfs_hops", oracle=_bfs_oracle(), tags=("scale", "graph"))
def q_graph_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-depth BFS: minimal hop distance from a seed set (the
    region-0 nations) over the sparsified trade graph, depth <=
    _BFS_DEPTH — the classic frontier-expansion graph op missing from
    the PageRank/triangles/k-core/CC/link-prediction family. The graph
    keeps each node's top-_BFS_OUT_DEGREE out-edges by co-occurrence
    weight (rank-based, so the graph stays sparse at EVERY scale
    factor; an absolute weight threshold would re-densify as SF grows).

    Per round: frontier (tiny, broadcast) semi-joins the edge list,
    discovered nodes anti-join the visited set, union, localCheckpoint
    — O(depth) rounds, no driver collect, state = |reached nodes| rows.
    100 TB shape: the edge build (three joins over the fact table) runs
    once and is the only heavy stage; each BFS round shuffles nothing
    but the frontier, and a billion-edge graph runs the same loop with
    edges hash-partitioned by src and the frontier broadcast while it
    fits (falling back to a shuffle join past that)."""
    e0 = _trade_edges(spark, sf_dir).filter(F.col("src") != F.col("dst"))
    wnd = Window.partitionBy("src").orderBy(F.col("w").desc(), "dst")
    edges = (
        e0.withColumn("rn", F.row_number().over(wnd))
        .filter(F.col("rn") <= _BFS_OUT_DEGREE)
        .select("src", "dst")
        .localCheckpoint()
    )
    seeds = (
        load_table(spark, sf_dir, "nation")
        .filter(F.col("n_regionkey") == 0)
        .select(
            F.col("n_nationkey").alias("node"),
            F.lit(0).cast("long").alias("hops"),
        )
    )
    dist = seeds.localCheckpoint()
    frontier = dist.select("node")
    for r in range(1, _BFS_DEPTH + 1):
        nbr = (
            edges.join(F.broadcast(frontier), edges.src == F.col("node"))
            .select(F.col("dst").alias("node"))
            .distinct()
        )
        new = nbr.join(dist, "node", "left_anti").select(
            "node", F.lit(r).cast("long").alias("hops")
        )
        dist = dist.unionByName(new).localCheckpoint()
        frontier = new.select("node").localCheckpoint()
    return dist


# ---------------------------------------------------------------------------
# Bounded-round single-source-set shortest path (weighted Bellman-Ford)
# ---------------------------------------------------------------------------

_SP_ROUNDS = 3
_SP_COST_SCALE = 1_000_000  # edge cost = 1e6 div weight (integer, exact)


def _sp_oracle(rounds: int = _SP_ROUNDS) -> str:
    ctes = [
        f"""ew AS MATERIALIZED (
        SELECT src, dst, {_SP_COST_SCALE} // w AS ecost FROM (
            SELECT src, dst, w,
                   row_number() OVER (PARTITION BY src
                                      ORDER BY w DESC, dst) AS rn
            FROM e0
        ) WHERE rn <= {_BFS_OUT_DEGREE}
    )""",
        "d0 AS (SELECT n_nationkey AS node, CAST(0 AS BIGINT) AS cost"
        " FROM nation WHERE n_regionkey = 0)",
    ]
    for r in range(1, rounds + 1):
        ctes.append(
            f"""c{r} AS (
        SELECT e.dst AS node, d.cost + e.ecost AS cost
        FROM d{r - 1} d JOIN ew e ON e.src = d.node
    )"""
        )
        ctes.append(
            f"""d{r} AS (
        SELECT node, MIN(cost) AS cost FROM (
            SELECT * FROM d{r - 1} UNION ALL SELECT * FROM c{r}
        ) GROUP BY node
    )"""
        )
    return (
        _BFS_E0_CTE
        + ",\n    "
        + ",\n    ".join(ctes)
        + f"\n    SELECT node, cost FROM d{rounds}"
    )


@query("q_graph_shortest_path", oracle=_sp_oracle(), tags=("scale", "graph"))
def q_graph_shortest_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted shortest path from a seed set, bounded to _SP_ROUNDS
    Bellman-Ford relaxation rounds — the weighted companion to
    q_graph_bfs_hops over the same rank-sparsified trade graph. Edge
    cost is integer 1e6 div co-occurrence-weight (heavier trade =
    cheaper hop), so every relaxation is exact int64 arithmetic and the
    unrolled DuckDB CTE reproduces each round bit-for-bit.

    Per round: the tentative-distance frame (|reached| rows) joins the
    edge list on src, candidate costs union with the incumbent, one
    min-agg per node, localCheckpoint — the textbook distributed
    Bellman-Ford, O(rounds) shuffles each bounded by |edges|. At 100 TB
    the same loop runs with edges hash-partitioned by src and distances
    co-partitioned (the PageRank layout), checkpointing every few
    rounds to cut lineage."""
    e0 = _trade_edges(spark, sf_dir).filter(F.col("src") != F.col("dst"))
    wnd = Window.partitionBy("src").orderBy(F.col("w").desc(), "dst")
    edges = (
        e0.withColumn("rn", F.row_number().over(wnd))
        .filter(F.col("rn") <= _BFS_OUT_DEGREE)
        .select(
            "src",
            "dst",
            F.expr(f"{_SP_COST_SCALE} div w").alias("ecost"),
        )
        .localCheckpoint()
    )
    dist = (
        load_table(spark, sf_dir, "nation")
        .filter(F.col("n_regionkey") == 0)
        .select(
            F.col("n_nationkey").alias("node"),
            F.lit(0).cast("long").alias("cost"),
        )
        .localCheckpoint()
    )
    for _ in range(_SP_ROUNDS):
        cand = dist.join(
            F.broadcast(edges), dist.node == edges.src
        ).select(F.col("dst").alias("node"), (F.col("cost") + F.col("ecost")).alias("cost"))
        dist = (
            dist.unionByName(cand)
            .groupBy("node")
            .agg(F.min("cost").alias("cost"))
            .localCheckpoint()
        )
    return dist


# ---------------------------------------------------------------------------
# Community detection: synchronous label propagation, bounded rounds
# ---------------------------------------------------------------------------

_LP_ROUNDS = 3


def _lp_ctes(rounds: int = _LP_ROUNDS) -> tuple[list[str], str]:
    ctes = [
        f"""pairs AS (
        SELECT a.user_id AS ua, b.user_id AS ub
        FROM (SELECT user_id, event_type,
                     date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hr
              FROM events) a
        JOIN (SELECT user_id, event_type,
                     date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hr
              FROM events) b
          ON a.hr = b.hr AND a.event_type = b.event_type
         AND a.user_id < b.user_id
        GROUP BY 1, 2
        HAVING COUNT(*) >= {TRI_MIN_COOCCUR}
    )""",
        """sym AS (
        SELECT ua AS src, ub AS dst FROM pairs
        UNION ALL
        SELECT ub AS src, ua AS dst FROM pairs
    )""",
        "l0 AS (SELECT DISTINCT src AS node, src AS label FROM sym)",
    ]
    for r in range(1, rounds + 1):
        ctes.append(
            f"""c{r} AS (
        SELECT e.dst AS node, l.label, CAST(COUNT(*) AS BIGINT) AS c
        FROM sym e JOIN l{r - 1} l ON l.node = e.src
        GROUP BY e.dst, l.label
    )"""
        )
        ctes.append(
            f"""l{r} AS (
        SELECT node, label FROM (
            SELECT node, label,
                   row_number() OVER (PARTITION BY node
                                      ORDER BY c DESC, label) AS rn
            FROM c{r}
        ) WHERE rn = 1
    )"""
        )
    return ctes, f"l{rounds}"


def _lp_oracle(rounds: int = _LP_ROUNDS) -> str:
    ctes, last = _lp_ctes(rounds)
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT label AS community,
           CAST(COUNT(*) AS BIGINT) AS n_members,
           MIN(node) AS min_node
    FROM {last} GROUP BY label
    """
    )


@query("q_graph_communities", oracle=_lp_oracle(), tags=("scale", "graph"))
def q_graph_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection by SYNCHRONOUS label propagation over the
    thresholded user co-occurrence graph (the triangles/k-core graph),
    _LP_ROUNDS rounds: every node simultaneously adopts its neighbors'
    most frequent label, ties to the smallest label — fully
    deterministic, unlike the asynchronous textbook form, so the
    unrolled DuckDB CTE reproduces every round exactly. Complements
    connected components (q_dedup_clusters splits only on
    connectivity; propagation splits dense regions by local majority).

    Per round: one labels ⋈ edges join + one (node, label) count agg +
    one argmax — three shuffles bounded by |E|, localCheckpoint per
    round. 100 TB: edges hash-partitioned by src, labels co-partitioned
    (the PageRank layout); the count agg is map-side combinable and
    label skew is bounded by max degree."""
    labels = _lp_labels(spark, sf_dir)
    return labels.groupBy(F.col("label").alias("community")).agg(
        F.count("*").alias("n_members"), F.min("node").alias("min_node")
    )


@session_cached
def _lp_state(spark: SparkSession, sf_dir: str):
    """Cached (pairs, final labels) of the deterministic propagation —
    shared by q_graph_communities and the modularity audit."""
    # Shared persisted fixtures (co_edges + the round-14 symmetrized
    # union); lazy checkpoints remain downstream: lineage is still
    # truncated at first materialization, but the rounds chain into
    # ONE multi-stage job instead of one eager job per checkpoint —
    # per-job driver overhead dominates these small-frame loops
    # (guide §1.2: per-round wall is scheduling, not compute).
    pairs = co_edges(spark, sf_dir)
    sym = sym_edges(spark, sf_dir)
    labels = sym.select(
        F.col("src").alias("node"), F.col("src").alias("label")
    ).distinct()
    for _ in range(_LP_ROUNDS):
        counts = (
            sym.join(labels, sym.src == labels.node)
            .groupBy(F.col("dst").alias("n2"), "label")
            .agg(F.count("*").alias("c"))
        )
        labels = (
            counts.groupBy("n2")
            .agg(F.max(F.struct("c", (-F.col("label")).alias("nl"))).alias("p"))
            .select(
                F.col("n2").alias("node"), (-F.col("p.nl")).alias("label")
            )
            .localCheckpoint(eager=False)
        )
    return pairs, labels


def _lp_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _lp_state(spark, sf_dir)[0]


def _lp_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _lp_state(spark, sf_dir)[1]


def _modularity_oracle() -> str:
    ctes, last = _lp_ctes()
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f""",
    m AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM pairs),
    deg AS (
        SELECT node, CAST(COUNT(*) AS BIGINT) AS d FROM (
            SELECT ua AS node FROM pairs
            UNION ALL SELECT ub AS node FROM pairs
        ) GROUP BY node
    ),
    cstat AS (
        SELECT l.label AS community,
               CAST(COUNT(*) AS BIGINT) AS n_members,
               CAST(SUM(d.d) AS BIGINT) AS deg_sum
        FROM {last} l JOIN deg d ON d.node = l.node
        GROUP BY l.label
    ),
    ein AS (
        SELECT la.label AS community, CAST(COUNT(*) AS BIGINT) AS e_in
        FROM pairs p
        JOIN {last} la ON la.node = p.ua
        JOIN {last} lb ON lb.node = p.ub
        WHERE la.label = lb.label
        GROUP BY la.label
    )
    SELECT c.community, c.n_members,
           COALESCE(e.e_in, 0) AS e_in,
           c.deg_sum,
           CAST((1000000 * COALESCE(e.e_in, 0)) // m.m
                - (1000000 * c.deg_sum * c.deg_sum) // (4 * m.m * m.m)
                AS BIGINT) AS q_contrib_ppm
    FROM cstat c LEFT JOIN ein e USING (community) CROSS JOIN m
    """
    )


@query(
    "q_graph_modularity",
    oracle=_modularity_oracle(),
    tags=("scale", "graph", "audit"),
)
def q_graph_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MODULARITY audit of the label-propagation partition — the
    quality number a community-detection job logs (Newman Q): per
    community, internal-edge count, degree mass, and the Q
    contribution e_c/m − (deg_c/2m)², in exact ppm integers (per-term
    floor division, summable by the reader) — the
    q_sim_adc_recall_audit pattern applied to graph clustering.

    Shape: reruns the deterministic propagation (same plan as
    q_graph_communities), then two broadcastable label joins against
    the pair list and one hash agg per side — all bounded by |E|. The
    degree table is the only extra state."""
    labels = _lp_labels(spark, sf_dir)
    pairs = _lp_pairs(spark, sf_dir)
    m = pairs.agg(F.count("*").alias("m"))
    deg = (
        pairs.select(F.col("ua").alias("node"))
        .unionByName(pairs.select(F.col("ub").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("d"))
    )
    cstat = (
        labels.join(deg, "node")
        .groupBy(F.col("label").alias("community"))
        .agg(F.count("*").alias("n_members"), F.sum("d").alias("deg_sum"))
    )
    la = labels.select(
        F.col("node").alias("ua"), F.col("label").alias("la")
    )
    lb = labels.select(
        F.col("node").alias("ub"), F.col("label").alias("lb")
    )
    ein = (
        pairs.join(F.broadcast(la), "ua")
        .join(F.broadcast(lb), "ub")
        .filter(F.col("la") == F.col("lb"))
        .groupBy(F.col("la").alias("community"))
        .agg(F.count("*").alias("e_in"))
    )
    return (
        cstat.join(ein, "community", "left")
        .crossJoin(F.broadcast(m))
        .select(
            "community",
            "n_members",
            F.coalesce("e_in", F.lit(0)).alias("e_in"),
            "deg_sum",
            (
                F.expr("(1000000 * coalesce(e_in, CAST(0 AS BIGINT))) div m")
                - F.expr("(1000000 * deg_sum * deg_sum) div (4 * m * m)")
            ).alias("q_contrib_ppm"),
        )
    )


_RECON_TOL_CENTS = 100  # reconciliation tolerance: 1.00 currency unit


@query(
    "q_dq_reconciliation",
    oracle=f"""
    WITH li AS (
        SELECT l_orderkey,
               CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount)
                                   * (1 + l_tax) * 100) AS BIGINT))
                    AS BIGINT) AS computed_cents
        FROM lineitem GROUP BY l_orderkey
    ),
    j AS (
        SELECT o.o_orderpriority,
               CAST(ROUND(o.o_totalprice * 100) AS BIGINT) AS book_cents,
               li.computed_cents
        FROM orders o JOIN li ON li.l_orderkey = o.o_orderkey
    )
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(COUNT(*) FILTER (
               abs(book_cents - computed_cents) > {_RECON_TOL_CENTS}
           ) AS BIGINT) AS n_mismatched,
           CAST(MAX(abs(book_cents - computed_cents)) AS BIGINT)
               AS max_abs_diff_cents,
           CAST(SUM(abs(book_cents - computed_cents)) AS BIGINT)
               AS total_abs_diff_cents
    FROM j GROUP BY o_orderpriority
    """,
    tags=("scale", "dq"),
)
def q_dq_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-table RECONCILIATION audit — the finance-closing shape:
    recompute each order's total from its lineitems (price × (1−disc)
    × (1+tax), summed in exact cents) and reconcile against the
    order's booked total within a tolerance, reported per order
    priority with mismatch counts and worst/total absolute drift.
    Complements q_dq_referential_orphans (existence) with VALUE
    consistency — the check that catches partial-load and double-apply
    corruption that referential checks cannot see.

    Shape: one map-side-combinable agg over the fact table, one join
    on the order key (both sides shuffle-partition on it; at 100 TB
    bucketed tables make it shuffle-free), one small rollup. Cents are
    rounded per LINE then summed, so the audit is bit-exact and the
    tolerance semantics are explicit, not float-fuzzy."""
    li = load_table(spark, sf_dir, "lineitem")
    computed = li.groupBy("l_orderkey").agg(
        F.sum(
            F.round(
                F.col("l_extendedprice")
                * (1 - F.col("l_discount"))
                * (1 + F.col("l_tax"))
                * 100
            ).cast("long")
        ).alias("computed_cents")
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("book_cents"),
    )
    j = o.join(computed, o.o_orderkey == computed.l_orderkey)
    diff = F.abs(F.col("book_cents") - F.col("computed_cents"))
    return j.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_orders"),
        F.sum(
            (diff > _RECON_TOL_CENTS).cast("long")
        ).alias("n_mismatched"),
        F.max(diff).alias("max_abs_diff_cents"),
        F.sum(diff).alias("total_abs_diff_cents"),
    )


L_DIVERSITY = 3  # distinct sensitive values required per QI group
_ACCTBAL_BAND = 1000  # sensitive attribute: account-balance band width


@query(
    "q_anon_ldiversity",
    oracle=f"""
    WITH g AS (
        SELECT c_nationkey, c_mktsegment,
               c_custkey // {KANON_COHORT} AS cohort,
               CAST(COUNT(*) AS BIGINT) AS group_size,
               CAST(COUNT(DISTINCT CAST(FLOOR(c_acctbal / {_ACCTBAL_BAND})
                                        AS BIGINT)) AS BIGINT) AS l_distinct
        FROM customer GROUP BY 1, 2, 3
    )
    SELECT c_nationkey, c_mktsegment, cohort, group_size, l_distinct,
           l_distinct >= {L_DIVERSITY} AS is_l_diverse
    FROM g
    """,
    tags=("scale", "dq", "privacy"),
)
def q_anon_ldiversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit — the privacy check k-anonymity
    (q_anon_kanonymity) cannot express: a QI group can be large yet
    still leak if every member shares the SAME sensitive value.  Per
    quasi-identifier group (nation, market segment, signup cohort —
    the same SF-invariant QI as q_anon_kanonymity, so groups with too
    FEW distinct sensitive values exist at every SF; the coarse QI's
    growing groups made the flag constant-true), count DISTINCT
    sensitive values (account-balance band) and flag groups below
    l = {L_DIVERSITY}.  Banding is FLOOR of an exact double division —
    IEEE-deterministic, so DuckDB reproduces every band bit-for-bit.

    100 TB shape: one hash agg keyed on the QI columns with a distinct
    on (QI, band) underneath — Spark plans it as two cascaded
    partial-aggregates (expand/distinct-agg), both map-side-combining
    before the single QI-keyed exchange.  Output is |QI groups| rows —
    thousands, never data-scale."""
    c = load_table(spark, sf_dir, "customer")
    band = F.floor(F.col("c_acctbal") / _ACCTBAL_BAND).cast("long")
    return (
        c.groupBy(
            "c_nationkey",
            "c_mktsegment",
            F.expr(f"c_custkey div {KANON_COHORT}").alias("cohort"),
        )
        .agg(
            F.count("*").alias("group_size"),
            F.count_distinct(band).alias("l_distinct"),
        )
        .select(
            "c_nationkey",
            "c_mktsegment",
            "cohort",
            "group_size",
            "l_distinct",
            (F.col("l_distinct") >= L_DIVERSITY).alias("is_l_diverse"),
        )
    )


T_CLOSENESS_X1M = 200_000  # flag groups with EMD > 0.2 (scaled 1e6)


@query(
    "q_anon_tcloseness",
    oracle=f"""
    WITH q AS (
        SELECT c_nationkey, c_mktsegment,
               CAST(FLOOR(c_acctbal / {_ACCTBAL_BAND}) AS BIGINT) AS band
        FROM customer
    ),
    gband AS (
        SELECT band, CAST(COUNT(*) AS BIGINT) AS g_cnt FROM q GROUP BY band
    ),
    tot AS (
        SELECT CAST(SUM(g_cnt) AS BIGINT) AS n_total,
               CAST(COUNT(*) AS BIGINT) AS m_bands
        FROM gband
    ),
    grp AS (
        SELECT c_nationkey, c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n_grp
        FROM q GROUP BY c_nationkey, c_mktsegment
    ),
    cell AS (
        SELECT c_nationkey, c_mktsegment, band,
               CAST(COUNT(*) AS BIGINT) AS c_cnt
        FROM q GROUP BY c_nationkey, c_mktsegment, band
    ),
    grid AS (
        SELECT g.c_nationkey, g.c_mktsegment, g.n_grp, b.band, b.g_cnt,
               COALESCE(c.c_cnt, 0) AS c_cnt
        FROM grp g CROSS JOIN gband b
        LEFT JOIN cell c
          ON c.c_nationkey = g.c_nationkey
         AND c.c_mktsegment = g.c_mktsegment
         AND c.band = b.band
    ),
    cum AS (
        SELECT c_nationkey, c_mktsegment, n_grp, band,
               CAST(SUM(c_cnt) OVER w AS BIGINT) AS cum_c,
               CAST(SUM(g_cnt) OVER w AS BIGINT) AS cum_g
        FROM grid
        WINDOW w AS (PARTITION BY c_nationkey, c_mktsegment ORDER BY band
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT c_nationkey, c_mktsegment, n_grp AS group_size,
           CAST(SUM(ABS(cum_c * t.n_total - cum_g * n_grp)) AS BIGINT)
               AS emd_num,
           CAST(SUM(ABS(cum_c * t.n_total - cum_g * n_grp)) * 1000000
                // (n_grp * t.n_total * (t.m_bands - 1)) AS BIGINT)
               AS emd_x1m,
           CAST(SUM(ABS(cum_c * t.n_total - cum_g * n_grp)) * 1000000
                // (n_grp * t.n_total * (t.m_bands - 1)) AS BIGINT)
               <= {T_CLOSENESS_X1M} AS is_t_close
    FROM cum CROSS JOIN tot t
    GROUP BY c_nationkey, c_mktsegment, n_grp, t.n_total, t.m_bands
    """,
    tags=("scale", "dq", "privacy"),
)
def q_anon_tcloseness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness audit — the third rung of the anonymity ladder
    (q_anon_kanonymity, q_anon_ldiversity): a QI group can be large AND
    diverse yet still leak if its sensitive-value DISTRIBUTION differs
    from the table's (e.g. one segment skews to high balances).  Per QI
    group, Earth Mover's Distance between the group's and the global
    band distribution over the ORDERED bands — for 1-D ordered
    categories EMD = Σ|cumulative difference| / (m−1), computed here in
    exact integer cross-products (|cum_c·N − cum_g·n| avoids forming
    either fraction) with ONE integer division at the end (×1e6).
    Int64 bound: cum_c·N ≤ n·N, safe to N ≈ 3e9 rows; beyond that
    pre-divide the global cumulative once (the q_agg_gini note).

    100 TB shape: two hash aggs at (QI, band) and (band) grain, then a
    |QI|×m dense grid via broadcast cross join (m = band count, tiny)
    and a per-QI window over m rows — output and window width are
    catalog-scale, never data-scale."""
    c = load_table(spark, sf_dir, "customer")
    q = c.select(
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") / _ACCTBAL_BAND).cast("long").alias("band"),
    )
    glob = q.groupBy("band").agg(F.count("*").alias("g_cnt"))
    tot = glob.agg(
        F.sum("g_cnt").alias("n_total"), F.count("*").alias("m_bands")
    )
    grp = q.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count("*").alias("n_grp")
    )
    cell = q.groupBy("c_nationkey", "c_mktsegment", "band").agg(
        F.count("*").alias("c_cnt")
    )
    grid = (
        grp.crossJoin(F.broadcast(glob))
        .join(cell, ["c_nationkey", "c_mktsegment", "band"], "left")
        .select(
            "c_nationkey",
            "c_mktsegment",
            "n_grp",
            "band",
            "g_cnt",
            F.coalesce(F.col("c_cnt"), F.lit(0)).alias("c_cnt"),
        )
    )
    w = (
        Window.partitionBy("c_nationkey", "c_mktsegment")
        .orderBy("band")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = grid.select(
        "c_nationkey",
        "c_mktsegment",
        "n_grp",
        F.sum("c_cnt").over(w).alias("cum_c"),
        F.sum("g_cnt").over(w).alias("cum_g"),
    )
    num = F.sum(
        F.abs(F.col("cum_c") * F.col("n_total") - F.col("cum_g") * F.col("n_grp"))
    )
    # exact int64 division (div / DuckDB //) — CAST(double) would
    # round in DuckDB but truncate in Spark
    emd = F.expr(
        "emd_num * 1000000 div (n_grp * n_total * (m_bands - 1))"
    )
    return (
        cum.crossJoin(F.broadcast(tot))
        .groupBy("c_nationkey", "c_mktsegment", "n_grp", "n_total", "m_bands")
        .agg(num.alias("emd_num"))
        .select(
            "c_nationkey",
            "c_mktsegment",
            F.col("n_grp").alias("group_size"),
            "emd_num",
            emd.alias("emd_x1m"),
            (emd <= T_CLOSENESS_X1M).alias("is_t_close"),
        )
    )


@query(
    "q_graph_local_clustering",
    oracle=EVENTS_US
    + f"""
    , e AS (
        SELECT user_id, event_type,
               time_bucket(INTERVAL 1 HOUR, ts) AS hr
        FROM events_us
    ),
    pairs AS (
        SELECT a.user_id AS ua, b.user_id AS ub,
               CAST(COUNT(*) AS BIGINT) AS w
        FROM e a JOIN e b
          ON a.hr = b.hr AND a.event_type = b.event_type
         AND a.user_id < b.user_id
        GROUP BY a.user_id, b.user_id
    ),
    edges AS (SELECT ua, ub FROM pairs WHERE w >= {TRI_MIN_COOCCUR}),
    deg AS (
        SELECT v, CAST(COUNT(*) AS BIGINT) AS d FROM (
            SELECT ua AS v FROM edges UNION ALL SELECT ub FROM edges
        ) GROUP BY v
    ),
    oriented AS (
        SELECT CASE WHEN da.d <= db.d THEN eg.ua ELSE eg.ub END AS src,
               CASE WHEN da.d <= db.d THEN eg.ub ELSE eg.ua END AS dst
        FROM edges eg
        JOIN deg da ON da.v = eg.ua
        JOIN deg db ON db.v = eg.ub
    ),
    closed AS (
        SELECT w.a, w.b, w.c FROM (
            SELECT o1.src AS a, o1.dst AS b, o2.dst AS c
            FROM oriented o1 JOIN oriented o2
              ON o1.src = o2.src AND o1.dst < o2.dst
        ) w JOIN edges e3
          ON e3.ua = LEAST(w.b, w.c) AND e3.ub = GREATEST(w.b, w.c)
    ),
    pernode AS (
        SELECT v, CAST(COUNT(*) AS BIGINT) AS n_tri FROM (
            SELECT a AS v FROM closed
            UNION ALL SELECT b FROM closed
            UNION ALL SELECT c FROM closed
        ) GROUP BY v
    )
    SELECT deg.v AS user_id, deg.d AS degree,
           COALESCE(p.n_tri, 0) AS n_triangles,
           CAST(COALESCE(p.n_tri, 0) * 2 * 1000000
                // GREATEST(deg.d * (deg.d - 1), 1) AS BIGINT)
               AS local_cc_ppm
    FROM deg LEFT JOIN pernode p ON p.v = deg.v
    """,
    tags=("scale", "graph"),
)
def q_graph_local_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vertex (local) clustering coefficient — the node-level
    refinement of q_graph_triangles' single global row: over the same
    thresholded co-occurrence graph, each vertex's triangle count and
    local coefficient 2·T(v) / d(v)(d(v)−1) in exact integer ppm.
    Triangles are enumerated ONCE by the degree-ordered wedge method
    (each triangle closes at exactly one center) and then credited to
    all three corners — so hub vertices never re-enumerate their
    neighborhoods.  The profile separates tight communities (high
    local CC) from brokers (high degree, low CC) — the feature the
    community keys consume.

    100 TB shape: identical join geometry to q_graph_triangles (the
    sqrt(|E|)-capped wedge join — docs/SCALE.md §13); the only
    additions are a 3-way corner explode of the closed-triangle stream
    and one |V|-grain hash agg.  Output is |V| rows."""
    # Round 14: the triangle enumeration is the shared wedge_frames
    # fixture (see q_graph_triangles) — this key keeps only its own
    # per-vertex credit agg and the degree join.
    wf = wedge_frames(spark, sf_dir)
    deg = wf["deg"]
    closed = wf["closed"]
    pernode = (
        closed.select(F.col("a").alias("v"))
        .unionByName(closed.select(F.col("b").alias("v")))
        .unionByName(closed.select(F.col("c").alias("v")))
        .groupBy("v")
        .agg(F.count("*").alias("n_tri"))
    )
    return deg.join(pernode, "v", "left").select(
        F.col("v").alias("user_id"),
        F.col("d").alias("degree"),
        F.coalesce(F.col("n_tri"), F.lit(0)).alias("n_triangles"),
        F.expr(
            "coalesce(n_tri, 0) * 2 * 1000000"
            " div greatest(d * (d - 1), 1)"
        ).alias("local_cc_ppm"),
    )


@query(
    "q_dq_monotonic",
    oracle=EVENTS_US
    + """
    , seq AS (
        SELECT 'events_id_vs_ts' AS sequence_name,
               event_type AS grp, CAST(ts AS TIMESTAMP) AS v,
               LAG(CAST(ts AS TIMESTAMP)) OVER (
                   PARTITION BY user_id ORDER BY event_id) AS prev_v
        FROM events_us
        UNION ALL
        SELECT 'orders_key_vs_date' AS sequence_name,
               o_orderpriority AS grp, CAST(o_orderdate AS TIMESTAMP) AS v,
               LAG(CAST(o_orderdate AS TIMESTAMP)) OVER (
                   PARTITION BY o_custkey ORDER BY o_orderkey) AS prev_v
        FROM orders
    )
    SELECT sequence_name, grp,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CASE WHEN prev_v IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_pairs,
           CAST(SUM(CASE WHEN v < prev_v THEN 1 ELSE 0 END) AS BIGINT)
               AS n_inversions,
           CAST(SUM(CASE WHEN v < prev_v THEN 1 ELSE 0 END) * 1000000
                // GREATEST(SUM(CASE WHEN prev_v IS NOT NULL
                                     THEN 1 ELSE 0 END), 1) AS BIGINT)
               AS inversion_ppm
    FROM seq GROUP BY sequence_name, grp
    """,
    tags=("scale", "dq"),
)
def q_dq_monotonic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-vs-order consistency audit, TWO sequences in one pass:
    (a) within each user's event stream, are event ids assigned in
    timestamp order? (the fixture's writer IS monotone — this section
    pins the clean arm at 0 inversions); (b) within each customer, are
    order keys assigned in order-date order? (the fixture's keys are
    NOT date-ordered — this section exercises the detector's firing
    arm with real inversions at every SF). The writer-side bug class
    (buffered out-of-order flush, clock skew between shards, id
    wraparound) silently breaks every downstream asof join and
    sessionizer that trusts id order. Exact integer counts + one ppm
    division; both arms validated cross-engine.

    100 TB shape: ONE partition-key window per sequence (the same
    exchange every sessionize key pays) and a map-side-combined
    group-grain agg — output is |groups| rows. The check composes per
    partition: run it per ingest day and inversions can only be
    missed across partition boundaries, which the day-boundary
    overlap join covers."""
    e = load_table(spark, sf_dir, "events")
    we = Window.partitionBy("user_id").orderBy("event_id")
    seq_e = e.select(
        F.lit("events_id_vs_ts").alias("sequence_name"),
        F.col("event_type").alias("grp"),
        F.col("ts").alias("v"),
        F.lag("ts").over(we).alias("prev_v"),
    )
    o = load_table(spark, sf_dir, "orders")
    wo = Window.partitionBy("o_custkey").orderBy("o_orderkey")
    seq_o = o.select(
        F.lit("orders_key_vs_date").alias("sequence_name"),
        F.col("o_orderpriority").alias("grp"),
        F.col("o_orderdate").cast("timestamp").alias("v"),
        F.lag(F.col("o_orderdate").cast("timestamp"))
        .over(wo)
        .alias("prev_v"),
    )
    seq = seq_e.unionByName(seq_o)
    inv = F.sum(
        F.when(F.col("v") < F.col("prev_v"), 1).otherwise(0)
    )
    pairs = F.sum(
        F.when(F.col("prev_v").isNotNull(), 1).otherwise(0)
    )
    return seq.groupBy("sequence_name", "grp").agg(
        F.count("*").alias("n_events"),
        pairs.alias("n_pairs"),
        inv.alias("n_inversions"),
    ).select(
        "sequence_name",
        "grp",
        "n_events",
        "n_pairs",
        "n_inversions",
        F.expr(
            "n_inversions * 1000000 div greatest(n_pairs, 1)"
        ).alias("inversion_ppm"),
    )


ER_NEAR_DIST = 3  # edit-distance verify threshold for near-duplicates


@query(
    "q_er_blocking",
    oracle=f"""
    WITH r AS (
        SELECT p_partkey, p_name,
               split_part(p_name, ' ', 1) AS blk_word,
               substring(split_part(p_name, ' ', 2), 1, 1) AS blk_init
        FROM part
    ),
    pairs AS (
        SELECT a.blk_word, a.blk_init,
               levenshtein(a.p_name, b.p_name) AS d
        FROM r a JOIN r b
          ON a.blk_word = b.blk_word AND a.blk_init = b.blk_init
         AND a.p_partkey < b.p_partkey
    ),
    recs AS (
        SELECT blk_word, blk_init, CAST(COUNT(*) AS BIGINT) AS n_records
        FROM r GROUP BY blk_word, blk_init
    )
    SELECT recs.blk_word, recs.blk_init, recs.n_records,
           CAST(COALESCE(COUNT(p.d), 0) AS BIGINT) AS n_pairs,
           CAST(COALESCE(SUM(CASE WHEN p.d = 0 THEN 1 ELSE 0 END), 0)
                AS BIGINT) AS n_exact,
           CAST(COALESCE(SUM(CASE WHEN p.d > 0 AND p.d <= {ER_NEAR_DIST}
                                  THEN 1 ELSE 0 END), 0) AS BIGINT)
               AS n_near
    FROM recs LEFT JOIN pairs p
      ON p.blk_word = recs.blk_word AND p.blk_init = recs.blk_init
    GROUP BY recs.blk_word, recs.blk_init, recs.n_records
    """,
    tags=("scale", "dedup", "er"),
)
def q_er_blocking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-resolution blocking join: candidate record pairs are
    generated ONLY within a blocking key (first name token + initial of
    the second — the classic multi-attribute block), then verified with
    an edit-distance predicate: d = 0 exact duplicate, 0 < d ≤
    {ER_NEAR_DIST} near-duplicate (catches ring/rod-style variants the
    exact key misses).  Per-block audit rows: record count, candidate
    pairs, exact and near match counts — the numbers an ER pipeline
    tunes its blocking key against (pair count vs recall).

    100 TB shape — verify at VALUE grain, not record grain: the
    distance depends only on the name, so the engine dedups to
    (block, name, cnt) FIRST, runs levenshtein on distinct-name pairs
    (catalog-sized), and recovers record-pair counts by exact algebra
    — C(cnt,2) per name for exact dupes, cntₓ·cnt_y per verified name
    pair for near dupes.  A block of a million records over 64 names
    costs 64² distance calls instead of 10¹².  The DuckDB oracle
    deliberately keeps the naive record-grain self-join — the
    hash-match proves the algebra equals brute force.  Key refinement
    (more initial chars) and salting stay the levers if distinct-value
    blocks themselves skew."""
    p = load_table(spark, sf_dir, "part").select(
        "p_partkey",
        "p_name",
        F.split("p_name", " ").getItem(0).alias("blk_word"),
        F.substring(F.split("p_name", " ").getItem(1), 1, 1).alias("blk_init"),
    )
    names = p.groupBy("blk_word", "blk_init", "p_name").agg(
        F.count("*").alias("cnt")
    )
    a = names.select(
        "blk_word",
        "blk_init",
        F.col("p_name").alias("name_a"),
        F.col("cnt").alias("cnt_a"),
    )
    b = names.select(
        F.col("blk_word").alias("bw"),
        F.col("blk_init").alias("bi"),
        F.col("p_name").alias("name_b"),
        F.col("cnt").alias("cnt_b"),
    )
    near_pairs = a.join(
        b,
        (F.col("blk_word") == F.col("bw"))
        & (F.col("blk_init") == F.col("bi"))
        & (F.col("name_a") < F.col("name_b")),
    ).select(
        "blk_word",
        "blk_init",
        (F.col("cnt_a") * F.col("cnt_b")).alias("cross_cnt"),
        F.levenshtein("name_a", "name_b").alias("d"),
    )
    near = near_pairs.groupBy("blk_word", "blk_init").agg(
        F.sum(
            F.when((F.col("d") > 0) & (F.col("d") <= ER_NEAR_DIST),
                   F.col("cross_cnt")).otherwise(F.lit(0))
        ).alias("n_near")
    )
    per_block = names.groupBy("blk_word", "blk_init").agg(
        F.sum("cnt").alias("n_records"),
        F.sum(F.expr("cnt * (cnt - 1) div 2")).alias("n_exact"),
    )
    return (
        per_block.join(near, ["blk_word", "blk_init"], "left")
        .select(
            "blk_word",
            "blk_init",
            "n_records",
            F.expr("n_records * (n_records - 1) div 2").alias("n_pairs"),
            "n_exact",
            F.coalesce(F.col("n_near"), F.lit(0)).alias("n_near"),
        )
    )


# Fixed mid-month split for the two-sample KS drift test; the fixture
# events span 2024-01-01 .. 2024-01-30 (TESTDATA.md).
KS_SPLIT_TS = "2024-01-16 00:00:00"


@query(
    "q_dq_ks_drift",
    oracle=EVENTS_US
    + f"""
    , c AS (
        SELECT event_type,
               CAST(ROUND(value * 100) AS BIGINT) AS x,
               CASE WHEN ts < TIMESTAMP '{KS_SPLIT_TS}' THEN 1 ELSE 0 END AS a,
               CASE WHEN ts < TIMESTAMP '{KS_SPLIT_TS}' THEN 0 ELSE 1 END AS b
        FROM events_us
    ),
    cnt AS (
        SELECT event_type, x,
               CAST(SUM(a) AS BIGINT) AS a_cnt,
               CAST(SUM(b) AS BIGINT) AS b_cnt
        FROM c GROUP BY event_type, x
    ),
    cum AS (
        SELECT event_type, x,
               CAST(SUM(a_cnt) OVER w AS BIGINT) AS ca,
               CAST(SUM(b_cnt) OVER w AS BIGINT) AS cb,
               CAST(SUM(a_cnt) OVER p AS BIGINT) AS na,
               CAST(SUM(b_cnt) OVER p AS BIGINT) AS nb
        FROM cnt
        WINDOW w AS (PARTITION BY event_type ORDER BY x
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
               p AS (PARTITION BY event_type)
    )
    SELECT event_type,
           CAST(MAX(na) AS BIGINT) AS n_first,
           CAST(MAX(nb) AS BIGINT) AS n_second,
           CAST(MAX(ABS(ca * nb - cb * na)) AS BIGINT) AS d_scaled,
           round(CAST(MAX(ABS(ca * nb - cb * na)) AS DOUBLE)
                 / CAST(MAX(na) * MAX(nb) AS DOUBLE), 6) AS ks_stat
    FROM cum GROUP BY event_type
    """,
    tags=("scale", "dq", "drift"),
)
def q_dq_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov drift test per event type: split
    the month at a fixed boundary, compare the first-half vs
    second-half value distributions, and report the KS statistic
    D = max_x |F1(x) − F2(x)| — the standard nonparametric drift gate
    a feature-store runs before trusting a new window of data.
    Complements q_dq_chisq_drift (categorical) with a CONTINUOUS
    distribution test.  ENGINE-EXACT: values quantize to int64 cents,
    the ECDF difference is kept as the integer |ca·N2 − cb·N1| (scaled
    by N1·N2), and only the final ratio touches floating point.

    100 TB shape: the fact scan collapses to (type, cents) counts in
    ONE map-side-combinable hash agg — at most |types| × |distinct
    cents| rows (bounded by the value domain, ~20k/type, NOT data
    scale) — then a per-type window cumsum and a per-type max over
    that bounded frame.  Int64 bound: N1·N2 < 2^63 holds to ~3·10^9
    rows per side per type; beyond that, pre-divide the scale factor
    (the q_agg_gini documentation pattern)."""
    split = F.lit(KS_SPLIT_TS).cast("timestamp")
    c = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("x"),
        F.when(F.col("ts") < split, F.lit(1)).otherwise(F.lit(0)).alias("a"),
        F.when(F.col("ts") < split, F.lit(0)).otherwise(F.lit(1)).alias("b"),
    )
    cnt = c.groupBy("event_type", "x").agg(
        F.sum("a").alias("a_cnt"), F.sum("b").alias("b_cnt")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("x")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    p = Window.partitionBy("event_type")
    cum = cnt.select(
        "event_type",
        "x",
        F.sum("a_cnt").over(w).alias("ca"),
        F.sum("b_cnt").over(w).alias("cb"),
        F.sum("a_cnt").over(p).alias("na"),
        F.sum("b_cnt").over(p).alias("nb"),
    )
    d = F.max(F.abs(F.col("ca") * F.col("nb") - F.col("cb") * F.col("na")))
    return cum.groupBy("event_type").agg(
        F.max("na").alias("n_first"),
        F.max("nb").alias("n_second"),
        d.alias("d_scaled"),
        F.round(
            d.cast("double")
            / (F.max("na") * F.max("nb")).cast("double"),
            6,
        ).alias("ks_stat"),
    )


@query(
    "q_graph_assortativity",
    oracle=EVENTS_US
    + f"""
    , e AS (
        SELECT user_id, event_type,
               time_bucket(INTERVAL 1 HOUR, ts) AS hr
        FROM events_us
    ),
    pairs AS (
        SELECT a.user_id AS ua, b.user_id AS ub,
               CAST(COUNT(*) AS BIGINT) AS w
        FROM e a JOIN e b
          ON a.hr = b.hr AND a.event_type = b.event_type
         AND a.user_id < b.user_id
        GROUP BY a.user_id, b.user_id
    ),
    edges AS (SELECT ua, ub FROM pairs WHERE w >= {TRI_MIN_COOCCUR}),
    deg AS (
        SELECT v, CAST(COUNT(*) AS BIGINT) AS degree FROM (
            SELECT ua AS v FROM edges
            UNION ALL
            SELECT ub AS v FROM edges
        ) GROUP BY v
    ),
    ends AS (
        SELECT da.degree AS dx, db.degree AS dy
        FROM edges e2
        JOIN deg da ON e2.ua = da.v
        JOIN deg db ON e2.ub = db.v
    ),
    sym AS (
        SELECT dx, dy FROM ends
        UNION ALL
        SELECT dy AS dx, dx AS dy FROM ends
    ),
    s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(dx) AS BIGINT) AS sx,
               CAST(SUM(dx * dy) AS BIGINT) AS sxy,
               CAST(SUM(dx * dx) AS BIGINT) AS sxx
        FROM sym
    )
    SELECT CAST(n // 2 AS BIGINT) AS n_edges,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM deg) AS n_vertices,
           CASE WHEN n * sxx - sx * sx > 0
                THEN round(CAST(n * sxy - sx * sx AS DOUBLE)
                           / CAST(n * sxx - sx * sx AS DOUBLE), 6)
           END AS assortativity
    FROM s
    """,
    tags=("scale", "graph"),
)
def q_graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the thresholded co-occurrence graph (the
    q_graph_triangles edge set): the Pearson correlation of the degrees
    at the two ends of each edge, over the SYMMETRIZED edge list — the
    one scalar that says whether hubs attach to hubs (assortative,
    r > 0, social-graph-like) or to leaves (disassortative, r < 0,
    hub-and-spoke) — which decides whether degree-based partitioning
    will balance or collapse.  Symmetrization makes the x and y
    marginals identical, so r = (n·Σxy − (Σx)²)/(n·Σx² − (Σx)²): every
    co-moment is an exact int64 sum of integer degrees and only the
    final ratio touches floating point — DuckDB reproduces it
    bit-for-bit.

    100 TB shape: edges reuse the bounded bucketed co-occurrence join;
    the degree table is |V| rows (orders of magnitude below the edge
    list) and BROADCASTS to both endpoint joins, so edges never
    shuffle; the co-moments collapse in ONE map-side-combined global
    agg to a single row.  Int64 bound: Σdx·dy ≤ 2E·deg_max² — holds to
    ~10^9 edges at deg_max 10^4; past that, pre-center degrees (the
    q_agg_gini documentation pattern)."""
    # Round 14: the shared persisted symmetrized adjacency replaces the
    # per-key endpoint union — each undirected edge appears as both
    # directed rows, so joining degrees onto (src, dst) yields exactly
    # the old ends ∪ swapped(ends) moment rows (same int64 sums).
    adj = sym_edges(spark, sf_dir)
    deg = adj.groupBy(F.col("src").alias("v")).agg(
        F.count("*").alias("degree")
    )
    da = deg.select(F.col("v").alias("src"), F.col("degree").alias("dx"))
    db = deg.select(F.col("v").alias("dst"), F.col("degree").alias("dy"))
    sym = adj.join(F.broadcast(da), "src").join(F.broadcast(db), "dst")
    s = sym.agg(
        F.count("*").alias("n"),
        F.sum("dx").alias("sx"),
        F.sum(F.col("dx") * F.col("dy")).alias("sxy"),
        F.sum(F.col("dx") * F.col("dx")).alias("sxx"),
    )
    nv = deg.agg(F.count("*").alias("n_vertices"))
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sx")).cast("double")
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    return s.crossJoin(nv).select(
        F.floor(F.col("n") / 2).cast("long").alias("n_edges"),
        "n_vertices",
        F.when(den > 0, F.round(num / den.cast("double"), 6)).alias(
            "assortativity"
        ),
    )


# ---------------------------------------------------------------------------
# Hilbert-curve layout audit (vs Morton/z-order on the same grid)
# ---------------------------------------------------------------------------

HILBERT_BITS = 8           # 256x256 grid
HILBERT_USER_DIV = 8       # x = user_id div 8 keeps x inside the grid
HILBERT_BUCKETS = 32
# probe rectangle in GRID coordinates: x (user_id div 8) in [2, 6),
# y (day) in [8, 16) — both layouts are probed with the identical box.
HILBERT_PROBE = (2, 6, 8, 16)


def _hilbert_rounds(divop: str) -> list[tuple[str, str]]:
    """Per-round (rx/ry projection, rotate/accumulate projection) SQL
    expression pairs for the standard Hilbert xy→d transform (the
    public-domain algorithm of Hilbert 1891 as given in Warren,
    Hacker's Delight §16 / Wikipedia "Hilbert curve"), unrolled for
    ``HILBERT_BITS`` with div/%/CASE arithmetic ONLY, so the same
    expression text runs in Spark SQL (divop='div') and DuckDB
    (divop='//').  Quadrant order per round: (3*rx) XOR ry, spelled
    arithmetically as rx*(3-ry) + (1-rx)*ry; the ry=0 branch reflects
    (rx=1) and swaps x/y — the rotation that gives Hilbert its
    adjacency (unlike Morton, consecutive d are always grid
    neighbors, so per-file bounding boxes stay tighter)."""
    n1 = (1 << HILBERT_BITS) - 1  # reflection is about the FULL grid
    rounds = []
    for i in reversed(range(HILBERT_BITS)):
        s = 1 << i
        a = (
            f"(x {divop} {s}) % 2 AS rx@@"
            f"(y {divop} {s}) % 2 AS ry"
        )
        # New values under FRESH names (nx/ny/nd): both Spark 4 and
        # DuckDB resolve lateral column aliases, so re-using `x` as the
        # output name would silently rebind the sibling expression's
        # `x` to the NEW value mid-round.
        b = (
            f"d + {s * s} * (rx * (3 - ry) + (1 - rx) * ry) AS nd@@"
            f"CASE WHEN ry = 1 THEN x WHEN rx = 1 THEN {n1} - y "
            f"ELSE y END AS nx@@"
            f"CASE WHEN ry = 1 THEN y WHEN rx = 1 THEN {n1} - x "
            f"ELSE x END AS ny"
        )
        c = "nx AS x@@ny AS y@@nd AS d"
        rounds.append((a, b, c))
    return rounds


def _hilbert_grid_morton(divop: str) -> str:
    """Morton interleave over the SAME grid coords (x: 8 bits, y: 5
    bits) so the two curves are compared apples-to-apples."""
    terms = [
        f"((x) {divop} {1 << i} % 2) * {1 << (2 * i)}"
        for i in range(HILBERT_BITS)
    ] + [
        f"((y) {divop} {1 << i} % 2) * {1 << (2 * i + 1)}"
        for i in range(5)
    ]
    return " + ".join(terms)


def _hilbert_oracle() -> str:
    ctes = [
        f"""base AS (
        SELECT event_id,
               CAST(user_id // {HILBERT_USER_DIV} AS BIGINT) AS x,
               CAST(date_diff('day', TIMESTAMP '2024-01-01', ts)
                    AS BIGINT) AS y,
               CAST(0 AS BIGINT) AS d
        FROM events_us
    )"""
    ]
    prev = "base"
    for i, (a, b, c) in enumerate(_hilbert_rounds("//")):
        ctes.append(
            f"r{i}a AS (SELECT event_id, x, y, d, "
            + a.replace("@@", ", ")
            + f" FROM {prev})"
        )
        ctes.append(
            f"r{i}b AS (SELECT event_id, "
            + b.replace("@@", ", ")
            + f" FROM r{i}a)"
        )
        ctes.append(
            f"r{i}c AS (SELECT event_id, "
            + c.replace("@@", ", ")
            + f" FROM r{i}b)"
        )
        prev = f"r{i}c"
    ctes.append(
        f"""hd AS (
        SELECT b.event_id, b.x, b.y, h.d AS hkey,
               {_hilbert_grid_morton('//').replace('(x)', '(b.x)').replace('(y)', '(b.y)')} AS zkey
        FROM base b JOIN {prev} h USING (event_id)
    )"""
    )
    lo_x, hi_x, lo_y, hi_y = HILBERT_PROBE
    ctes.append(
        f"""laid AS (
        SELECT 'hilbert' AS layout, x, y,
               ntile({HILBERT_BUCKETS}) OVER (ORDER BY hkey, event_id)
                   AS bucket
        FROM hd
        UNION ALL
        SELECT 'zorder_grid' AS layout, x, y,
               ntile({HILBERT_BUCKETS}) OVER (ORDER BY zkey, event_id)
                   AS bucket
        FROM hd
    )"""
    )
    ctes.append(
        f"""stats AS (
        SELECT layout, bucket,
               MIN(x) AS min_x, MAX(x) AS max_x,
               MIN(y) AS min_y, MAX(y) AS max_y,
               CAST(COUNT(*) AS BIGINT) AS cnt,
               CAST(SUM(CASE WHEN x >= {lo_x} AND x < {hi_x}
                              AND y >= {lo_y} AND y < {hi_y}
                        THEN 1 ELSE 0 END) AS BIGINT) AS matched
        FROM laid GROUP BY layout, bucket
    )"""
    )
    return (
        EVENTS_US
        + ", "
        + ",\n    ".join(ctes)
        + f"""
    SELECT layout,
           CAST(COUNT(*) AS BIGINT) AS n_buckets,
           CAST(SUM(CASE WHEN min_x < {hi_x} AND max_x >= {lo_x}
                          AND min_y < {hi_y} AND max_y >= {lo_y}
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_overlap,
           CAST(SUM(CASE WHEN min_x < {hi_x} AND max_x >= {lo_x}
                          AND min_y < {hi_y} AND max_y >= {lo_y}
                    THEN cnt ELSE 0 END) AS BIGINT) AS rows_scanned,
           CAST(SUM(matched) AS BIGINT) AS rows_matched
    FROM stats GROUP BY layout ORDER BY layout
    """
    )


@query(
    "q_layout_hilbert",
    oracle=_hilbert_oracle(),
    tags=("scale", "layout"),
)
def q_layout_hilbert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hilbert-curve clustering audit — the locality upgrade over
    q_layout_zorder: lay events out by Hilbert index vs Morton index
    over the SAME (user-grid, day) coordinates, cut into
    {HILBERT_BUCKETS} equal files, and measure file-level zone-map
    pruning for one probe rectangle. Hilbert's rotation step keeps
    consecutive curve positions grid-adjacent (Morton's bit
    interleave jumps at power-of-two boundaries), so per-file
    bounding boxes are tighter and the probe overlaps fewer files —
    measured on this fixture at sf0.1: 1 of 32 files scanned under
    Hilbert vs 3 under Morton for the same 555 matched rows (at
    sf0.01's ~19-row files the two tie within one file, as expected —
    curve locality pays off as files grow). The reason Delta Lake
    added OPTIMIZE ... HILBERT as its default clustering curve.

    The xy→d transform is {HILBERT_BITS} unrolled rounds of
    div/%/CASE integer arithmetic — the identical expression text
    evaluates in both engines (the _morton_sql convention), so the
    audit is bit-deterministic with no float anywhere.

    100 TB shape: the production write is repartitionByRange on the
    Hilbert key — one range shuffle, the same cost z-ordering pays;
    the transform itself is pure map-side codegen. The global ntile
    here exists only to pin bucket boundaries for the oracle diff
    (real files come from the writer); the audit agg is bucket-grain.
    The payoff is rows_scanned at equal file count against the
    identical probe."""
    base = load_table(spark, sf_dir, "events").select(
        "event_id",
        F.expr(f"CAST(user_id div {HILBERT_USER_DIV} AS LONG)").alias("x"),
        F.datediff(F.to_date("ts"), F.to_date(F.lit("2024-01-01")))
        .cast("long")
        .alias("y"),
        F.lit(0).cast("long").alias("d"),
    )
    h = base
    for a, b, c in _hilbert_rounds("div"):
        h = h.selectExpr("event_id", "x", "y", "d", *a.split("@@"))
        h = h.selectExpr("event_id", *b.split("@@"))
        h = h.selectExpr("event_id", *c.split("@@"))
    hd = base.select("event_id", "x", "y").join(
        h.select("event_id", F.col("d").alias("hkey")), "event_id"
    ).withColumn(
        "zkey",
        F.expr(_hilbert_grid_morton("div")),
    )
    lo_x, hi_x, lo_y, hi_y = HILBERT_PROBE
    hil = hd.select(
        F.lit("hilbert").alias("layout"),
        "x",
        "y",
        F.ntile(HILBERT_BUCKETS)
        .over(Window.orderBy("hkey", "event_id"))
        .alias("bucket"),
    )
    zor = hd.select(
        F.lit("zorder_grid").alias("layout"),
        "x",
        "y",
        F.ntile(HILBERT_BUCKETS)
        .over(Window.orderBy("zkey", "event_id"))
        .alias("bucket"),
    )
    in_probe = (
        (F.col("x") >= lo_x)
        & (F.col("x") < hi_x)
        & (F.col("y") >= lo_y)
        & (F.col("y") < hi_y)
    )
    stats = (
        hil.unionByName(zor)
        .groupBy("layout", "bucket")
        .agg(
            F.min("x").alias("min_x"),
            F.max("x").alias("max_x"),
            F.min("y").alias("min_y"),
            F.max("y").alias("max_y"),
            F.count("*").alias("cnt"),
            F.sum(F.when(in_probe, 1).otherwise(0)).alias("matched"),
        )
    )
    overlap = (
        (F.col("min_x") < hi_x)
        & (F.col("max_x") >= lo_x)
        & (F.col("min_y") < hi_y)
        & (F.col("max_y") >= lo_y)
    )
    return (
        stats.groupBy("layout")
        .agg(
            F.count("*").alias("n_buckets"),
            F.sum(F.when(overlap, 1).otherwise(0)).alias("n_overlap"),
            F.sum(F.when(overlap, F.col("cnt")).otherwise(0)).alias(
                "rows_scanned"
            ),
            F.sum("matched").alias("rows_matched"),
        )
        .orderBy("layout")
    )


# ---------------------------------------------------------------------------
# Adamic-Adar link prediction (degree-discounted common neighbors)
# ---------------------------------------------------------------------------


@query(
    "q_graph_adamic_adar",
    oracle=EVENTS_US
    + f"""
    , e AS (
        SELECT user_id, event_type,
               time_bucket(INTERVAL 1 HOUR, ts) AS hr
        FROM events_us
    ),
    pairs AS (
        SELECT a.user_id AS ua, b.user_id AS ub,
               CAST(COUNT(*) AS BIGINT) AS w
        FROM e a JOIN e b
          ON a.hr = b.hr AND a.event_type = b.event_type
         AND a.user_id < b.user_id
        GROUP BY a.user_id, b.user_id
    ),
    edges AS (SELECT ua, ub FROM pairs WHERE w >= {TRI_MIN_COOCCUR}),
    adj AS (
        SELECT ua AS src, ub AS dst FROM edges
        UNION ALL
        SELECT ub AS src, ua AS dst FROM edges
    ),
    deg AS (SELECT src AS v, CAST(COUNT(*) AS BIGINT) AS d
            FROM adj GROUP BY src),
    centers AS (
        SELECT a.src, a.dst, deg.d FROM adj a JOIN deg ON deg.v = a.src
        WHERE deg.d <= {LINKPRED_MAX_DEGREE}
    ),
    cand AS (
        SELECT c1.dst AS user_a, c2.dst AS user_b,
               CAST(COUNT(*) AS BIGINT) AS common_neighbors,
               CAST(SUM(1000000 // length(printf('%b', c1.d)))
                    AS BIGINT) AS aa_score_ppm
        FROM centers c1 JOIN centers c2
          ON c1.src = c2.src AND c1.dst < c2.dst
        GROUP BY c1.dst, c2.dst
    )
    SELECT user_a, user_b, common_neighbors, aa_score_ppm
    FROM cand
    WHERE NOT EXISTS (SELECT 1 FROM edges
                      WHERE edges.ua = cand.user_a
                        AND edges.ub = cand.user_b)
    ORDER BY aa_score_ppm DESC, user_a, user_b
    LIMIT {LINKPRED_TOP}
    """,
    tags=("scale", "graph"),
)
def q_graph_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adamic–Adar link prediction (Adamic & Adar 2003) — the degree-
    DISCOUNTED upgrade of q_graph_link_prediction: each common
    neighbor z contributes 1/log(deg z) instead of 1, so evidence
    through a selective mutual friend outweighs evidence through a
    hub everyone touches — the discount that makes AA beat raw
    common-neighbor counting on every link-prediction benchmark. The
    log is the ⌊log₂⌋ bit-length proxy (conv-to-binary ↔ printf('%b'),
    the q_text_logfreq integer-exact pattern), summed as exact ppm;
    wedge centers carry their own degree through the join, so the
    discount costs nothing extra. Ranking DIFFERS from the raw-count
    key on this fixture — the two keys cross-check each other's wedge
    machinery.

    100 TB shape: identical to q_graph_link_prediction — degree-capped
    wedge centers (the documented hub cap), one wedge self-join on the
    center key, broadcast edge anti-join, TakeOrdered top-k."""
    edges = co_edges(spark, sf_dir)
    adj = sym_edges(spark, sf_dir)  # shared persisted union (round 14)
    deg = adj.groupBy("src").agg(F.count("*").alias("d"))
    centers = (
        adj.join(deg, "src")
        .filter(F.col("d") <= LINKPRED_MAX_DEGREE)
        .select("src", "dst", "d")
        .persist()
    )
    c1, c2 = centers.alias("c1"), centers.alias("c2")
    cand = (
        c1.join(
            c2,
            (F.col("c1.src") == F.col("c2.src"))
            & (F.col("c1.dst") < F.col("c2.dst")),
        )
        .groupBy(
            F.col("c1.dst").alias("user_a"), F.col("c2.dst").alias("user_b")
        )
        .agg(
            F.count("*").alias("common_neighbors"),
            F.sum(
                F.expr(
                    "1000000 div length(conv(cast(c1.d AS STRING), 10, 2))"
                )
            ).alias("aa_score_ppm"),
        )
    )
    new_links = cand.join(
        edges,
        (cand.user_a == edges.ua) & (cand.user_b == edges.ub),
        "left_anti",
    )
    return new_links.orderBy(
        F.desc("aa_score_ppm"), "user_a", "user_b"
    ).limit(LINKPRED_TOP)


# ---------------------------------------------------------------------------
# HITS hubs & authorities (Kleinberg 1999), integer fixed-point
# ---------------------------------------------------------------------------

_HITS_SCALE = 1_000_000
_HITS_ITERS = 3


def _hits_oracle() -> str:
    ctes = [
        """edges0 AS MATERIALIZED (
        SELECT c.c_nationkey AS src, s.s_nationkey AS dst,
               CAST(COUNT(*) AS BIGINT) AS w
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        GROUP BY 1, 2
    )""",
        """outw AS MATERIALIZED (SELECT src, CAST(SUM(w) AS BIGINT) AS ow
                    FROM edges0 GROUP BY src)""",
        """edges AS MATERIALIZED (
        SELECT e.src, e.dst, CAST(e.w * 1000 // o.ow AS BIGINT) AS wpm
        FROM edges0 e JOIN outw o USING (src)
    )""",
        "nodes AS (SELECT n_nationkey AS node FROM nation)",
        f"h0 AS (SELECT node, CAST({_HITS_SCALE} AS BIGINT) AS h FROM nodes)",
    ]
    prev_h = "h0"
    for i in range(1, _HITS_ITERS + 1):
        ctes += [
            f"""ar{i} AS (
        SELECT e.dst AS node, CAST(SUM(p.h * e.wpm) AS BIGINT) AS raw
        FROM edges e JOIN {prev_h} p ON p.node = e.src GROUP BY e.dst
    )""",
            f"am{i} AS (SELECT GREATEST(MAX(raw), 1) AS mx FROM ar{i})",
            f"""a{i} AS (
        SELECT n.node,
               CAST(COALESCE(r.raw, 0) * {_HITS_SCALE} // am{i}.mx
                    AS BIGINT) AS a
        FROM nodes n LEFT JOIN ar{i} r ON r.node = n.node
        CROSS JOIN am{i}
    )""",
            f"""hr{i} AS (
        SELECT e.src AS node, CAST(SUM(q.a * e.wpm) AS BIGINT) AS raw
        FROM edges e JOIN a{i} q ON q.node = e.dst GROUP BY e.src
    )""",
            f"hm{i} AS (SELECT GREATEST(MAX(raw), 1) AS mx FROM hr{i})",
            f"""h{i} AS (
        SELECT n.node,
               CAST(COALESCE(r.raw, 0) * {_HITS_SCALE} // hm{i}.mx
                    AS BIGINT) AS h
        FROM nodes n LEFT JOIN hr{i} r ON r.node = n.node
        CROSS JOIN hm{i}
    )""",
        ]
        prev_h = f"h{i}"
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT h.node, h.h AS hub_scaled, a.a AS auth_scaled
    FROM h{_HITS_ITERS} h JOIN a{_HITS_ITERS} a USING (node)
    """
    )


@query("q_graph_hits", oracle=_hits_oracle(), tags=("scale", "graph"))
def q_graph_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs & authorities (Kleinberg 1999) over the trade graph —
    the directional complement of q_graph_pagerank: a nation is a good
    HUB when it buys from good authorities, a good AUTHORITY when good
    hubs buy from it; {_HITS_ITERS} alternating power rounds. All
    arithmetic is integer fixed-point: edge weights are per-source
    out-normalized to ≤1000 permille FIRST (so h·w ≤ 10⁹ per term and
    every renormalization numerator stays < 10¹⁷ at ANY corpus scale
    — the raw-weight form overflows int64 once per-pair lineitem
    counts reach ~10⁶), and each half-step renormalizes by max-abs to
    {_HITS_SCALE} fixed point (the q_embed_top_pc pattern), so both
    engines agree bit-for-bit with no float summation anywhere.

    100 TB shape: edge extraction (the only fact-scale work) runs
    once and localCheckpoints; each half-iteration is a broadcast
    join of the |nodes|-row score frame against the ≤|nodes|² edge
    frame + one hash agg. Web-scale: partition edges by the join-side
    key per half-step and co-partition scores — same loop."""
    edges0 = _trade_edges(spark, sf_dir)
    outw = edges0.groupBy("src").agg(F.sum("w").alias("ow"))
    edges = (
        edges0.join(outw, "src")
        .select("src", "dst", F.expr("CAST(w * 1000 div ow AS LONG)").alias("wpm"))
        # Lazy checkpoints through this loop (and on the per-round
        # score frames below): lineage still truncates at first
        # materialization, but the 2x_HITS_ITERS half-steps chain into
        # one job instead of one blocking driver job per half-step —
        # the loop is job-scheduling-bound, not compute-bound (25-row
        # frames; guide §1.2).
        .localCheckpoint(eager=False)
    )
    nodes = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("node")
    )
    h = nodes.select(
        "node", F.lit(_HITS_SCALE).cast("long").alias("h")
    )
    a = None
    for _ in range(_HITS_ITERS):
        ar = (
            edges.join(F.broadcast(h), edges.src == h.node)
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum(F.expr("h * wpm")).alias("raw"))
        )
        am = ar.agg(F.greatest(F.max("raw"), F.lit(1)).alias("mx"))
        a = (
            nodes.join(ar, "node", "left")
            .crossJoin(F.broadcast(am))
            .select(
                "node",
                F.expr(
                    f"CAST(coalesce(raw, 0) * {_HITS_SCALE} div mx AS LONG)"
                ).alias("a"),
            )
            .localCheckpoint(eager=False)
        )
        hr = (
            edges.join(F.broadcast(a), edges.dst == a.node)
            .groupBy(F.col("src").alias("node"))
            .agg(F.sum(F.expr("a * wpm")).alias("raw"))
        )
        hm = hr.agg(F.greatest(F.max("raw"), F.lit(1)).alias("mx"))
        h = (
            nodes.join(hr, "node", "left")
            .crossJoin(F.broadcast(hm))
            .select(
                "node",
                F.expr(
                    f"CAST(coalesce(raw, 0) * {_HITS_SCALE} div mx AS LONG)"
                ).alias("h"),
            )
            .localCheckpoint(eager=False)
        )
    return h.select("node", F.col("h").alias("hub_scaled")).join(
        a.select("node", F.col("a").alias("auth_scaled")), "node"
    )


# ---------------------------------------------------------------------------
# Theta-sketch set difference (a-not-b) over KMV order statistics
# ---------------------------------------------------------------------------

THETA_DIFF_K = 512
_TD_A = "l_quantity >= 40"
_TD_B = "l_discount >= 0.05"


@query(
    "q_sketch_theta_diff",
    oracle=f"""
    WITH ha AS (
        SELECT DISTINCT (l_orderkey * {KMV_A} + {KMV_B}) % {KMV_SPACE} AS h
        FROM lineitem WHERE {_TD_A}
    ),
    hb AS (
        SELECT DISTINCT (l_orderkey * {KMV_A} + {KMV_B}) % {KMV_SPACE} AS h
        FROM lineitem WHERE {_TD_B}
    ),
    ta AS (SELECT MAX(h) AS t FROM
           (SELECT h FROM ha ORDER BY h LIMIT {THETA_DIFF_K})),
    tb AS (SELECT MAX(h) AS t FROM
           (SELECT h FROM hb ORDER BY h LIMIT {THETA_DIFF_K})),
    th AS (SELECT LEAST(ta.t, tb.t) AS theta FROM ta, tb),
    ret AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_retained
        FROM ha, th
        WHERE h < theta
          AND h NOT IN (SELECT h FROM hb, th WHERE h < theta)
    ),
    ex AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS exact_diff FROM
        (SELECT DISTINCT l_orderkey AS k FROM lineitem WHERE {_TD_A}) t
        WHERE k NOT IN (SELECT l_orderkey FROM lineitem WHERE {_TD_B})
    )
    SELECT CAST({THETA_DIFF_K} AS BIGINT) AS k,
           CAST(theta AS BIGINT) AS theta,
           n_retained,
           CAST(n_retained * {KMV_SPACE} // theta AS BIGINT) AS est_diff,
           exact_diff,
           CAST(ABS(n_retained * {KMV_SPACE} // theta - exact_diff) * 100
                // exact_diff AS BIGINT) AS err_pct
    FROM th, ret, ex
    """,
    tags=("scale", "sketch"),
)
def q_sketch_theta_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta-sketch A-NOT-B — the mergeable set-DIFFERENCE estimator
    (Dasgupta et al., the DataSketches theta family), completing the
    sketch algebra next to union (q_sketch_hll_union) and
    intersection (q_sketch_hll_intersection): |A∖B| ≈ |{h∈KMV(A) :
    h<θ, h∉B_<θ}| · SPACE/θ at θ = min(θ_A, θ_B). A = orders with a
    bulk line (qty ≥ 40), B = orders with a discounted line — both
    arms of the difference are non-trivial at every SF. The exact
    difference and an integer error percentage ride along as the
    accuracy-contract row (the q_sketch_kmv_distinct pattern); the
    estimator's relative error on small differences is honestly high
    (≈ √(|A∪B|/(K·|A∖B|))), which is the documented theta-sketch
    trade-off, not a defect — K=512 lands ~15% at sf0.1.

    100 TB shape: each sketch is a per-partition top-K
    (TakeOrderedAndProject — K rows/partition cross the wire, no
    global sort); the B-side retained set is ≤K rows → broadcast
    anti join; the exact arm (one distinct + anti join) exists only
    for the contract row and drops in production. The LCG hash keeps
    both engines bit-identical."""
    li = load_table(spark, sf_dir, "lineitem")

    def sketch_hashes(pred: str) -> DataFrame:
        return (
            li.filter(F.expr(pred))
            .select(
                (
                    (F.col("l_orderkey") * KMV_A + KMV_B) % KMV_SPACE
                ).alias("h")
            )
            .distinct()
        )

    ha, hb = sketch_hashes(_TD_A), sketch_hashes(_TD_B)
    ta = ha.orderBy("h").limit(THETA_DIFF_K).agg(F.max("h").alias("t_a"))
    tb = hb.orderBy("h").limit(THETA_DIFF_K).agg(F.max("h").alias("t_b"))
    th = (
        F.broadcast(ta)
        .crossJoin(F.broadcast(tb))
        .select(F.least("t_a", "t_b").alias("theta"))
    )
    ha_ret = ha.crossJoin(F.broadcast(th)).filter(F.col("h") < F.col("theta"))
    hb_ret = (
        hb.crossJoin(F.broadcast(th))
        .filter(F.col("h") < F.col("theta"))
        .select("h")
    )
    retained = ha_ret.join(F.broadcast(hb_ret), "h", "left_anti").agg(
        F.count("*").alias("n_retained"), F.max("theta").alias("theta")
    )
    a_keys = (
        li.filter(F.expr(_TD_A)).select(F.col("l_orderkey").alias("k"))
        .distinct()
    )
    b_keys = li.filter(F.expr(_TD_B)).select(F.col("l_orderkey").alias("k"))
    exact = a_keys.join(b_keys, "k", "left_anti").agg(
        F.count("*").alias("exact_diff")
    )
    return (
        F.broadcast(retained)
        .crossJoin(F.broadcast(exact))
        .select(
            F.lit(THETA_DIFF_K).cast("long").alias("k"),
            F.col("theta").cast("long"),
            F.col("n_retained").cast("long"),
            F.expr(
                f"n_retained * CAST({KMV_SPACE} AS LONG) div theta"
            ).alias("est_diff"),
            F.col("exact_diff").cast("long"),
            F.expr(
                f"abs(n_retained * CAST({KMV_SPACE} AS LONG) div theta"
                " - exact_diff) * 100 div exact_diff"
            ).alias("err_pct"),
        )
    )


# ---------------------------------------------------------------------------
# DQ: Tukey-fence outliers on first differences (two-sided, exact IQR)
# ---------------------------------------------------------------------------


@query(
    "q_dq_outlier_iqr",
    oracle="""
    WITH d AS (
        SELECT event_type,
               CAST(ROUND(value * 100) AS BIGINT)
               - LAG(CAST(ROUND(value * 100) AS BIGINT))
                 OVER (PARTITION BY user_id ORDER BY ts, event_id) AS d
        FROM events
    ),
    t AS (SELECT event_type, d FROM d WHERE d IS NOT NULL),
    rk AS (
        SELECT event_type, d,
               ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY d) AS rn,
               COUNT(*) OVER (PARTITION BY event_type) AS n
        FROM t
    ),
    q AS (
        SELECT event_type,
               CAST(MIN(n) AS BIGINT) AS n_diffs,
               CAST(MIN(CASE WHEN rn = (n + 3) // 4 THEN d END)
                    AS BIGINT) AS q1_cents,
               CAST(MIN(CASE WHEN rn = (3 * n + 3) // 4 THEN d END)
                    AS BIGINT) AS q3_cents
        FROM rk GROUP BY event_type
    )
    SELECT t.event_type, n_diffs, q1_cents, q3_cents,
           CAST(SUM(CASE WHEN 2 * d < 2 * q1_cents
                              - 3 * (q3_cents - q1_cents)
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_out_lo,
           CAST(SUM(CASE WHEN 2 * d > 2 * q3_cents
                              + 3 * (q3_cents - q1_cents)
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_out_hi
    FROM t JOIN q USING (event_type)
    GROUP BY t.event_type, n_diffs, q1_cents, q3_cents
    ORDER BY t.event_type
    """,
    tags=("scale", "dq"),
)
def q_dq_outlier_iqr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey-fence (1.5·IQR) outlier detection per segment — the
    robust-statistics complement to q_timeseries_mad_outliers (MAD is
    a dispersion scale; IQR fences are the boxplot rule auditors
    actually quote). Run on per-user FIRST DIFFERENCES of the value
    stream, not the raw value: the fixture's value distribution is
    right-skewed with support bounded at ~0, so raw-value fences can
    only ever fire high — differencing symmetrizes the tails and BOTH
    fence arms fire in every segment (measured ~50-70 each per type
    at sf0.01; the round-9 two-arm detector rule). Quartiles are
    exact nearest-rank order statistics at positions ⌈n/4⌉/⌈3n/4⌉
    (identical integer formulas in both engines — no interpolating
    percentile floats), and the fences are evaluated in 2× scale so
    the 1.5 multiplier stays integral.

    100 TB shape: one user_id window shuffle for the lag, one
    event_type sort for the rank (the same cost class as any exact
    percentile — swap in approx_percentile when 1%-grade fences
    suffice), then a broadcast of |segments| quartile rows back onto
    the diffs. Output is |segments| rows."""
    e = load_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    wu = Window.partitionBy("user_id").orderBy("ts", "event_id")
    t = (
        e.select(
            "event_type", (cents - F.lag(cents).over(wu)).alias("d")
        )
        .filter(F.col("d").isNotNull())
    )
    we = Window.partitionBy("event_type")
    rk = t.select(
        "event_type",
        "d",
        F.row_number().over(we.orderBy("d")).alias("rn"),
        F.count("*").over(we).alias("n"),
    )
    q = rk.groupBy("event_type").agg(
        F.min("n").alias("n_diffs"),
        F.min(
            F.when(F.col("rn") == F.expr("(n + 3) div 4"), F.col("d"))
        ).alias("q1_cents"),
        F.min(
            F.when(F.col("rn") == F.expr("(3 * n + 3) div 4"), F.col("d"))
        ).alias("q3_cents"),
    )
    return (
        t.join(F.broadcast(q), "event_type")
        .groupBy("event_type", "n_diffs", "q1_cents", "q3_cents")
        .agg(
            F.sum(
                F.when(
                    2 * F.col("d")
                    < 2 * F.col("q1_cents")
                    - 3 * (F.col("q3_cents") - F.col("q1_cents")),
                    1,
                ).otherwise(0)
            ).alias("n_out_lo"),
            F.sum(
                F.when(
                    2 * F.col("d")
                    > 2 * F.col("q3_cents")
                    + 3 * (F.col("q3_cents") - F.col("q1_cents")),
                    1,
                ).otherwise(0)
            ).alias("n_out_hi"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Table maintenance: copy-on-write vs merge-on-read cost audit
# ---------------------------------------------------------------------------

_CM_ERA_LO, _CM_ERA_HI = "1997-01-15", "1997-03-15"
_CM_SCATTER_MOD = 101


@query(
    "q_maintenance_cow_vs_mor",
    oracle=f"""
    WITH m AS (
        SELECT strftime(o_orderdate, '%Y-%m') AS month,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(CASE WHEN o_orderdate >= DATE '{_CM_ERA_LO}'
                              AND o_orderdate <  DATE '{_CM_ERA_HI}'
                        THEN 1 ELSE 0 END) AS BIGINT) AS del_era,
               CAST(SUM(CASE WHEN o_custkey % {_CM_SCATTER_MOD} = 0
                        THEN 1 ELSE 0 END) AS BIGINT) AS del_scat
        FROM orders GROUP BY month
    ),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS files_total FROM m),
    era AS (
        SELECT 'era_delete' AS predicate_kind,
               CAST(COUNT(*) AS BIGINT) AS files_touched,
               CAST(SUM(del_era) AS BIGINT) AS rows_deleted,
               CAST(SUM(n_rows) - SUM(del_era) AS BIGINT) AS rows_rewritten
        FROM m WHERE del_era > 0
    ),
    scat AS (
        SELECT 'scattered_delete' AS predicate_kind,
               CAST(COUNT(*) AS BIGINT) AS files_touched,
               CAST(SUM(del_scat) AS BIGINT) AS rows_deleted,
               CAST(SUM(n_rows) - SUM(del_scat) AS BIGINT) AS rows_rewritten
        FROM m WHERE del_scat > 0
    ),
    u AS (SELECT * FROM era UNION ALL SELECT * FROM scat)
    SELECT predicate_kind, files_touched, files_total,
           rows_deleted, rows_rewritten,
           CAST(1000 * rows_rewritten // rows_deleted AS BIGINT)
               AS write_amp_x1000,
           rows_deleted AS mor_tombstone_rows
    FROM u, tot ORDER BY predicate_kind
    """,
    tags=("scale", "maintenance", "manifest"),
)
def q_maintenance_cow_vs_mor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COPY-ON-WRITE vs MERGE-ON-READ delete economics — the cost
    model behind every table-format tuning decision, computed at the
    month-file grain the staged orders table actually has
    (q_read_manifest_pruned's layout): an ERA delete (a GDPR-style
    contiguous date range, deliberately NOT file-aligned so the two
    boundary files must rewrite their survivors) touches only 3
    month-files with a small write amp; a SCATTERED key delete
    (custkey % 101) strews matches across ~all files, so CoW
    rewrites the bulk of the table (write_amp ≈ 80× measured) while
    MoR writes exactly rows_deleted tombstones (q_read_position_deletes' mechanism). The two rows of
    this report ARE the decision table: cluster your deletes or pay
    for MoR reads.

    100 TB shape: the whole audit is ONE map-side-combinable pass
    over the fact table to file grain (the same aggregate a real
    planner reads from manifest stats for free) — a cost ESTIMATE
    never needs to move data, which is rather the point."""
    o = load_table(spark, sf_dir, "orders")
    m = o.groupBy(
        F.date_format("o_orderdate", "yyyy-MM").alias("month")
    ).agg(
        F.count("*").alias("n_rows"),
        F.sum(
            F.when(
                (F.col("o_orderdate") >= F.lit(_CM_ERA_LO).cast("date"))
                & (F.col("o_orderdate") < F.lit(_CM_ERA_HI).cast("date")),
                1,
            ).otherwise(0)
        ).alias("del_era"),
        F.sum(
            F.when(F.col("o_custkey") % _CM_SCATTER_MOD == 0, 1).otherwise(0)
        ).alias("del_scat"),
    ).localCheckpoint()  # ~84 file-grain rows, reused 3 ways
    tot = F.broadcast(m.agg(F.count("*").alias("files_total")))

    def arm(kind: str, del_col: str) -> DataFrame:
        return (
            m.filter(F.col(del_col) > 0)
            .agg(
                F.count("*").alias("files_touched"),
                F.sum(del_col).alias("rows_deleted"),
                (F.sum("n_rows") - F.sum(del_col)).alias("rows_rewritten"),
            )
            .select(F.lit(kind).alias("predicate_kind"), "*")
        )

    u = arm("era_delete", "del_era").unionByName(
        arm("scattered_delete", "del_scat")
    )
    return (
        u.crossJoin(tot)
        .select(
            "predicate_kind",
            "files_touched",
            "files_total",
            "rows_deleted",
            "rows_rewritten",
            F.expr(
                "CAST(1000 * rows_rewritten div rows_deleted AS LONG)"
            ).alias("write_amp_x1000"),
            F.col("rows_deleted").alias("mor_tombstone_rows"),
        )
        .orderBy("predicate_kind")
    )


# ---------------------------------------------------------------------------
# Graph: 2-hop reach (friend-of-friend neighborhood size)
# ---------------------------------------------------------------------------


@query(
    "q_graph_two_hop_reach",
    oracle=EVENTS_US
    + f"""
    , e AS (
        SELECT user_id, event_type,
               time_bucket(INTERVAL 1 HOUR, ts) AS hr
        FROM events_us
    ),
    pairs AS (
        SELECT a.user_id AS ua, b.user_id AS ub,
               CAST(COUNT(*) AS BIGINT) AS w
        FROM e a JOIN e b
          ON a.hr = b.hr AND a.event_type = b.event_type
         AND a.user_id < b.user_id
        GROUP BY a.user_id, b.user_id
    ),
    edges AS (SELECT ua, ub FROM pairs WHERE w >= {TRI_MIN_COOCCUR}),
    sym AS (
        SELECT ua AS src, ub AS dst FROM edges
        UNION ALL SELECT ub, ua FROM edges
    ),
    deg AS (SELECT src AS v, CAST(COUNT(*) AS BIGINT) AS deg
            FROM sym WHERE src % 5 = 0 GROUP BY src),
    two AS (
        SELECT DISTINCT s1.src AS v, s2.dst AS w2
        FROM sym s1 JOIN sym s2 ON s1.dst = s2.src
        WHERE s1.src <> s2.dst AND s1.src % 5 = 0
    ),
    strict2 AS (
        SELECT t.v, CAST(COUNT(*) AS BIGINT) AS n_2hop
        FROM two t LEFT JOIN sym s
          ON s.src = t.v AND s.dst = t.w2
        WHERE s.src IS NULL
        GROUP BY t.v
    )
    SELECT d.v AS user_id, d.deg,
           COALESCE(s.n_2hop, 0) AS n_2hop,
           d.deg + COALESCE(s.n_2hop, 0) AS reach
    FROM deg d LEFT JOIN strict2 s ON s.v = d.v
    ORDER BY user_id
    """,
    tags=("scale", "graph"),
)
def q_graph_two_hop_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-hop reach — the friend-of-friend neighborhood size that
    drives contagion/recommendation fan-out estimates, on the same
    thresholded co-occurrence graph as the triangle/k-core family:
    per PANEL node (a deterministic 20% source panel, user_id%5=0 —
    the production shape: reach is a panel metric, not an all-pairs
    product), |{w : dist(v,w) = 2}| strictly (direct neighbors and
    self excluded via DISTINCT + anti join), plus degree and total
    ≤2-hop reach. Complements q_graph_bfs_hops (one source, any
    depth) and q_graph_link_prediction (pair scores) with the
    fixed-depth reach COUNT.

    100 TB shape: one wedge self-join on the shared middle-vertex
    key — the triangle cost class, Σ_panel deg(v)·deg(mid) rows. The
    co-occurrence fixture DENSIFIES superlinearly when event rate
    grows inside a fixed time window (measured: 3× rows → ~6.8× wall
    on the full-node form; docs/SCALE.md), which is a property of the
    graph, not the plan — the panel bounds the source side and the
    degree-histogram key is the report that says when to cap or salt
    hub middles."""
    # Shared persisted symmetrized adjacency (round 14): the union +
    # eager localCheckpoint ran per call; every reference below now
    # reads the session-persisted frame.
    sym = sym_edges(spark, sf_dir)
    deg = (
        sym.filter(F.col("src") % 5 == 0)
        .groupBy(F.col("src").alias("v"))
        .agg(F.count("*").alias("deg"))
    )
    s1 = sym.filter(F.col("src") % 5 == 0).select(
        F.col("src").alias("v"), F.col("dst").alias("mid")
    )
    s2 = sym.select(F.col("src").alias("mid"), F.col("dst").alias("w2"))
    two = (
        s1.join(s2, "mid")
        .filter(F.col("v") != F.col("w2"))
        .select("v", "w2")
        .distinct()
    )
    direct = sym.select(
        F.col("src").alias("v"), F.col("dst").alias("w2")
    )
    strict2 = (
        two.join(direct, ["v", "w2"], "left_anti")
        .groupBy("v")
        .agg(F.count("*").alias("n_2hop"))
    )
    return (
        deg.join(strict2, deg.v == strict2.v, "left")
        .select(
            deg.v.alias("user_id"),
            "deg",
            F.coalesce(strict2.n_2hop, F.lit(0)).alias("n_2hop"),
            (F.col("deg") + F.coalesce(strict2.n_2hop, F.lit(0))).alias(
                "reach"
            ),
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# Graph: bipartite projection (user×type → type co-engagement graph)
# ---------------------------------------------------------------------------


@query(
    "q_graph_bipartite_projection",
    oracle="""
    WITH ut AS (
        SELECT user_id, event_type FROM events
        GROUP BY user_id, event_type HAVING COUNT(*) >= 16
    ),
    deg AS (
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_users
        FROM ut GROUP BY event_type
    ),
    proj AS (
        SELECT a.event_type AS type_a, b.event_type AS type_b,
               CAST(COUNT(*) AS BIGINT) AS n_both
        FROM ut a JOIN ut b
          ON a.user_id = b.user_id AND a.event_type < b.event_type
        GROUP BY type_a, type_b
    )
    SELECT type_a, type_b, n_both,
           da.n_users AS n_a, db.n_users AS n_b,
           CAST(1000000 * n_both // (da.n_users + db.n_users - n_both)
                AS BIGINT) AS jaccard_ppm
    FROM proj JOIN deg da ON da.event_type = type_a
              JOIN deg db ON db.event_type = type_b
    ORDER BY type_a, type_b
    """,
    tags=("scale", "graph"),
)
def q_graph_bipartite_projection(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """BIPARTITE projection — the standard reduction from a two-mode
    graph (user × event_type engagement) to a one-mode co-engagement
    graph over the small side: edge weight = users HABITUALLY engaging
    both types (≥16 events of the type — the 75th percentile of the
    measured per-(user,type) frequency, SF-stable because events/user
    is density-constant; a raw any-engagement projection is a
    complete graph on this fixture, every Jaccard 1.0 — the
    degenerate-detector sweep caught it), normalized to exact-ppm
    Jaccard over the type audiences.
    This is the item-item graph every 'users who did X also did Y'
    recommender starts from, and the projection direction matters:
    projecting onto the SMALL side (|types|² pairs) is cheap; the
    user-side projection is the co-occurrence graph the
    triangle/k-core family already builds with a threshold.

    100 TB shape: one hash agg to (user, type) grain — the only
    data-scale shuffle — then a self-join keyed on user_id whose
    output is bounded by |types|² per user (25 here), and a
    |types|²-row rollup. Audience sizes broadcast back onto the
    pair frame."""
    e = load_table(spark, sf_dir, "events")
    ut = (
        e.groupBy("user_id", "event_type")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") >= 16)
        .select("user_id", "event_type")
        .localCheckpoint()
    )
    deg = ut.groupBy("event_type").agg(F.count("*").alias("n_users"))
    a = ut.select("user_id", F.col("event_type").alias("type_a"))
    b = ut.select("user_id", F.col("event_type").alias("type_b"))
    proj = (
        a.join(b, "user_id")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count("*").alias("n_both"))
    )
    da = deg.select(
        F.col("event_type").alias("type_a"), F.col("n_users").alias("n_a")
    )
    db = deg.select(
        F.col("event_type").alias("type_b"), F.col("n_users").alias("n_b")
    )
    return (
        proj.join(F.broadcast(da), "type_a")
        .join(F.broadcast(db), "type_b")
        .select(
            "type_a",
            "type_b",
            "n_both",
            "n_a",
            "n_b",
            F.expr(
                "CAST(1000000 * n_both div (n_a + n_b - n_both) AS LONG)"
            ).alias("jaccard_ppm"),
        )
        .orderBy("type_a", "type_b")
    )


# ---------------------------------------------------------------------------
# DQ: Earth-mover (1-D Wasserstein) distribution drift, dual-arm
# ---------------------------------------------------------------------------

EMD_BIN_CENTS = 500  # 5.00-unit histogram bins
EMD_BIN_CAP = 99


@query(
    "q_dq_emd_drift",
    oracle=f"""
    WITH base AS (
        SELECT CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 0 ELSE 1 END
                   AS half,
               CAST(ROUND(value * 100) AS BIGINT) AS cents,
               event_id
        FROM events
    ),
    arms AS (
        SELECT 'observed' AS relation, half,
               LEAST(cents // {EMD_BIN_CENTS}, {EMD_BIN_CAP}) AS bin
        FROM base
        UNION ALL
        SELECT 'shifted_sim', half,
               LEAST(CASE WHEN half = 1 THEN cents * 6 // 5
                          ELSE cents END // {EMD_BIN_CENTS},
                     {EMD_BIN_CAP}) AS bin
        FROM base
    ),
    g AS (
        SELECT relation, bin,
               CAST(SUM(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS c0,
               CAST(SUM(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS c1
        FROM arms GROUP BY relation, bin
    ),
    n AS (
        SELECT relation, CAST(SUM(c0) AS BIGINT) AS n0,
               CAST(SUM(c1) AS BIGINT) AS n1
        FROM g GROUP BY relation
    ),
    cum AS (
        SELECT relation, bin,
               SUM(c0) OVER (PARTITION BY relation ORDER BY bin) AS k0,
               SUM(c1) OVER (PARTITION BY relation ORDER BY bin) AS k1
        FROM g
    )
    SELECT cum.relation,
           CAST(COUNT(*) AS BIGINT) AS n_bins,
           n.n0, n.n1,
           CAST(1000000 * SUM(ABS(k0 * n.n1 - k1 * n.n0))
                // (COUNT(*) * n.n0 * n.n1) AS BIGINT) AS emd_x1m
    FROM cum JOIN n ON n.relation = cum.relation
    GROUP BY cum.relation, n.n0, n.n1
    ORDER BY cum.relation
    """,
    tags=("scale", "dq"),
)
def q_dq_emd_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Earth-mover (1-D Wasserstein) drift between the two half-month
    value distributions — the third drift lens next to χ² (bin
    independence) and KS (max ECDF gap): EMD integrates the WHOLE
    cumulative gap, so a small shift spread across every quantile —
    invisible to χ² at fixed bins and understated by KS's single max
    — accumulates. Closed form over sorted histograms: Σ|F₀−F₁|/B,
    exact by cross-multiplying the two sample sizes (|k₀n₁ − k₁n₀|
    sums in int64; one final normalization division). The fixture's
    halves are identically distributed, so the observed arm honestly
    reads ~0 — and the SAME detector runs over a deterministic
    'shifted_sim' arm (second-half values ×1.2) where it fires, the
    round-9 dual-arm fault-injection pattern.

    100 TB shape: one hash agg to (relation, bin) grain — ≤2·(cap+1)
    rows — then windows on that catalog-grain frame; the cross-
    multiplied numerator caps the exact form near n₀·n₁·B < 2⁶³
    (~10⁸ rows/half at B=100); past that, pre-normalize per-shard
    counts to ppm before differencing (documented downgrade)."""
    e = load_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    base = e.select(
        F.when(
            F.col("ts") < F.lit("2024-01-16").cast("timestamp"), 0
        )
        .otherwise(1)
        .alias("half"),
        cents.alias("cents"),
    )
    obs = base.select(
        F.lit("observed").alias("relation"),
        "half",
        F.least(
            F.expr(f"cents div {EMD_BIN_CENTS}"), F.lit(EMD_BIN_CAP)
        ).alias("bin"),
    )
    sim = base.select(
        F.lit("shifted_sim").alias("relation"),
        "half",
        F.least(
            F.expr(
                "CASE WHEN half = 1 THEN cents * 6 div 5 ELSE cents END"
                f" div {EMD_BIN_CENTS}"
            ),
            F.lit(EMD_BIN_CAP),
        ).alias("bin"),
    )
    g = (
        obs.unionByName(sim)
        .groupBy("relation", "bin")
        .agg(
            F.sum(F.when(F.col("half") == 0, 1).otherwise(0)).alias("c0"),
            F.sum(F.when(F.col("half") == 1, 1).otherwise(0)).alias("c1"),
        )
    )
    n = g.groupBy("relation").agg(
        F.sum("c0").alias("n0"), F.sum("c1").alias("n1")
    )
    wr = Window.partitionBy("relation").orderBy("bin")
    cum = g.select(
        "relation",
        "bin",
        F.sum("c0").over(wr).alias("k0"),
        F.sum("c1").over(wr).alias("k1"),
    )
    return (
        cum.join(F.broadcast(n), "relation")
        .groupBy("relation", "n0", "n1")
        .agg(
            F.count("*").alias("n_bins"),
            F.sum(
                F.abs(F.col("k0") * F.col("n1") - F.col("k1") * F.col("n0"))
            ).alias("num"),
        )
        .select(
            "relation",
            "n_bins",
            "n0",
            "n1",
            F.expr(
                "CAST(1000000 * num div (n_bins * n0 * n1) AS LONG)"
            ).alias("emd_x1m"),
        )
        .orderBy("relation")
    )


# ---------------------------------------------------------------------------
# Local differential privacy: randomized response with exact debiasing
# ---------------------------------------------------------------------------

RR_EPS_X1M = 1_098_612  # ε = ln 3 (×1e6), fixed by the ¾/¼ mechanism
_RR_CONV_CENTS = 10_000  # conversion bit: any purchase ≥ $100


def _rr_oracle() -> str:
    from ex_aws_firehose_spark.functions.text import duck_hex_hash

    h = duck_hex_hash("CAST(user_id AS VARCHAR)")
    return f"""
    WITH events_us AS (
        SELECT user_id, event_type, value FROM events
    ),
    u AS (
        SELECT user_id,
               MAX(CASE WHEN event_type = 'purchase'
                         AND CAST(ROUND(value * 100) AS BIGINT)
                             >= {_RR_CONV_CENTS}
                        THEN 1 ELSE 0 END) AS truth
        FROM events_us GROUP BY 1
    ),
    coins AS (
        SELECT truth,
               {h} % 2 AS honest_tail,
               ({h} // 2) % 2 AS lie_bit
        FROM u
    ),
    rep AS (
        SELECT truth,
               CASE WHEN honest_tail = 0 THEN truth ELSE lie_bit END AS r
        FROM coins
    ),
    agg AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
               CAST(SUM(truth) AS BIGINT) AS n_true,
               CAST(SUM(r) AS BIGINT) AS n_reported
        FROM rep
    )
    SELECT n_users, n_true, n_reported,
           CAST(n_true * 1000000 // n_users AS BIGINT) AS true_ppm,
           CAST((4 * n_reported - n_users) * 1000000 // (2 * n_users)
                AS BIGINT) AS est_ppm,
           CAST(ABS(n_true * 1000000 // n_users
                    - (4 * n_reported - n_users) * 1000000 // (2 * n_users))
                AS BIGINT) AS abs_err_ppm,
           CAST({RR_EPS_X1M} AS BIGINT) AS epsilon_x1m
    FROM agg
    """


@query(
    "q_anon_randomized_response",
    oracle=_rr_oracle(),
    tags=("anonymization", "privacy"),
)
def q_anon_randomized_response(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Warner randomized response — the LOCAL differential-privacy
    mechanism (ε = ln 3): each user reports their true conversion bit
    with probability ½, otherwise a uniform coin, so any single report
    is 3:1-deniable; the aggregate is then debiased EXACTLY via
    π̂ = (4·Σreports − n)/(2n), emitted in signed integer ppm next to
    the ground-truth rate and the realized |error|.  Coins are the
    engine-portable md5 hash bits of the user id — deterministic for
    the differential test, and the exact shape of production
    seeded-RR audit pipelines (RAPPOR's permanent randomized
    response).  Completes the privacy family: k-anonymity /
    l-diversity / t-closeness audit the OUTPUT, this key perturbs the
    INPUT.

    100 TB shape: one user-grain hash agg (the truth bit and both
    coins fold into the same map-side pass), 1-row output — the
    mechanism adds zero shuffle."""
    from ex_aws_firehose_spark.functions.text import hex_hash

    e = load_table(spark, sf_dir, "events")
    u = e.groupBy("user_id").agg(
        F.max(
            F.when(
                (F.col("event_type") == "purchase")
                & (
                    F.round(F.col("value") * 100, 0).cast("long")
                    >= _RR_CONV_CENTS
                ),
                1,
            ).otherwise(0)
        ).alias("truth")
    )
    h = hex_hash(F.col("user_id").cast("string"))
    coins = u.select(
        "truth",
        (h % 2).alias("honest_tail"),
        (F.shiftright(h, 1) % 2).alias("lie_bit"),
    )
    rep = coins.select(
        "truth",
        F.when(F.col("honest_tail") == 0, F.col("truth"))
        .otherwise(F.col("lie_bit"))
        .alias("r"),
    )
    agg = rep.agg(
        F.count("*").alias("n_users"),
        F.sum("truth").alias("n_true"),
        F.sum("r").alias("n_reported"),
    )
    return agg.select(
        "n_users",
        "n_true",
        "n_reported",
        F.expr("n_true * 1000000 div n_users").alias("true_ppm"),
        F.expr(
            "(4 * n_reported - n_users) * 1000000 div (2 * n_users)"
        ).alias("est_ppm"),
        F.expr(
            "abs(n_true * 1000000 div n_users - "
            "(4 * n_reported - n_users) * 1000000 div (2 * n_users))"
        ).alias("abs_err_ppm"),
        F.lit(RR_EPS_X1M).cast("long").alias("epsilon_x1m"),
    )


# ---------------------------------------------------------------------------
# Exponential (powers-of-2) histogram: mergeable relative-error quantiles
# ---------------------------------------------------------------------------

_EXPH_PCTS = (50, 90, 99)


def _exph_oracle() -> str:
    pvals = ", ".join(f"({p})" for p in _EXPH_PCTS)
    return f"""
    WITH e AS (
        SELECT CAST(ROUND(value * 100) AS BIGINT) AS cents FROM events
    ),
    b AS (
        SELECT CAST(length(bin(cents)) AS BIGINT) AS bucket FROM e
    ),
    hist AS (
        SELECT bucket, CAST(COUNT(*) AS BIGINT) AS nb FROM b GROUP BY 1
    ),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM e),
    cumh AS (
        SELECT bucket,
               CAST(SUM(nb) OVER (ORDER BY bucket ROWS UNBOUNDED PRECEDING)
                    AS BIGINT) AS cum
        FROM hist
    ),
    pcts AS (SELECT * FROM (VALUES {pvals}) AS t(p)),
    est AS (
        SELECT p, CAST(MIN(bucket) AS BIGINT) AS bucket
        FROM pcts, cumh, tot WHERE cum * 100 >= p * n GROUP BY p
    ),
    ex AS (
        {" UNION ALL ".join(
            f"SELECT CAST({p} AS BIGINT) AS p, "
            f"CAST(quantile_disc(cents, {p / 100}) AS BIGINT) AS exact_c "
            "FROM e"
            for p in _EXPH_PCTS
        )}
    )
    SELECT est.p AS p, est.bucket,
           CAST(CASE WHEN est.bucket = 1 THEN 0
                     ELSE (CAST(1 AS BIGINT) << CAST(est.bucket - 1
                                                     AS INTEGER)) END
                AS BIGINT) AS lo_cents,
           CAST((CAST(1 AS BIGINT) << CAST(est.bucket AS INTEGER)) - 1
                AS BIGINT) AS hi_cents,
           ex.exact_c AS exact_cents,
           ex.exact_c
               BETWEEN CASE WHEN est.bucket = 1 THEN 0
                            ELSE (CAST(1 AS BIGINT)
                                  << CAST(est.bucket - 1 AS INTEGER)) END
                   AND (CAST(1 AS BIGINT) << CAST(est.bucket AS INTEGER)) - 1
               AS within_bounds
    FROM est JOIN ex USING (p)
    """


@query(
    "q_sketch_exp_histogram",
    oracle=_exph_oracle(),
    tags=("scale", "sketch"),
)
def q_sketch_exp_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponential (powers-of-2) histogram quantiles — the DDSketch
    idea with γ = 2 in pure integer ops: bucket = bit-length of the
    cents value (length(bin(x)) in BOTH engines), so every quantile
    estimate carries a RELATIVE-error guarantee (true value within
    [2^(b−1), 2^b−1], i.e. ≤ 2×) regardless of the value range —
    where q_sketch_histogram_quantile's linear bins give absolute
    error and saturate on heavy tails.  Buckets are trivially
    mergeable (counts add across shards/windows) and the emitted
    within_bounds column audits the guarantee against the exact
    order statistic per percentile.

    100 TB shape: the sketch is a ≤64-row histogram per group — one
    map-side-combined agg however large the input; quantile lookup is
    a window over those ≤64 rows.  The exact-audit arm is the only
    sort and exists only to prove the bound."""
    e = load_table(spark, sf_dir, "events").select(
        F.round(F.col("value") * 100, 0).cast("long").alias("cents")
    )
    hist = e.select(
        F.length(F.bin(F.col("cents"))).cast("long").alias("bucket")
    ).groupBy("bucket").agg(F.count("*").alias("nb"))
    tot = e.agg(F.count("*").alias("n"))
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    cumh = hist.select(
        "bucket", F.sum("nb").over(w).alias("cum")
    ).crossJoin(F.broadcast(tot))
    pcts = spark.createDataFrame([(p,) for p in _EXPH_PCTS], "p long")
    est = (
        F.broadcast(pcts)
        .join(cumh, F.col("cum") * 100 >= F.col("p") * F.col("n"))
        .groupBy("p")
        .agg(F.min("bucket").alias("bucket"))
    )
    wide = e.agg(
        *[
            F.expr(
                f"CAST(percentile_disc({p / 100}) WITHIN GROUP "
                "(ORDER BY cents) AS LONG)"
            ).alias(f"e{p}")
            for p in _EXPH_PCTS
        ]
    )
    stack_args = ", ".join(f"{p}L, e{p}" for p in _EXPH_PCTS)
    ex = wide.select(
        F.expr(
            f"stack({len(_EXPH_PCTS)}, {stack_args}) AS (p, exact_c)"
        )
    )
    lo = F.expr(
        "CASE WHEN bucket = 1 THEN CAST(0 AS LONG) "
        "ELSE shiftleft(CAST(1 AS LONG), CAST(bucket - 1 AS INT)) END"
    )
    hi = F.expr("shiftleft(CAST(1 AS LONG), CAST(bucket AS INT)) - 1")
    return est.join(ex, "p").select(
        "p",
        "bucket",
        lo.alias("lo_cents"),
        hi.alias("hi_cents"),
        F.col("exact_c").alias("exact_cents"),
        ((F.col("exact_c") >= lo) & (F.col("exact_c") <= hi)).alias(
            "within_bounds"
        ),
    )
