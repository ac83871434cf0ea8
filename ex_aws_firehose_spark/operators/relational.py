"""Batch-relational operator surface (SURVEY.md §2.4, [EXT]).

Every query here is pure DataFrame-API composition — zero Python in the
hot path — so Catalyst gets full pushdown/pruning/join-selection and the
whole plan runs in whole-stage codegen.  Each carries a DuckDB oracle.

Determinism conventions (required for oracle hash-matching):

- Every ORDER BY that feeds a LIMIT or a window-rank carries a unique
  tie-break key.
- Floating aggregates are rounded (2 dp for money sums, 4 dp for
  avg/ratios, 6 dp for transcendental fns) so summation-order jitter
  between engines can't flip the value hash.
- Integer aggregates are CAST to BIGINT in the oracle (DuckDB widens
  SUM(int) to HUGEINT; Spark uses long).
- ``events.ts`` is nanosecond-precision parquet; Spark truncates to
  microseconds on read, so oracles read through the EVENTS_US CTE which
  applies the same truncation.

At 100 TB these shapes hold: fact-fact joins shuffle on their join key
with AQE skew-split; dim joins broadcast (see q_join_broadcast);
aggregations use partial map-side combine automatically; windows
partition by high-cardinality keys (user, segment) so no single
partition explodes.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ex_aws_firehose_spark.caching import session_cached, tracked_mkdtemp
from ex_aws_firehose_spark.registry import query
from ex_aws_firehose_spark.tables import load_table, spread

# DuckDB reads the raw ns-precision timestamps; Spark reads µs. Truncate in
# the oracle so both engines see identical event times.
EVENTS_US = (
    "WITH events_us AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, "
    "event_type, value, props FROM events)"
)


# ---------------------------------------------------------------------------
# Scan / filter
# ---------------------------------------------------------------------------


@query(
    "q_scan_project",
    oracle="""
    SELECT l_orderkey, l_partkey, l_linenumber, l_quantity
    FROM lineitem
    """,
    tags=("relational", "scan"),
)
def q_scan_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scan + column projection — pruned at the parquet reader
    (ReadSchema shows only 4 columns)."""
    return load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_linenumber", "l_quantity"
    )


@query(
    "q_filter_predicate",
    oracle="""
    SELECT p_partkey, p_name, p_brand, p_type, p_size
    FROM part
    WHERE p_size BETWEEN 10 AND 40
      AND (p_brand IN ('Brand#1', 'Brand#2', 'Brand#3') OR p_type LIKE '%SMALL%')
      AND p_name IS NOT NULL
      AND p_retailprice > 500.0
    """,
    tags=("relational", "filter"),
)
def q_filter_predicate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compound predicate (AND/OR/IN/BETWEEN/LIKE/IS NOT NULL) — all
    conjuncts reach the parquet scan as PushedFilters."""
    p = load_table(spark, sf_dir, "part")
    return p.filter(
        F.col("p_size").between(10, 40)
        & (
            F.col("p_brand").isin("Brand#1", "Brand#2", "Brand#3")
            | F.col("p_type").like("%SMALL%")
        )
        & F.col("p_name").isNotNull()
        & (F.col("p_retailprice") > 500.0)
    ).select("p_partkey", "p_name", "p_brand", "p_type", "p_size")


# ---------------------------------------------------------------------------
# Joins
# ---------------------------------------------------------------------------


def _cents(col: str) -> F.Column:
    """Exact integer cents for a 2-dp money column.  Float-determinism
    device: cross-engine comparisons of double arithmetic are only safe
    when both engines compute bit-identical values, so money math is done
    on exact int64 units with a single constant power-of-ten division at
    the end (identical IEEE ops → identical bits → identical hash)."""
    return F.round(F.col(col) * 100, 0).cast("long")


def _pct(col: str) -> F.Column:
    """Exact integer percent units for a 2-dp rate column (0.08 → 8)."""
    return F.round(F.col(col) * 100, 0).cast("long")


@query(
    "q_join_inner_equi",
    oracle="""
    SELECT l.l_orderkey, l.l_linenumber, o.o_custkey, o.o_orderstatus,
           CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)
             * (100 - CAST(ROUND(l.l_discount * 100) AS BIGINT)) / 10000.0 AS net_price
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderstatus = 'F'
    """,
    tags=("relational", "join"),
)
def q_join_inner_equi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-fact inner equi-join (lineitem ⋈ orders). At scale: shuffle
    hash/sort-merge on l_orderkey with AQE skew handling; the status
    filter pushes below the join."""
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    net = (_cents("l_extendedprice") * (100 - _pct("l_discount")) / 10000.0).alias(
        "net_price"
    )
    return l.join(o, l.l_orderkey == o.o_orderkey, "inner").select(
        "l_orderkey", "l_linenumber", "o_custkey", "o_orderstatus", net
    )


@query(
    "q_join_left_outer",
    oracle="""
    SELECT c.c_custkey, c.c_name, o.o_orderkey,
           o.o_totalprice
    FROM customer c LEFT JOIN orders o
      ON c.c_custkey = o.o_custkey AND o.o_totalprice > 200000.0
    """,
    tags=("relational", "join"),
)
def q_join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join with a join-side predicate (kept in the ON clause
    — must NOT be pushed as a post-filter, which would drop null rows)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    cond = (c.c_custkey == o.o_custkey) & (o.o_totalprice > 200000.0)
    return c.join(o, cond, "left").select(
        "c_custkey", "c_name", "o_orderkey", "o_totalprice"
    )


@query(
    "q_join_semi",
    oracle="""
    SELECT c_custkey, c_name, c_acctbal
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT')
    """,
    tags=("relational", "join"),
)
def q_join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Existence join (left semi) — never duplicates the probe side."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_name", "c_acctbal"
    )


@query(
    "q_join_anti",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderpriority = '1-URGENT'
                        AND year(o.o_orderdate) >= 2000)
    """,
    tags=("relational", "join"),
)
def q_join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti join — customers with no URGENT order since 2000. The
    filtered-parent form: every fixture customer has SOME order, so
    the unfiltered anti join was empty at sf0.01 and near-empty at
    sf0.1 (both engines trivially agreeing on ~nothing); the
    predicate-pushed parent (~60% of customers survive, measured at
    both SFs) keeps the anti-join's selective arm validated — and is
    the realistic shape anyway ("who hasn't done X lately" beats "who
    has never existed" in every churn query)."""
    c = load_table(spark, sf_dir, "customer")
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderpriority") == "1-URGENT")
            & (F.year("o_orderdate") >= 2000)
        )
    )
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


@query(
    "q_join_broadcast",
    oracle="""
    SELECT r.r_name, CAST(COUNT(*) AS BIGINT) AS n_customers,
           ROUND(SUM(c.c_acctbal), 2) AS total_acctbal
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name
    """,
    tags=("relational", "join"),
)
def q_join_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star join through two explicitly-broadcast dims — zero shuffles on
    the fact side until the final small aggregation."""
    c = load_table(spark, sf_dir, "customer")
    n = F.broadcast(load_table(spark, sf_dir, "nation"))
    r = F.broadcast(load_table(spark, sf_dir, "region"))
    return (
        c.join(n, c.c_nationkey == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.count("*").alias("n_customers"),
            F.round(F.sum("c_acctbal"), 2).alias("total_acctbal"),
        )
    )


@query(
    "q_join_range_theta",
    oracle=EVENTS_US
    + """
    SELECT a.event_id AS event_a, b.event_id AS event_b, a.user_id
    FROM events_us a JOIN events_us b
      ON a.user_id = b.user_id
     AND b.ts > a.ts
     AND b.ts <= a.ts + INTERVAL 5 MINUTE
     AND a.event_type = 'error'
    """,
    tags=("relational", "join"),
)
def q_join_range_theta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range/theta join: events within 5 minutes after an error by the
    same user. The equi conjunct (user_id) keeps this a hash join with a
    range residual — never a full cartesian BNLJ."""
    e = load_table(spark, sf_dir, "events")
    a = e.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("event_a"),
        F.col("user_id"),
        F.col("ts").alias("ts_a"),
    )
    b = e.select(
        F.col("event_id").alias("event_b"),
        F.col("user_id").alias("user_b"),
        F.col("ts").alias("ts_b"),
    )
    cond = (
        (a.user_id == b.user_b)
        & (b.ts_b > a.ts_a)
        & (b.ts_b <= a.ts_a + F.expr("INTERVAL 5 MINUTES"))
    )
    return a.join(b, cond, "inner").select("event_a", "event_b", "user_id")


@query(
    "q_join_asof",
    oracle=EVENTS_US
    + """
    SELECT o.o_orderkey, last.event_id AS asof_event_id, last.ts AS asof_ts
    FROM orders o
    LEFT JOIN LATERAL (
        SELECT e.event_id, e.ts
        FROM events_us e
        WHERE e.user_id = o.o_custkey AND e.ts <= o.o_orderdate
        ORDER BY e.ts DESC, e.event_id DESC
        LIMIT 1
    ) last ON TRUE
    """,
    tags=("relational", "join"),
)
def q_join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: for each order, the latest event of that user at or
    before the order date.  Expressed as equi-join on the entity key +
    max-of-struct aggregation — both shuffle-partitioned by the key, so
    the pattern scales without a sort-merge over the whole time domain.
    Tie-break: (ts, event_id) lexicographic max, matching the oracle's
    ORDER BY ts DESC, event_id DESC LIMIT 1."""
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderdate")
    e = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    joined = o.join(
        e, (o.o_custkey == e.user_id) & (e.ts <= o.o_orderdate), "left"
    )
    return (
        joined.groupBy("o_orderkey")
        .agg(F.max(F.struct(F.col("ts"), F.col("event_id"))).alias("last"))
        .select(
            "o_orderkey",
            F.col("last.event_id").alias("asof_event_id"),
            F.col("last.ts").alias("asof_ts"),
        )
    )


# ---------------------------------------------------------------------------
# Aggregation
# ---------------------------------------------------------------------------


@query(
    "q_agg_hash",
    oracle="""
    WITH l AS (
        SELECT l_returnflag, l_linestatus, l_quantity,
               CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS cents,
               CAST(ROUND(l_discount * 100) AS BIGINT)      AS d2,
               CAST(ROUND(l_tax * 100) AS BIGINT)           AS t2
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '2024-09-01 00:00:00'
    )
    SELECT l_returnflag, l_linestatus,
           SUM(l_quantity)                                        AS sum_qty,
           SUM(cents) / 100.0                                     AS sum_base_price,
           SUM(cents * (100 - d2)) / 10000.0                      AS sum_disc_price,
           SUM(cents * (100 - d2) * (100 + t2)) / 1000000.0       AS sum_charge,
           SUM(l_quantity) / COUNT(*)                             AS avg_qty,
           SUM(cents) / 100.0 / COUNT(*)                          AS avg_price,
           SUM(d2) / 100.0 / COUNT(*)                             AS avg_disc,
           CAST(COUNT(*) AS BIGINT)                               AS count_order
    FROM l GROUP BY l_returnflag, l_linestatus
    """,
    tags=("relational", "agg"),
)
def q_agg_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q1-shaped grouped aggregation: 8 aggregates over 2 group
    keys. Spark's hash aggregate does partial (map-side) combine before
    the shuffle — the shuffle moves #groups rows, not #input rows.

    Money math on exact int64 cent units (see _cents): the sums stay
    exact (< 2^53 at oracle scale) so both engines produce bit-identical
    doubles after the single constant division — no rounding games."""
    l = load_table(spark, sf_dir, "lineitem")
    cents, d2, t2 = _cents("l_extendedprice"), _pct("l_discount"), _pct("l_tax")
    n = F.count("*")
    return (
        l.filter(F.col("l_shipdate") <= F.lit("2024-09-01 00:00:00").cast("timestamp"))
        .select("l_returnflag", "l_linestatus", "l_quantity",
                cents.alias("cents"), d2.alias("d2"), t2.alias("t2"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            (F.sum("cents") / 100.0).alias("sum_base_price"),
            (F.sum(F.col("cents") * (100 - F.col("d2"))) / 10000.0).alias(
                "sum_disc_price"
            ),
            (
                F.sum(F.col("cents") * (100 - F.col("d2")) * (100 + F.col("t2")))
                / 1000000.0
            ).alias("sum_charge"),
            (F.sum("l_quantity") / n).alias("avg_qty"),
            (F.sum("cents") / 100.0 / n).alias("avg_price"),
            (F.sum("d2") / 100.0 / n).alias("avg_disc"),
            n.alias("count_order"),
        )
    )


@query(
    "q_agg_distinct",
    oracle="""
    SELECT l_returnflag,
           CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS distinct_parts,
           CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS distinct_supps
    FROM lineitem GROUP BY l_returnflag
    """,
    tags=("relational", "agg"),
)
def q_agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-column COUNT(DISTINCT) — Spark expands to a partial-distinct
    aggregate (expand + two-phase agg), no driver-side dedup."""
    l = load_table(spark, sf_dir, "lineitem")
    return l.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("distinct_parts"),
        F.countDistinct("l_suppkey").alias("distinct_supps"),
    )


@query(
    "q_agg_approx_distinct",
    oracle="""
    SELECT l_returnflag,
           CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
           TRUE AS approx_within_5pct
    FROM lineitem GROUP BY l_returnflag
    """,
    tags=("relational", "agg", "approx"),
)
def q_agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ approximate distinct — the 100 TB answer to exact
    COUNT(DISTINCT): mergeable sketches, no expand, fixed memory.

    The sketch estimate itself is implementation-defined, so the
    oracle-checked contract is the accuracy property: the HLL++ estimate
    (rsd=0.02) must land within 5% of the exact count — Spark computes
    both and emits the verdict; DuckDB recomputes the exact side."""
    l = load_table(spark, sf_dir, "lineitem")
    return l.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("exact_parts"),
        (
            F.abs(
                F.approx_count_distinct("l_partkey", 0.02)
                - F.countDistinct("l_partkey")
            )
            <= F.countDistinct("l_partkey") * 0.05
        ).alias("approx_within_5pct"),
    )


@query(
    "q_grouping_sets",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           ROUND(SUM(o_totalprice), 2) AS total_price,
           CAST(GROUPING(o_orderstatus) AS INTEGER) AS g_status,
           CAST(GROUPING(o_orderpriority) AS INTEGER) AS g_priority
    FROM orders
    GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
    tags=("relational", "agg"),
)
def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP with GROUPING() indicators (disambiguates subtotal NULLs
    from data NULLs). Spark plans this as a single Expand + hash agg."""
    o = load_table(spark, sf_dir, "orders")
    return o.rollup("o_orderstatus", "o_orderpriority").agg(
        F.count("*").alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        F.grouping("o_orderstatus").cast("int").alias("g_status"),
        F.grouping("o_orderpriority").cast("int").alias("g_priority"),
    )


# ---------------------------------------------------------------------------
# Window functions
# ---------------------------------------------------------------------------


@query(
    "q_window_rank",
    oracle="""
    SELECT c_mktsegment, c_custkey, c_acctbal, rnk FROM (
        SELECT c_mktsegment, c_custkey, c_acctbal,
               CAST(ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                                       ORDER BY c_acctbal DESC, c_custkey) AS INTEGER) AS rnk
        FROM customer) t
    WHERE rnk <= 5
    """,
    tags=("relational", "window"),
)
def q_window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5-per-group via ranking window. The rank filter is pushed into
    the window operator (WindowGroupLimit) so each partition only keeps 5
    rows — no full sort materialization. Unique tie-break: c_custkey."""
    c = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey")
    )
    return (
        c.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 5)
        .select("c_mktsegment", "c_custkey", "c_acctbal", "rnk")
    )


@query(
    "q_window_frame",
    oracle=EVENTS_US
    + """
    SELECT event_id, user_id,
           SUM(CAST(ROUND(value * 100) AS BIGINT))
               OVER w / 100.0 AS moving_sum,
           SUM(CAST(ROUND(value * 100) AS BIGINT))
               OVER w / 100.0 / COUNT(*) OVER w AS moving_avg
    FROM events_us
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
    """,
    tags=("relational", "window"),
)
def q_window_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-frame analytics (4-row moving sum/avg per user). Partition
    key = user_id (high cardinality at scale → balanced). Exact cent
    units for cross-engine float determinism (see _cents)."""
    e = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-3, Window.currentRow)
    )
    cents_sum = F.sum(_cents("value")).over(w)
    return e.select(
        "event_id",
        "user_id",
        (cents_sum / 100.0).alias("moving_sum"),
        (cents_sum / 100.0 / F.count("*").over(w)).alias("moving_avg"),
    )


@query(
    "q_window_lead_lag",
    oracle=EVENTS_US
    + """
    SELECT event_id, user_id, value,
           ROUND(value - LAG(value) OVER w, 2)  AS delta_prev,
           LEAD(event_type) OVER w              AS next_type,
           FIRST_VALUE(event_id) OVER w         AS first_event
    FROM events_us
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
    tags=("relational", "window"),
)
def q_window_lead_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lead/lag/first_value over an ordered per-user window."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return e.select(
        "event_id",
        "user_id",
        "value",
        F.round(F.col("value") - F.lag("value").over(w), 2).alias("delta_prev"),
        F.lead("event_type").over(w).alias("next_type"),
        F.first("event_id").over(w).alias("first_event"),
    )


# ---------------------------------------------------------------------------
# Sort / limit / set ops
# ---------------------------------------------------------------------------


@query(
    "q_sort_limit_topk",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 100
    """,
    tags=("relational", "sort"),
)
def q_sort_limit_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k: Spark plans TakeOrderedAndProject — each partition keeps a
    k-element heap, only k rows reach the driver-side merge. Unique
    tie-break (o_orderkey) makes the result set deterministic."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(100)
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )


@query(
    "q_set_union",
    oracle="""
    SELECT c_nationkey AS nationkey, 'customer' AS side FROM customer
    UNION
    SELECT s_nationkey AS nationkey, 'supplier' AS side FROM supplier
    """,
    tags=("relational", "setop"),
)
def q_set_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION (distinct) via unionByName + dropDuplicates."""
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey"), F.lit("customer").alias("side")
    )
    s = load_table(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey"), F.lit("supplier").alias("side")
    )
    return c.unionByName(s).dropDuplicates()


@query(
    "q_set_intersect",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer
    INTERSECT
    SELECT s_nationkey AS nationkey FROM supplier
    """,
    tags=("relational", "setop"),
)
def q_set_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT — nations having both customers and suppliers."""
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey")
    )
    s = load_table(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey")
    )
    return c.intersect(s)


@query(
    "q_set_except",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer
    EXCEPT
    SELECT s_nationkey AS nationkey FROM supplier WHERE s_acctbal > 5000.0
    """,
    tags=("relational", "setop"),
)
def q_set_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT (distinct set semantics, via subtract) — nations with
    customers but no high-balance suppliers."""
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey")
    )
    s = (
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") > 5000.0)
        .select(F.col("s_nationkey").alias("nationkey"))
    )
    return c.subtract(s)


# ---------------------------------------------------------------------------
# Scalar function families
# ---------------------------------------------------------------------------


@query(
    "q_scalar_string",
    oracle="""
    SELECT p_partkey,
           LOWER(p_name)                         AS name_lower,
           UPPER(p_brand)                        AS brand_upper,
           SUBSTR(p_type, 1, 3)                  AS type_prefix,
           CAST(LENGTH(p_name) AS INTEGER)       AS name_len,
           CONCAT(p_brand, ':', p_type)          AS brand_type,
           REPLACE(p_name, ' ', '_')             AS name_snake,
           TRIM(CONCAT('  ', p_name, '  '))      AS name_trimmed,
           LPAD(CAST(p_partkey AS VARCHAR), 10, '0') AS key_padded
    FROM part
    """,
    tags=("relational", "scalar"),
)
def q_scalar_string(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String function family: lower/upper/substr/length/concat/replace/
    trim/lpad — all JVM built-ins inside codegen."""
    p = load_table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.lower("p_name").alias("name_lower"),
        F.upper("p_brand").alias("brand_upper"),
        F.substring("p_type", 1, 3).alias("type_prefix"),
        F.length("p_name").alias("name_len"),
        F.concat(F.col("p_brand"), F.lit(":"), F.col("p_type")).alias("brand_type"),
        F.regexp_replace("p_name", " ", "_").alias("name_snake"),
        F.trim(F.concat(F.lit("  "), F.col("p_name"), F.lit("  "))).alias(
            "name_trimmed"
        ),
        F.lpad(F.col("p_partkey").cast("string"), 10, "0").alias("key_padded"),
    )


# Deterministic URL fixture shared by both engines: scheme, user-shard
# host, type path segment, id leaf, integer query param — every piece
# exact-integer or column-derived so the parse is fully checkable.
_URL_SQL = (
    "'https://h' || CAST(user_id % 50 AS VARCHAR) || '.example.com/'"
    " || event_type || '/' || CAST(event_id % 100 AS VARCHAR)"
    " || '?v=' || CAST(CAST(ROUND(value * 100) AS BIGINT) AS VARCHAR)"
)
# Shared regexes — identical semantics under Java regex and RE2.
_URL_HOST_RX = r"^[a-z]+://([^/?#]+)"
_URL_PATH_RX = r"^[a-z]+://[^/?#]+(/[^?#]*)"
_URL_QV_RX = r"[?&]v=([0-9]+)"


@query(
    "q_scalar_url",
    oracle=EVENTS_US
    + f"""
    , u AS (SELECT event_id, {_URL_SQL} AS url FROM events_us)
    SELECT regexp_extract(url, '{_URL_HOST_RX}', 1) AS host,
           CAST(COUNT(*) AS BIGINT) AS n_urls,
           CAST(COUNT(DISTINCT regexp_extract(url, '{_URL_PATH_RX}', 1))
                AS BIGINT) AS n_paths,
           CAST(SUM(CAST(regexp_extract(url, '{_URL_QV_RX}', 1) AS BIGINT))
                AS BIGINT) AS sum_v
    FROM u GROUP BY regexp_extract(url, '{_URL_HOST_RX}', 1)
    """,
    tags=("relational", "scalar"),
)
def q_scalar_url(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL parsing family — host / path / query-parameter extraction
    with one shared regex set per component (anchored, RE2-compatible,
    so Java and RE2 agree byte-for-byte), rolled up per host: URL
    count, distinct paths, and the exact integer sum of the parsed
    query parameter (proving the numeric round-trip through the URL).
    The fixture URL is synthesized deterministically from events in
    BOTH engines, so the oracle checks the parser, not the fixture.

    100 TB shape: parsing is pure codegen regexp on the scan (domain
    extraction for web-corpus curation runs map-side at ingest); the
    only shuffle is the |hosts|-grain rollup."""
    e = load_table(spark, sf_dir, "events")
    url = F.concat(
        F.lit("https://h"),
        (F.col("user_id") % 50).cast("string"),
        F.lit(".example.com/"),
        F.col("event_type"),
        F.lit("/"),
        (F.col("event_id") % 100).cast("string"),
        F.lit("?v="),
        F.round(F.col("value") * 100, 0).cast("long").cast("string"),
    )
    u = e.select(url.alias("url"))
    host = F.regexp_extract("url", _URL_HOST_RX, 1)
    path = F.regexp_extract("url", _URL_PATH_RX, 1)
    qv = F.regexp_extract("url", _URL_QV_RX, 1).cast("long")
    return u.groupBy(host.alias("host")).agg(
        F.count("*").alias("n_urls"),
        F.count_distinct(path).alias("n_paths"),
        F.sum(qv).alias("sum_v"),
    )


# Correlation-matrix measures in exact integer units: quantity (whole
# units), extendedprice in HUNDREDS of dollars (cents div 10000 —
# Pearson r is scale-invariant, and the coarser unit keeps the
# n·Σx² cross-product < 2^63: n·Σx² ≤ n²·x_typ², safe past 1e8 rows
# at the fixture's typical x ~ tens of units; at the x ≈ 1e3 value
# cap the worst case binds at n ≈ 3e6 — beyond either, pre-center on
# the integer mean and coarsen again), discount (percent points).
@query(
    "q_agg_corr_matrix",
    oracle="""
    WITH m AS (
        SELECT CAST(l_quantity AS BIGINT) AS q,
               CAST(ROUND(l_extendedprice * 100) AS BIGINT) // 10000 AS p,
               CAST(ROUND(l_discount * 100) AS BIGINT) AS d
        FROM lineitem
    ),
    s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(q) AS BIGINT) AS sq, CAST(SUM(p) AS BIGINT) AS sp,
               CAST(SUM(d) AS BIGINT) AS sd,
               CAST(SUM(q * q) AS BIGINT) AS sqq,
               CAST(SUM(p * p) AS BIGINT) AS spp,
               CAST(SUM(d * d) AS BIGINT) AS sdd,
               CAST(SUM(q * p) AS BIGINT) AS sqp,
               CAST(SUM(q * d) AS BIGINT) AS sqd,
               CAST(SUM(p * d) AS BIGINT) AS spd
        FROM m
    )
    SELECT n,
           CAST(n * sqp - sq * sp AS BIGINT) AS cov_qp_num,
           CAST(n * sqd - sq * sd AS BIGINT) AS cov_qd_num,
           CAST(n * spd - sp * sd AS BIGINT) AS cov_pd_num,
           CAST(n * sqp - sq * sp AS DOUBLE)
               / SQRT(CAST(n * sqq - sq * sq AS DOUBLE)
                      * CAST(n * spp - sp * sp AS DOUBLE)) AS r_qp,
           CAST(n * sqd - sq * sd AS DOUBLE)
               / SQRT(CAST(n * sqq - sq * sq AS DOUBLE)
                      * CAST(n * sdd - sd * sd AS DOUBLE)) AS r_qd,
           CAST(n * spd - sp * sd AS DOUBLE)
               / SQRT(CAST(n * spp - sp * sp AS DOUBLE)
                      * CAST(n * sdd - sd * sd AS DOUBLE)) AS r_pd
    FROM s
    """,
    tags=("relational", "agg"),
)
def q_agg_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlation matrix over three fact measures
    (quantity, price hundreds-of-dollars, discount points) — the multi-measure
    upgrade of the windowed rolling-corr recipe: ALL ten co-moment
    sums accumulate in ONE map-side-combined pass over exact integer
    units, and each r is two IEEE ops (one division, one sqrt — both
    correctly-rounded per IEEE 754, so bit-identical cross-engine) on
    those integers.  Exact covariance numerators ride along for
    float-free threshold checks.

    100 TB shape: one scan, one 1-row aggregate — the matrix never
    shuffles data; adding a measure adds co-moment columns, not
    passes.  Int64 bound documented above the decorator."""
    li = load_table(spark, sf_dir, "lineitem")
    m = li.select(
        F.col("l_quantity").cast("long").alias("q"),
        F.expr(
            "CAST(ROUND(l_extendedprice * 100) AS BIGINT) div 10000"
        ).alias("p"),
        F.round(F.col("l_discount") * 100, 0).cast("long").alias("d"),
    )
    s = m.agg(
        F.count("*").alias("n"),
        F.sum("q").alias("sq"),
        F.sum("p").alias("sp"),
        F.sum("d").alias("sd"),
        F.sum(F.col("q") * F.col("q")).alias("sqq"),
        F.sum(F.col("p") * F.col("p")).alias("spp"),
        F.sum(F.col("d") * F.col("d")).alias("sdd"),
        F.sum(F.col("q") * F.col("p")).alias("sqp"),
        F.sum(F.col("q") * F.col("d")).alias("sqd"),
        F.sum(F.col("p") * F.col("d")).alias("spd"),
    )

    def r(cov: str, vx: str, vy: str):
        return F.expr(
            f"CAST({cov} AS DOUBLE)"
            f" / SQRT(CAST({vx} AS DOUBLE) * CAST({vy} AS DOUBLE))"
        )

    return s.select(
        "n",
        F.expr("n * sqp - sq * sp").alias("cov_qp_num"),
        F.expr("n * sqd - sq * sd").alias("cov_qd_num"),
        F.expr("n * spd - sp * sd").alias("cov_pd_num"),
        r("n * sqp - sq * sp", "n * sqq - sq * sq", "n * spp - sp * sp")
        .alias("r_qp"),
        r("n * sqd - sq * sd", "n * sqq - sq * sq", "n * sdd - sd * sd")
        .alias("r_qd"),
        r("n * spd - sp * sd", "n * spp - sp * sp", "n * sdd - sd * sd")
        .alias("r_pd"),
    )


@query(
    "q_scalar_date",
    oracle="""
    SELECT o_orderkey,
           DATE_TRUNC('month', o_orderdate)                       AS order_month,
           CAST(YEAR(o_orderdate) AS INTEGER)                     AS order_year,
           CAST(MONTH(o_orderdate) AS INTEGER)                    AS order_mon,
           CAST(DAYOFWEEK(o_orderdate) AS INTEGER)                AS order_dow,
           CAST(DATEDIFF('day', DATE '2024-01-01', CAST(o_orderdate AS DATE)) AS INTEGER)
                                                                  AS days_since_2024,
           CAST(FLOOR(EPOCH(o_orderdate)) AS BIGINT)              AS epoch_sec
    FROM orders
    """,
    tags=("relational", "scalar"),
)
def q_scalar_date(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/time family: trunc, extract parts, datediff, epoch seconds.

    Convention note: DuckDB DAYOFWEEK is 0=Sunday..6=Saturday while
    Spark dayofweek is 1=Sunday..7, so the Spark side subtracts 1 and
    both emit the 0-based convention."""
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.date_trunc("month", "o_orderdate").alias("order_month"),
        F.year("o_orderdate").alias("order_year"),
        F.month("o_orderdate").alias("order_mon"),
        (F.dayofweek("o_orderdate") - F.lit(1)).alias("order_dow"),
        F.datediff(F.col("o_orderdate").cast("date"), F.lit("2024-01-01").cast("date")).alias(
            "days_since_2024"
        ),
        F.unix_timestamp("o_orderdate").alias("epoch_sec"),
    )


@query(
    "q_scalar_math",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           ABS(l_discount - 0.05)                       AS disc_dev,
           ROUND(l_extendedprice, 0)                    AS price_round,
           CAST(CEIL(l_quantity / 7.0) AS BIGINT)       AS qty_ceil7,
           CAST(FLOOR(l_quantity / 7.0) AS BIGINT)      AS qty_floor7,
           ROUND(LN(l_extendedprice), 6)                AS price_ln,
           ROUND(SQRT(l_quantity), 6)                   AS qty_sqrt,
           ROUND(POWER(1.0 + l_tax, 2), 6)              AS tax_sq,
           CAST(CAST(l_quantity AS BIGINT) % 5 AS BIGINT) AS qty_mod5
    FROM lineitem
    """,
    tags=("relational", "scalar"),
)
def q_scalar_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Math family: abs/round/ceil/floor/ln/sqrt/power/mod. Transcendental
    results rounded to 6 dp (libm vs JVM last-ulp differences)."""
    l = load_table(spark, sf_dir, "lineitem")
    return l.select(
        "l_orderkey",
        "l_linenumber",
        F.abs(F.col("l_discount") - 0.05).alias("disc_dev"),
        F.round("l_extendedprice", 0).alias("price_round"),
        F.ceil(F.col("l_quantity") / 7.0).alias("qty_ceil7"),
        F.floor(F.col("l_quantity") / 7.0).alias("qty_floor7"),
        F.round(F.log(F.col("l_extendedprice")), 6).alias("price_ln"),
        F.round(F.sqrt("l_quantity"), 6).alias("qty_sqrt"),
        F.round(F.pow(F.lit(1.0) + F.col("l_tax"), 2), 6).alias("tax_sq"),
        (F.col("l_quantity").cast("long") % 5).alias("qty_mod5"),
    )


@query(
    "q_scalar_array",
    oracle="""
    SELECT doc_id,
           CAST(LEN(STR_SPLIT(text, ' ')) AS INTEGER)        AS n_tokens,
           STR_SPLIT(text, ' ')[1]                           AS first_token,
           LIST_SORT(STR_SPLIT(text, ' '))[1]                AS min_token,
           CAST(LIST_CONTAINS(STR_SPLIT(text, ' '), 'the') AS BOOLEAN) AS has_the,
           ARRAY_TO_STRING(STR_SPLIT(text, ' ')[1:3], '|')   AS first3
    FROM documents
    """,
    tags=("relational", "scalar"),
)
def q_scalar_array(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array family: split/size/element_at/sort_array/array_contains/
    slice+array_join — all native ArrayType expressions (no UDF)."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    return d.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.element_at(toks, 1).alias("first_token"),
        F.element_at(F.sort_array(toks), 1).alias("min_token"),
        F.array_contains(toks, "the").alias("has_the"),
        F.array_join(F.slice(toks, 1, 3), "|").alias("first3"),
    )


@query(
    "q_scalar_json",
    oracle=EVENTS_US
    + """
    SELECT event_id,
           CAST(JSON_EXTRACT_STRING(props, '$.k') AS INTEGER) AS prop_k,
           CAST(JSON_EXTRACT_STRING(props, '$.missing') AS VARCHAR) AS prop_missing
    FROM events_us
    """,
    tags=("relational", "scalar"),
)
def q_scalar_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON extraction from the events.props string column — Spark
    get_json_object (codegen'd Jackson path eval), null for missing."""
    e = load_table(spark, sf_dir, "events")
    return e.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("int").alias("prop_k"),
        F.get_json_object("props", "$.missing").alias("prop_missing"),
    )


@query(
    "q_scalar_conditional",
    oracle=EVENTS_US
    + """
    SELECT event_id,
           CASE WHEN value > 400 THEN 'high'
                WHEN value > 100 THEN 'mid'
                ELSE 'low' END                          AS value_band,
           COALESCE(NULLIF(event_type, 'error'), 'n/a') AS type_or_na,
           CASE WHEN event_type = 'purchase' THEN ROUND(value, 2) ELSE 0.0 END AS purchase_value
    FROM events_us
    """,
    tags=("relational", "scalar"),
)
def q_scalar_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CASE WHEN / coalesce / nullif family."""
    e = load_table(spark, sf_dir, "events")
    return e.select(
        "event_id",
        F.when(F.col("value") > 400, "high")
        .when(F.col("value") > 100, "mid")
        .otherwise("low")
        .alias("value_band"),
        F.coalesce(F.nullif(F.col("event_type"), F.lit("error")), F.lit("n/a")).alias(
            "type_or_na"
        ),
        F.when(F.col("event_type") == "purchase", F.round("value", 2))
        .otherwise(F.lit(0.0))
        .alias("purchase_value"),
    )


# ---------------------------------------------------------------------------
# UDF / UDAF surface
# ---------------------------------------------------------------------------


@F.pandas_udf(T.IntegerType())
def _token_count_udf(text: pd.Series) -> pd.Series:
    """Vectorized token counter — the generalization of the reference's
    per-record transformLogEvent hook (lambda/main.py:55-69): arbitrary
    Python per-value logic, Arrow-batched."""
    return (text.str.count(" ") + 1).astype("int32")


@query(
    "q_udf_scalar",
    oracle="""
    SELECT doc_id,
           CAST(LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) + 1 AS INTEGER) AS n_tokens_udf
    FROM documents
    """,
    tags=("relational", "udf"),
)
def q_udf_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar pandas UDF (Arrow-vectorized). Oracle expresses the same
    token count in pure SQL to differentially verify the UDF path."""
    d = load_table(spark, sf_dir, "documents")
    return d.select("doc_id", _token_count_udf(F.col("text")).alias("n_tokens_udf"))


@query(
    "q_udaf",
    oracle=EVENTS_US
    + """
    SELECT event_type,
           MEDIAN(CAST(ROUND(value * 100) AS BIGINT)) / 100.0 AS median_value,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM events_us GROUP BY event_type
    """,
    tags=("relational", "udf"),
)
def q_udaf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom grouped aggregate via applyInPandas (exact median + count
    per group). Each group is one pandas DataFrame on one executor —
    group key cardinality must exceed parallelism at scale (event_type
    is low-card here; at 100 TB you'd pre-aggregate or use
    percentile_approx — see q_agg_approx_distinct for the sketch-based
    pattern)."""
    e = load_table(spark, sf_dir, "events")

    def median_agg(pdf: pd.DataFrame) -> pd.DataFrame:
        cents = (pdf["value"] * 100).round().astype("int64")
        return pd.DataFrame(
            {
                "event_type": [pdf["event_type"].iloc[0]],
                "median_value": [float(cents.median()) / 100.0],
                "n": [len(pdf)],
            }
        )

    return e.groupBy("event_type").applyInPandas(
        median_agg, schema="event_type string, median_value double, n long"
    )


# ---------------------------------------------------------------------------
# SQL-API surface + skew-mitigated join
# ---------------------------------------------------------------------------

_FLAGSHIP_SQL = """
SELECT r.r_name AS region, n.n_name AS nation,
       CAST(COUNT(DISTINCT o.o_orderkey) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)
                * (100 - CAST(ROUND(l.l_discount * 100) AS BIGINT))) AS BIGINT)
           AS revenue_micros
FROM lineitem l
JOIN orders o   ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n   ON c.c_nationkey = n.n_nationkey
JOIN region r   ON n.n_regionkey = r.r_regionkey
WHERE o.o_orderstatus <> 'F'
GROUP BY r.r_name, n.n_name
"""


@query("q_sql_flagship", oracle=_FLAGSHIP_SQL, tags=("relational", "sql"))
def q_sql_flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL-API surface: the revenue-by-nation rollup (TPC-H
    Q5-shaped, five-table join) submitted as raw ANSI SQL over the
    registered temp views — the oracle is the *identical* SQL text, so
    this key proves dialect-compatible SQL in, not just DataFrames.

    Money is exact-integer micros (cents × discount-complement-percent)
    so the cross-engine hash can't be flipped by double summation order.
    Plan shape at scale: lineitem⋈orders shuffles on orderkey (AQE
    skew-split), the three dimension joins broadcast."""
    from ex_aws_firehose_spark.tables import register_temp_views

    register_temp_views(spark, sf_dir)
    return spark.sql(_FLAGSHIP_SQL)


SALT_BUCKETS = 8


@query(
    "q_join_skew_salted",
    oracle=EVENTS_US
    + """
    SELECT c.c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS n_users
    FROM events_us e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
    tags=("relational", "join", "skew"),
)
def q_join_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-mitigated fact-to-dim join via explicit salting: the fact
    side appends a random-free deterministic salt (event_id % B) to the
    join key; the dim side explodes each row into all B salt values.
    Every (key, salt) shuffle bucket then holds ≤ 1/B of any hot key's
    rows. This is the manual fallback for engines/paths where AQE
    skew-join can't kick in (e.g. broadcast-ineligible dims, streaming
    joins); with AQE on, Spark does the equivalent split at runtime.
    Results are identical to the unsalted join — which is exactly what
    the oracle checks."""
    e = load_table(spark, sf_dir, "events").withColumn(
        "salt", (F.col("event_id") % SALT_BUCKETS).cast("int")
    )
    c = load_table(spark, sf_dir, "customer").withColumn(
        "salt", F.explode(F.sequence(F.lit(0), F.lit(SALT_BUCKETS - 1)))
    )
    joined = e.join(c, (e.user_id == c.c_custkey) & (e.salt == c.salt))
    return joined.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
    )


# AQE skew-join demo knobs: thresholds sized so the staged hot key (half
# of events collapsed onto c_custkey=1) exceeds the skew test at sf0.01+;
# broadcast disabled so the join stays sort-merge (skew split only applies
# to shuffle joins); coalescing off so partition sizes stay comparable.
_SKEW_AQE_CONFS = {
    "spark.sql.autoBroadcastJoinThreshold": "-1",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1.0",
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "16KB",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16KB",
    "spark.sql.adaptive.coalescePartitions.enabled": "false",
    "spark.sql.adaptive.forceOptimizeSkewedJoin": "true",
}


def _skew_aqe_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The lazy skewed-join aggregation q_join_skew_aqe materializes
    (and the plan gate inspects): half of all events collapse onto one
    hot customer key, then fact⋈dim sort-merge-joins on it. The fact
    side is repartitioned to 16 map tasks first — AQE splits a skewed
    reduce partition into contiguous *mapper ranges*, so a single-mapper
    shuffle (one small parquet file) is unsplittable no matter how
    skewed; real multi-file 100 TB scans always have the mappers."""
    e = load_table(spark, sf_dir, "events").repartition(16, "event_id")
    ske = e.withColumn(
        "hot_uid",
        F.when(F.col("event_id") % 2 == 0, F.lit(1)).otherwise(
            F.col("user_id")
        ),
    ).select("hot_uid", "props")
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    j = ske.join(c.hint("merge"), ske.hot_uid == c.c_custkey)
    return j.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_events"),
        F.sum(F.length("props")).cast("long").alias("payload_chars"),
    )


@query(
    "q_join_skew_aqe",
    oracle="""
    WITH ske AS (
        SELECT CASE WHEN event_id % 2 = 0 THEN 1 ELSE user_id END AS hot_uid,
               props
        FROM events
    )
    SELECT c.c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(LENGTH(s.props)) AS BIGINT) AS payload_chars
    FROM ske s JOIN customer c ON s.hot_uid = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
    tags=("relational", "join", "skew", "aqe"),
)
def q_join_skew_aqe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime skew mitigation via AQE's OptimizeSkewedJoin — the
    first-choice lever at 100 TB, with q_join_skew_salted as the manual
    fallback: the fact side collapses half of events onto one hot
    customer key, the join runs as sort-merge with skew-split enabled,
    and AQE carves the hot reduce partition into mapper-range chunks
    (each matched against a full copy of the dim partition) at runtime
    — no query rewrite, no salt column, identical results. The plan
    gate asserts the split actually happened (``SortMergeJoin
    (skew=true)`` + ``AQEShuffleRead skewed`` in the final plan).

    The skew-sensitive confs are scoped to this query: set, the
    aggregation is forced eager via localCheckpoint (so the split runs
    while they hold), then restored — a lazily-returned frame would
    otherwise leak force-skew/no-broadcast planning into whatever the
    caller runs next.

    100 TB shape: skew split costs duplicate reads of the matching dim
    partition (one per chunk) — cheap vs a straggler task holding the
    whole hot key. Two real-world caveats the staging encodes: (a) the
    split granularity is the *mapper*, so compacting input to few huge
    files destroys AQE's ability to split (16-way repartition here);
    (b) detection is by post-compression shuffle *bytes*, so an
    all-identical hot key column can compress below the threshold — the
    wide props payload rides through the shuffle to keep the hot
    partition visibly large."""
    old = {k: spark.conf.get(k, None) for k in _SKEW_AQE_CONFS}
    for k, v in _SKEW_AQE_CONFS.items():
        spark.conf.set(k, v)
    try:
        return _skew_aqe_agg(spark, sf_dir).localCheckpoint(eager=True)
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


@query(
    "q_pivot",
    oracle=EVENTS_US
    + """
    SELECT user_id % 10 AS user_bucket,
           CAST(COALESCE(SUM(CASE WHEN event_type = 'click' THEN 1 END), 0) AS BIGINT) AS click,
           CAST(COALESCE(SUM(CASE WHEN event_type = 'view'  THEN 1 END), 0) AS BIGINT) AS view,
           CAST(COALESCE(SUM(CASE WHEN event_type = 'purchase' THEN 1 END), 0) AS BIGINT) AS purchase
    FROM events_us GROUP BY user_id % 10
    """,
    tags=("relational", "pivot"),
)
def q_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (long → wide): event counts per user bucket spread across
    one column per event type. The pivot values are DECLARED, not
    discovered — at scale an undeclared pivot triggers an extra
    distinct-scan job over the fact table just to learn the columns."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy((F.col("user_id") % 10).alias("user_bucket"))
        .pivot("event_type", ["click", "view", "purchase"])
        .agg(F.count(F.lit(1)))
        .na.fill(0, ["click", "view", "purchase"])
    )


@query(
    "q_unpivot",
    oracle="""
    SELECT c_custkey, metric, val FROM (
        SELECT c_custkey, 'acctbal' AS metric, c_acctbal AS val FROM customer
        UNION ALL
        SELECT c_custkey, 'nationkey', CAST(c_nationkey AS DOUBLE) FROM customer
    )
    """,
    tags=("relational", "pivot"),
)
def q_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (wide → long) via the native unpivot/melt operator —
    a pure map (no shuffle), each row fans out to one row per column."""
    c = load_table(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.col("c_acctbal").alias("acctbal"),
        F.col("c_nationkey").cast("double").alias("nationkey"),
    ).unpivot("c_custkey", ["acctbal", "nationkey"], "metric", "val")


@query(
    "q_join_full_outer",
    oracle="""
    SELECT c.c_custkey, c.c_name, s.s_suppkey, s.s_name
    FROM customer c FULL OUTER JOIN supplier s
      ON c.c_custkey = s.s_suppkey
    """,
    tags=("relational", "join"),
)
def q_join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join — both unmatched sides survive with nulls. At
    scale: shuffle join only (full outer can't broadcast either side)."""
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    return c.join(s, c.c_custkey == s.s_suppkey, "full_outer").select(
        "c_custkey", "c_name", "s_suppkey", "s_name"
    )


@query(
    "q_agg_percentile",
    oracle="""
    SELECT o_orderpriority,
           quantile_cont(CAST(ROUND(o_totalprice * 100) AS BIGINT), 0.5) / 100.0
               AS median_price,
           quantile_cont(CAST(ROUND(o_totalprice * 100) AS BIGINT), 0.9) / 100.0
               AS p90_price,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM orders GROUP BY o_orderpriority
    """,
    tags=("relational", "agg"),
)
def q_agg_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (median, p90) over integer cents —
    linear interpolation on exact int64 units is bit-identical across
    engines. At 100 TB exact percentile requires a sort per group;
    the sketch alternative is percentile_approx (see
    q_agg_approx_distinct for the sketch-accuracy contract pattern)."""
    o = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("long")
    return o.groupBy("o_orderpriority").agg(
        (F.percentile(cents, F.lit(0.5)) / 100.0).alias("median_price"),
        (F.percentile(cents, F.lit(0.9)) / 100.0).alias("p90_price"),
        F.count("*").alias("n"),
    )


# ---------------------------------------------------------------------------
# Subqueries / analytic extensions
# ---------------------------------------------------------------------------


@query(
    "q_subquery_scalar",
    oracle="""
    SELECT o_orderkey, o_custkey,
           CAST(ROUND(o_totalprice * 100) AS BIGINT) AS price_cents
    FROM orders o
    WHERE CAST(ROUND(o_totalprice * 100) AS BIGINT) >
          (SELECT AVG(CAST(ROUND(i.o_totalprice * 100) AS BIGINT))
           FROM orders i WHERE i.o_custkey = o.o_custkey)
    """,
    tags=("relational", "subquery"),
)
def q_subquery_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery: orders priced above their customer's
    average. Expressed as a window aggregate (AVG OVER customer) instead
    of a per-row subquery — one shuffle on o_custkey, no join, no
    re-scan of orders; at 100 TB this is the canonical decorrelation
    Catalyst itself would have to discover from the subquery form.
    Comparison on exact cents; the avg itself is a ratio of exact int
    sums so the > predicate is bit-deterministic in both engines."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey")
    return (
        o.withColumn("price_cents", _cents("o_totalprice"))
        .withColumn("cust_avg", F.avg("price_cents").over(w))
        .filter(F.col("price_cents") > F.col("cust_avg"))
        .select("o_orderkey", "o_custkey", "price_cents")
    )


@query(
    "q_window_ntile",
    oracle="""
    SELECT o_orderkey,
           ntile(4) OVER w AS quartile,
           percent_rank() OVER w AS pct_rank,
           cume_dist() OVER w AS cum_dist
    FROM orders
    WINDOW w AS (PARTITION BY o_orderpriority
                 ORDER BY CAST(ROUND(o_totalprice * 100) AS BIGINT), o_orderkey)
    """,
    tags=("relational", "window"),
)
def q_window_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-rank window family (ntile / percent_rank /
    cume_dist) per priority class. percent_rank and cume_dist are exact
    integer ratios ((rank-1)/(n-1), rank/n) so the doubles are
    bit-identical across engines; the ORDER BY carries o_orderkey as a
    unique tie-break. Window partitions by priority (low cardinality) —
    at 100 TB the partition key would be a compound high-cardinality key
    or the ntile replaced by approx quantile cutpoints."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        _cents("o_totalprice"), "o_orderkey"
    )
    return o.select(
        "o_orderkey",
        F.ntile(4).over(w).alias("quartile"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cum_dist"),
    )


@query(
    "q_agg_listagg",
    oracle="""
    SELECT o_orderpriority,
           string_agg(DISTINCT o_orderstatus, ',' ORDER BY o_orderstatus)
               AS statuses,
           CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT) AS n_statuses
    FROM orders GROUP BY o_orderpriority
    """,
    tags=("relational", "agg"),
)
def q_agg_listagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation (LISTAGG / string_agg): distinct
    statuses per priority, comma-joined in lexical order.
    collect_set + array_sort + array_join keeps the order deterministic
    regardless of shuffle placement — never rely on collect_list
    arrival order. Map-side partial collect_set keeps the shuffled
    payload at most |distinct values| per group."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.array_join(
            F.array_sort(F.collect_set("o_orderstatus")), ","
        ).alias("statuses"),
        F.countDistinct("o_orderstatus").alias("n_statuses"),
    )


@query(
    "q_histogram",
    oracle="""
    WITH b AS (
        SELECT LEAST(9, GREATEST(0,
                   CAST(FLOOR((o_totalprice - 0.0) / 60000.0) AS INTEGER)))
                   AS bucket,
               CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders
    )
    SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n,
           SUM(cents) / 100.0 AS total_price
    FROM b GROUP BY bucket
    """,
    tags=("relational", "agg"),
)
def q_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram (10 buckets of 60k over order totals) via
    explicit floor arithmetic — the portable width_bucket. The bucket
    expression is a single identical double division in both engines
    (deterministic), clamped to [0, 9]. One hash aggregation, map-side
    combined; at 100 TB this is the standard first pass for range
    partitioning decisions and data profiling."""
    o = load_table(spark, sf_dir, "orders")
    bucket = F.least(
        F.lit(9),
        F.greatest(
            F.lit(0),
            F.floor((F.col("o_totalprice") - 0.0) / 60000.0).cast("int"),
        ),
    )
    return (
        o.withColumn("bucket", bucket)
        .withColumn("cents", _cents("o_totalprice"))
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n"),
            (F.sum("cents") / 100.0).alias("total_price"),
        )
    )


@query(
    "q_sample_stratified",
    oracle="""
    SELECT o_orderpriority, o_orderkey, o_orderdate
    FROM (
        SELECT o_orderpriority, o_orderkey, o_orderdate,
               row_number() OVER (PARTITION BY o_orderpriority
                                  ORDER BY o_orderdate, o_orderkey) AS rn
        FROM orders
    ) WHERE rn <= 3
    """,
    tags=("relational", "sample"),
)
def q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling: earliest 3 orders per priority
    stratum (row_number with a unique tie-break, then filter). At
    100 TB: rank-based stratified sampling shuffles once on the stratum
    key; for heavy strata, pre-aggregate with a per-partition top-k
    before the shuffle (Spark's TakeOrdered does this automatically for
    global top-k; per-group requires the window form shown here)."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy("o_orderdate", "o_orderkey")
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("o_orderpriority", "o_orderkey", "o_orderdate")
    )


@query(
    "q_sample_hash",
    oracle="""
    SELECT doc_id, source
    FROM documents
    WHERE CAST(('0x' || substr(md5(text), 1, 6)) AS BIGINT) % 20 = 0
    """,
    tags=("relational", "sample"),
)
def q_sample_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-hash sampling: a deterministic ~5% sample selected by
    md5(text) — stable across runs, engines, and partitionings (unlike
    TABLESAMPLE's RNG), and content-addressed so replicated docs sample
    identically. This is the sampling primitive a training-data pipeline
    uses for held-out splits. md5 is computed once per row, map-only —
    the filter runs before any shuffle and prunes at the scan."""
    d = load_table(spark, sf_dir, "documents")
    bucket = F.conv(F.substring(F.md5("text"), 1, 6), 16, 10).cast("long")
    return d.filter(bucket % 20 == 0).select("doc_id", "source")


_BUCKETS = 8


@session_cached
def _bucketed_tables(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Write orders and lineitem as bucketed tables (8 buckets on the
    join key) under a temp warehouse path, once per session+sf. Bucketed
    storage is the at-rest analog of a co-partitioned shuffle: both
    sides land pre-hashed on the join key, so every later equi-join on
    that key skips its Exchange entirely."""
    import hashlib

    suffix = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    o_name, l_name = f"orders_b_{suffix}", f"lineitem_b_{suffix}"
    root = tracked_mkdtemp(prefix="bucketed_")
    # Column-pruned at write time: a bucketed layout is built FOR the
    # repeated join/agg on its key, so it stores the key + the columns
    # those downstream plans read — not the full fact width (at 100 TB
    # the unused-column write cost dominates; prune there too).
    for name, table, bucket_col, cols in (
        (o_name, "orders", "o_orderkey", ["o_orderkey", "o_orderpriority"]),
        (l_name, "lineitem", "l_orderkey", ["l_orderkey", "l_extendedprice"]),
    ):
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        (
            load_table(spark, sf_dir, table)
            .select(*cols)
            .write.bucketBy(_BUCKETS, bucket_col)
            .sortBy(bucket_col)
            .option("path", f"{root}/{name}")
            .mode("overwrite")
            .saveAsTable(name)
        )
    return o_name, l_name


@query(
    "q_join_bucketed",
    oracle="""
    SELECT o.o_orderkey, o.o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)) / 100.0
               AS total_price
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderkey, o.o_orderpriority
    """,
    tags=("relational", "join"),
)
def q_join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-located (bucketed) fact-fact join: orders ⋈ lineitem where
    both sides are stored bucketed+sorted on the join key, so the join
    AND the following per-order aggregation run with zero Exchange —
    the physical plan is scan→scan→SortMergeJoin→agg with no shuffle
    node (asserted in tests/test_plans.py). At 100 TB this is THE
    technique for repeated fact-fact joins: pay the bucketing shuffle
    once at write time, amortize it over every downstream join/agg on
    that key."""
    o_name, l_name = _bucketed_tables(spark, sf_dir)
    o = spark.table(o_name)
    l = spark.table(l_name)
    # hint("merge"): at test SF the stats would pick broadcast (which
    # ignores bucketing); force the sort-merge path — the one a 100 TB
    # fact-fact join takes — to exercise bucket-aligned, sort-free SMJ.
    joined = l.join(o.hint("merge"), l.l_orderkey == o.o_orderkey)
    return joined.groupBy("o_orderkey", "o_orderpriority").agg(
        F.count("*").alias("n_items"),
        (F.sum(_cents("l_extendedprice")) / 100.0).alias("total_price"),
    )


# ---------------------------------------------------------------------------
# Analytic extensions II
# ---------------------------------------------------------------------------


@query(
    "q_window_range_time",
    oracle=EVENTS_US
    + """
    SELECT event_id, user_id,
           SUM(CAST(ROUND(value * 100) AS BIGINT)) OVER (
               PARTITION BY user_id ORDER BY epoch_us(ts)
               RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW
           ) / 100.0 AS rolling_1h,
           CAST(COUNT(*) OVER (
               PARTITION BY user_id ORDER BY epoch_us(ts)
               RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS n_1h
    FROM events_us
    """,
    tags=("relational", "window"),
)
def q_window_range_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-range window frame (RANGE BETWEEN INTERVAL 1 HOUR
    PRECEDING): per-user rolling 1-hour sum/count over event time — the
    batch analog of a sliding stream aggregation. Spark's rangeBetween
    needs a numeric ordering key, so the frame runs over epoch
    MICROseconds (events carry sub-second precision) with a ±3.6e9
    bound — identical closed-interval semantics in both engines. One shuffle on user_id; at 100 TB the partition key
    would be (user_id) with day-level pre-bucketing so frames never
    span executors."""
    e = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-3_600_000_000, 0)
    )
    cents = F.round(F.col("value") * 100, 0).cast("long")
    return e.select(
        "event_id",
        "user_id",
        (F.sum(cents).over(w) / 100.0).alias("rolling_1h"),
        F.count("*").over(w).alias("n_1h"),
    )


@query(
    "q_agg_stats_moments",
    oracle="""
    WITH s AS (
        SELECT l_returnflag,
               CAST(COUNT(*) AS BIGINT) AS n,
               SUM(CAST(ROUND(l_quantity) AS BIGINT)) AS sq,
               SUM(CAST(ROUND(l_discount * 100) AS BIGINT)) AS sd,
               SUM(CAST(ROUND(l_quantity) AS BIGINT)
                   * CAST(ROUND(l_quantity) AS BIGINT)) AS sqq,
               SUM(CAST(ROUND(l_discount * 100) AS BIGINT)
                   * CAST(ROUND(l_discount * 100) AS BIGINT)) AS sdd,
               SUM(CAST(ROUND(l_quantity) AS BIGINT)
                   * CAST(ROUND(l_discount * 100) AS BIGINT)) AS sqd
        FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, n,
           CAST(sq AS DOUBLE) / n AS mean_qty,
           CAST(n * sqq - sq * sq AS DOUBLE) / (CAST(n AS DOUBLE) * (n - 1))
               AS var_qty,
           CAST(n * sqd - sq * sd AS DOUBLE) /
               (sqrt(CAST(n * sqq - sq * sq AS DOUBLE))
                * sqrt(CAST(n * sdd - sd * sd AS DOUBLE))) AS corr_qty_disc
    FROM s
    """,
    tags=("relational", "agg"),
)
def q_agg_stats_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass moment statistics (mean / sample variance / Pearson
    correlation) per return flag, computed from exact int64 power sums
    (Σx, Σx², Σxy on quantized units) with the float math deferred to a
    final deterministic expression — the distributed-safe form of
    corr()/var_samp(), whose native implementations are
    summation-order-dependent and can't cross-engine hash-match.
    Map-side partial sums make the shuffle k rows; at 100 TB the int64
    power sums bound the per-group row count at ~2^63/max(x²) — beyond
    that, promote to decimal(38) sums."""
    l = load_table(spark, sf_dir, "lineitem")
    q = F.round("l_quantity", 0).cast("long")
    d = F.round(F.col("l_discount") * 100, 0).cast("long")
    s = l.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.sum(q).alias("sq"),
        F.sum(d).alias("sd"),
        F.sum(q * q).alias("sqq"),
        F.sum(d * d).alias("sdd"),
        F.sum(q * d).alias("sqd"),
    )
    nd = F.col("n").cast("double")
    var_num = (F.col("n") * F.col("sqq") - F.col("sq") * F.col("sq")).cast(
        "double"
    )
    cov_num = (F.col("n") * F.col("sqd") - F.col("sq") * F.col("sd")).cast(
        "double"
    )
    dd_num = (F.col("n") * F.col("sdd") - F.col("sd") * F.col("sd")).cast(
        "double"
    )
    return s.select(
        "l_returnflag",
        "n",
        (F.col("sq").cast("double") / F.col("n")).alias("mean_qty"),
        (var_num / (nd * (F.col("n") - 1))).alias("var_qty"),
        (cov_num / (F.sqrt(var_num) * F.sqrt(dd_num))).alias("corr_qty_disc"),
    )


@query(
    "q_join_lateral",
    oracle="""
    SELECT o.o_orderkey, t.top_part, t.top_price_cents
    FROM orders o, LATERAL (
        SELECT l.l_partkey AS top_part,
               CAST(ROUND(l.l_extendedprice * 100) AS BIGINT) AS top_price_cents
        FROM lineitem l WHERE l.l_orderkey = o.o_orderkey
        ORDER BY l.l_extendedprice DESC, l.l_partkey LIMIT 1
    ) t
    """,
    tags=("relational", "join", "sql"),
)
def q_join_lateral(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL join (top-1 line item per order), via the SQL
    surface. Catalyst decorrelates the per-row subquery into a window
    rank over the join key — the same plan the hand-written
    row_number() form produces, so the lateral syntax costs nothing at
    scale: one shuffle on l_orderkey, no nested-loop re-execution."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders_v")
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem_v")
    return spark.sql(
        """
        SELECT o.o_orderkey, t.top_part, t.top_price_cents
        FROM orders_v o, LATERAL (
            SELECT l.l_partkey AS top_part,
                   CAST(ROUND(l.l_extendedprice * 100, 0) AS BIGINT)
                       AS top_price_cents
            FROM lineitem_v l WHERE l.l_orderkey = o.o_orderkey
            ORDER BY l.l_extendedprice DESC, l.l_partkey LIMIT 1
        ) t
        """
    )


@query(
    "q_agg_approx_percentile",
    oracle="""
    WITH exact AS (
        SELECT o_orderpriority,
               quantile_cont(CAST(ROUND(o_totalprice * 100) AS BIGINT), 0.5)
                   AS exact_median_cents,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM orders GROUP BY o_orderpriority
    )
    SELECT o_orderpriority, n, CAST(TRUE AS BOOLEAN) AS within_tolerance
    FROM exact
    """,
    tags=("relational", "agg", "sketch"),
)
def q_agg_approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketched percentile with an accuracy contract (the
    q_agg_approx_distinct pattern): percentile_approx's KLL-style
    sketch at accuracy 10000 must land within 2% relative error of the
    exact median — the oracle checks the *property* (verdict column),
    not the sketch value, since sketch internals are engine-specific.
    At 100 TB the sketch is the only viable form: fixed-size state,
    map-side mergeable, no per-group sort."""
    o = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("long")
    agg = o.groupBy("o_orderpriority").agg(
        F.percentile_approx(cents, 0.5, 10000).alias("approx"),
        F.percentile(cents, F.lit(0.5)).alias("exact"),
        F.count("*").alias("n"),
    )
    return agg.select(
        "o_orderpriority",
        "n",
        (
            F.abs(F.col("approx") - F.col("exact"))
            <= 0.02 * F.abs(F.col("exact")) + 100
        ).alias("within_tolerance"),
    )


@query(
    "q_join_cross",
    oracle="""
    SELECT r.r_name, s.o_orderstatus
    FROM region r
    CROSS JOIN (SELECT DISTINCT o_orderstatus FROM orders) s
    """,
    tags=("relational", "join"),
)
def q_join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit cross join — the dense-grid primitive (every region ×
    every order status) that dimension scaffolds, calendar spines and
    report matrices build on. Cross joins are only ever sane when one
    side is provably tiny: here the distinct-status frame is a few rows
    and broadcast, so the product is a BroadcastNestedLoopJoin that
    never shuffles the other side — the same discipline applies at
    100 TB (grid side broadcast, fact side streamed)."""
    r = load_table(spark, sf_dir, "region").select("r_name")
    s = load_table(spark, sf_dir, "orders").select("o_orderstatus").distinct()
    return r.crossJoin(F.broadcast(s))


@query(
    "q_agg_argmax",
    oracle=EVENTS_US
    + """
    , cents AS (
        SELECT user_id, event_type,
               CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
                   AS total_cents
        FROM events_us GROUP BY user_id, event_type
    ),
    ranked AS (
        SELECT user_id, event_type, total_cents,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY total_cents DESC, event_type DESC)
                   AS rn
        FROM cents
    )
    SELECT user_id, event_type AS top_type, total_cents AS top_cents
    FROM ranked WHERE rn = 1
    """,
    tags=("relational", "agg"),
)
def q_agg_argmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ARGMAX / mode-style aggregate: per user, the event type carrying
    the highest spend — via max_by over a composite (value, tie-break)
    struct, so the answer is deterministic even on exact-cents ties
    (unlike a bare mode()/max_by(), whose tie choice is engine-defined).
    Two hash aggs, both map-side combined; no window, no sort — the
    max_by form is the scale-friendly rewrite of the row_number()-over-
    partition idiom the oracle uses."""
    e = load_table(spark, sf_dir, "events")
    cents = e.groupBy("user_id", "event_type").agg(
        F.sum(F.round(F.col("value") * 100, 0).cast("long")).alias(
            "total_cents"
        )
    )
    best = F.max_by(
        F.struct(
            F.col("event_type").alias("top_type"),
            F.col("total_cents").alias("top_cents"),
        ),
        F.struct("total_cents", "event_type"),
    )
    return cents.groupBy("user_id").agg(best.alias("b")).select(
        "user_id", "b.top_type", "b.top_cents"
    )


@query(
    "q_agg_bitwise_bool",
    oracle=EVENTS_US
    + """
    SELECT event_type,
           CAST(BIT_AND(event_id) AS BIGINT) AS ids_and,
           CAST(BIT_OR(event_id) AS BIGINT) AS ids_or,
           CAST(BIT_XOR(event_id) AS BIGINT) AS ids_xor,
           BOOL_AND(value > 0.5) AS all_above,
           BOOL_OR(value > 9.5) AS any_high
    FROM events_us GROUP BY event_type
    """,
    tags=("relational", "agg"),
)
def q_agg_bitwise_bool(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise + boolean aggregates (BIT_AND/OR/XOR, BOOL_AND/OR) — the
    checksum/flag-rollup surface: XOR-folding id sets is the classic
    membership checksum, BOOL_* the predicate rollup. All five are
    single-pass commutative aggregates with map-side partials — the
    cheapest aggregate family at any scale."""
    e = load_table(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.bit_and("event_id").alias("ids_and"),
        F.bit_or("event_id").alias("ids_or"),
        F.bit_xor("event_id").alias("ids_xor"),
        F.bool_and(F.col("value") > 0.5).alias("all_above"),
        F.bool_or(F.col("value") > 9.5).alias("any_high"),
    )


@query(
    "q_join_anti_null_aware",
    oracle="""
    SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n,
           MIN(o_orderkey) AS min_key
    FROM orders
    WHERE (CASE WHEN o_orderkey % 100 = 0 THEN NULL ELSE o_custkey END)
          NOT IN (SELECT c_custkey FROM customer WHERE c_custkey % 3 = 0)
    GROUP BY o_orderstatus
    """,
    tags=("relational", "join"),
)
def q_join_anti_null_aware(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-aware anti join — NOT IN under SQL's three-valued logic: a
    NULL probe key can never satisfy NOT IN (the comparison is UNKNOWN),
    so rows with NULL keys vanish, which an ordinary left-anti join gets
    WRONG (it would keep them). Spark plans this as a null-aware
    BroadcastHashJoin when the build side fits; at scale the build side
    must broadcast (null-aware anti cannot shuffle-partition, since a
    single build NULL poisons every probe partition) — keep the NOT IN
    list small or pre-filter its NULLs to fall back to plain anti."""
    register = load_table(spark, sf_dir, "orders").createOrReplaceTempView
    register("v_orders")
    load_table(spark, sf_dir, "customer").createOrReplaceTempView(
        "v_customer"
    )
    return spark.sql(
        """
        SELECT o_orderstatus, COUNT(*) AS n, MIN(o_orderkey) AS min_key
        FROM v_orders
        WHERE (CASE WHEN o_orderkey % 100 = 0 THEN NULL
                    ELSE o_custkey END)
              NOT IN (SELECT c_custkey FROM v_customer
                      WHERE c_custkey % 3 = 0)
        GROUP BY o_orderstatus
        """
    )


@query(
    "q_upsert_compact",
    oracle="""
    WITH base AS (
        SELECT o_orderkey, o_orderstatus, o_totalprice, 1 AS version
        FROM orders
    ),
    updates AS (
        SELECT o_orderkey, 'X' AS o_orderstatus, o_totalprice, 2 AS version
        FROM orders WHERE o_orderkey % 5 = 0
    ),
    unioned AS (SELECT * FROM base UNION ALL SELECT * FROM updates),
    latest AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderkey
                                     ORDER BY version DESC) AS rn
        FROM unioned
    )
    SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n,
           SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) / 100.0
               AS total_price
    FROM latest WHERE rn = 1 GROUP BY o_orderstatus
    """,
    tags=("relational", "cdc"),
)
def q_upsert_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC upsert compaction — last-writer-wins MERGE semantics without
    a table format: base snapshot UNION ALL change feed, keep the
    highest-version row per key. The complement of q_scd2_intervals
    (which keeps history; this keeps only the current image). One
    shuffle on the key; at 100 TB the window becomes a per-key max_by
    and the compaction runs per ingest partition, which is exactly how
    Delta/Iceberg MERGE compaction behaves under the hood."""
    o = load_table(spark, sf_dir, "orders")
    base = o.select(
        "o_orderkey", "o_orderstatus", "o_totalprice", F.lit(1).alias("version")
    )
    updates = o.filter(F.col("o_orderkey") % 5 == 0).select(
        "o_orderkey",
        F.lit("X").alias("o_orderstatus"),
        "o_totalprice",
        F.lit(2).alias("version"),
    )
    w = Window.partitionBy("o_orderkey").orderBy(F.desc("version"))
    latest = (
        base.unionByName(updates)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
    )
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("long")
    return latest.groupBy("o_orderstatus").agg(
        F.count("*").alias("n"),
        (F.sum(cents) / 100.0).alias("total_price"),
    )


@query(
    "q_udtf_lateral",
    oracle="""
    WITH toks AS (
        SELECT doc_id, str_split(lower(text), ' ') AS t FROM documents
    )
    SELECT doc_id,
           CAST(pos AS INTEGER) AS pos,
           t[pos] AS token,
           CAST(length(t[pos]) AS INTEGER) AS token_len
    FROM toks CROSS JOIN (SELECT unnest([1, 2, 3]) AS pos)
    WHERE len(t) >= pos
    """,
    tags=("relational", "udtf"),
)
def q_udtf_lateral(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF surface (table function + LATERAL correlation): a
    user-defined table function expands each document into up to three
    (pos, token, token_len) rows — the generalization of the
    reference's per-record fan-out (lambda/main.py:92) to arbitrary
    user logic that explode() cannot express. Row-at-a-time Python is
    the slow path (same caveat as q_udf_scalar): anything expressible
    as explode/transform should never be a UDTF — this key exists to
    prove the escape hatch works end-to-end with LATERAL."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="pos int, token string, token_len int")
    class FirstTokens:
        def eval(self, text: str):
            if text is None:
                return
            toks = text.lower().split(" ")
            for i, tok in enumerate(toks[:3], start=1):
                yield i, tok, len(tok)

    spark.udtf.register("first_tokens", FirstTokens)
    load_table(spark, sf_dir, "documents").createOrReplaceTempView(
        "v_documents"
    )
    return spark.sql(
        """
        SELECT d.doc_id, t.pos, t.token, t.token_len
        FROM v_documents d, LATERAL first_tokens(d.text) t
        """
    )


@query(
    "q_explode_outer",
    oracle="""
    WITH t AS (
        SELECT doc_id,
               list_filter(str_split(lower(text), ' '),
                           x -> length(x) > 9) AS arr
        FROM documents
    ),
    ex AS (
        SELECT doc_id,
               CAST(generate_subscripts(arr, 1) - 1 AS INTEGER) AS pos,
               unnest(arr) AS tok
        FROM t WHERE len(arr) > 0
    )
    SELECT t.doc_id, ex.pos, ex.tok
    FROM t LEFT JOIN ex USING (doc_id)
    """,
    tags=("relational", "scalar"),
)
def q_explode_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-preserving generator (posexplode_outer): rows whose array is
    empty survive the fan-out with NULL position/element — plain explode
    silently drops them, which corrupts any per-parent accounting joined
    downstream (the outer generate is the row-preserving flat-map). Pure
    map-side at any scale (Generate has no shuffle)."""
    from ex_aws_firehose_spark.functions.text import tokens as _toks

    d = load_table(spark, sf_dir, "documents")
    arr = F.filter(_toks("text"), lambda x: F.length(x) > 9)
    return d.select(
        "doc_id", F.posexplode_outer(arr).alias("pos", "tok")
    )


@query(
    "q_scalar_higher_order",
    oracle="""
    WITH t AS (
        SELECT doc_id, str_split(lower(text), ' ') AS toks FROM documents
    )
    SELECT doc_id,
           CAST(len(toks) AS INTEGER) AS n_tokens,
           CAST(len(list_filter(toks, x -> length(x) > 9)) AS INTEGER)
               AS n_long,
           CAST(list_reduce(list_transform(toks, x -> length(x)),
                            (a, b) -> a + b) AS BIGINT) AS sum_token_len,
           len(list_filter(toks, x -> x LIKE 'z%')) > 0 AS any_z
    FROM t
    """,
    tags=("relational", "scalar"),
)
def q_scalar_higher_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array functions as a first-class surface: transform
    (map), filter, aggregate (fold), exists — lambda expressions
    compiled into Catalyst, NOT Python (the whole point: per-element
    logic at codegen speed, no serialization boundary). The fold runs
    left-to-right with an int64 init so the oracle's list_reduce is
    value-identical."""
    from ex_aws_firehose_spark.functions.text import tokens as _toks

    d = load_table(spark, sf_dir, "documents")
    toks = _toks("text")
    return d.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.size(F.filter(toks, lambda x: F.length(x) > 9)).alias("n_long"),
        F.aggregate(
            F.transform(toks, lambda x: F.length(x).cast("long")),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        ).alias("sum_token_len"),
        F.exists(toks, lambda x: x.startswith("z")).alias("any_z"),
    )


@query(
    "q_window_fill_forward",
    oracle=EVENTS_US
    + """
    , sparse AS (
        SELECT event_id, user_id, ts,
               CASE WHEN event_id % 7 < 2
                    THEN CAST(ROUND(value * 100) AS BIGINT) END AS cents
        FROM events_us
    )
    SELECT event_id, user_id,
           LAST_VALUE(cents IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS filled_cents
    FROM sparse
    """,
    tags=("relational", "window", "timeseries"),
)
def q_window_fill_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward-fill (LOCF — last observation carried forward): sparse
    measurements propagate to the gap rows via last_value(IGNORE NULLS)
    over an ordered per-user frame — the canonical sensor/price-series
    repair. One window shuffle on the entity key; the frame is
    running (UNBOUNDED PRECEDING..CURRENT ROW) so state is O(1) per
    partition regardless of gap length."""
    e = load_table(spark, sf_dir, "events")
    sparse = e.select(
        "event_id",
        "user_id",
        "ts",
        F.when(
            F.col("event_id") % 7 < 2,
            F.round(F.col("value") * 100, 0).cast("long"),
        ).alias("cents"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return sparse.select(
        "event_id",
        "user_id",
        F.last("cents", ignorenulls=True).over(w).alias("filled_cents"),
    )


@query(
    "q_scalar_variant",
    oracle="""
    SELECT event_id,
           CAST(json_extract(props, '$.k') AS BIGINT) AS k,
           CAST(NULL AS BIGINT) AS missing,
           json_extract(props, '$.k') IS NOT NULL AS has_k
    FROM events
    """,
    tags=("relational", "scalar", "json"),
)
def q_scalar_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured VARIANT surface (Spark 4): parse_json into the
    binary variant encoding once, then typed try_variant_get paths —
    the modern replacement for per-access get_json_object re-parsing
    (the variant parse happens once per row; every extraction is a
    binary probe, which at 100 TB of JSON is the difference between one
    parse and N parses per row). Missing paths yield NULL, not errors."""
    e = load_table(spark, sf_dir, "events")
    v = F.parse_json("props")
    return e.select(
        "event_id",
        F.try_variant_get(v, "$.k", "long").alias("k"),
        F.try_variant_get(v, "$.missing", "long").alias("missing"),
        F.try_variant_get(v, "$.k", "long").isNotNull().alias("has_k"),
    )


@query(
    "q_scalar_try",
    oracle="""
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(CASE WHEN o_orderkey % 3 = 0 THEN NULL
                           ELSE 1 END) AS BIGINT) AS n_div_ok,
           CAST(SUM(CASE WHEN o_orderkey % 3 = 0 THEN NULL
                         ELSE CAST(FLOOR(CAST(ROUND(o_totalprice * 100)
                                              AS BIGINT)
                                         / (o_orderkey % 3)) AS BIGINT)
                    END) AS BIGINT) AS div_cents,
           CAST(COUNT(TRY_CAST(o_orderpriority AS INTEGER)) AS BIGINT)
               AS n_cast_ok
    FROM orders GROUP BY o_orderstatus
    """,
    tags=("relational", "scalar"),
)
def q_scalar_try(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error-safe (try_) expression surface: try_divide turns
    division-by-zero into NULL instead of an ANSI runtime error that
    would kill a 1000-executor job hours in; try_cast does the same for
    malformed casts ('1-URGENT' is not an INTEGER). The NULL-on-error
    contract is what makes dirty-data pipelines restartable — rows fail
    individually, the job never does."""
    o = load_table(spark, sf_dir, "orders")
    # FLOOR, not ROUND, after the division: cents/2 lands on exact
    # binary halves, where HALF_UP (Spark) and binary rounding (DuckDB)
    # disagree — floor is deterministic on exact halves.
    div = F.try_divide(
        F.round(F.col("o_totalprice") * 100, 0).cast("long"),
        F.col("o_orderkey") % 3,
    )
    return o.groupBy("o_orderstatus").agg(
        F.count("*").alias("n"),
        F.count(div).alias("n_div_ok"),
        F.sum(F.floor(div)).alias("div_cents"),
        F.count(F.col("o_orderpriority").try_cast("int")).alias("n_cast_ok"),
    )


@query(
    "q_grouped_map_streak",
    oracle=EVENTS_US
    + """
    , days AS (
        SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events_us
    ),
    grp AS (
        SELECT user_id, day,
               day - CAST(ROW_NUMBER() OVER (PARTITION BY user_id
                                             ORDER BY day) AS INTEGER)
                   AS anchor
        FROM days
    ),
    islands AS (
        SELECT user_id, anchor, COUNT(*) AS len
        FROM grp GROUP BY user_id, anchor
    )
    SELECT user_id,
           CAST(SUM(len) AS BIGINT) AS n_active_days,
           CAST(MAX(len) AS BIGINT) AS longest_streak
    FROM islands GROUP BY user_id
    """,
    tags=("relational", "udf"),
)
def q_grouped_map_streak(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map applyInPandas transform: per-user longest
    consecutive-active-day streak, computed imperatively in pandas (one
    linear scan per group) — the escape hatch for per-group logic that
    is painful declaratively. The DuckDB oracle proves the same answer
    via the gaps-and-islands SQL idiom (day minus dense rank anchors
    each run), which is also what you'd ship at 100 TB if the group
    cardinality is low: applyInPandas requires each group to fit one
    executor's memory, fine for per-user days, fatal for per-tenant
    events — know the group-size bound before reaching for it.

    Round 15 (guide §4 — amortize the per-group Python overhead): the
    grouped map runs over HASH BUCKETS of users, not single users —
    per-user groups made Spark materialize one pandas frame (plus one
    Arrow batch + schema handshake) per user, ~2 ms × 1500 users =
    3.2 s of pure per-group overhead on a 0.5 s data problem
    (decomposed round 15). Each bucket's frame computes every
    contained user's streaks in one vectorized pass (day-delta run
    breaks → run lengths → per-user sum/max — the same
    gaps-and-islands arithmetic, exact integer day math, identical
    rows). The group-size bound discussion above still applies — a
    bucket must fit in executor memory, and the bucket count is the
    parallelism knob."""
    e = load_table(spark, sf_dir, "events")
    days = e.select(
        "user_id", F.to_date("ts").alias("day")
    ).distinct()

    def streaks(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["user_id", "day"])
        uid = pdf["user_id"].to_numpy()
        # unit-safe day ordinal: astype('datetime64[D]') converts from
        # whatever unit Arrow handed over (date32 → [s]/[ns] varies by
        # pandas version); a raw int64 cast would be unit-dependent
        day = (
            pd.to_datetime(pdf["day"])
            .to_numpy()
            .astype("datetime64[D]")
            .astype("int64")
        )
        # a new run starts at a user change or a non-consecutive day
        new_run = np.ones(len(uid), dtype=bool)
        new_run[1:] = (uid[1:] != uid[:-1]) | (day[1:] != day[:-1] + 1)
        runs = (
            pd.DataFrame({"user_id": uid, "run": new_run.cumsum()})
            .groupby(["user_id", "run"], sort=False)
            .size()
            .reset_index(name="len")
        )
        out = (
            runs.groupby("user_id", sort=False)
            .agg(
                n_active_days=("len", "sum"),
                longest_streak=("len", "max"),
            )
            .reset_index()
        )
        return out.astype("int64")

    return (
        days.withColumn("b", F.col("user_id") % 64)
        .groupBy("b")
        .applyInPandas(
            streaks,
            schema="user_id long, n_active_days long, longest_streak long",
        )
    )


@query(
    "q_sketch_hll_union",
    oracle=EVENTS_US
    + """
    SELECT event_type,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
           TRUE AS union_within_5pct
    FROM events_us GROUP BY event_type
    """,
    tags=("relational", "agg", "approx"),
)
def q_sketch_hll_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch rollup — the re-aggregation pattern that makes
    distinct counting tractable at 100 TB: per-(type, day) HLL sketches
    are built once (hll_sketch_agg over user_id), then UNIONED up to
    per-type totals (hll_union_agg) without touching raw data again —
    a day's sketch is bytes, so the rollup shuffle carries KB per
    partition key instead of the user universe. This is how a daily
    pipeline serves 'distinct users any date range' from materialized
    sketches. Contract: the union estimate must land within 5% of the
    exact per-type distinct count (sketch bits are implementation-
    defined, so the oracle checks the accuracy property, same as
    q_agg_approx_distinct)."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.hll_sketch_agg("user_id").alias("sk"))
    unioned = daily.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est_users")
    )
    exact = e.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_users")
    )
    return exact.join(unioned, "event_type").select(
        "event_type",
        "exact_users",
        (
            F.abs(F.col("est_users") - F.col("exact_users"))
            <= F.col("exact_users") * 0.05
        ).alias("union_within_5pct"),
    )


@query(
    "q_profile_table",
    oracle=EVENTS_US
    + """
    , stats AS (
        SELECT
            COUNT(*) AS n_rows,
            COUNT(event_id) AS nn_event_id,
            COUNT(DISTINCT event_id) AS nd_event_id,
            COUNT(user_id) AS nn_user_id,
            COUNT(DISTINCT user_id) AS nd_user_id,
            COUNT(event_type) AS nn_event_type,
            COUNT(DISTINCT event_type) AS nd_event_type,
            COUNT(props) AS nn_props,
            COUNT(DISTINCT props) AS nd_props
        FROM events_us
    )
    SELECT col, CAST(n_rows AS BIGINT) AS n_rows,
           CAST(n_nonnull AS BIGINT) AS n_nonnull,
           CAST(n_distinct AS BIGINT) AS n_distinct
    FROM stats, LATERAL (
        VALUES ('event_id', nn_event_id, nd_event_id),
               ('user_id', nn_user_id, nd_user_id),
               ('event_type', nn_event_type, nd_event_type),
               ('props', nn_props, nd_props)
    ) AS v(col, n_nonnull, n_distinct)
    """,
    tags=("relational", "profiling"),
)
def q_profile_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table profiling — the data-quality pass every lake runs on
    landing: per-column row/non-null/distinct counts in ONE scan (all
    statistics are aggregates of the same pass; the long format comes
    from unpivoting the single stats row, not from per-column jobs).
    At 100 TB the exact distincts become HLL sketches
    (q_sketch_hll_union) and the scan piggybacks on the ingest write —
    the shape (one pass, wide agg, unpivot) is unchanged."""
    e = load_table(spark, sf_dir, "events")
    cols = ["event_id", "user_id", "event_type", "props"]
    aggs = [F.count("*").alias("n_rows")]
    for c in cols:
        aggs.append(F.count(c).alias(f"nn_{c}"))
        aggs.append(F.countDistinct(c).alias(f"nd_{c}"))
    stats = e.agg(*aggs)
    profile = F.array(
        *[
            F.struct(
                F.lit(c).alias("col"),
                F.col(f"nn_{c}").alias("n_nonnull"),
                F.col(f"nd_{c}").alias("n_distinct"),
            )
            for c in cols
        ]
    )
    return stats.select(
        "n_rows", F.explode(profile).alias("p")
    ).select("p.col", "n_rows", "p.n_nonnull", "p.n_distinct")


P95_WINDOW = 20  # trailing events per user for the rolling percentile


@query(
    "q_window_rolling_p95",
    oracle=EVENTS_US
    + f"""
    , w AS (
        SELECT event_id, user_id,
               list_sort(list(CAST(ROUND(value * 100) AS BIGINT)) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN {P95_WINDOW - 1} PRECEDING AND CURRENT ROW
               )) AS win
        FROM events_us
    )
    SELECT event_id, user_id,
           CAST(len(win) AS INTEGER) AS n_window,
           win[CAST(CEIL(len(win) * 0.95) AS BIGINT)] / 100.0 AS p95_value
    FROM w
    """,
    tags=("relational", "window"),
)
def q_window_rolling_p95(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling p95 per user over the trailing 20 events — the
    observability shape (tail latency over a sliding request window)
    that plain rolling sums can't answer. The percentile is the exact
    NEAREST-RANK order statistic: element ⌈0.95·k⌉ of the sorted
    window, picked from a sorted collect_list — identical integer-cent
    selection in both engines, no interpolation, no float rank math
    (percentile()/median() cannot take a window frame in Spark).

    100 TB shape: one Exchange on user_id + one (ts, id) sort serves
    the window; the sorted-list pick is O(k log k) per row with k
    bounded by the frame (20). For large frames this becomes the
    histogram-sketch shape (q_sketch_histogram_quantile) — nearest-rank
    over bins instead of a materialized list."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        -(P95_WINDOW - 1), Window.currentRow
    )
    win = F.sort_array(F.collect_list(_cents("value")).over(w))
    k = F.size(win)
    rank = F.ceil(k * 0.95).cast("int")
    return e.select(
        "event_id",
        "user_id",
        k.alias("n_window"),
        (F.element_at(win, rank) / 100.0).alias("p95_value"),
    )


# ---------------------------------------------------------------------------
# Recursive CTE (Spark 4 WITH RECURSIVE)
# ---------------------------------------------------------------------------


def _hierarchy_sql(divop: str) -> str:
    """Ancestor-chain walk over the synthetic custkey hierarchy
    (parent(k) = k div 10, root 0) — identical text both engines except
    the integer-division spelling."""
    return f"""
    WITH RECURSIVE up AS (
        SELECT c_custkey AS origin, c_custkey AS cur,
               CAST(0 AS BIGINT) AS depth,
               c_custkey AS path_sum
        FROM customer
        UNION ALL
        SELECT origin, cur {divop} 10, depth + 1,
               path_sum + (cur {divop} 10)
        FROM up WHERE cur > 0
    )
    SELECT origin,
           CAST(MAX(depth) AS BIGINT) AS depth_to_root,
           CAST(MAX(path_sum) AS BIGINT) AS ancestor_sum
    FROM up GROUP BY origin
    """


@query(
    "q_recursive_cte",
    oracle=_hierarchy_sql("//"),
    tags=("relational", "sql", "recursive"),
)
def q_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (Spark 4 ``WITH RECURSIVE``): walk every
    customer's ancestor chain in a synthetic decimal hierarchy
    (parent(k) = k div 10) up to the root, reporting depth and the
    exact sum over the ancestor path — the hierarchy-traversal /
    transitive-closure query class (org charts, BOM explosion,
    category trees) expressed declaratively instead of as a driver
    loop (contrast q_dedup_clusters / q_graph_pagerank, which
    hand-roll iteration for convergence-dependent math).

    100 TB shape: each recursion step is one self-join + filter; total
    work is rows × hierarchy depth (≤ ~10 decimal digits), and the
    engine terminates on the empty-step fixpoint. Spark guards
    runaway recursion with `spark.sql.cteRecursionRowLimit`
    (default 10⁶ rows — the 16× scale sweep tripped it at
    240 k customers × depth ~10), so the operator sizes the limit to
    rows × max-depth explicitly; the level limit (100) stays as the
    cycle backstop. Deep or cyclic graphs still belong to the
    driver-loop form with localCheckpoint — a recursive CTE has no
    cycle guard beyond these limits."""
    from ex_aws_firehose_spark.tables import register_temp_views

    register_temp_views(spark, sf_dir)
    n_customers = load_table(spark, sf_dir, "customer").count()
    # Rows accumulate ≈ n × (depth+1); size the guard with headroom.
    # Set-and-leave (no restore): the returned frame is lazy, so the
    # conf must still hold when the caller materializes it; raising a
    # runaway guard session-wide is safe, shrinking it is not.
    limit = max(1_000_000, n_customers * 24)
    if int(spark.conf.get("spark.sql.cteRecursionRowLimit")) < limit:
        spark.conf.set("spark.sql.cteRecursionRowLimit", str(limit))
    return spark.sql(_hierarchy_sql("div"))


@query(
    "q_udf_sql_body",
    oracle="""
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
                    * (100 - CAST(ROUND(l_discount * 100) AS BIGINT)))
                AS BIGINT) AS net_micros
    FROM lineitem GROUP BY l_returnflag
    """,
    tags=("relational", "udf", "sql"),
)
def q_udf_sql_body(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-body scalar UDF (Spark 4 ``CREATE FUNCTION … RETURN expr``):
    the exact-cents revenue expression packaged as a reusable SQL
    function and applied per row — the THIRD user-function surface next
    to Python UDFs (q_udf_scalar, Arrow path) and pandas UDAFs
    (q_udaf). Unlike those, a SQL UDF inlines into the Catalyst plan at
    analysis time: it whole-stage-codegens, pushes through filters, and
    costs nothing at the Python boundary — the form every
    "wrap this business formula" request should take before reaching
    for Python.

    100 TB shape: indistinguishable from writing the expression inline
    (that is the point) — one map-side-combined aggregate over the
    scan; the oracle IS the inlined expression."""
    from ex_aws_firehose_spark.tables import register_temp_views

    register_temp_views(spark, sf_dir)
    spark.sql(
        """
        CREATE OR REPLACE TEMPORARY FUNCTION net_micros(
            price DOUBLE, disc DOUBLE
        ) RETURNS BIGINT
        RETURN CAST(ROUND(price * 100) AS BIGINT)
               * (100 - CAST(ROUND(disc * 100) AS BIGINT))
        """
    )
    return spark.sql(
        """
        SELECT l_returnflag,
               COUNT(*) AS n,
               SUM(net_micros(l_extendedprice, l_discount)) AS net_micros
        FROM lineitem GROUP BY l_returnflag
        """
    )


# Band width for the keyless range join: 2 minutes, in microseconds.
RANGE_BUCKET_US = 120_000_000


@query(
    "q_join_range_bucketed",
    oracle=EVENTS_US
    + """
    SELECT a.event_id,
           CAST(COUNT(*) AS BIGINT) AS n_following,
           CAST(COUNT(DISTINCT b.user_id) AS BIGINT) AS n_users
    FROM events_us a JOIN events_us b
      ON b.ts > a.ts AND b.ts <= a.ts + INTERVAL 2 MINUTE
    WHERE a.event_type = 'error'
    GROUP BY a.event_id
    """,
    tags=("relational", "join", "range"),
)
def q_join_range_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KEYLESS range join made scalable by time bucketing: every error
    event joined to ALL events (any user) in the 2 minutes after it —
    the error-burst correlation query. With no equi key, Spark plans a
    naive band join as a BroadcastNestedLoopJoin (O(n·m) compares);
    the fix is the bucketed-range pattern every interval-join engine
    uses under the hood: quantize time into band-width buckets, explode
    the probe side to its two overlapping buckets {b, b+1}, equi-join
    on bucket, and apply the exact band as a post-join filter. Compares
    drop from |A|·|B| to Σ per-bucket products — and it scales by
    shuffling on a high-cardinality key instead of broadcasting a
    table. Plan-gated: the join must be a hash/merge equi join.

    100 TB shape: bucket width = band width keeps the probe fan-out at
    exactly 2 and each event's candidates to two buckets' worth of
    rows; skewed (bursty) buckets split under AQE like any hot hash
    key. q_join_range_theta is the KEYED variant (user_id carries the
    band); this is the fallback when no key exists."""
    e = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", F.unix_micros("ts").alias("us")
    )
    w = F.lit(RANGE_BUCKET_US).cast("long")
    err = (
        e.filter(F.col("event_type") == "error")
        .select(
            F.col("event_id").alias("a_id"),
            F.col("us").alias("a_us"),
            F.explode(
                F.array(
                    F.expr(f"us div {RANGE_BUCKET_US}"),
                    F.expr(f"us div {RANGE_BUCKET_US}") + 1,
                )
            ).alias("bucket"),
        )
    )
    oth = e.select(
        F.col("user_id").alias("b_user"),
        F.col("us").alias("b_us"),
        F.expr(f"us div {RANGE_BUCKET_US}").alias("bucket"),
    )
    return (
        err.join(oth, "bucket")
        .filter(
            (F.col("b_us") > F.col("a_us"))
            & (F.col("b_us") <= F.col("a_us") + w)
        )
        .groupBy(F.col("a_id").alias("event_id"))
        .agg(
            F.count("*").alias("n_following"),
            F.countDistinct("b_user").alias("n_users"),
        )
    )


# Nearest-direction as-of tolerance: 12 hours, in microseconds.
ASOF_NEAREST_TOL_US = 43_200_000_000


@query(
    "q_join_asof_nearest",
    oracle=EVENTS_US
    + f"""
    SELECT o.o_orderkey, near.event_id AS nearest_event_id,
           near.dist_us
    FROM orders o
    LEFT JOIN LATERAL (
        SELECT e.event_id,
               CAST(abs(epoch_us(e.ts) - epoch_us(o.o_orderdate))
                    AS BIGINT) AS dist_us
        FROM events_us e
        WHERE e.user_id = o.o_custkey
          AND abs(epoch_us(e.ts) - epoch_us(o.o_orderdate))
              <= {ASOF_NEAREST_TOL_US}
        ORDER BY dist_us, e.event_id
        LIMIT 1
    ) near ON TRUE
    """,
    tags=("relational", "join", "asof"),
)
def q_join_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join, NEAREST direction with tolerance (the pandas
    merge_asof direction='nearest' semantic): each order matched to
    the temporally closest event of its customer within ±12 h, in
    either direction — NULL when nothing falls inside the band. Ties
    at equal distance break on event_id, so the match is total-order
    deterministic. The backward-only form is q_join_asof; nearest is
    what sensor alignment and price-mark matching actually want.

    Plan: equi join on the user key with the tolerance band as an
    in-join filter (never BNLJ), then one min(struct(dist, id, …))
    map-side argmin per order — candidates shuffle once, one row per
    order survives. 100 TB: identical shape to q_attribution_last_touch;
    the tolerance bounds candidate fan-out per probe row."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        # o_orderdate is TIMESTAMP_NTZ (UTC wall clock); cast under the
        # pinned UTC session zone = same instant, unix_micros-able.
        F.unix_micros(F.col("o_orderdate").cast("timestamp")).alias("o_us"),
    )
    e = load_table(spark, sf_dir, "events").select(
        F.col("user_id").alias("e_user"),
        F.col("event_id"),
        F.unix_micros("ts").alias("e_us"),
    )
    dist = F.abs(F.col("e_us") - F.col("o_us"))
    j = o.join(
        e,
        (F.col("o_custkey") == F.col("e_user"))
        & (dist <= ASOF_NEAREST_TOL_US),
        "left",
    )
    best = j.groupBy("o_orderkey").agg(
        F.min(
            F.when(
                F.col("event_id").isNotNull(),
                F.struct(
                    dist.alias("dist_us"), F.col("event_id").alias("event_id")
                ),
            )
        ).alias("b")
    )
    return best.select(
        "o_orderkey",
        F.col("b.event_id").alias("nearest_event_id"),
        F.col("b.dist_us").alias("dist_us"),
    )


@query(
    "q_agg_mode",
    oracle=EVENTS_US
    + """
    , c AS (
        SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS n
        FROM events_us GROUP BY user_id, event_type
    ),
    r AS (
        SELECT user_id, event_type, n,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY n DESC, event_type) AS rn
        FROM c
    )
    SELECT user_id, event_type AS mode_type, n AS mode_n
    FROM r WHERE rn = 1
    """,
    tags=("relational", "agg"),
)
def q_agg_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic MODE per group: the most frequent event type per
    user, ties broken by the smaller type string. Spark's built-in
    ``mode()`` is tie-NONDETERMINISTIC (hash-order dependent), which a
    differential gate can never accept — so the operator is built as
    count + max(struct(n, type)) argmax, the same two-level-aggregate
    shape the engine would run anyway, with the tie-break explicit.

    100 TB shape: two hash aggregates ((user, type) then user), both
    map-side combined; nothing sorts."""
    e = load_table(spark, sf_dir, "events")
    c = e.groupBy("user_id", "event_type").agg(F.count("*").alias("n"))
    # argmax with min-string tie-break: order on (n, negated-ordering
    # trick unavailable for strings) — use max of (n, reversed rank) via
    # struct with the type compared DESCENDING is wrong; instead take
    # min over (-n, type).
    best = c.groupBy("user_id").agg(
        F.min(
            F.struct(
                (-F.col("n")).alias("neg_n"), F.col("event_type").alias("t")
            )
        ).alias("b")
    )
    return best.select(
        "user_id",
        F.col("b.t").alias("mode_type"),
        (-F.col("b.neg_n")).alias("mode_n"),
    )


@query(
    "q_window_percent_change",
    oracle=EVENTS_US
    + """
    , daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
                   AS cents
        FROM events_us GROUP BY event_type, CAST(ts AS DATE)
    )
    SELECT event_type, day, cents,
           LAG(cents) OVER (PARTITION BY event_type ORDER BY day)
               AS prev_cents,
           CASE WHEN LAG(cents) OVER (PARTITION BY event_type
                                      ORDER BY day) > 0
                THEN (cents - LAG(cents) OVER (PARTITION BY event_type
                                               ORDER BY day)) * 10000
                     // LAG(cents) OVER (PARTITION BY event_type
                                         ORDER BY day)
           END AS change_bps
    FROM daily
    """,
    tags=("relational", "window", "timeseries"),
)
def q_window_percent_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Period-over-period change: daily revenue per event type with
    the previous day's value and the day-over-day change in BASIS
    POINTS — floor-divided exact integers, so the BI-dashboard number
    is bit-identical cross-engine (a float percent here would hash-
    diverge on ties). NULL change on the first day and on zero bases
    (three-valued logic preserved).

    100 TB shape: the daily rollup is a map-side-combined agg to
    |types|×|days| rows; the lag window then runs on that TINY frame —
    the window never touches fact-scale data."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(
        F.sum(F.round(F.col("value") * 100, 0).cast("long")).alias("cents")
    )
    w = Window.partitionBy("event_type").orderBy("day")
    prev = F.lag("cents").over(w)
    return daily.select(
        "event_type",
        "day",
        "cents",
        prev.alias("prev_cents"),
        F.when(
            prev > 0,
            F.expr(
                "(cents - lag(cents) over (partition by event_type "
                "order by day)) * 10000 div lag(cents) over "
                "(partition by event_type order by day)"
            ),
        ).alias("change_bps"),
    )


# Benford expected first-digit frequencies in ppm (log10(1+1/d)).
BENFORD_PPM = (301030, 176091, 124939, 96910, 79181, 66947, 57992, 51153, 45757)


@query(
    "q_dq_benford",
    oracle=f"""
    WITH d AS (
        SELECT CAST(substr(CAST(CAST(ROUND(o_totalprice * 100) AS BIGINT)
                                AS VARCHAR), 1, 1) AS BIGINT) AS digit
        FROM orders
        WHERE o_totalprice > 0
    ),
    c AS (
        SELECT digit, CAST(COUNT(*) AS BIGINT) AS n FROM d GROUP BY digit
    ),
    tot AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM c),
    exp AS (
        SELECT unnest([1,2,3,4,5,6,7,8,9]) AS digit,
               unnest({list(BENFORD_PPM)}) AS expected_ppm
    )
    SELECT e.digit,
           COALESCE(c.n, 0) AS n,
           COALESCE(c.n, 0) * 1000000 // t.total AS observed_ppm,
           CAST(e.expected_ppm AS BIGINT) AS expected_ppm,
           abs(COALESCE(c.n, 0) * 1000000 // t.total - e.expected_ppm)
               AS abs_dev_ppm
    FROM exp e LEFT JOIN c ON c.digit = e.digit CROSS JOIN tot t
    """,
    tags=("relational", "dq"),
)
def q_dq_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit over order totals: observed vs
    expected leading-digit frequencies (log₁₀(1+1/d), the public
    constants), deviation in exact ppm — the classic fraud /
    synthetic-data / unit-mixup tripwire (a uniform generator or a
    currency mixed at 100× shifts the digit histogram far beyond
    Benford deviation). First digits are taken from exact integer
    cents, so binary float formatting can never flip a digit.

    100 TB shape: one map-side-combined agg to ≤9 rows + a 9-row
    broadcast of the expected table — the audit costs a scan."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 0)
    digit = F.substring(
        F.round(F.col("o_totalprice") * 100, 0).cast("long").cast("string"),
        1,
        1,
    ).cast("long")
    c = o.select(digit.alias("digit")).groupBy("digit").agg(
        F.count("*").alias("n")
    )
    tot = F.broadcast(c.agg(F.sum("n").alias("total")))
    exp = F.broadcast(
        spark.createDataFrame(
            [(i + 1, p) for i, p in enumerate(BENFORD_PPM)],
            "digit long, expected_ppm long",
        )
    )
    return (
        exp.join(c, "digit", "left")
        .crossJoin(tot)
        .select(
            "digit",
            F.coalesce(F.col("n"), F.lit(0)).alias("n"),
            F.expr(
                "coalesce(n, 0) * 1000000 div total"
            ).alias("observed_ppm"),
            "expected_ppm",
            F.abs(
                F.expr("coalesce(n, 0) * 1000000 div total")
                - F.col("expected_ppm")
            ).alias("abs_dev_ppm"),
        )
    )


@query(
    "q_pivot_dynamic",
    oracle="""
    SELECT CAST(o_custkey % 10 AS BIGINT) AS cust_bucket,
           CAST(COALESCE(SUM(CASE WHEN o_orderpriority = '1-URGENT'
                    THEN 1 END), 0) AS BIGINT) AS "1-URGENT",
           CAST(COALESCE(SUM(CASE WHEN o_orderpriority = '2-HIGH'
                    THEN 1 END), 0) AS BIGINT) AS "2-HIGH",
           CAST(COALESCE(SUM(CASE WHEN o_orderpriority = '3-MEDIUM'
                    THEN 1 END), 0) AS BIGINT) AS "3-MEDIUM",
           CAST(COALESCE(SUM(CASE WHEN o_orderpriority = '4-NOT SPECIFIED'
                    THEN 1 END), 0) AS BIGINT) AS "4-NOT SPECIFIED",
           CAST(COALESCE(SUM(CASE WHEN o_orderpriority = '5-LOW'
                    THEN 1 END), 0) AS BIGINT) AS "5-LOW"
    FROM orders GROUP BY o_custkey % 10
    """,
    tags=("relational", "pivot"),
)
def q_pivot_dynamic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISCOVERED pivot (the q_pivot docstring's "don't do this blind"
    case done right): when the spread column's domain is unknown, run
    an explicit distinct-scan FIRST, collect the (small, asserted-
    bounded) value list to the driver, then declare it to pivot() — two
    jobs by design, versus the hidden third job Spark schedules when
    pivot values are omitted. The guard raises rather than pivot an
    unbounded domain into a million columns.

    100 TB shape: the discovery scan prunes to the single pivot column
    (columnar scan + partial distinct per partition → tiny shuffle);
    the pivot itself is one hash agg keyed on the group column with a
    fixed-width struct of counters — identical plan to the declared
    q_pivot once the values are known. The driver collect is bounded
    by the assert (≤ 50 values), the sanctioned scalar-result
    pattern."""
    o = load_table(spark, sf_dir, "orders")
    vals = [
        r[0]
        for r in o.select("o_orderpriority").distinct().collect()
    ]
    assert len(vals) <= 50, f"pivot domain too wide: {len(vals)}"
    vals = sorted(vals)
    return (
        o.groupBy((F.col("o_custkey") % 10).alias("cust_bucket"))
        .pivot("o_orderpriority", vals)
        .agg(F.count(F.lit(1)))
        .na.fill(0, vals)
        .select(
            "cust_bucket", *[F.col(f"`{v}`").cast("long").alias(v) for v in vals]
        )
    )


# Weighted sampling: deterministic priority = hash-bucket scaled by
# 1/weight (integer A-ES); the K smallest priorities per stratum win.
WSAMPLE_K = 10
WSAMPLE_SPACE = 1 << 30


@query(
    "q_sample_weighted",
    oracle=f"""
    WITH pri AS (
        SELECT doc_id, source, n_chars,
               (CAST(concat('0x', substr(md5(text), 1, 7)) AS BIGINT)
                % {WSAMPLE_SPACE}) * 1000 // n_chars AS priority
        FROM documents
    ),
    r AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY source
                                     ORDER BY priority, doc_id) AS rn
        FROM pri
    )
    SELECT doc_id, source, n_chars, CAST(priority AS BIGINT) AS priority
    FROM r WHERE rn <= {WSAMPLE_K}
    """,
    tags=("relational", "sampling"),
)
def q_sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement, deterministically: the
    integer A-ES scheme (Efraimidis–Spirakis with the random draw
    replaced by a content hash) — priority = hash(text)/weight scaled
    to integers, keep the K lowest priorities per stratum, so longer
    documents (weight = n_chars) win proportionally more often and the
    SAME K docs win on every engine, run, and partitioning. This is
    the reproducible counterpart of `rand()`-weighted sampling, which
    can never pass a differential oracle.

    100 TB shape: priority is a map-side expression; per-stratum top-K
    is a rank window over a handful of strata — with many strata this
    is the classic partial TakeOrdered-per-key; no global sort and the
    full table never shuffles (only (stratum, priority) survivors
    do)."""
    d = load_table(spark, sf_dir, "documents")
    h = (
        F.conv(F.substring(F.md5("text"), 1, 7), 16, 10).cast("long")
        % WSAMPLE_SPACE
    )
    pri = d.select(
        "doc_id",
        "source",
        "n_chars",
        h.alias("h"),
    ).select(
        "doc_id",
        "source",
        "n_chars",
        # Integer div, NOT float division: a double quotient that lands
        # epsilon under an integer would truncate differently than
        # DuckDB's exact `//`.
        F.expr("h * 1000 div n_chars").alias("priority"),
    )
    w = Window.partitionBy("source").orderBy("priority", "doc_id")
    return (
        pri.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= WSAMPLE_K)
        .drop("rn")
    )


@query(
    "q_subquery_decorrelated",
    oracle="""
    WITH c AS (
        SELECT c_custkey, c_nationkey,
               CAST(ROUND(c_acctbal * 100) AS BIGINT) AS bal_cents
        FROM customer
    )
    SELECT c.c_custkey, c.c_nationkey, c.bal_cents
    FROM c
    WHERE c.bal_cents * (SELECT COUNT(*) FROM c c2
                         WHERE c2.c_nationkey = c.c_nationkey)
          > (SELECT SUM(c3.bal_cents) FROM c c3
             WHERE c3.c_nationkey = c.c_nationkey)
    """,
    tags=("relational", "subquery"),
)
def q_subquery_decorrelated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subqueries LEFT AS SUBQUERIES — the
    complement of q_subquery_scalar (which hand-decorrelates to a
    window): customers above their nation's average balance, written
    with two correlated aggregating subqueries and handed to Catalyst,
    whose decorrelation rewrite turns them into ONE grouped aggregate
    joined back (plan-gated: the executed plan contains an Aggregate +
    join on c_nationkey and no per-row subquery execution). The
    comparison cross-multiplies by the (positive) group count so the
    average never materializes as a float — subquery form and oracle
    stay bit-identical.

    100 TB shape: post-rewrite this is exactly the q_subquery_scalar
    plan family — one shuffle at nation grain + a broadcast of the
    25-row aggregate back onto the scan; the lesson the operator pins
    is that the ENGINE, not the query author, owns decorrelation (the
    reference's consumers write subqueries, not windows)."""
    import hashlib

    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_nationkey",
        _cents("c_acctbal").alias("bal_cents"),
    )
    view = "cust_cents_" + hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    c.createOrReplaceTempView(view)
    return spark.sql(
        f"""
        SELECT c.c_custkey, c.c_nationkey, c.bal_cents
        FROM {view} c
        WHERE c.bal_cents * (SELECT COUNT(*) FROM {view} c2
                             WHERE c2.c_nationkey = c.c_nationkey)
              > (SELECT SUM(c3.bal_cents) FROM {view} c3
                 WHERE c3.c_nationkey = c.c_nationkey)
        """
    )


def _time_travel_snapshot_sql(k: int) -> str:
    """Snapshot-at-version-k summary over the modeled change log."""
    return f"""
        SELECT CAST({k} AS BIGINT) AS version,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(cents) AS BIGINT) AS checksum_cents,
               CAST(SUM(CASE WHEN status = 'X' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_updated_rows
        FROM (
            SELECT key, status, cents,
                   ROW_NUMBER() OVER (PARTITION BY key
                                      ORDER BY version DESC) AS rn,
                   op
            FROM log WHERE version <= {k}
        ) WHERE rn = 1 AND op <> 'D'
    """


@query(
    "q_time_travel_read",
    oracle="""
    WITH log AS (
        SELECT o_orderkey AS key, o_orderstatus AS status,
               CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents,
               1 AS version, 'U' AS op
        FROM orders
        UNION ALL
        SELECT o_orderkey, 'X',
               CAST(ROUND(o_totalprice * 100) AS BIGINT), 2, 'U'
        FROM orders WHERE o_orderkey % 5 = 0
        UNION ALL
        SELECT o_orderkey, o_orderstatus,
               CAST(ROUND(o_totalprice * 100) AS BIGINT), 3, 'D'
        FROM orders WHERE o_orderkey % 7 = 0
    )
    """
    + " UNION ALL ".join(_time_travel_snapshot_sql(k) for k in (1, 2, 3)),
    tags=("relational", "lake"),
)
def q_time_travel_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time travel over a log-structured table (SELECT … AS OF version
    — the Delta/Iceberg snapshot-read semantic, reconstructed from
    first principles): a 3-version change log (v1 full load, v2
    updates to every 5th key, v3 deletes of every 7th) is replayed to
    the snapshot AS OF each version — last writer wins per key,
    delete tombstones drop rows — and each snapshot reports row count,
    exact money checksum, and surviving-update count. v1→v2→v3
    checksums pin both directions of drift (update overwrite, delete
    shrink).

    100 TB shape: a snapshot read is one window (or max_by) per key
    over the log RESTRICTED to versions ≤ k — table formats do this
    file-granular with manifests so unchanged files replay for free;
    the relational core is identical. The three snapshots here share
    one log scan each and shuffle on the key once per snapshot; a
    production reader materializes the newest snapshot and reads old
    ones rarely (the checkpoint-vs-log trade)."""
    o = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("long")
    log = (
        o.select(
            F.col("o_orderkey").alias("key"),
            F.col("o_orderstatus").alias("status"),
            cents.alias("cents"),
            F.lit(1).alias("version"),
            F.lit("U").alias("op"),
        )
        .unionByName(
            o.filter(F.col("o_orderkey") % 5 == 0).select(
                F.col("o_orderkey").alias("key"),
                F.lit("X").alias("status"),
                cents.alias("cents"),
                F.lit(2).alias("version"),
                F.lit("U").alias("op"),
            )
        )
        .unionByName(
            o.filter(F.col("o_orderkey") % 7 == 0).select(
                F.col("o_orderkey").alias("key"),
                F.col("o_orderstatus").alias("status"),
                cents.alias("cents"),
                F.lit(3).alias("version"),
                F.lit("D").alias("op"),
            )
        )
    )
    w = Window.partitionBy("key").orderBy(F.desc("version"))
    out = None
    for k in (1, 2, 3):
        snap = (
            log.filter(F.col("version") <= k)
            .withColumn("rn", F.row_number().over(w))
            .filter((F.col("rn") == 1) & (F.col("op") != "D"))
            .agg(
                F.count("*").alias("n_rows"),
                F.sum("cents").alias("checksum_cents"),
                F.sum(
                    F.when(F.col("status") == "X", 1).otherwise(0)
                ).alias("n_updated_rows"),
            )
            .select(
                F.lit(k).cast("long").alias("version"),
                "n_rows",
                "checksum_cents",
                "n_updated_rows",
            )
        )
        out = snap if out is None else out.unionByName(snap)
    return out


# Snapshot-expire retention: of the 3 log versions, keep the latest 2
# snapshots readable → records superseded at or before version 2 are GC.
EXPIRE_MIN_RETAINED = 2


@query(
    "q_maintenance_snapshot_expire",
    oracle=f"""
    WITH log AS (
        SELECT o_orderkey AS key,
               CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents,
               1 AS version FROM orders
        UNION ALL
        SELECT o_orderkey, CAST(ROUND(o_totalprice * 100) AS BIGINT), 2
        FROM orders WHERE o_orderkey % 5 = 0
        UNION ALL
        SELECT o_orderkey, CAST(ROUND(o_totalprice * 100) AS BIGINT), 3
        FROM orders WHERE o_orderkey % 7 = 0
    ),
    nv AS (
        SELECT version, cents,
               COALESCE(LEAD(version) OVER (PARTITION BY key
                                            ORDER BY version),
                        2147483647) AS next_v
        FROM log
    )
    SELECT CAST(version AS BIGINT) AS version,
           CAST(COUNT(*) AS BIGINT) AS n_records,
           CAST(SUM(CASE WHEN next_v <= {EXPIRE_MIN_RETAINED}
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_expired,
           CAST(SUM(CASE WHEN next_v <= {EXPIRE_MIN_RETAINED}
                    THEN cents ELSE 0 END) AS BIGINT) AS reclaim_cents
    FROM nv GROUP BY version
    """,
    tags=("relational", "maintenance"),
)
def q_maintenance_snapshot_expire(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Snapshot expiry / log GC audit (Delta VACUUM / Iceberg
    expire_snapshots, from first principles) — the missing fourth
    member of the maintenance family (compact, bin-packing,
    time-travel): over q_time_travel_read's 3-version change log with
    a keep-latest-2 retention policy, a log record is garbage exactly
    when its validity interval [version, next-overwrite) ends at or
    before the oldest retained snapshot — it can never be the winning
    row for any readable snapshot. Reports per version the record
    count, expirable count, and reclaimable payload (cents as the
    byte proxy).

    100 TB shape: one LEAD window on the key partitioning computes
    every record's supersession version in a single shuffle — the
    relational core of what table formats do file-granular via
    manifests (a file is removable when every row in it is
    superseded); the GC decision never touches payload bytes, only
    (key, version) metadata."""
    o = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("long")
    log = (
        o.select(
            F.col("o_orderkey").alias("key"),
            cents.alias("cents"),
            F.lit(1).alias("version"),
        )
        .unionByName(
            o.filter(F.col("o_orderkey") % 5 == 0).select(
                F.col("o_orderkey").alias("key"),
                cents.alias("cents"),
                F.lit(2).alias("version"),
            )
        )
        .unionByName(
            o.filter(F.col("o_orderkey") % 7 == 0).select(
                F.col("o_orderkey").alias("key"),
                cents.alias("cents"),
                F.lit(3).alias("version"),
            )
        )
    )
    w = Window.partitionBy("key").orderBy("version")
    nv = log.withColumn(
        "next_v", F.coalesce(F.lead("version").over(w), F.lit(2147483647))
    )
    expired = F.col("next_v") <= EXPIRE_MIN_RETAINED
    return nv.groupBy(F.col("version").cast("long").alias("version")).agg(
        F.count("*").alias("n_records"),
        F.sum(F.when(expired, 1).otherwise(0)).alias("n_expired"),
        F.sum(F.when(expired, F.col("cents")).otherwise(0)).alias(
            "reclaim_cents"
        ),
    )


@query(
    "q_join_hint_shuffle_hash",
    oracle="""
    SELECT c.c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS revenue_cents
    FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    GROUP BY c.c_mktsegment
    """,
    tags=("relational", "join"),
)
def q_join_hint_shuffle_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-strategy HINT surface: the orders⋈customer join forced to
    SHUFFLE_HASH (plan-gated ShuffledHashJoin) — the right call when
    the build side fits per-task memory but exceeds the broadcast
    threshold: both sides still shuffle, but neither SORTS, which
    beats sort-merge whenever the sort would dominate (mid-size dim,
    wide rows). The hint is advisory Spark metadata, not a semantic
    change — the oracle is the same plain join.

    100 TB shape: strategy choice is a per-join cost decision —
    broadcast (≤ ~100 MB dim) > shuffle-hash (build side fits a task)
    > sort-merge (both huge; spills gracefully); AQE re-picks at
    runtime from real sizes, and the hint is the manual override for
    the cases AQE's estimates miss. Pinning it in a plan gate keeps
    the strategy an explicit, tested property instead of an optimizer
    accident."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").hint("SHUFFLE_HASH")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(
                F.round(F.col("o_totalprice") * 100, 0).cast("long")
            ).alias("revenue_cents"),
        )
    )


@query(
    "q_join_null_skew_split",
    oracle="""
    WITH e AS (
        SELECT event_id,
               CASE WHEN user_id % 10 = 0 THEN NULL ELSE user_id END
                   AS fk_user,
               CAST(ROUND(value * 100) AS BIGINT) AS cents
        FROM events
    ),
    matched AS (
        SELECT e.event_id, e.cents, c.c_mktsegment AS segment
        FROM e JOIN customer c ON c.c_custkey = e.fk_user % 10000
        WHERE e.fk_user IS NOT NULL
    ),
    nulls AS (
        SELECT event_id, cents, 'UNATTRIBUTED' AS segment
        FROM e WHERE fk_user IS NULL
    ),
    unmatched AS (
        SELECT e.event_id, e.cents, 'UNKNOWN' AS segment
        FROM e WHERE e.fk_user IS NOT NULL
          AND NOT EXISTS (SELECT 1 FROM customer c
                          WHERE c.c_custkey = e.fk_user % 10000)
    )
    SELECT segment,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(cents) AS BIGINT) AS cents
    FROM (SELECT * FROM matched UNION ALL SELECT * FROM nulls
          UNION ALL SELECT * FROM unmatched)
    GROUP BY segment
    """,
    tags=("relational", "join", "scale"),
)
def q_join_null_skew_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL-key join-skew mitigation — the most common skew in real
    enrichment joins: a fact table where a large slice has a NULL
    foreign key (here: every 10th event unattributed). A plain outer
    join hashes EVERY null to one partition — the null partition
    becomes the straggler. The fix is the split-union: route null-key
    rows around the join entirely (map-only tag), join only non-null
    rows, and union; unmatched non-null keys keep their own bucket so
    the result is an exact outer-join equivalent.

    100 TB shape: the null slice never enters the exchange, so the
    join's partitions stay balanced no matter how null-heavy the feed
    gets; the anti-join for 'UNKNOWN' shares the non-null slice's
    partitioning. This is the deterministic cousin of salting
    (q_join_skew_salted handles hot NON-null keys; this handles the
    null key, which salting cannot — a salted null is still
    unjoinable)."""
    e = load_table(spark, sf_dir, "events").select(
        "event_id",
        F.when(F.col("user_id") % 10 == 0, None)
        .otherwise(F.col("user_id"))
        .alias("fk_user"),
        F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
    )
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    nn = e.filter(F.col("fk_user").isNotNull()).withColumn(
        "join_key", F.col("fk_user") % 10000
    )
    matched = nn.join(c, nn.join_key == c.c_custkey).select(
        "event_id", "cents", F.col("c_mktsegment").alias("segment")
    )
    unmatched = nn.join(
        c, nn.join_key == c.c_custkey, "left_anti"
    ).select("event_id", "cents", F.lit("UNKNOWN").alias("segment"))
    nulls = e.filter(F.col("fk_user").isNull()).select(
        "event_id", "cents", F.lit("UNATTRIBUTED").alias("segment")
    )
    return (
        matched.unionByName(nulls)
        .unionByName(unmatched)
        .groupBy("segment")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("cents").alias("cents"),
        )
    )


# Trimmed-mean cut: drop this many ppm from each tail (5%).
TRIM_PPM = 50_000


@query(
    "q_agg_trimmed_mean",
    oracle=f"""
    WITH c AS (
        SELECT event_type, CAST(ROUND(value * 100) AS BIGINT) AS cents
        FROM events
    ),
    r AS (
        SELECT event_type, cents,
               ROW_NUMBER() OVER (PARTITION BY event_type
                                  ORDER BY cents, event_type) AS rn,
               COUNT(*) OVER (PARTITION BY event_type) AS n
        FROM c
    ),
    kept AS (
        SELECT event_type, cents, n FROM r
        WHERE rn > (n * {TRIM_PPM}) // 1000000
          AND rn <= n - (n * {TRIM_PPM}) // 1000000
    )
    SELECT event_type,
           CAST(MAX(n) AS BIGINT) AS n_total,
           CAST(COUNT(*) AS BIGINT) AS n_kept,
           CAST(SUM(cents) AS BIGINT) AS kept_cents,
           CAST(SUM(cents) // COUNT(*) AS BIGINT) AS trimmed_mean_cents
    FROM kept GROUP BY event_type
    """,
    tags=("relational", "agg"),
)
def q_agg_trimmed_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5% trimmed mean per group — the robust average used wherever a
    few whale values would swamp a plain mean (payment amounts, session
    lengths): drop exactly floor(5%·n) rows from each tail by rank,
    average the middle in exact integers (sum + integer div — the
    mean's floor is deterministic; no float accumulation order).

    100 TB shape: one (group) partition + one in-partition sort serves
    the rank, the count, and the final agg (same single-exchange chain
    as q_sessionize_gap); the trim predicate is a map-side comparison
    of rank against the group count. Contrast with winsorized/
    percentile approaches that need two passes — rank-trim is
    one-pass because the cut is defined by position, not value."""
    e = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
    )
    wr = Window.partitionBy("event_type").orderBy("cents", "event_type")
    wn = Window.partitionBy("event_type")
    r = e.select(
        "event_type",
        "cents",
        F.row_number().over(wr).alias("rn"),
        F.count("*").over(wn).alias("n"),
    )
    kept = r.filter(
        (F.col("rn") > F.expr(f"(n * {TRIM_PPM}) div 1000000"))
        & (F.col("rn") <= F.col("n") - F.expr(f"(n * {TRIM_PPM}) div 1000000"))
    )
    return kept.groupBy("event_type").agg(
        F.max("n").alias("n_total"),
        F.count("*").alias("n_kept"),
        F.sum("cents").alias("kept_cents"),
        F.expr("sum(cents) div count(*)").alias("trimmed_mean_cents"),
    )


@query(
    "q_window_ratio_to_report",
    oracle="""
    WITH per_nation AS (
        SELECT n.n_regionkey AS region, c.c_nationkey AS nation,
               CAST(SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS cents
        FROM orders o
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n ON n.n_nationkey = c.c_nationkey
        GROUP BY n.n_regionkey, c.c_nationkey
    )
    SELECT region, nation, cents,
           CAST(cents * 1000000 // SUM(cents) OVER (PARTITION BY region)
                AS BIGINT) AS region_share_ppm,
           CAST(cents * 1000000 // SUM(cents) OVER ()
                AS BIGINT) AS global_share_ppm
    FROM per_nation
    """,
    tags=("relational", "window"),
)
def q_window_ratio_to_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RATIO_TO_REPORT — the named share-of-total analytic
    (Oracle/Snowflake): each nation's revenue as an exact-ppm share of
    its region and of the world, in one pass over the pre-aggregated
    frame. The share numerator is the BOUNDED side of the
    cross-multiplication (cents ≤ its own group total — never a
    running sum), so int64 holds to ~9·10¹² total cents per group and
    the DECIMAL(38) hatch is the documented step beyond.

    100 TB shape: the heavy work is the rollup (orders joins broadcast
    dims, aggregates to |nations| rows); both share windows evaluate
    over that tiny frame — the report costs the rollup, the analytics
    are free. This is the general rule for share-of-total reporting:
    aggregate FIRST, window the aggregate."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    n = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_regionkey"
    )
    per_nation = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), F.col("c_nationkey") == n.n_nationkey)
        .groupBy(
            F.col("n_regionkey").alias("region"),
            F.col("c_nationkey").alias("nation"),
        )
        .agg(
            F.sum(
                F.round(F.col("o_totalprice") * 100, 0).cast("long")
            ).alias("cents")
        )
    )
    return per_nation.select(
        "region",
        "nation",
        "cents",
        F.expr(
            "cents * 1000000 div sum(cents) OVER (PARTITION BY region)"
        ).alias("region_share_ppm"),
        F.expr("cents * 1000000 div sum(cents) OVER ()").alias(
            "global_share_ppm"
        ),
    )


ASOF_TOLERANCE_DAYS = 30


@query(
    "q_join_asof_tolerance",
    oracle=EVENTS_US
    + f"""
    SELECT o.o_orderkey, last.event_id AS asof_event_id, last.ts AS asof_ts
    FROM orders o
    LEFT JOIN LATERAL (
        SELECT e.event_id, e.ts
        FROM events_us e
        WHERE e.user_id = o.o_custkey AND e.ts <= o.o_orderdate
          AND e.ts >= o.o_orderdate - INTERVAL {ASOF_TOLERANCE_DAYS} DAY
        ORDER BY e.ts DESC, e.event_id DESC
        LIMIT 1
    ) last ON TRUE
    """,
    tags=("relational", "join", "asof"),
)
def q_join_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join with a STALENESS BOUND — the third standard as-of
    form (backward q_join_asof, nearest q_join_asof_nearest, and this:
    backward within tolerance, pandas merge_asof's ``tolerance=``):
    the latest event at or before the order date counts only if it is
    at most 30 days old; staler context is worse than none (market
    data, feature freshness SLAs — a quote from last quarter must NOT
    join today's trade). NULL rows are therefore semantic output, not
    join misses.

    100 TB shape: same equi-join on the entity key + max-of-struct
    aggregation as the unbounded form, but the tolerance predicate
    prunes the join fan-in BEFORE the aggregate — with time-bucketed
    storage the bound also becomes a partition-pruning predicate (scan
    only 30 days of events per order date), which the unbounded as-of
    can never do. That pruning is why production as-of pipelines
    always carry a tolerance even when the business rule is 'latest
    ever'."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    e = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    joined = o.join(
        e,
        (o.o_custkey == e.user_id)
        & (e.ts <= o.o_orderdate)
        & (
            e.ts
            >= F.col("o_orderdate") - F.expr(
                f"INTERVAL {ASOF_TOLERANCE_DAYS} DAY"
            )
        ),
        "left",
    )
    return (
        joined.groupBy("o_orderkey")
        .agg(F.max(F.struct(F.col("ts"), F.col("event_id"))).alias("last"))
        .select(
            "o_orderkey",
            F.col("last.event_id").alias("asof_event_id"),
            F.col("last.ts").alias("asof_ts"),
        )
    )


@query(
    "q_window_gap_islands",
    oracle=EVENTS_US
    + """
    , ranked AS (
        SELECT user_id, event_id,
               event_id - ROW_NUMBER() OVER (PARTITION BY user_id
                                             ORDER BY event_id) AS grp
        FROM events_us
    ),
    islands AS (
        SELECT user_id, grp,
               CAST(COUNT(*) AS BIGINT) AS run_len,
               MIN(event_id) AS run_start
        FROM ranked GROUP BY user_id, grp
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_islands,
           CAST(MAX(run_len) AS BIGINT) AS longest_run,
           MIN(run_start) AS first_event
    FROM islands GROUP BY user_id
    """,
    tags=("relational", "window"),
)
def q_window_gap_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: per user, collapse consecutive event_id runs
    into islands (id − row_number is constant within a run) and report
    island count and longest run — the continuity audit behind
    sequence-gap detection (missed deliveries, lost heartbeats,
    offset-commit holes). The sessionization trick transposed from
    time to sequence numbers.

    100 TB shape: one window + two shrinking hash aggregates, all on
    the same user partitioning — one Exchange total. The island
    count per user is also the exact number of contiguous ranges a
    range-request backfill would issue, which is why this audit runs
    before any gap-repair job."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("event_id")
    ranked = e.select("user_id", "event_id").withColumn(
        "grp", F.col("event_id") - F.row_number().over(w)
    )
    islands = ranked.groupBy("user_id", "grp").agg(
        F.count("*").alias("run_len"), F.min("event_id").alias("run_start")
    )
    return islands.groupBy("user_id").agg(
        F.count("*").alias("n_islands"),
        F.max("run_len").alias("longest_run"),
        F.min("run_start").alias("first_event"),
    )


ROLL_CORR_FRAME = 10  # trailing rows per Pearson window


@query(
    "q_window_rolling_corr",
    oracle=f"""
    WITH q AS (
        SELECT l_suppkey, l_orderkey, l_linenumber,
               CAST(FLOOR(l_extendedprice * 100) AS BIGINT) AS x,
               CAST(FLOOR(l_quantity) AS BIGINT) AS y
        FROM lineitem
    ),
    s AS (
        SELECT l_suppkey, l_orderkey, l_linenumber,
               COUNT(*) OVER w AS n,
               SUM(x) OVER w AS sx, SUM(y) OVER w AS sy,
               SUM(x * y) OVER w AS sxy,
               SUM(x * x) OVER w AS sxx, SUM(y * y) OVER w AS syy
        FROM q
        WINDOW w AS (PARTITION BY l_suppkey
                     ORDER BY l_orderkey, l_linenumber, x, y
                     ROWS BETWEEN {ROLL_CORR_FRAME - 1} PRECEDING
                              AND CURRENT ROW)
    )
    SELECT l_suppkey, l_orderkey, l_linenumber,
           CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
                THEN round(CAST(n * sxy - sx * sy AS DOUBLE)
                           / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                              * sqrt(CAST(n * syy - sy * sy AS DOUBLE))), 6)
           END AS roll_corr
    FROM s WHERE n = {ROLL_CORR_FRAME}
    """,
    tags=("relational", "window"),
)
def q_window_rolling_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling Pearson correlation (price vs quantity, trailing
    ROLL_CORR_FRAME rows per supplier) — the windowed co-movement
    statistic quant/monitoring pipelines run, done ENGINE-EXACTLY: both
    series quantize to int64 (cents / whole units), all six window
    sums are exact integer arithmetic, and only the final ratio touches
    floating point (int64→double conversion and sqrt are IEEE-
    deterministic, so DuckDB reproduces every value to the rounded 6
    dp). Partial leading frames are excluded (n = frame) so every row
    is a full-window statistic.

    Scale shape: one hash partition per supplier, one sort per
    partition, six running sums in a single Window operator — the same
    single-exchange profile as q_window_frame; nothing here grows with
    frame count."""
    li = load_table(spark, sf_dir, "lineitem")
    q = li.select(
        "l_suppkey",
        "l_orderkey",
        "l_linenumber",
        F.floor(F.col("l_extendedprice") * 100).cast("long").alias("x"),
        F.floor(F.col("l_quantity")).cast("long").alias("y"),
    )
    # (l_orderkey, l_linenumber) is NOT unique in the synthetic lineitem,
    # so the quantized values join the sort key: rows tied on all four
    # are interchangeable and leave every window sum unchanged.
    w = (
        Window.partitionBy("l_suppkey")
        .orderBy("l_orderkey", "l_linenumber", "x", "y")
        .rowsBetween(-(ROLL_CORR_FRAME - 1), 0)
    )
    s = q.select(
        "l_suppkey",
        "l_orderkey",
        "l_linenumber",
        F.count("*").over(w).alias("n"),
        F.sum("x").over(w).alias("sx"),
        F.sum("y").over(w).alias("sy"),
        F.sum(F.col("x") * F.col("y")).over(w).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).over(w).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).over(w).alias("syy"),
    )
    d1 = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    d2 = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
        "double"
    )
    corr = F.when(
        (d1 > 0) & (d2 > 0),
        F.round(
            num / (F.sqrt(d1.cast("double")) * F.sqrt(d2.cast("double"))), 6
        ),
    )
    return s.filter(F.col("n") == ROLL_CORR_FRAME).select(
        "l_suppkey", "l_orderkey", "l_linenumber", corr.alias("roll_corr")
    )


# ---------------------------------------------------------------------------
# Scalar: IPv4 parse / CIDR-class routing (network-log analytics)
# ---------------------------------------------------------------------------


@query(
    "q_scalar_ip",
    oracle="""
    WITH ip AS (
        SELECT CAST(concat('0x', substr(md5('ip:' ||
                   CAST(event_id AS VARCHAR)), 1, 8)) AS BIGINT) AS i
        FROM events
    ),
    o AS (
        SELECT i, i // 16777216 AS o1, (i // 65536) % 256 AS o2,
               (i // 256) % 256 AS o3, i % 256 AS o4
        FROM ip
    ),
    cls AS (
        SELECT *,
          CASE
            WHEN o1 = 10 OR (o1 = 172 AND o2 BETWEEN 16 AND 31)
                 OR (o1 = 192 AND o2 = 168) THEN 'private'
            WHEN o1 = 127 THEN 'loopback'
            WHEN o1 BETWEEN 224 AND 239 THEN 'multicast'
            ELSE 'public'
          END AS ip_class,
          CAST(o1 AS VARCHAR) || '.' || CAST(o2 AS VARCHAR) || '.'
            || CAST(o3 AS VARCHAR) || '.' || CAST(o4 AS VARCHAR) AS dotted
        FROM o
    )
    SELECT ip_class,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(DISTINCT i) AS BIGINT) AS n_distinct_ip,
           MIN(dotted) AS min_ip,
           MAX(dotted) AS max_ip
    FROM cls GROUP BY ip_class ORDER BY ip_class
    """,
    tags=("relational", "scalar"),
)
def q_scalar_ip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IPv4 parse + RFC-1918/CIDR classification — the network-log
    scalar family (every firewall/VPC-flow pipeline starts here):
    dotted-quad decomposition is pure div/mod on the uint32, and CIDR
    membership is integer range tests on the octets (10/8, 172.16/12,
    192.168/16, 127/8 loopback, 224/4 multicast). Addresses are
    synthesized per event by the md5-prefix hash (deterministic in
    both engines, uniform over the space so every class fires at
    every SF). Reference lambda/main.py:55-163 transforms CloudWatch
    VPC-style log records; this key supplies the address-typed scalar
    toolkit those logs need.

    100 TB shape: map-only octet arithmetic in whole-stage codegen +
    one |classes|-grain agg carrying a partial/final COUNT(DISTINCT).
    A production variant swaps the hash for the real address column;
    the plan is unchanged."""
    from ex_aws_firehose_spark.functions.text import hex_hash

    e = load_table(spark, sf_dir, "events")
    i = hex_hash(F.concat(F.lit("ip:"), F.col("event_id").cast("string")))
    octs = e.select(i.alias("i")).select(
        "i",
        F.expr("i div 16777216").alias("o1"),
        F.expr("(i div 65536) % 256").alias("o2"),
        F.expr("(i div 256) % 256").alias("o3"),
        F.expr("i % 256").alias("o4"),
    )
    cls = octs.select(
        "i",
        F.when(
            (F.col("o1") == 10)
            | ((F.col("o1") == 172) & F.col("o2").between(16, 31))
            | ((F.col("o1") == 192) & (F.col("o2") == 168)),
            "private",
        )
        .when(F.col("o1") == 127, "loopback")
        .when(F.col("o1").between(224, 239), "multicast")
        .otherwise("public")
        .alias("ip_class"),
        F.concat_ws(
            ".",
            F.col("o1").cast("string"),
            F.col("o2").cast("string"),
            F.col("o3").cast("string"),
            F.col("o4").cast("string"),
        ).alias("dotted"),
    )
    return (
        cls.groupBy("ip_class")
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("i").alias("n_distinct_ip"),
            F.min("dotted").alias("min_ip"),
            F.max("dotted").alias("max_ip"),
        )
        .orderBy("ip_class")
    )


# ---------------------------------------------------------------------------
# Window: cumulative distribution + percent rank (the remaining rank pair)
# ---------------------------------------------------------------------------


@query(
    "q_window_cume_dist",
    oracle="""
    WITH cents AS (
        SELECT o_orderpriority,
               CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders WHERE o_orderkey % 997 = 0
    )
    SELECT o_orderpriority, cents,
           CAST(ROUND(CUME_DIST() OVER w * 1000000) AS BIGINT)
               AS cume_dist_ppm,
           CAST(ROUND(PERCENT_RANK() OVER w * 1000000) AS BIGINT)
               AS pct_rank_ppm
    FROM cents
    WINDOW w AS (PARTITION BY o_orderpriority ORDER BY cents)
    ORDER BY o_orderpriority, cents
    """,
    tags=("relational", "window"),
)
def q_window_cume_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUME_DIST + PERCENT_RANK — the two distribution-position
    window functions that complete the rank family next to
    rank/dense_rank/ntile/ratio_to_report: per priority class, each
    sampled order's cumulative-distribution position (fraction ≤ it)
    and its percent rank ((rank−1)/(n−1)). Both are rank-over-count
    rationals; the ppm values are ROUND(·×10⁶) of fractions whose
    denominators are small sample counts, and Spark and DuckDB
    produce the identical double before the one rounding (the
    cosine-parity convention; ties collapse to equal positions by
    SQL definition, so tie order can't leak in). The 1/997 key
    sample keeps the output row-grain while exercising real window
    mechanics.

    100 TB shape: one shuffle on the partition key, one sort within —
    the canonical window plan; the sample predicate is pushed to the
    scan (plan-gated like every selective key)."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy("cents")
    return (
        o.filter(F.col("o_orderkey") % 997 == 0)
        .select(
            "o_orderpriority",
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        )
        .select(
            "o_orderpriority",
            "cents",
            F.round(F.cume_dist().over(w) * 1000000)
            .cast("long")
            .alias("cume_dist_ppm"),
            F.round(F.percent_rank().over(w) * 1000000)
            .cast("long")
            .alias("pct_rank_ppm"),
        )
        .orderBy("o_orderpriority", "cents")
    )


# ---------------------------------------------------------------------------
# Round-10 ML-feature and incremental-view-maintenance operators
# ---------------------------------------------------------------------------


@query(
    "q_feature_target_encode_loo",
    oracle="""
    WITH o AS (
        SELECT o_orderpriority AS cat,
               CAST(ROUND(o_totalprice * 100) AS BIGINT) AS y
        FROM orders
    ),
    g AS (
        SELECT cat, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(y) AS BIGINT) AS s
        FROM o GROUP BY 1
    ),
    enc AS (
        SELECT o.cat, g.n, g.s,
               CAST((g.s - o.y) * 1000000 // (g.n - 1) AS BIGINT) AS loo
        FROM o JOIN g USING (cat)
    )
    SELECT cat, n,
           CAST(s * 1000000 // n AS BIGINT) AS mean_microcents,
           CAST(SUM(loo) // n AS BIGINT) AS loo_mean_microcents,
           CAST(MIN(loo) AS BIGINT) AS loo_min,
           CAST(MAX(loo) AS BIGINT) AS loo_max
    FROM enc GROUP BY cat, n, s
    """,
    tags=("relational", "feature"),
)
def q_feature_target_encode_loo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out target encoding — the leakage-safe categorical
    feature every tabular-ML pipeline ships: each row's encode is the
    category's target mean EXCLUDING the row itself, (Σy − yᵢ)/(n−1),
    in exact integer micro-cents.  The per-category audit emitted here
    pins the estimator's defining identity — the mean of the LOO
    encodes equals the plain category mean exactly in rationals (Σ(S −
    yᵢ) = (n−1)S), so the two mean columns agree up to integer-truncation
    residue — plus the encode's min/max spread (its leakage-variance
    signature).

    Int64 bound: (S − yᵢ)·1e6 with S the category cents sum — safe to
    ~$90 B per category (≈ sf1 here); past that switch the unit to
    whole dollars (the category sums S, n pool exactly across shards,
    so the encode itself never needs a global pass).  100 TB shape: one hash agg to category grain, broadcast
    back, one map-side encode pass folded into a second agg on the
    SAME key — category cardinality is catalog-scale, rows stream
    through."""
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("cat"),
        _cents("o_totalprice").alias("y"),
    )
    g = o.groupBy("cat").agg(
        F.count("*").alias("n"), F.sum("y").alias("s")
    )
    enc = o.join(F.broadcast(g), "cat").select(
        "cat",
        "n",
        "s",
        F.expr("(s - y) * 1000000 div (n - 1)").alias("loo"),
    )
    return enc.groupBy("cat", "n", "s").agg(
        F.expr("CAST(sum(loo) div n AS LONG)").alias("loo_mean_microcents"),
        F.min("loo").alias("loo_min"),
        F.max("loo").alias("loo_max"),
    ).select(
        "cat",
        "n",
        F.expr("s * 1000000 div n").alias("mean_microcents"),
        "loo_mean_microcents",
        "loo_min",
        "loo_max",
    )


HASH_TRICK_BUCKETS = 64


@query(
    "q_feature_hashing_trick",
    oracle=f"""
    WITH tok AS (
        SELECT unnest(str_split(lower(text), ' ')) AS tok FROM documents
    ),
    b AS (
        SELECT CAST(concat('0x', substr(md5(tok), 1, 8)) AS BIGINT)
                   % {HASH_TRICK_BUCKETS} AS bucket,
               tok
        FROM tok
    )
    SELECT bucket,
           CAST(COUNT(*) AS BIGINT) AS n_occurrences,
           CAST(COUNT(DISTINCT tok) AS BIGINT) AS n_distinct_tokens
    FROM b GROUP BY bucket
    """,
    tags=("relational", "feature", "text"),
)
def q_feature_hashing_trick(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hashing trick (Weinberger et al. 2009) — fixed-width
    feature vectors without a vocabulary: every token maps to
    bucket = md5 % 64 (the engine-portable hash), and the emitted
    per-bucket load (occurrences) and collision census (distinct
    tokens sharing the bucket) are exactly the diagnostics a feature
    platform monitors before shrinking the width.  No dictionary, no
    OOV path, merge-free across shards — the property that makes it
    THE text featurizer at streaming scale.

    100 TB shape: one map-side hash per token + one agg at bucket
    grain (64 groups — perfectly combinable); the distinct-count
    shuffles (bucket, token) pairs, bounded by vocabulary size."""
    from ex_aws_firehose_spark.functions.text import hex_hash, tokens

    d = load_table(spark, sf_dir, "documents")
    tok = d.select(F.explode(tokens("text")).alias("tok"))
    b = tok.select(
        (hex_hash(F.col("tok")) % HASH_TRICK_BUCKETS).alias("bucket"), "tok"
    )
    return b.groupBy("bucket").agg(
        F.count("*").alias("n_occurrences"),
        F.countDistinct("tok").alias("n_distinct_tokens"),
    )


@query(
    "q_ivm_merge_aggregates",
    oracle="""
    WITH l AS (
        SELECT l_returnflag AS rf,
               CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS cents
        FROM lineitem
    )
    SELECT rf,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(cents) AS BIGINT) AS sum_cents,
           CAST(MIN(cents) AS BIGINT) AS min_cents,
           CAST(MAX(cents) AS BIGINT) AS max_cents,
           CAST(SUM(cents) * 1000000 // COUNT(*) AS BIGINT)
               AS mean_microcents
    FROM l GROUP BY rf
    """,
    tags=("relational", "incremental"),
)
def q_ivm_merge_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance by PARTIAL-AGGREGATE MERGE: the
    table is split into a 'materialized base' and an 'arriving delta'
    (l_orderkey parity), each aggregated INDEPENDENTLY to mergeable
    state (count, sum, min, max — the commutative-monoid folds), and
    the view is refreshed by merging the two state sets: n₀+n₁, s₀+s₁,
    least/greatest.  The oracle recomputes from scratch, so the
    differential proves merge ≡ recompute — the algebraic fact that
    makes map-side combine, AQE partial aggregation, and streaming
    state stores correct, here surfaced as a first-class refresh
    operator (a 100 TB view updates by folding the new partition's
    state, never rescanning history).

    100 TB shape: each side is one map-side-combined agg; the merge
    touches 2×|groups| state rows — the whole point."""
    l = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("rf"),
        (F.col("l_orderkey") % 2).alias("side"),
        _cents("l_extendedprice").alias("cents"),
    )
    partial = l.groupBy("rf", "side").agg(
        F.count("*").alias("pn"),
        F.sum("cents").alias("ps"),
        F.min("cents").alias("pmin"),
        F.max("cents").alias("pmax"),
    )
    merged = partial.groupBy("rf").agg(
        F.sum("pn").alias("n"),
        F.sum("ps").alias("sum_cents"),
        F.min("pmin").alias("min_cents"),
        F.max("pmax").alias("max_cents"),
    )
    return merged.select(
        "rf",
        "n",
        "sum_cents",
        "min_cents",
        "max_cents",
        F.expr("sum_cents * 1000000 div n").alias("mean_microcents"),
    )


_PROFILE_COLS = (
    "event_id",
    "user_id",
    "event_type",
    "value_cents",
    "prop_k",
    "prop_missing",
)


def _profile_oracle() -> str:
    aggs = []
    for c in _PROFILE_COLS:
        aggs.append(
            f"COUNT({c}) AS nn_{c}, COUNT(DISTINCT {c}) AS nd_{c}, "
            f"COALESCE(MIN(length(CAST({c} AS VARCHAR))), -1) AS lo_{c}, "
            f"COALESCE(MAX(length(CAST({c} AS VARCHAR))), -1) AS hi_{c}"
        )
    rows = " UNION ALL ".join(
        f"SELECT '{c}' AS col, n_rows, "
        f"CAST(n_rows - nn_{c} AS BIGINT) AS n_null, "
        f"CAST(nd_{c} AS BIGINT) AS n_distinct, "
        f"CAST(lo_{c} AS BIGINT) AS min_strlen, "
        f"CAST(hi_{c} AS BIGINT) AS max_strlen FROM a"
        for c in _PROFILE_COLS
    )
    return f"""
    WITH p AS (
        SELECT event_id, user_id, event_type,
               CAST(ROUND(value * 100) AS BIGINT) AS value_cents,
               CAST(json_extract(props, '$.k') AS BIGINT) AS prop_k,
               CAST(json_extract(props, '$.missing') AS BIGINT)
                   AS prop_missing
        FROM events
    ),
    a AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_rows, {", ".join(aggs)}
        FROM p
    )
    {rows}
    """


@query(
    "q_dq_profile",
    oracle=_profile_oracle(),
    tags=("relational", "dq"),
)
def q_dq_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass column-completeness profile — the Deequ/
    great-expectations 'profile' primitive that runs BEFORE anyone
    writes constraints: per column, null count, exact distinct count,
    and min/max rendered string length (the cheap width/format screen
    that catches truncation and scientific-notation regressions).
    The profiled projection includes two JSON extractions — a present
    key and an absent one — so both the zero-null and the all-null
    arms of the null detector demonstrably fire; -1 sentinels stand in
    for the empty min/max of the all-null column (never NULL — keeps
    dtypes integral).

    100 TB shape: ONE scan computes every column's aggregates
    simultaneously (a wide map-side-combined agg — 6 columns × 4
    states fold in the same pass); the per-column rows are unstacked
    from the single result row, so profiling cost is one table read
    regardless of column count."""
    e = load_table(spark, sf_dir, "events")
    p = e.select(
        "event_id",
        "user_id",
        "event_type",
        F.round(F.col("value") * 100, 0).cast("long").alias("value_cents"),
        F.get_json_object("props", "$.k").cast("long").alias("prop_k"),
        F.get_json_object("props", "$.missing")
        .cast("long")
        .alias("prop_missing"),
    )
    exprs = [F.count("*").alias("n_rows")]
    for c in _PROFILE_COLS:
        exprs += [
            F.count(c).alias(f"nn_{c}"),
            F.countDistinct(c).alias(f"nd_{c}"),
            F.coalesce(
                F.min(F.length(F.col(c).cast("string"))), F.lit(-1)
            ).alias(f"lo_{c}"),
            F.coalesce(
                F.max(F.length(F.col(c).cast("string"))), F.lit(-1)
            ).alias(f"hi_{c}"),
        ]
    a = p.agg(*exprs)
    stack_args = ", ".join(
        f"'{c}', CAST(n_rows - nn_{c} AS LONG), CAST(nd_{c} AS LONG), "
        f"CAST(lo_{c} AS LONG), CAST(hi_{c} AS LONG)"
        for c in _PROFILE_COLS
    )
    return a.select(
        "n_rows",
        F.expr(
            f"stack({len(_PROFILE_COLS)}, {stack_args}) AS "
            "(col, n_null, n_distinct, min_strlen, max_strlen)"
        ),
    ).select("col", "n_rows", "n_null", "n_distinct", "min_strlen", "max_strlen")


_IVB_US = 600_000_000  # 10-minute bucket width in microseconds
_IVB_THR_CENTS = 30_000  # interval source: error events >= $300


@query(
    "q_join_interval_bin",
    oracle=EVENTS_US
    + f"""
    , iv AS (
        SELECT epoch_us(ts) AS s_us, epoch_us(ts) + {_IVB_US} AS e_us
        FROM events_us
        WHERE event_type = 'error'
          AND CAST(ROUND(value * 100) AS BIGINT) >= {_IVB_THR_CENTS}
    ),
    pt AS (
        SELECT event_id, epoch_us(ts) AS t_us,
               CAST(ROUND(value * 100) AS BIGINT) AS cents
        FROM events_us WHERE event_type = 'purchase'
    ),
    ivb AS (
        SELECT s_us, e_us, unnest([s_us // {_IVB_US}, s_us // {_IVB_US} + 1])
                   AS b
        FROM iv
    ),
    cand AS (
        SELECT p.event_id, p.t_us, p.cents, i.s_us, i.e_us
        FROM pt p JOIN ivb i ON p.t_us // {_IVB_US} = i.b
    ),
    hit AS (
        SELECT DISTINCT event_id, cents FROM cand
        WHERE t_us >= s_us AND t_us < e_us
    ),
    c AS (
        SELECT CAST((SELECT COUNT(*) FROM iv) AS BIGINT) AS n_intervals,
               CAST((SELECT COUNT(*) FROM pt) AS BIGINT) AS n_points,
               CAST((SELECT COUNT(*) FROM cand) AS BIGINT)
                   AS n_candidate_pairs,
               CAST((SELECT COUNT(*) FROM hit) AS BIGINT) AS n_matched,
               CAST((SELECT COALESCE(SUM(cents), 0) FROM hit) AS BIGINT)
                   AS matched_cents
    )
    SELECT n_intervals, n_points, n_candidate_pairs, n_matched,
           matched_cents,
           CAST(n_intervals * n_points AS BIGINT) AS naive_pairs
    FROM c
    """,
    tags=("relational", "join"),
)
def q_join_interval_bin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global point-in-interval join by BUCKETIZATION — the standard
    rewrite that turns an unkeyed range join (Catalyst's worst case: a
    broadcast nested loop over |intervals|×|points|) into an EQUI
    shuffle join: intervals (big-ticket outage windows, 10 min) are
    exploded to the ≤2 epoch buckets they overlap, points hash to
    their single bucket, and the bucket equi-join + exact residual
    filter reproduces the theta join's semantics exactly.  Proof
    columns pin the win: n_candidate_pairs (what the equi join
    actually materialized) vs naive_pairs = |iv|·|pt| (what the
    nested loop would have) — at sf0.1 that is ~10² fewer pairs, and
    the ratio GROWS with data since candidates scale with density per
    bucket, not with |iv|·|pt|.

    100 TB shape: both sides shuffle once on the bucket key (or the
    interval side broadcasts when small); bucket width should match
    the interval length so each interval explodes to O(1) buckets —
    the Flink/interval-join state-partitioning trick expressed in
    batch."""
    e = load_table(spark, sf_dir, "events")
    iv = e.filter(
        (F.col("event_type") == "error")
        & (F.round(F.col("value") * 100, 0).cast("long") >= _IVB_THR_CENTS)
    ).select(
        F.unix_micros("ts").alias("s_us"),
        (F.unix_micros("ts") + _IVB_US).alias("e_us"),
    )
    pt = e.filter(F.col("event_type") == "purchase").select(
        "event_id",
        F.unix_micros("ts").alias("t_us"),
        F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
    )
    ivb = iv.select(
        "s_us",
        "e_us",
        F.explode(
            F.array(
                F.expr(f"s_us div {_IVB_US}"),
                F.expr(f"s_us div {_IVB_US} + 1"),
            )
        ).alias("b"),
    )
    cand = pt.join(ivb, F.expr(f"t_us div {_IVB_US}") == F.col("b"))
    hit = (
        cand.filter(
            (F.col("t_us") >= F.col("s_us")) & (F.col("t_us") < F.col("e_us"))
        )
        .select("event_id", "cents")
        .distinct()
    )
    counts = (
        iv.agg(F.count("*").alias("n_intervals"))
        .crossJoin(pt.agg(F.count("*").alias("n_points")))
        .crossJoin(cand.agg(F.count("*").alias("n_candidate_pairs")))
        .crossJoin(
            hit.agg(
                F.count("*").alias("n_matched"),
                F.coalesce(F.sum("cents"), F.lit(0)).alias("matched_cents"),
            )
        )
    )
    return counts.select(
        "n_intervals",
        "n_points",
        "n_candidate_pairs",
        "n_matched",
        "matched_cents",
        F.expr("n_intervals * n_points").alias("naive_pairs"),
    )


_HT_SCALE = 50  # inclusion ppm = min(1e6, cents / 50): ~$500 ⇒ certainty


@query(
    "q_sample_horvitz_thompson",
    oracle=f"""
    WITH o AS (
        SELECT o_orderkey AS k,
               CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders
    ),
    s AS (
        SELECT k, cents,
               LEAST(1000000, cents // {_HT_SCALE}) AS p_ppm,
               CAST(concat('0x', substr(md5('ht:' || CAST(k AS VARCHAR)),
                    1, 8)) AS BIGINT) % 1000000 AS h
        FROM o
    ),
    agg AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_pop,
               CAST(SUM(CASE WHEN h < p_ppm THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_sampled,
               CAST(SUM(cents) AS BIGINT) AS true_cents,
               CAST(SUM(CASE WHEN h < p_ppm
                        THEN cents * 1000000 // p_ppm ELSE 0 END) AS BIGINT)
                   AS ht_est_cents
        FROM s
    )
    SELECT n_pop, n_sampled, true_cents, ht_est_cents,
           CAST(ABS(ht_est_cents - true_cents) * 1000000 // true_cents
                AS BIGINT) AS err_ppm
    FROM agg
    """,
    tags=("relational", "sampling"),
)
def q_sample_horvitz_thompson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Horvitz-Thompson estimation under probability-proportional-to-
    size sampling — the approximate-query-processing primitive behind
    every 'estimate the total from a 5% sample' dashboard: each order
    is included with probability ∝ its value (π capped at 1, decided
    by the portable md5 hash — deterministic, replayable, and
    coordinated across runs), and the total is debiased EXACTLY by
    weighting each sampled row 1/π: Σ cents·1e6 div p_ppm.  PPS makes
    the estimator low-variance precisely because big rows (which
    dominate the total) are sampled with near-certainty; the emitted
    err_ppm audits it (~0.1% here at a ~50% row sample, far tighter
    than uniform sampling at the same rate).

    100 TB shape: inclusion is a stateless map-side predicate at scan
    time — the sample never materializes globally; the estimate is
    one map-side-combined agg.  The same hash makes the sample
    CONSISTENT across queries (join two HT samples on key and the
    inclusion events coincide)."""
    from ex_aws_firehose_spark.functions.text import hex_hash

    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        _cents("o_totalprice").alias("cents"),
    )
    s = o.select(
        "cents",
        F.least(F.lit(1_000_000), F.expr(f"cents div {_HT_SCALE}")).alias(
            "p_ppm"
        ),
        (
            hex_hash(F.concat(F.lit("ht:"), F.col("k").cast("string")))
            % 1_000_000
        ).alias("h"),
    )
    agg = s.agg(
        F.count("*").alias("n_pop"),
        F.sum(F.when(F.col("h") < F.col("p_ppm"), 1).otherwise(0)).alias(
            "n_sampled"
        ),
        F.sum("cents").alias("true_cents"),
        F.sum(
            F.when(
                F.col("h") < F.col("p_ppm"),
                F.expr("cents * 1000000 div p_ppm"),
            ).otherwise(0)
        ).alias("ht_est_cents"),
    )
    return agg.select(
        "n_pop",
        "n_sampled",
        "true_cents",
        "ht_est_cents",
        F.expr(
            "abs(ht_est_cents - true_cents) * 1000000 div true_cents"
        ).alias("err_ppm"),
    )


@query(
    "q_join_null_safe",
    oracle="""
    WITH a AS (
        SELECT CASE WHEN CAST(json_extract(props, '$.k') AS BIGINT) % 7 = 0
                    THEN NULL
                    ELSE CAST(json_extract(props, '$.k') AS BIGINT) END AS k
        FROM events WHERE event_type = 'click'
    ),
    b AS (
        SELECT CASE WHEN CAST(json_extract(props, '$.k') AS BIGINT) % 7 = 0
                    THEN NULL
                    ELSE CAST(json_extract(props, '$.k') AS BIGINT) END AS k
        FROM events WHERE event_type = 'view'
    ),
    c AS (
        SELECT CAST((SELECT COUNT(*) FROM a WHERE k IS NULL) AS BIGINT)
                   AS n_null_a,
               CAST((SELECT COUNT(*) FROM b WHERE k IS NULL) AS BIGINT)
                   AS n_null_b,
               CAST((SELECT COUNT(*) FROM a JOIN b ON a.k = b.k) AS BIGINT)
                   AS n_matched_equi,
               CAST((SELECT COUNT(*) FROM a JOIN b
                     ON a.k IS NOT DISTINCT FROM b.k) AS BIGINT)
                   AS n_matched_null_safe
    )
    SELECT n_null_a, n_null_b, n_matched_equi, n_matched_null_safe,
           n_matched_null_safe - n_matched_equi AS n_null_pairs,
           n_matched_null_safe = n_matched_equi + n_null_a * n_null_b
               AS null_pair_identity_ok
    FROM c
    """,
    tags=("relational", "join"),
)
def q_join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL-safe equality join (`<=>` / IS NOT DISTINCT FROM) — the
    semantics fork every SQL engine must expose and every CDC merge
    hits (NULL business keys): the same nullable key joined with `=`
    silently DROPS every NULL row (NULL = NULL is not true), while
    `<=>` matches NULL to NULL.  Both joins run on a key extracted
    from the JSON props with a deterministic NULL-out rule, and the
    identity n_null_safe = n_equi + n_nullA·n_nullB is emitted as a
    self-audit — the NULL bucket forms a full cross product, which is
    ALSO the scale warning this key documents: a hot NULL key is the
    canonical skew cell (salt it or route NULLs around the join).

    100 TB shape: both joins hash-partition on the key; the `<=>`
    form hashes NULL to one partition — the reason engines rewrite it
    as (a.k = b.k OR (a.k IS NULL AND b.k IS NULL)) with a NULL-split
    union when the NULL bucket is hot."""
    e = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    key = F.when(k % 7 == 0, F.lit(None).cast("long")).otherwise(k)
    a = e.filter(F.col("event_type") == "click").select(key.alias("k"))
    b = e.filter(F.col("event_type") == "view").select(key.alias("kb"))
    n_null_a = a.filter(F.col("k").isNull()).count()
    n_null_b = b.filter(F.col("kb").isNull()).count()
    n_equi = a.join(b, F.col("k") == F.col("kb")).count()
    # The `<=>` join is executed in its NULL-SPLIT form — the exact
    # rewrite this key's docstring prescribes for a hot NULL bucket:
    # the non-null slice is the plain equi-join, and the NULL × NULL
    # block runs as its own (spread) cross join instead of landing in
    # the single partition NULL hashes to. Same pair set, same count —
    # the identity audit below still checks the materialized cross
    # product against n_null_a · n_null_b.
    null_block = (
        spread(a.filter(F.col("k").isNull()))
        .crossJoin(b.filter(F.col("kb").isNull()))
        .count()
    )
    n_ns = n_equi + null_block
    return spark.createDataFrame(
        [
            (
                n_null_a,
                n_null_b,
                n_equi,
                n_ns,
                n_ns - n_equi,
                n_ns == n_equi + n_null_a * n_null_b,
            )
        ],
        "n_null_a long, n_null_b long, n_matched_equi long, "
        "n_matched_null_safe long, n_null_pairs long, "
        "null_pair_identity_ok boolean",
    )


SPEARMAN_PAIRS = ("chars_vs_tokens", "chars_vs_docid")


def _spearman_oracle() -> str:
    def pair_sql(name: str, y_rank_order: str) -> str:
        return f"""
        SELECT '{name}' AS pair_name, CAST(n AS BIGINT) AS n,
               CAST(sum_d2 AS BIGINT) AS sum_d2,
               CAST(1000000 - 6000000 * sum_d2
                    // (n * (n * n - 1)) AS BIGINT) AS rho_ppm
        FROM (
            SELECT COUNT(*) AS n,
                   SUM((rx - ry) * (rx - ry)) AS sum_d2
            FROM (
                SELECT row_number() OVER (ORDER BY n_chars, doc_id) AS rx,
                       row_number() OVER (ORDER BY {y_rank_order}) AS ry
                FROM documents
            )
        )"""

    return (
        pair_sql(
            "chars_vs_tokens",
            "len(str_split(lower(text), ' ')), doc_id",
        )
        + " UNION ALL "
        + pair_sql("chars_vs_docid", "doc_id")
    )


@query(
    "q_eval_spearman_rho",
    oracle=_spearman_oracle(),
    tags=("relational", "eval"),
)
def q_eval_spearman_rho(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation in the exact d² form ρ = 1 −
    6Σd²/(n(n²−1)) — valid because both rankings are TOTAL orders
    (doc_id tie-break), so no tie correction is needed and the whole
    statistic is int64 with one ppm division.  Two pairs anchor the
    scale: document length vs token count (near-perfect monotone
    association — the sanity pole) and length vs doc_id (null pole,
    near zero) — the monotone-association screen used when Pearson's
    linearity assumption can't be defended.

    Int64 bound: 6e6·Σd² with Σd² < n³/3 — exact to n ≈ 16k rows;
    past that rank in ppm-quantile buckets or shard and use the
    family's pooled-moments Pearson on ranks.  100 TB shape: two
    global rank windows (sort-bounded, shareable with any other
    ranked consumer) + one map-side agg."""
    from ex_aws_firehose_spark.functions.text import tokens

    d = load_table(spark, sf_dir, "documents")
    base = d.select(
        "doc_id",
        "n_chars",
        F.size(tokens("text")).alias("n_tokens"),
    )
    out = []
    for name, order in (
        ("chars_vs_tokens", [F.col("n_tokens"), F.col("doc_id")]),
        ("chars_vs_docid", [F.col("doc_id")]),
    ):
        wx = Window.orderBy("n_chars", "doc_id")
        wy = Window.orderBy(*order)
        ranked = base.select(
            F.row_number().over(wx).alias("rx"),
            F.row_number().over(wy).alias("ry"),
        )
        out.append(
            ranked.agg(
                F.count("*").alias("n"),
                F.sum(F.expr("(rx - ry) * (rx - ry)")).alias("sum_d2"),
            ).select(
                F.lit(name).alias("pair_name"),
                "n",
                "sum_d2",
                F.expr(
                    "CAST(1000000 - 6000000 * sum_d2 "
                    "div (n * (n * n - 1)) AS LONG)"
                ).alias("rho_ppm"),
            )
        )
    return out[0].unionByName(out[1])


@query(
    "q_filter_not_in_null_trap",
    oracle="""
    WITH probe AS (
        SELECT event_id,
               CAST(json_extract(props, '$.k') AS BIGINT) AS k
        FROM events WHERE event_type = 'click'
    ),
    keyset AS (
        SELECT CASE WHEN CAST(json_extract(props, '$.k') AS BIGINT) % 7 = 0
                    THEN NULL
                    ELSE CAST(json_extract(props, '$.k') AS BIGINT) END AS k
        FROM events WHERE event_type = 'view'
    ),
    clean AS (SELECT k FROM keyset WHERE k IS NOT NULL),
    c AS (
        SELECT CAST((SELECT COUNT(*) FROM probe) AS BIGINT) AS n_probe,
               CAST((SELECT COUNT(*) FROM keyset WHERE k IS NULL) AS BIGINT)
                   AS n_null_keys,
               CAST((SELECT COUNT(*) FROM probe
                     WHERE k NOT IN (SELECT k FROM keyset)) AS BIGINT)
                   AS n_not_in_nullable,
               CAST((SELECT COUNT(*) FROM probe
                     WHERE k NOT IN (SELECT k FROM clean)) AS BIGINT)
                   AS n_not_in_clean,
               CAST((SELECT COUNT(*) FROM probe p
                     WHERE NOT EXISTS (SELECT 1 FROM keyset s
                                       WHERE s.k = p.k)) AS BIGINT)
                   AS n_not_exists
    )
    SELECT n_probe, n_null_keys, n_not_in_nullable, n_not_in_clean,
           n_not_exists,
           n_not_in_nullable = 0 AS not_in_vanishes,
           n_not_exists = n_not_in_clean AS anti_equals_clean_not_in
    FROM c
    """,
    tags=("relational", "filter"),
)
def q_filter_not_in_null_trap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The NOT IN null trap — the three-valued-logic fork that silently
    empties production queries: when the subquery key set contains ONE
    NULL, `k NOT IN (set)` is never TRUE for any row (every comparison
    chain ends UNKNOWN per the SQL standard, honored identically by
    Spark and DuckDB), while `NOT EXISTS` — the anti-join the optimizer
    actually plans — keeps its intuitive semantics.  Emitted side by
    side: NOT IN against the nullable set (vanishes — the
    `not_in_vanishes` proof column), NOT IN against the NULL-filtered
    set, and NOT EXISTS, with the identity that the last two agree.
    Pairs with q_join_null_safe as the two NULL-semantics forks every
    CDC/dim pipeline must get right.

    100 TB shape: NOT EXISTS plans as a left-anti hash join (one
    shuffle or broadcast); NOT IN against a nullable column forces a
    null-aware anti join — Spark's NAAJ is a broadcast-only plan, the
    documented reason to IS NOT NULL the subquery at scale."""
    e = load_table(spark, sf_dir, "events")
    e.filter(F.col("event_type") == "click").select(
        "event_id",
        F.get_json_object("props", "$.k").cast("long").alias("k"),
    ).createOrReplaceTempView("nit_probe")
    k = F.get_json_object("props", "$.k").cast("long")
    e.filter(F.col("event_type") == "view").select(
        F.when(k % 7 == 0, F.lit(None).cast("long")).otherwise(k).alias("k")
    ).createOrReplaceTempView("nit_keyset")
    return spark.sql(
        """
        WITH clean AS (SELECT k FROM nit_keyset WHERE k IS NOT NULL),
        c AS (
            SELECT CAST((SELECT COUNT(*) FROM nit_probe) AS LONG) AS n_probe,
                   CAST((SELECT COUNT(*) FROM nit_keyset WHERE k IS NULL)
                        AS LONG) AS n_null_keys,
                   CAST((SELECT COUNT(*) FROM nit_probe
                         WHERE k NOT IN (SELECT k FROM nit_keyset))
                        AS LONG) AS n_not_in_nullable,
                   CAST((SELECT COUNT(*) FROM nit_probe
                         WHERE k NOT IN (SELECT k FROM clean)) AS LONG)
                       AS n_not_in_clean,
                   CAST((SELECT COUNT(*) FROM nit_probe p
                         WHERE NOT EXISTS (SELECT 1 FROM nit_keyset s
                                           WHERE s.k = p.k)) AS LONG)
                       AS n_not_exists
        )
        SELECT n_probe, n_null_keys, n_not_in_nullable, n_not_in_clean,
               n_not_exists,
               n_not_in_nullable = 0 AS not_in_vanishes,
               n_not_exists = n_not_in_clean AS anti_equals_clean_not_in
        FROM c
        """
    )


# ---------------------------------------------------------------------------
# Incremental view maintenance: JOIN-view delta rule
# ---------------------------------------------------------------------------

IVM_R_MOD, IVM_R_SLOT = 20, 7  # o_orderkey % 20 == 7 is the order delta
IVM_S_MOD, IVM_S_SLOT = 10, 3  # c_custkey % 10 == 3 is the customer delta

_IVM_JD_PART = """
    {name} AS (
        SELECT s.c_mktsegment AS seg, CAST(SUM(r.cents) AS BIGINT) AS c
        FROM {r} r JOIN {s} s ON r.o_custkey = s.c_custkey
        GROUP BY s.c_mktsegment
    )"""


@query(
    "q_ivm_join_delta",
    oracle=f"""
    WITH r_old AS (
        SELECT o_custkey, CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders WHERE o_orderkey % {IVM_R_MOD} <> {IVM_R_SLOT}
    ),
    r_new AS (
        SELECT o_custkey, CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders WHERE o_orderkey % {IVM_R_MOD} = {IVM_R_SLOT}
    ),
    s_old AS (
        SELECT c_custkey, c_mktsegment FROM customer
        WHERE c_custkey % {IVM_S_MOD} <> {IVM_S_SLOT}
    ),
    s_new AS (
        SELECT c_custkey, c_mktsegment FROM customer
        WHERE c_custkey % {IVM_S_MOD} = {IVM_S_SLOT}
    ),
    {_IVM_JD_PART.format(name="p_old", r="r_old", s="s_old")},
    {_IVM_JD_PART.format(name="p_dr", r="r_new", s="s_old")},
    {_IVM_JD_PART.format(name="p_ds", r="r_old", s="s_new")},
    {_IVM_JD_PART.format(name="p_drs", r="r_new", s="s_new")},
    p_full AS (
        SELECT c.c_mktsegment AS seg,
               CAST(SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS c
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY c.c_mktsegment
    )
    SELECT f.seg AS mktsegment,
           CAST(coalesce(p_old.c, 0) AS BIGINT) AS v_old_cents,
           CAST(coalesce(p_dr.c, 0) AS BIGINT) AS d_new_orders_cents,
           CAST(coalesce(p_ds.c, 0) AS BIGINT) AS d_new_customers_cents,
           CAST(coalesce(p_drs.c, 0) AS BIGINT) AS d_both_new_cents,
           CAST(coalesce(p_old.c, 0) + coalesce(p_dr.c, 0)
                + coalesce(p_ds.c, 0) + coalesce(p_drs.c, 0) AS BIGINT)
               AS v_incremental_cents,
           f.c AS v_full_cents,
           coalesce(p_old.c, 0) + coalesce(p_dr.c, 0)
               + coalesce(p_ds.c, 0) + coalesce(p_drs.c, 0) = f.c
               AS consistent
    FROM p_full f
    LEFT JOIN p_old USING (seg)
    LEFT JOIN p_dr USING (seg)
    LEFT JOIN p_ds USING (seg)
    LEFT JOIN p_drs USING (seg)
    """,
    tags=("relational", "ivm"),
)
def q_ivm_join_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance for a JOIN view — the delta rule
    Δ(R⋈S) = ΔR⋈S ∪ R⋈ΔS ∪ ΔR⋈ΔS that every streaming materialized
    view (Flink retract streams, Materialize, Delta Live Tables)
    applies instead of recomputing the join: the revenue-by-segment
    view over orders⋈customer is maintained through a simultaneous
    two-sided batch (new orders ΔR, new customers ΔS), each delta
    term aggregated separately, and the incremental sum is emitted
    NEXT TO the full recomputation with a per-segment `consistent`
    proof column — the differential hash then pins the delta algebra,
    not just the final totals. Complements q_ivm_merge_aggregates
    (aggregate-merge IVM) with the join half of the IVM story.

    100 TB shape: the whole point — the base⋈base term is the
    EXISTING view (v_old, maintained, never recomputed at scale; it
    is recomputed here only to serve as its own fixture), so an
    update costs ΔR⋈S + R⋈ΔS + ΔR⋈ΔS where every term has at least
    one DELTA side: broadcast the delta (batch-sized) against the
    base's join key, map-side combine the per-segment partials, and
    add — commutative-monoid addition, the same pooling law the
    engine's moment statistics use. The full-join column exists only
    as the proof oracle; a production maintainer drops it."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", _cents("o_totalprice").alias("cents")
    )
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    r_old = o.filter(f"o_orderkey % {IVM_R_MOD} != {IVM_R_SLOT}")
    r_new = o.filter(f"o_orderkey % {IVM_R_MOD} = {IVM_R_SLOT}")
    s_old = c.filter(f"c_custkey % {IVM_S_MOD} != {IVM_S_SLOT}")
    s_new = c.filter(f"c_custkey % {IVM_S_MOD} = {IVM_S_SLOT}")

    def part(r: DataFrame, s: DataFrame, alias: str, bcast: str) -> DataFrame:
        # broadcast the DELTA side — at scale the other side is the
        # base table and must not shuffle for a batch-sized update
        if bcast == "r":
            j = F.broadcast(r).join(s, r.o_custkey == s.c_custkey)
        elif bcast == "s":
            j = r.join(F.broadcast(s), r.o_custkey == s.c_custkey)
        else:
            j = r.join(s, r.o_custkey == s.c_custkey)
        return j.groupBy(F.col("c_mktsegment").alias("seg")).agg(
            F.sum("cents").alias(alias)
        )

    p_old = part(r_old, s_old, "v_old_cents", "none")
    p_dr = part(r_new, s_old, "d_new_orders_cents", "r")
    p_ds = part(r_old, s_new, "d_new_customers_cents", "s")
    p_drs = part(r_new, s_new, "d_both_new_cents", "r")
    p_full = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy(F.col("c_mktsegment").alias("seg"))
        .agg(F.sum("cents").alias("v_full_cents"))
    )
    z = F.lit(0).cast("long")
    inc = (
        F.coalesce(F.col("v_old_cents"), z)
        + F.coalesce(F.col("d_new_orders_cents"), z)
        + F.coalesce(F.col("d_new_customers_cents"), z)
        + F.coalesce(F.col("d_both_new_cents"), z)
    )
    return (
        p_full.join(F.broadcast(p_old), "seg", "left")
        .join(F.broadcast(p_dr), "seg", "left")
        .join(F.broadcast(p_ds), "seg", "left")
        .join(F.broadcast(p_drs), "seg", "left")
        .select(
            F.col("seg").alias("mktsegment"),
            F.coalesce(F.col("v_old_cents"), z).alias("v_old_cents"),
            F.coalesce(F.col("d_new_orders_cents"), z).alias(
                "d_new_orders_cents"
            ),
            F.coalesce(F.col("d_new_customers_cents"), z).alias(
                "d_new_customers_cents"
            ),
            F.coalesce(F.col("d_both_new_cents"), z).alias(
                "d_both_new_cents"
            ),
            inc.cast("long").alias("v_incremental_cents"),
            "v_full_cents",
            (inc == F.col("v_full_cents")).alias("consistent"),
        )
    )
