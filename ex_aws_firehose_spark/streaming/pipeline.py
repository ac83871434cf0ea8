"""Structured-Streaming delivery pipeline (SURVEY.md §2.5 + §2.1 sinks).

Mirrors the reference topology (main.tf:11-62):

    source (record files)  ≈ Firehose delivery stream
      └─ foreachBatch                      [Lambda transform invocation]
           ├─ primary sink (parquet)       ≈ extended_s3, 60 s buffer
           │                                 (main.tf:15-19)
           ├─ backup sink (raw records)    ≈ s3_backup_mode Enabled
           │                                 (main.tf:27-34)
           └─ error sink (failed records)  ≈ error log stream
                                             (main.tf:21-25, 301-304)

The per-batch transform is the *batch* pipeline (operators/firehose.py)
applied unchanged to each micro-batch — exactly the reference's model
of one Lambda invocation per record batch.  Checkpointing gives
at-least-once per sink upgraded to effectively-exactly-once for the
parquet sinks on replay (idempotent file commits per epoch).

At scale: the trigger interval plays the role of buffer_interval
(main.tf:18); each sink write is append-only partitioned parquet; no
state is kept on the driver. A micro-batch runs two single-stage jobs
(the backup write and the result-partitioned routed write) with no
shuffle; tests/test_plans.py::test_tri_sink_batch_two_jobs_no_shuffle
pins that shape.
"""

from __future__ import annotations

import os
from contextlib import contextmanager
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ex_aws_firehose_spark.caching import session_cached, tracked_mkdtemp
from ex_aws_firehose_spark.operators.firehose import (
    decode_chain,
    route,
    synthesize_records,
)

RECORDS_SCHEMA = T.StructType(
    [
        T.StructField("idx", T.LongType()),
        T.StructField("record_id", T.StringType()),
        T.StructField("data", T.StringType()),
    ]
)

N_SOURCE_FILES = 4

# Stateful streaming plans don't get AQE partition coalescing — every
# micro-batch runs (and, for stateful ops, checkpoints a state store
# for) exactly spark.sql.shuffle.partitions tasks. Size this to the
# stream's key cardinality, not the batch-side default: per-batch state
# here is tiny, and 32 partitions × N batches of state-store commit I/O
# dominates wall-clock. A production deployment raises it via env.
STREAM_SHUFFLE_PARTITIONS = int(
    os.environ.get("SPARK_GRAFT_STREAM_SHUFFLE", "8")
)


@contextmanager
def stream_shuffle(spark: SparkSession, n: int = STREAM_SHUFFLE_PARTITIONS):
    """Scope spark.sql.shuffle.partitions to a streaming run. The value
    is captured when the streaming query *starts*, so the override must
    wrap start()..processAllAvailable(); restored afterwards so batch
    plans keep the session default (where AQE coalesces instead)."""
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


@dataclass(frozen=True)
class SinkPaths:
    source: str
    routed: str
    primary: str
    backup: str
    errors: str
    checkpoint: str


def prepare_source_files(
    spark: SparkSession, sf_dir: str, root: str
) -> SinkPaths:
    """Write the synthesized record batch as N deterministic files so a
    file-source stream sees N micro-batches (maxFilesPerTrigger=1).
    Files are split by idx % N — stable across runs, unlike
    repartition's hash placement."""
    routed = os.path.join(root, "routed")
    paths = SinkPaths(
        source=os.path.join(root, "source"),
        routed=routed,
        # primary / error sinks are the partition subdirs of ONE
        # result-partitioned write per batch (2 write jobs per batch,
        # not 3 — the trim that matters when the per-batch data is
        # small and job overhead dominates). Readers see the same
        # directories-of-parquet contract as separate sinks.
        primary=os.path.join(routed, "result=Ok"),
        backup=os.path.join(root, "backup"),
        errors=os.path.join(routed, "result=ProcessingFailed"),
        checkpoint=os.path.join(root, "checkpoint"),
    )
    records = synthesize_records(spark, sf_dir)
    for i in range(N_SOURCE_FILES):
        records.filter(F.col("idx") % N_SOURCE_FILES == i).coalesce(1).write.mode(
            "append"
        ).parquet(paths.source)
    return paths


def tri_sink_batch(batch_df: DataFrame, batch_id: int, paths: SinkPaths) -> None:
    """One micro-batch = one reference Lambda invocation: decode, route,
    and fan out to the three sinks. The primary and error sinks are the
    two partitions of ONE result-partitioned write, and ``route`` is
    row-local, so a batch is exactly two single-stage jobs: the backup
    write, then the routed write, whose one stage decodes each record
    once, in the JVM, with no exchange, join or Python worker (per-batch
    data is tiny, so job count IS the cost)."""
    # Every routed row is Ok or ProcessingFailed, so the write needs no
    # filter on `result`: one would be pushed below the decode and run
    # the gunzip a second time.
    routed = route(decode_chain(batch_df)).select(
        "idx",
        "record_id",
        "payload",
        "kind",
        F.lit(batch_id).alias("batch_id"),
        "result",
    )
    # backup: raw source records verbatim (main.tf:27-34 semantics)
    batch_df.write.mode("append").parquet(paths.backup)
    routed.write.partitionBy("result").mode("append").parquet(paths.routed)


def run_stream(
    spark: SparkSession,
    paths: SinkPaths,
    trigger_seconds: int | None = None,
) -> int:
    """Run the delivery stream to completion over the prepared source
    files; returns the number of micro-batches executed. ``trigger``
    defaults to availableNow-style draining for tests; a production
    deployment passes 60 (≈ the reference's buffer_interval)."""
    reader = (
        spark.readStream.schema(RECORDS_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(paths.source)
    )
    writer = reader.writeStream.foreachBatch(
        lambda df, bid: tri_sink_batch(df, bid, paths)
    ).option("checkpointLocation", paths.checkpoint)
    if trigger_seconds:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    # No stream_shuffle override here: this pipeline is stateless (the
    # checkpoint holds only source offsets), and the per-batch transform
    # has no shuffle for the override to size.
    q = writer.start()
    q.processAllAvailable()
    n_batches = len(
        [p for p in q.recentProgress if p and p["numInputRows"] > 0]
    )
    q.stop()
    return n_batches


# Completed tri-sink runs are cached: the §2.1 sink queries all read from
# the same run's output directories.
@session_cached
def tri_sink_output(spark: SparkSession, sf_dir: str) -> SinkPaths:
    root = tracked_mkdtemp(prefix="firehose_stream_")
    paths = prepare_source_files(spark, sf_dir, root)
    run_stream(spark, paths)
    # A result partition no batch produced would leave its subdir
    # absent (partitioned writes create no empty partitions, unlike
    # the old write-per-sink); readers expect a readable directory.
    for d in (paths.primary, paths.errors):
        if not os.path.isdir(d):
            spark.createDataFrame(
                [],
                "idx long, record_id string, payload string,"
                " kind string, batch_id int",
            ).write.parquet(d)
    return paths
