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

Every stream in the package runs through the same three steps:
:func:`stage_batches` writes one file per intended micro-batch,
:func:`read_staged` reads them back one file per trigger, and
:func:`drain` runs the query under ``Trigger.AvailableNow`` until the
backlog is consumed (:func:`drain_to_memory` returns a memory sink's
rows). Versioned foreachBatch state is found on disk by
:func:`latest_version` and :func:`read_prior_state`.

At scale: one drain per schedule plays the role of buffer_interval
(main.tf:18); each sink write is append-only partitioned parquet; no
state is kept on the driver. A micro-batch runs two concurrent
single-stage jobs (the backup write and the result-partitioned routed
write) with no shuffle; tests/test_plans.py::test_tri_sink_batch_two_jobs_no_shuffle
pins that shape.
"""

from __future__ import annotations

import itertools
import os
from collections.abc import Callable, Iterable
from contextlib import contextmanager
from dataclasses import dataclass

from pyspark import InheritableThread
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

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
# dominates wall-clock. A stream with more keys passes a larger ``n``
# to :func:`drain`.
STREAM_SHUFFLE_PARTITIONS = 8


@contextmanager
def stream_shuffle(spark: SparkSession, n: int = STREAM_SHUFFLE_PARTITIONS):
    """Scope spark.sql.shuffle.partitions to a streaming run. The value
    is captured when the streaming query *starts*, so the override must
    wrap start()..awaitTermination(); restored afterwards so batch
    plans keep the session default (where AQE coalesces instead)."""
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


BATCH_EPOCH = 1_700_000_000  # mtime of the first staged batch file


def stage_batches(src: str, frames: Iterable[DataFrame]) -> str:
    """Append each frame to ``src`` as one ``coalesce(1)`` parquet file
    and stamp it ``BATCH_EPOCH + 10 * i``. The file source drains files
    in mtime order, and on a coarse-mtime filesystem two sequential
    writes can share a timestamp, leaving the random-UUID filename to
    decide which batch comes first; explicit, strictly increasing stamps
    make frame ``i`` micro-batch ``i``. Hidden and ``_``-prefixed files
    (checksums, ``_SUCCESS``) are left alone. Returns ``src``."""
    seen: set[str] = set()
    for i, frame in enumerate(frames):
        frame.coalesce(1).write.mode("append").parquet(src)
        files = {
            f
            for f in os.listdir(src)
            if f.endswith(".parquet") and not f.startswith((".", "_"))
        }
        stamp = BATCH_EPOCH + 10 * i
        for f in files - seen:
            os.utime(os.path.join(src, f), (stamp, stamp))
        seen = files
    return src


def read_staged(
    spark: SparkSession, schema: T.StructType | str, src: str
) -> DataFrame:
    """The file-source stream over a staged dir: one file per trigger,
    so each staged frame is one micro-batch."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )


_MEMORY_SINKS = itertools.count()


def drain(
    stream: DataFrame,
    sink: Callable[[DataFrame, int], None] | str,
    checkpoint: str | None = None,
    mode: str = "append",
    n: int = STREAM_SHUFFLE_PARTITIONS,
) -> StreamingQuery:
    """Run ``stream`` under ``Trigger.AvailableNow`` until everything
    available at start is consumed, and return the stopped query (its
    ``recentProgress`` and ``name`` stay readable).

    ``sink`` is a foreachBatch function, ``"memory"`` (a memory table
    named ``query.name``), ``"noop"``, or a directory for a parquet file
    sink. The query checkpoints to ``checkpoint``, or to a fresh temp
    dir when none is given; pass the same dir again to resume. ``n`` is
    the shuffle-partition count the query runs with (see
    :func:`stream_shuffle`). A failed batch re-raises here, after the
    query has stopped and the shuffle setting is restored."""
    sess = stream.sparkSession
    w = stream.writeStream.outputMode(mode).option(
        "checkpointLocation", checkpoint or tracked_mkdtemp(prefix="stream_ckpt_")
    )
    if callable(sink):
        w = w.foreachBatch(sink)
    elif sink == "memory":
        w = w.format("memory").queryName(f"mem_sink_{next(_MEMORY_SINKS)}")
    elif sink == "noop":
        w = w.format("noop")
    else:
        w = w.format("parquet").option("path", sink)
    with stream_shuffle(sess, n):
        q = w.trigger(availableNow=True).start()
        q.awaitTermination()
    return q


def drain_to_memory(
    stream: DataFrame,
    checkpoint: str | None = None,
    mode: str = "append",
    n: int = STREAM_SHUFFLE_PARTITIONS,
) -> DataFrame:
    """:func:`drain` into a memory sink and return the sink's rows. The
    sink's temp view is dropped before returning: the DataFrame still
    reads the sink, so its rows live as long as the DataFrame does, not
    in the session catalog until the session ends."""
    spark = stream.sparkSession
    name = drain(stream, "memory", checkpoint, mode, n).name
    out = spark.table(name)
    spark.catalog.dropTempView(name)
    return out


def state_versions(root: str, prefix: str) -> list[int]:
    """The N of every ``{prefix}<N>`` dir under ``root``, ascending."""
    if not os.path.isdir(root):
        return []
    return sorted(
        int(d[len(prefix):])
        for d in os.listdir(root)
        if d.startswith(prefix) and d[len(prefix):].isdigit()
    )


def latest_version(root: str, prefix: str, key: str) -> str:
    """The highest-numbered ``{prefix}<N>`` dir a versioned foreachBatch
    drain committed under ``root``. Raises, naming ``key``, when there
    is none: the staged source was empty or the sink never ran."""
    versions = state_versions(root, prefix)
    if not versions:
        raise RuntimeError(
            f"{key}: the drain committed no {prefix}<N> versions under "
            f"{root}; the staged source was empty or the sink never ran"
        )
    return os.path.join(root, f"{prefix}{versions[-1]}")


def read_prior_state(
    spark: SparkSession, root: str, prefix: str, batch_id: int, schema: str
) -> DataFrame:
    """The state a micro-batch builds on: the highest ``{prefix}<N>``
    version with N < ``batch_id``, or an empty frame of ``schema``. It
    is read from disk, not remembered, so a batch replayed after a crash
    starts from the same base and its overwrite commit is idempotent."""
    prior = [v for v in state_versions(root, prefix) if v < batch_id]
    if not prior:
        # createDataFrame alone plans as an RDD scan; limit(0) makes it
        # an empty LocalRelation, which the optimizer drops from the
        # caller's union, so batch 0 plans as if there were no state.
        return spark.createDataFrame([], schema).limit(0)
    return spark.read.parquet(os.path.join(root, f"{prefix}{prior[-1]}"))


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
    file-source stream sees N micro-batches. Files are split by
    idx % N — stable across runs, unlike repartition's hash placement."""
    routed = os.path.join(root, "routed")
    paths = SinkPaths(
        source=os.path.join(root, "source"),
        routed=routed,
        # primary / error sinks are the partition subdirs of ONE
        # result-partitioned write per batch (2 concurrent write jobs
        # per batch, not 3 — the trim that matters when the per-batch
        # data is small and job overhead dominates). Readers see the
        # same directories-of-parquet contract as separate sinks.
        primary=os.path.join(routed, "result=Ok"),
        backup=os.path.join(root, "backup"),
        errors=os.path.join(routed, "result=ProcessingFailed"),
        checkpoint=os.path.join(root, "checkpoint"),
    )
    records = synthesize_records(spark, sf_dir)
    stage_batches(
        paths.source,
        (
            records.filter(F.col("idx") % N_SOURCE_FILES == i)
            for i in range(N_SOURCE_FILES)
        ),
    )
    return paths


def tri_sink_batch(batch_df: DataFrame, batch_id: int, paths: SinkPaths) -> None:
    """One micro-batch = one reference Lambda invocation: decode, route,
    and fan out to the three sinks. The primary and error sinks are the
    two partitions of ONE result-partitioned write, and ``route`` is
    row-local, so a batch is exactly two single-stage jobs: the backup
    write and the routed write, whose one stage decodes each record
    once, in the JVM, with no exchange, join or Python worker (per-batch
    data is tiny, so job count IS the cost).

    The two jobs run concurrently: the backup write starts on an
    ``InheritableThread`` before the routed frame is built, and the
    routed write runs on the caller's thread. ``InheritableThread``
    (not a bare thread) copies the caller's Spark local properties, so
    the backup job keeps the micro-batch's job group and
    ``streaming.sql.batchId``. Both writes finish before this returns,
    and a failed backup write re-raises here, so the batch commits only
    when every sink has its rows."""
    failed: list[BaseException] = []

    def backup() -> None:
        # raw source records verbatim (main.tf:27-34 semantics)
        try:
            batch_df.write.mode("append").parquet(paths.backup)
        except BaseException as exc:
            failed.append(exc)

    writer = InheritableThread(target=backup)
    writer.start()
    try:
        # Every routed row is Ok or ProcessingFailed, so the write needs
        # no filter on `result`: one would be pushed below the decode
        # and run the gunzip a second time.
        routed = route(decode_chain(batch_df)).select(
            "idx",
            "record_id",
            "payload",
            "kind",
            F.lit(batch_id).alias("batch_id"),
            "result",
        )
        routed.write.partitionBy("result").mode("append").parquet(paths.routed)
    finally:
        writer.join()
    if failed:
        raise failed[0]


def run_stream(spark: SparkSession, paths: SinkPaths) -> int:
    """Drain the delivery stream over the prepared source files; returns
    the number of non-empty micro-batches executed (0 on a restart over
    a fully committed checkpoint)."""
    # The pipeline is stateless (the checkpoint holds only source
    # offsets) and the per-batch transform has no shuffle, so the
    # shuffle-partition scope drain applies changes nothing here.
    q = drain(
        read_staged(spark, RECORDS_SCHEMA, paths.source),
        lambda df, bid: tri_sink_batch(df, bid, paths),
        paths.checkpoint,
    )
    return len([p for p in q.recentProgress if p["numInputRows"] > 0])


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
