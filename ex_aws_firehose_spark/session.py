"""SparkSession factory with scale-appropriate defaults.

The same builder serves local testing (``local[N]``) and a real cluster
(where ``master`` is injected by spark-submit).  Settings chosen for the
100 TB design point:

- AQE on (runtime shuffle-partition coalescing, skew-join splitting,
  dynamic broadcast demotion) — the single most important knob when the
  same plans must run from sf0.001 to 100 TB.
- UTC session timezone — required for byte-identical timestamp semantics
  against the DuckDB oracle and for sane cross-cluster reproducibility.
- Arrow enabled — fast toPandas and pandas-UDF transport.
- shuffle partitions default to cores locally; on a cluster AQE coalesces
  from ``spark.sql.adaptive.coalescePartitions.initialPartitionNum``.
- a fork-free ``file:`` filesystem (``functions/LocalFs.java``) for
  ``local[...]`` masters. pyspark ships without ``libhadoop``, so the
  stock local filesystem starts a ``chmod`` process per file or directory
  it creates and a ``readlink`` process per checkpoint/offset-log rename:
  ~50 processes per delivery micro-batch at ~3.6 ms each. The jar is
  built (once per source version, see ``functions/codec.py``) and put on
  the driver classpath before the JVM starts, which only reaches the
  executors when they share the driver JVM, hence local masters only,
  and only when this call starts that JVM: under spark-submit, or after
  another session started the gateway in this process, the JVM already
  runs with its own classpath and keeps its own ``file:`` settings.
  Checksums, committers and layouts are the stock ``LocalFileSystem``'s.
"""

from __future__ import annotations

import json
import os
import re
from collections.abc import Mapping
from pathlib import Path

from pyspark import SparkContext
from pyspark.sql import SparkSession

from ex_aws_firehose_spark.functions import codec

LOCAL_FS_SOURCE = Path(codec.__file__).with_name("LocalFs.java")
_LOCAL_FS = "ex_aws_firehose_spark.functions.LocalFs"
# the launcher appends it to spark.driver.extraClassPath, whatever sets that
_DEFAULT_CLASSPATH = "spark.driver.defaultExtraClassPath"
# masters whose executors run inside the driver JVM (not local-cluster)
_LOCAL_MASTER = re.compile(r"local(\[[^\]]*\])?")


def launches_local_jvm(master: str) -> bool:
    """Whether building a session for ``master`` starts the driver JVM
    here, with its executors inside it: the only case in which a
    classpath setting reaches every JVM that opens ``file:`` paths.
    Under spark-submit python joins a running JVM through
    ``PYSPARK_GATEWAY_PORT``; after an earlier session in this process
    the gateway is already up, and a new session inherits the ``file:``
    settings that JVM was started with."""
    return (
        _LOCAL_MASTER.fullmatch(master) is not None
        and SparkContext._gateway is None
        and "PYSPARK_GATEWAY_PORT" not in os.environ
    )


def session_conf(
    extra_conf: Mapping[str, str] | None,
    env_conf: str | None,
    local_fs_jar: Path | None,
) -> dict[str, str]:
    """The settings applied over :func:`get_spark`'s defaults, in order:
    ``env_conf`` (``$SPARK_GRAFT_EXTRA_CONF``, a JSON object), then
    ``extra_conf``, then, given ``local_fs_jar``, the fork-free ``file:``
    filesystem. The jar goes on ``spark.driver.defaultExtraClassPath``,
    which the launcher appends to ``spark.driver.extraClassPath`` from
    any source (these settings, ``spark-defaults.conf``,
    ``--driver-class-path``), so none of those is replaced; a caller's
    ``spark.driver.defaultExtraClassPath`` given here is kept after the
    jar, one in ``spark-defaults.conf`` is overridden."""
    conf = {k: str(v) for k, v in json.loads(env_conf or "{}").items()}
    conf.update(extra_conf or {})
    if local_fs_jar is not None:
        classpath = [str(local_fs_jar), conf.get(_DEFAULT_CLASSPATH, "")]
        conf.update(
            {
                _DEFAULT_CLASSPATH: os.pathsep.join(p for p in classpath if p),
                "spark.hadoop.fs.file.impl": f"{_LOCAL_FS}$Local",
                "spark.hadoop.fs.AbstractFileSystem.file.impl": f"{_LOCAL_FS}$Checked",
            }
        )
    return conf


def get_spark(
    app_name: str = "ex-aws-firehose-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32)
    when no cluster master is supplied — on a real deployment spark-submit
    owns the master and this argument stays ``None``.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # Deterministic timestamp semantics (oracle parity + reproducibility).
        .config("spark.sql.session.timeZone", "UTC")
        # Adaptive execution: coalesce post-shuffle partitions, split skewed
        # joins, demote to broadcast at runtime. Essential at 100 TB.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # AQE coalescing keeps its stock floor (minPartitionSize=1m).
        # A 64k floor was A/B'd this round: it parallelized a few
        # compute-dense small-byte stages but multiplied task counts
        # across every tiny stage (q_dedup_minhash_weighted 4.5 → 24 s,
        # trainer preludes ~2×) — the one place manual parallelism
        # pays is the broadcast-join pair stages (tables.spread there
        # only); stock coalescing wins everywhere else; see
        # OPTIMIZATION_r14.md.
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Arrow for pandas-UDF / toPandas transport.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # Broadcast threshold: dims like region/nation/supplier always fit.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Keep partition files readable at local scale; at cluster scale the
        # default 128 MB target is right, so only the local default is set.
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # The events table carries TIMESTAMP(NANOS) parquet, which Spark 4
        # rejects by default; read as long and normalize in the loader.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.legacy.createHiveTableByDefault", "false")
    )
    # Deployment-specific overrides without code changes: a JSON object of
    # conf key -> value (e.g. cluster advisory partition sizes). Applied
    # after the defaults above, before caller-supplied extra_conf.
    jar = codec.build_jar(LOCAL_FS_SOURCE) if launches_local_jvm(master) else None
    conf = session_conf(extra_conf, os.environ.get("SPARK_GRAFT_EXTRA_CONF"), jar)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
