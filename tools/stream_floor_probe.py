"""Per-key-class Structured-Streaming MACHINERY floor (VERDICT r12 ask
#4): time each streaming shape with a (near-)EMPTY source so the
measurement is pure per-query fixed cost — query start, checkpoint dir
creation, offset/commit log writes, state-store lifecycle, query stop —
with no data-proportional work. Every shape is staged, read and
drained by streaming/pipeline.py's ``stage_batches``, ``read_staged``
and ``drain``, so the floor is the engine's own. Three repetitions per
shape, median reported. The floor table goes to BASELINE.md: stream_total is
re-targeted against SUM(class floor x class population) instead of the
round-8 guess the target was carried from.

Usage: python tools/stream_floor_probe.py
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from ex_aws_firehose_spark.session import get_spark
from ex_aws_firehose_spark.streaming.pipeline import drain, read_staged, stage_batches

REPS = 3


def main() -> None:
    spark = get_spark(app_name="stream-floor-probe")
    spark.sparkContext.setLogLevel("ERROR")
    root = tempfile.mkdtemp(prefix="stream_floor_")

    # Tiny sources staged the way every file-replay key stages them:
    # src3 = 3 single-row files (3 micro-batches, so per-batch machinery
    # dominates), src1 = the same 3 rows in one file (1 micro-batch).
    rows = spark.range(3).select(
        F.col("id").alias("k"),
        F.expr("timestamp '2024-01-01 00:00:00' + make_interval(0,0,0,0,0,0,id)").alias("ts"),
        F.lit(1.0).alias("v"),
    )
    src3 = stage_batches(
        os.path.join(root, "src3"), [rows.filter(F.col("k") == i) for i in range(3)]
    )
    src1 = stage_batches(os.path.join(root, "src1"), [rows])
    schema = "k long, ts timestamp, v double"

    def rd(src: str = src3):
        return read_staged(spark, schema, src)

    def ckpt():
        return tempfile.mkdtemp(prefix="ck_", dir=root)

    def stateful_agg():
        return rd().groupBy("k").count(), "memory", "complete"

    def stream_stream_join():
        a = rd().withWatermark("ts", "0 seconds")
        b = rd().withWatermark("ts", "0 seconds")
        j = a.alias("a").join(
            b.alias("b"),
            (F.col("a.k") == F.col("b.k")) & (F.col("a.ts") == F.col("b.ts")),
        ).select("a.k")
        return j, "memory", "append"

    def apply_in_pandas_with_state():
        from pyspark.sql.streaming.state import GroupStateTimeout

        def fn(key, pdfs, state):
            import pandas as pd

            n = sum(len(p) for p in pdfs)
            yield pd.DataFrame({"k": [key[0]], "n": [n]})

        out = rd().groupBy("k").applyInPandasWithState(
            fn, "k long, n long", "k long, n long", "update",
            GroupStateTimeout.NoTimeout,
        )
        return out, "memory", "update"

    def dedup_watermark():
        d = rd().withWatermark("ts", "1 hour").dropDuplicates(["k", "ts"])
        return d, "memory", "append"

    # Each shape: (stream, sink, output mode), drained by the engine's
    # own drain — the same trigger, checkpointing and shuffle-partition
    # regime the keys use: 8 partitions by default, 4 for stream-stream
    # joins (state stores per partition are the dominant machinery
    # cost — BASELINE.md round-12 notes).
    shapes = {
        "map_only_1batch": lambda: (rd(src1), lambda df, bid: df.count(), "append"),
        "map_only_3batch": lambda: (rd(), lambda df, bid: df.count(), "append"),
        "stateful_agg_3batch": stateful_agg,
        "stream_stream_join_3batch": stream_stream_join,
        "apply_in_pandas_state_3batch": apply_in_pandas_with_state,
        "dedup_watermark_3batch": dedup_watermark,
    }

    def run(shape, n):
        stream, sink, mode = shape()
        t0 = time.perf_counter()
        drain(stream, sink, ckpt(), mode=mode, n=n)
        return time.perf_counter() - t0

    results = {}
    for name, shape in shapes.items():
        n = 4 if "stream_stream" in name else 8
        # one untimed warm-up of the shape class, then REPS timed
        run(shape, n)
        ts = [run(shape, n) for _ in range(REPS)]
        results[name] = {
            "median_s": round(statistics.median(ts), 2),
            "runs": [round(t, 2) for t in ts],
        }
        print(name, results[name], flush=True)
    print(json.dumps(results))
    spark.stop()


if __name__ == "__main__":
    main()
