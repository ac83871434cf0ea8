"""Streaming mechanics tests (SURVEY.md §5.2(4)): native watermark
semantics, session windows, and checkpoint-restart idempotence — the
Structured-Streaming behaviors that the oracle-checked queries can't
capture deterministically."""

from __future__ import annotations

import os
import tempfile

import pytest
from pyspark.sql import functions as F

from ex_aws_firehose_spark.streaming.pipeline import (
    BATCH_EPOCH,
    drain,
    latest_version,
    prepare_source_files,
    read_staged,
    run_stream,
    stage_batches,
    state_versions,
)

TS_SCHEMA = "event_id long, ts timestamp, user_id long, value double"


def _write_batch(spark, path, rows):
    spark.createDataFrame(rows, TS_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(path)


def test_native_watermark_drops_late_rows(spark):
    """withWatermark + append-mode windowed agg: a window is emitted
    once the watermark passes its end, and late rows behind the
    watermark do not resurrect it."""
    import datetime as dt

    root = tempfile.mkdtemp(prefix="wm_test_")
    src, out = os.path.join(root, "src"), "wm_out_table"
    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)

    def ts(minutes):
        return t0 + dt.timedelta(minutes=minutes)

    # batch 1: two events in window [00:00, 00:10), one at 00:25
    _write_batch(
        spark,
        src,
        [(1, ts(1), 1, 1.0), (2, ts(2), 1, 1.0), (3, ts(25), 1, 1.0)],
    )
    stream = (
        spark.readStream.schema(TS_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
        .withWatermark("ts", "5 minutes")
        .groupBy(F.window("ts", "10 minutes").alias("w"))
        .agg(F.count("*").alias("n"))
    )
    q = (
        stream.writeStream.outputMode("append")
        .format("memory")
        .queryName(out)
        .option("checkpointLocation", os.path.join(root, "ckpt"))
        .start()
    )
    q.processAllAvailable()
    # watermark after batch 1 = 00:25 - 5 min = 00:20 > 00:10 → the
    # first window finalizes; a late row at 00:03 must be dropped.
    _write_batch(spark, src, [(4, ts(3), 1, 1.0)])
    q.processAllAvailable()
    # advance watermark far enough to flush the remaining window too
    _write_batch(spark, src, [(5, ts(60), 1, 1.0)])
    q.processAllAvailable()
    q.stop()

    rows = {
        r["w"]["start"].minute: r["n"]
        for r in spark.table(out).collect()
    }
    assert rows[0] == 2  # late event 4 did NOT bump this to 3
    assert rows[20] == 1


def test_streaming_session_window_append(spark):
    """Stateful session windows under append mode: sessions close only
    when the watermark passes gap-end; a second batch within the gap
    extends the session instead of opening a new one."""
    import datetime as dt

    root = tempfile.mkdtemp(prefix="sess_test_")
    src, out = os.path.join(root, "src"), "sess_out_table"
    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)

    def ts(minutes):
        return t0 + dt.timedelta(minutes=minutes)

    _write_batch(spark, src, [(1, ts(0), 7, 1.0), (2, ts(5), 7, 1.0)])
    stream = (
        spark.readStream.schema(TS_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
        .withWatermark("ts", "1 minute")
        .groupBy(F.session_window("ts", "10 minutes").alias("w"), "user_id")
        .agg(F.count("*").alias("n"))
    )
    q = (
        stream.writeStream.outputMode("append")
        .format("memory")
        .queryName(out)
        .option("checkpointLocation", os.path.join(root, "ckpt"))
        .start()
    )
    q.processAllAvailable()
    # extends the open session (9 < 5+10), then a far event closes it
    _write_batch(spark, src, [(3, ts(9), 7, 1.0)])
    q.processAllAvailable()
    _write_batch(spark, src, [(4, ts(120), 7, 1.0)])
    q.processAllAvailable()
    q.stop()

    done = spark.table(out).collect()
    assert len(done) == 1  # only the closed session emitted
    assert done[0]["n"] == 3  # all three merged into one session


def test_checkpoint_restart_no_duplicates(spark, smoke_dir):
    """Restarting the tri-sink delivery stream over a committed
    checkpoint re-executes nothing (exactly-once sink contents)."""
    root = tempfile.mkdtemp(prefix="ckpt_test_")
    paths = prepare_source_files(spark, smoke_dir, root)
    n1 = run_stream(spark, paths)
    count1 = spark.read.parquet(paths.primary).count()
    n2 = run_stream(spark, paths)  # restart, no new files
    count2 = spark.read.parquet(paths.primary).count()
    assert n1 >= 1
    assert n2 == 0
    assert count1 == count2
    distinct = (
        spark.read.parquet(paths.primary).select("record_id").distinct().count()
    )
    assert distinct == count1


# ---------------------------------------------------------------------------
# Crash-replay fault injection (SURVEY §2.1 delivery semantics; reference
# retry contract lambda/main.py:101-128). The batch-{id} overwrite sinks
# (q_stream_available_now, q_stream_dedup_minhash verdict sink) and the
# copy-on-write upsert state (q_stream_upsert) claim replay idempotence:
# a failure between the sink write and the checkpoint commit replays the
# batch, and the rewrite must leave output identical to a no-crash run.
# These tests actually inject that failure and restart from the same
# checkpoint.
# ---------------------------------------------------------------------------


def _stage_slices(spark, src, n_files=3, rows_per=5):
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)
    for i in range(n_files):
        _write_batch(
            spark,
            src,
            [
                (
                    i * rows_per + j,
                    t0 + dt.timedelta(minutes=i * rows_per + j),
                    i,
                    float(j),
                )
                for j in range(rows_per)
            ],
        )


def test_crash_replay_batch_id_sink(spark):
    """Kill the query AFTER a micro-batch's sink write but BEFORE its
    checkpoint commit; restart from the same checkpoint. Spark replays
    the uncommitted batch, the overwrite-mode batch-{id} subdir is
    rewritten in place, and the drained output equals the no-crash run
    (row count, key set, no duplicates) — the exactly-once contract the
    streaming keys' docstrings claim."""
    root = tempfile.mkdtemp(prefix="crash_sink_")
    src, out = os.path.join(root, "src"), os.path.join(root, "out")
    crash_flag = os.path.join(root, "crash_armed")
    open(crash_flag, "w").close()
    _stage_slices(spark, src)

    def sink(batch_df, batch_id):
        # The sink write lands FIRST ...
        batch_df.write.mode("overwrite").parquet(
            os.path.join(out, f"batch-{batch_id}")
        )
        # ... then the injected fault fires before foreachBatch returns,
        # i.e. before Spark commits this batch to the checkpoint log.
        if batch_id == 1 and os.path.exists(crash_flag):
            os.remove(crash_flag)
            raise RuntimeError("injected crash: sink written, commit pending")

    def start():
        return (
            spark.readStream.schema(TS_SCHEMA)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
            .writeStream.foreachBatch(sink)
            .trigger(availableNow=True)
            .option("checkpointLocation", os.path.join(root, "ckpt"))
            .start()
        )

    q = start()
    with pytest.raises(Exception, match="injected crash|Query .* terminated"):
        q.awaitTermination()
    # batch-1's sink output exists on disk even though the batch never
    # committed — the dangerous half-written window the replay must heal.
    assert os.path.isdir(os.path.join(out, "batch-1"))

    q2 = start()  # same checkpoint → replays batch 1, then drains batch 2
    q2.awaitTermination()

    got = spark.read.option("recursiveFileLookup", "true").parquet(out)
    assert got.count() == 15  # every staged row landed
    assert got.select("event_id").distinct().count() == 15  # exactly once
    ids = {r["event_id"] for r in got.select("event_id").collect()}
    assert ids == set(range(15))


@pytest.mark.parametrize("crash_point", ["before_commit", "after_commit"])
def test_crash_replay_upsert_state(spark, crash_point):
    """q_stream_upsert's merge (``_last_writer_wins_batch``) under fault
    injection, run the way the key runs it (``read_staged`` + ``drain``),
    at both crash windows of batch 1: before it commits state_v1, and
    after that commit but before the checkpoint commit. The restarted
    drain replays batch 1, which rebuilds from the prior version on
    disk (state_v0) and overwrites state_v1, so the final image is the
    batch-computed truth either way."""
    import datetime as dt

    from ex_aws_firehose_spark.streaming.queries import (
        _last_writer_wins_batch,
    )

    root = tempfile.mkdtemp(prefix="crash_upsert_")
    crash_flag = os.path.join(root, "crash_armed")
    open(crash_flag, "w").close()
    t0 = dt.datetime(2024, 1, 1)
    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double"
    )
    # Two files -> two micro-batches; keys 1 and 2 update in batch 1.
    src = stage_batches(
        os.path.join(root, "src"),
        [
            spark.createDataFrame(rows, schema)
            for rows in (
                [(1, t0, 1, "a", 10.0),
                 (2, t0 + dt.timedelta(minutes=1), 2, "a", 20.0),
                 (3, t0 + dt.timedelta(minutes=2), 3, "a", 30.0)],
                [(4, t0 + dt.timedelta(minutes=3), 1, "b", 40.0),
                 (5, t0 + dt.timedelta(minutes=4), 2, "b", 50.0)],
            )
        ],
    )

    def crash_here(point, batch_id):
        if point == crash_point and batch_id == 1 and os.path.exists(crash_flag):
            os.remove(crash_flag)
            raise RuntimeError(f"injected crash: {point}")

    def upsert(batch_df, batch_id):
        crash_here("before_commit", batch_id)
        _last_writer_wins_batch(spark, root, batch_df, batch_id)
        crash_here("after_commit", batch_id)

    def run():
        drain(read_staged(spark, schema, src), upsert, os.path.join(root, "ckpt"))

    with pytest.raises(Exception, match="injected crash"):
        run()
    assert not os.path.exists(crash_flag), "crash hook never fired"
    assert os.path.isdir(os.path.join(root, "state_v1")) == (
        crash_point == "after_commit"
    )
    run()  # same checkpoint -> batch 1 replays

    last = latest_version(root, "state_v", "test_upsert")
    assert last == os.path.join(root, "state_v1")
    image = {
        r["user_id"]: r["last_cents"] for r in spark.read.parquet(last).collect()
    }
    # Batch truth: last writer per key by event time.
    assert image == {1: 4000, 2: 5000, 3: 3000}


def test_memory_sink_key_drops_its_temp_view(spark, smoke_dir):
    """A memory-sink key leaves no ``mem_sink_*`` view in the session
    catalog once it returns, and the DataFrame it returns still reads
    the sink: its rows match the key's oracle."""
    from ex_aws_firehose_spark.registry import REGISTRY, load_all_operators
    from ex_aws_firehose_spark.testing import compare_frames, duckdb_connection

    load_all_operators()
    q = REGISTRY["q_stream_tumbling_agg"]
    out = q.fn(spark, smoke_dir)
    views = [
        t.name
        for t in spark.catalog.listTables()
        if t.name.startswith("mem_sink_")
    ]
    assert views == []
    con = duckdb_connection(smoke_dir)
    try:
        want = con.execute(q.oracle).df()
    finally:
        con.close()
    res = compare_frames(q.key, out.toPandas(), want)
    assert res.ok, res.detail


@pytest.mark.parametrize("provider", ["hdfs", "rocksdb"])
def test_crash_replay_state_store_rollback(spark, provider):
    """The state-store path (applyInPandasWithState) under the same
    torn-batch fault: the sink write of micro-batch 1 lands, then the
    query dies before the batch commits. On restart the state store
    must REWIND to the batch-0 snapshot and recompute batch 1 — if the
    replayed batch folded into post-batch-1 state instead, the running
    counters would double-count the replayed rows. Exercised under BOTH
    providers: the default HDFS-backed snapshot store and RocksDB with
    changelog checkpointing (whose recovery path — base snapshot +
    changelog replay — is entirely different machinery)."""
    import datetime as dt

    from pyspark.sql.streaming.state import GroupStateTimeout

    conf_key = "spark.sql.streaming.stateStore.providerClass"
    old_provider = spark.conf.get(conf_key, None)
    if provider == "rocksdb":
        spark.conf.set(
            conf_key,
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider",
        )
    root = tempfile.mkdtemp(prefix=f"crash_state_{provider}_")
    src, out = os.path.join(root, "src"), os.path.join(root, "out")
    crash_flag = os.path.join(root, "crash_armed")
    open(crash_flag, "w").close()
    t0 = dt.datetime(2024, 1, 1)
    # 3 files; users 1..3 appear in every file → true count is 3 each.
    for i in range(3):
        _write_batch(
            spark,
            src,
            [
                (i * 10 + u, t0 + dt.timedelta(minutes=i), u, 1.0)
                for u in (1, 2, 3)
            ],
        )

    def update_fn(key, pdfs, state):
        import pandas as pd

        n = state.get[0] if state.exists else 0
        for pdf in pdfs:
            n += len(pdf)
        state.update((n,))
        yield pd.DataFrame({"user_id": [key[0]], "n_events": [n]})

    def sink(batch_df, batch_id):
        batch_df.write.mode("overwrite").parquet(
            os.path.join(out, f"batch-{batch_id}")
        )
        if batch_id == 1 and os.path.exists(crash_flag):
            os.remove(crash_flag)
            raise RuntimeError("injected crash: sink written, commit pending")

    def start():
        counted = (
            spark.readStream.schema(TS_SCHEMA)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
            .groupBy("user_id")
            .applyInPandasWithState(
                update_fn,
                outputStructType="user_id long, n_events long",
                stateStructType="n long",
                outputMode="update",
                timeoutConf=GroupStateTimeout.NoTimeout,
            )
        )
        return (
            counted.writeStream.foreachBatch(sink)
            .outputMode("update")
            .trigger(availableNow=True)
            .option("checkpointLocation", os.path.join(root, "ckpt"))
            .start()
        )

    try:
        q = start()
        with pytest.raises(
            Exception, match="injected crash|Query .* terminated"
        ):
            q.awaitTermination()
        q2 = start()
        q2.awaitTermination()
    finally:
        if old_provider is None:
            spark.conf.unset(conf_key)
        else:
            spark.conf.set(conf_key, old_provider)

    got = spark.read.option("recursiveFileLookup", "true").parquet(out)
    final = {
        r["user_id"]: r["n_events"]
        for r in got.groupBy("user_id")
        .agg(F.max("n_events").alias("n_events"))
        .collect()
    }
    # double-applied replay would report 4 for every user
    assert final == {1: 3, 2: 3, 3: 3}


def test_crash_replay_span_index(spark, smoke_dir):
    """Crash-replay contract for the incremental span-dedup state: kill
    the query AFTER batch 1's verdict write AND index append but BEFORE
    its checkpoint commit, restart from the same checkpoint. The replay
    re-appends batch 1's shingles (now duplicated in the index) and
    overwrites its verdict subdir — and because index membership is a
    SET property (p_doc < doc is unaffected by duplicate rows) the
    drained verdicts must equal a no-crash run exactly."""
    import tempfile as _tf

    from pyspark.sql import functions as F

    from ex_aws_firehose_spark.streaming.queries import _span_dedup_batch
    from ex_aws_firehose_spark.tables import load_table

    d = load_table(spark, smoke_dir, "documents").select("doc_id", "text")
    n = d.count()
    cuts = (n // 3, 2 * (n // 3))

    def stage(root):
        doc = F.col("doc_id")
        return stage_batches(
            os.path.join(root, "src"),
            [
                d.filter(doc < cuts[0]),
                d.filter((doc >= cuts[0]) & (doc < cuts[1])),
                d.filter(doc >= cuts[1]),
            ],
        )

    def run(root, crash_on_batch=None):
        src = stage(root)
        idx_dir = os.path.join(root, "idx")
        out_dir = os.path.join(root, "out")
        crash_flag = os.path.join(root, "crash_armed")
        if crash_on_batch is not None:
            open(crash_flag, "w").close()

        def sink(batch_df, batch_id):
            _span_dedup_batch(spark, idx_dir, out_dir, batch_df, batch_id)
            if batch_id == crash_on_batch and os.path.exists(crash_flag):
                os.remove(crash_flag)
                raise RuntimeError(
                    "injected crash: state written, commit pending"
                )

        def start():
            return (
                spark.readStream.schema("doc_id long, text string")
                .option("maxFilesPerTrigger", "1")
                .parquet(src)
                .writeStream.foreachBatch(sink)
                .trigger(availableNow=True)
                .option("checkpointLocation", os.path.join(root, "ckpt"))
                .start()
            )

        q = start()
        if crash_on_batch is not None:
            with pytest.raises(
                Exception, match="injected crash|Query .* terminated"
            ):
                q.awaitTermination()
            q = start()
        q.awaitTermination()
        return {
            (r.doc_id, r.dup_tokens)
            for r in spark.read.option("recursiveFileLookup", "true")
            .parquet(out_dir)
            .collect()
        }

    clean = run(_tf.mkdtemp(prefix="span_clean_"))
    crashed = run(_tf.mkdtemp(prefix="span_crash_"), crash_on_batch=1)
    assert clean == crashed
    assert len(clean) == n


def test_crash_replay_ivm_join_state(spark, smoke_dir):
    """Replay-heal contract of q_stream_ivm_join_delta: inject a crash
    in batch 1 AFTER the state_v1 / deltas write but BEFORE the
    checkpoint commit, restart from the same checkpoint+root. The
    replayed batch rediscovers its prior state from DISK (highest
    state_v<i> with i < batch_id — state_v0, never the half-committed
    state_v1) and its copy-on-write overwrite is idempotent, so the
    healed final view equals the one-shot orders⋈customer aggregate."""
    from ex_aws_firehose_spark.operators.relational import _cents
    from ex_aws_firehose_spark.streaming.queries import _ivm_join_stream_run
    from ex_aws_firehose_spark.tables import load_table

    root = tempfile.mkdtemp(prefix="crash_ivm_join_")
    crash_flag = os.path.join(root, "crash_armed")
    open(crash_flag, "w").close()

    with pytest.raises(Exception, match="injected crash|terminated"):
        _ivm_join_stream_run(spark, smoke_dir, root, crash_flag=crash_flag)
    assert not os.path.exists(crash_flag), "crash hook never fired"
    # restart: same checkpoint -> batch 1 replays, then batch 2 drains
    _ivm_join_stream_run(spark, smoke_dir, root, crash_flag=crash_flag)

    last = latest_version(root, "state_v", "test_ivm_join")
    assert last == os.path.join(root, "state_v2")
    healed = {
        (r.seg, r.cents)
        for r in spark.read.parquet(last)
        .filter(F.col("tbl") == "v")
        .collect()
    }
    o = load_table(spark, smoke_dir, "orders").select(
        F.col("o_custkey").alias("custkey"),
        _cents("o_totalprice").alias("cents"),
    )
    c = load_table(spark, smoke_dir, "customer").select(
        F.col("c_custkey").alias("custkey"), "c_mktsegment"
    )
    truth = {
        (r.c_mktsegment, r.s)
        for r in o.join(c, "custkey")
        .groupBy("c_mktsegment")
        .agg(F.sum("cents").alias("s"))
        .collect()
    }
    assert healed == truth


def test_stage_batches_stamps_one_file_per_frame(spark, tmp_path):
    """stage_batches (ADVICE r12): frame i lands as exactly one parquet
    part file stamped BATCH_EPOCH + 10*i, a later frame leaves earlier
    stamps intact, and hidden/metadata files are never stamped — the
    property that makes staged-batch drain order deterministic on a
    coarse-mtime filesystem. The drain then sees frame i as batch i."""
    import pyarrow.parquet as pq

    src = stage_batches(
        str(tmp_path / "src"), [spark.range(0, 1), spark.range(1, 3)]
    )
    names = os.listdir(src)
    parts = [
        f for f in names if f.endswith(".parquet") and not f.startswith((".", "_"))
    ]
    assert len(parts) == 2
    stamps = {
        pq.read_metadata(os.path.join(src, f)).num_rows: os.path.getmtime(
            os.path.join(src, f)
        )
        for f in parts
    }
    assert stamps == {1: BATCH_EPOCH, 2: BATCH_EPOCH + 10}
    meta = [f for f in names if f.startswith((".", "_"))]
    assert "_SUCCESS" in meta
    assert all(
        os.path.getmtime(os.path.join(src, f)) > BATCH_EPOCH + 10 for f in meta
    )

    batches = []
    drain(
        read_staged(spark, "id long", src),
        lambda df, bid: batches.append((bid, df.count())),
    )
    assert batches == [(0, 1), (1, 2)]


def test_latest_version_raises_naming_key_when_drain_committed_nothing(
    spark, tmp_path
):
    """A versioned drain over an empty staged source commits nothing;
    reading its latest state must fail loudly and name the key."""
    src = tmp_path / "src"
    src.mkdir()
    root = str(tmp_path / "state")
    drain(
        read_staged(spark, "id long", str(src)),
        lambda df, bid: df.write.parquet(os.path.join(root, f"state_v{bid}")),
    )
    assert not os.path.exists(root)
    with pytest.raises(RuntimeError, match="q_empty_drain"):
        latest_version(root, "state_v", "q_empty_drain")


def test_latest_version_orders_numerically(tmp_path):
    """v10 beats v9 (a string max would pick v9); dirs whose suffix is
    not a number, and other prefixes, are not versions."""
    for d in ("state_v2", "state_v9", "state_v10", "state_vx", "ckpt"):
        (tmp_path / d).mkdir()
    assert state_versions(str(tmp_path), "state_v") == [2, 9, 10]
    assert latest_version(str(tmp_path), "state_v", "k") == str(
        tmp_path / "state_v10"
    )


def test_drain_reraises_batch_failure_and_restores_shuffle(spark, tmp_path):
    """A foreachBatch function that raises fails the drain with that
    error, the batch ran with drain's shuffle-partition count, and the
    session's own setting is back afterwards."""
    from pyspark.errors import StreamingQueryException

    src = stage_batches(str(tmp_path / "src"), [spark.range(0, 2)])
    before = spark.conf.get("spark.sql.shuffle.partitions")
    n = int(before) + 1
    seen = []

    def boom(df, bid):
        seen.append(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
        raise RuntimeError("boom in foreachBatch")

    with pytest.raises(StreamingQueryException, match="boom in foreachBatch"):
        drain(read_staged(spark, "id long", src), boom, n=n)
    assert seen == [str(n)]
    assert spark.conf.get("spark.sql.shuffle.partitions") == before


def test_graph_upsert_crash_replay_heals(spark, sf_dir):
    """q_stream_graph_upsert replay-heal contract: kill the stream
    AFTER micro-batch 0's index append (delta_v0 + added_v0 on disk)
    but BEFORE its serve write and checkpoint commit — the dangerous
    half-ingested window. Restart from the same checkpoint: Spark
    replays batch 0, the deterministic frozen-descent insert
    recomputes the identical delta, the overwrite commits are
    idempotent, and the final drained serve equals the one-shot batch
    add key bit-for-bit (arrival-order independence + heal)."""
    import tempfile

    from ex_aws_firehose_spark.operators.llm import q_sim_graph_ann_add
    from ex_aws_firehose_spark.streaming.queries import _graph_upsert_stream_run

    root = tempfile.mkdtemp(prefix="graph_upsert_heal_")
    crash = os.path.join(root, "crash_armed")
    open(crash, "w").close()
    with pytest.raises(Exception, match="injected crash|terminated"):
        _graph_upsert_stream_run(spark, sf_dir, root, crash_flag=crash)
    assert os.path.isdir(os.path.join(root, "delta_v0"))
    assert not os.path.isdir(os.path.join(root, "serve_v0"))

    _graph_upsert_stream_run(spark, sf_dir, root)  # same checkpoint
    healed = spark.read.parquet(
        latest_version(root, "serve_v", "q_stream_graph_upsert")
    )
    want = q_sim_graph_ann_add(spark, sf_dir)
    assert sorted(map(tuple, healed.collect())) == sorted(
        map(tuple, want.collect())
    )
