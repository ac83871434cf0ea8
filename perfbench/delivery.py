"""``delivery``: the paper's own path as an open loop.

Set-up pre-encodes Firehose record files in ``RECORDS_SCHEMA`` (``idx,
record_id, data = base64(gzip(envelope json))``): DATA_MESSAGE records
with 10 log events (every seventh containing ``Hello``), CONTROL_MESSAGE
records, bare-string re-ingested payloads and corrupt base64 records,
in the shares the package's own fixtures use (``operators.firehose``).
During the run a generator thread moves one file into the source
directory every ``1 / FILE_RATE`` seconds (atomic rename) and stamps it
with its due time, whether or not the stream keeps up. The stream is
``run_stream``'s reader (file source, one file per trigger, default
trigger) calling ``streaming.pipeline.tri_sink_batch`` per micro-batch
through a timing wrapper. A record's
latency runs from its file's due time to the return of the wrapper for
the batch that read that file (from the file source's checkpoint log).

Every generated record is then checked against ``backup/``,
``result=Ok`` and ``result=ProcessingFailed`` by a hash of its fields.
"""

from __future__ import annotations

import base64
import gzip
import hashlib
import json
import os
import random
import statistics
import sys
import threading
import time
from contextlib import nullcontext
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.dataset as ds
import pyarrow.parquet as pq

import tracing
from common import Context, Result, host_header, median_of, memory_peaks_mb
from common import peak_mem_mb, percentile, start_session, stop_session

# Offered load: about half the back-to-back drain rate of warm batches on
# a 4-core host slowed by other guests (~1.7 s per 100-record trigger),
# so a slowdown shows first as latency, then as backlog. At 0.3 files/s
# such a host already queued.
FILE_RATE = 0.25  # files per second
RECORDS_PER_FILE = 100
# Warm-up files are released together and drained back to back after
# set-up, before the measured load. The first batch takes ~10 s (Python
# workers, code generation); the next ones fall from ~2.4 s to ~1.5 s by
# the eighth as the JVM compiles the hot paths. With four warm-up files
# the measured batches were still on that slope, and the median latency
# spread 0.28 over five seeds.
WARMUP_FILES = 8
SETUP_REPEATS = 3
DRAIN_TIMEOUT_S = 60.0
WORDS = "alpha beta gamma delta error signup purchase view click user ok".split()


@dataclass(frozen=True)
class Expected:
    idx: int
    record_id: str
    data: str
    result: str  # "Ok" | "ProcessingFailed"
    payload: str | None


def _envelope(
    fh, rng: random.Random, rec_no: int, kind: str
) -> tuple[str, str | None]:
    """The envelope json of a DATA_MESSAGE or CONTROL_MESSAGE record and
    the payload the pipeline must deliver for it (None: ProcessingFailed).
    Events follow ``synthesize_records``: ``EVENTS_PER_RECORD`` per
    record, ids ``rec_no * EVENTS_PER_RECORD + k``, and a ``Hello``
    prefix on every seventh event id."""
    events = []
    if kind == "data":
        for k in range(fh.EVENTS_PER_RECORD):
            eid = rec_no * fh.EVENTS_PER_RECORD + k
            body = " ".join(rng.choices(WORDS, k=rng.randint(2, 6)))
            events.append(
                {
                    "id": str(eid).zfill(56),
                    "timestamp": 1_704_067_200_000 + 1000 * eid,
                    "message": f"Hello {body}" if eid % 7 == 0 else body,
                }
            )
    env = {
        "messageType": "DATA_MESSAGE" if kind == "data" else "CONTROL_MESSAGE",
        "owner": fh.OWNER,
        "logGroup": fh.LOG_GROUP,
        "logStream": fh.LOG_STREAM,
        "subscriptionFilters": [fh.SUBSCRIPTION_FILTER],
        "logEvents": events,
    }
    if kind != "data":
        return json.dumps(env), None
    payload = "".join(
        e["message"].replace("Hello", "Hell Yeah") + "\n" for e in events
    )
    return json.dumps(env), payload


def _encode(text: str) -> str:
    return base64.b64encode(gzip.compress(text.encode(), 6, mtime=0)).decode()


def make_files(seed: int, n_files: int, per_file: int) -> list[list[Expected]]:
    """The record files, deterministic in ``seed``. The record mix is the
    package's own (``operators.firehose``): record ``rec_no`` is bare
    re-ingested data when ``rec_no % BARE_MOD == BARE_REM``, a
    CONTROL_MESSAGE when ``rec_no % CTRL_MOD == CTRL_REM``, else a
    DATA_MESSAGE; and, as in ``q_decode_dead_letter``, it arrives
    corrupt (base64 cut to 10 characters) when ``rec_no % CORRUPT_MOD ==
    CORRUPT_REM``. The seed picks the words of the log messages."""
    from ex_aws_firehose_spark.operators import firehose as fh

    rng = random.Random(seed)
    files = []
    for i in range(n_files):
        recs = []
        for j in range(per_file):
            idx = i * per_file + j
            rid = f"rec-{idx:08d}"
            if idx % fh.BARE_MOD == fh.BARE_REM:
                value = f"reingested-{idx}"
                data, result, payload = _encode(json.dumps(value)), "Ok", value
            else:
                kind = "control" if idx % fh.CTRL_MOD == fh.CTRL_REM else "data"
                text, payload = _envelope(fh, rng, idx, kind)
                data = _encode(text)
                result = "Ok" if payload is not None else "ProcessingFailed"
            if idx % fh.CORRUPT_MOD == fh.CORRUPT_REM:
                data, result, payload = data[:10], "ProcessingFailed", None
            recs.append(Expected(idx, rid, data, result, payload))
        files.append(recs)
    return files


def write_files(files: list[list[Expected]], out_dir: str) -> list[str]:
    os.makedirs(out_dir, exist_ok=True)
    names = []
    for i, recs in enumerate(files):
        name = f"part-{i:05d}.parquet"
        table = pa.table(
            {
                "idx": pa.array([r.idx for r in recs], pa.int64()),
                "record_id": [r.record_id for r in recs],
                "data": [r.data for r in recs],
            }
        )
        pq.write_table(table, os.path.join(out_dir, name))
        names.append(name)
    return names


def _digest(*fields) -> str:
    return hashlib.sha1(
        "\x00".join("\x01" if f is None else str(f) for f in fields).encode()
    ).hexdigest()


def check_outputs(expected: list[Expected], paths) -> int:
    """Number of records whose backup row or routed row is missing,
    duplicated or different; rows no record accounts for also count."""
    backup = ds.dataset(paths.backup, format="parquet").to_table().to_pylist()
    routed = (
        ds.dataset(paths.routed, format="parquet", partitioning="hive")
        .to_table()
        .to_pylist()
    )
    seen_b: dict[str, int] = {}
    for r in backup:
        h = _digest(r["record_id"], r["idx"], r["data"])
        seen_b[h] = seen_b.get(h, 0) + 1
    seen_r: dict[str, int] = {}
    for r in routed:
        h = _digest(r["record_id"], r["result"], r["payload"])
        seen_r[h] = seen_r.get(h, 0) + 1
    bad = 0
    for e in expected:
        n_backup = seen_b.pop(_digest(e.record_id, e.idx, e.data), 0)
        n_routed = seen_r.pop(_digest(e.record_id, e.result, e.payload), 0)
        if n_backup != 1 or n_routed != 1:
            bad += 1
    return bad + sum(seen_b.values()) + sum(seen_r.values())


def batch_files(checkpoint: str, batch_id: int) -> list[str]:
    """Names of the source files a micro-batch read, from the file
    source's own log in the checkpoint (``inputFiles()`` is empty on a
    foreachBatch frame). Every tenth entry is compacted into
    ``<id>.compact``, which lists all batches so far."""
    log = os.path.join(checkpoint, "sources", "0", str(batch_id))
    if not os.path.exists(log):
        log += ".compact"
    with open(log) as f:
        entries = [json.loads(line) for line in f.read().splitlines()[1:]]
    return [
        os.path.basename(e["path"]) for e in entries if e["batchId"] == batch_id
    ]


class Delivery:
    """The open-loop state shared by the generator thread and the
    batch wrapper (which runs on the stream's callback thread)."""

    def __init__(self, staging: str, source: str, tracer=None):
        self.staging, self.source = staging, source
        self.tracer = tracer
        self.lock = threading.Lock()
        self.cond = threading.Condition(self.lock)
        self.due: dict[str, float] = {}
        self.done: dict[str, float] = {}
        self.late_ms: list[float] = []
        self.batches: list[dict] = []

    def release(self, name: str, due: float) -> None:
        with self.lock:
            self.due[name] = due
        os.rename(os.path.join(self.staging, name), os.path.join(self.source, name))
        now = time.perf_counter()
        self.late_ms.append((now - due) * 1000.0)
        if self.tracer:
            self.tracer.record("release", due, now, file=name)

    def open_loop(self, names: list[str], t0: float, interval: float) -> None:
        for i, name in enumerate(names):
            due = t0 + i * interval
            delay = due - time.perf_counter()
            if delay > 0:
                time.sleep(delay)
            self.release(name, due)

    def batch(self, df, batch_id: int, paths, tri_sink_batch) -> None:
        t0 = time.perf_counter()
        files = batch_files(paths.checkpoint, batch_id)
        with self.lock:
            backlog = len(self.due) - len(self.done) - len(files)
        if self.tracer:
            with self.tracer.span("trigger", batch_id=batch_id):
                with self.tracer.span("tri_sink_batch", batch_id=batch_id):
                    tri_sink_batch(df, batch_id, paths)
        else:
            tri_sink_batch(df, batch_id, paths)
        t1 = time.perf_counter()
        with self.cond:
            for f in files:
                self.done[f] = t1
            self.batches.append(
                {
                    "batch_id": batch_id,
                    "start": t0,
                    "end": t1,
                    "files": files,
                    "backlog_files": backlog,
                }
            )
            self.cond.notify_all()

    def wait_done(self, names: list[str], timeout: float) -> bool:
        deadline = time.perf_counter() + timeout
        with self.cond:
            while not all(n in self.done for n in names):
                left = deadline - time.perf_counter()
                if left <= 0:
                    return False
                self.cond.wait(left)
        return True

    def undelivered(self, names: list[str], due_by: float) -> int:
        """Files of ``names`` due by ``due_by`` and not yet delivered."""
        with self.lock:
            return sum(
                1
                for n in names
                if self.due.get(n, due_by + 1) <= due_by and n not in self.done
            )


def run(ctx: Context) -> Result:
    from ex_aws_firehose_spark.streaming.pipeline import RECORDS_SCHEMA, SinkPaths

    per_file = 20 if ctx.smoke else RECORDS_PER_FILE
    n_measured = max(1, int(ctx.seconds * FILE_RATE))
    n_warm = 2 if ctx.smoke else WARMUP_FILES
    n_files = n_warm + n_measured
    root = ctx.path("delivery")
    routed = os.path.join(root, "routed")
    paths = SinkPaths(
        source=os.path.join(root, "source"),
        routed=routed,
        primary=os.path.join(routed, "result=Ok"),
        backup=os.path.join(root, "backup"),
        errors=os.path.join(routed, "result=ProcessingFailed"),
        checkpoint=os.path.join(root, "checkpoint"),
    )
    os.makedirs(paths.source)
    n = 0

    def gen():
        nonlocal n
        n += 1
        files = make_files(ctx.seed, n_files, per_file)
        return files, write_files(files, os.path.join(root, f"staging-{n}"))

    # Set-up: operator import, session start, input generation (median of
    # SETUP_REPEATS, after the import so the package's mix constants are
    # loaded) and stream start. The warm-up drain is timed on its own.
    t_setup = time.perf_counter()
    spark, import_s, session_s = start_session(ctx)
    gen_s, (files, names) = median_of(gen, SETUP_REPEATS)
    staging = os.path.join(root, f"staging-{n}")
    host = host_header(ctx, staging, spark)

    tracer = codegen = None
    if ctx.trace:
        tracer, codegen = tracing.Tracer(), tracing.Codegen(spark)
    loop = Delivery(staging, paths.source, tracer)

    t_stream = time.perf_counter()
    from ex_aws_firehose_spark.streaming.pipeline import tri_sink_batch

    reader = (
        spark.readStream.schema(RECORDS_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(paths.source)
    )
    query = (
        reader.writeStream.foreachBatch(
            lambda df, bid: loop.batch(df, bid, paths, tri_sink_batch)
        )
        .option("checkpointLocation", paths.checkpoint)
        .start()
    )
    t_warm = time.perf_counter()
    setup_s = gen_s + import_s + session_s + (t_warm - t_stream)
    setup_wall = t_warm - t_setup
    if tracer:
        tracer.record("setup", t_setup, t_warm, setup_s=setup_s)
    warm, measured = names[:n_warm], names[n_warm:]
    for name in warm:
        loop.release(name, t_warm)
    if not loop.wait_done(warm, DRAIN_TIMEOUT_S):
        query.stop()
        raise RuntimeError("delivery: warm-up files were not delivered")
    warmup_s = time.perf_counter() - t_warm
    if tracer:
        tracer.record("warmup", t_warm, t_warm + warmup_s, files=len(warm))
    print(
        f"perfbench: delivery setup {setup_s:.2f}s, warm-up {warmup_s:.2f}s",
        file=sys.stderr,
    )

    cg: dict = {}
    interval = 1.0 / FILE_RATE
    t0 = time.perf_counter() + 0.05
    gen_thread = threading.Thread(
        target=loop.open_loop, args=(measured, t0, interval), daemon=True
    )
    with codegen.delta(cg) if codegen else nullcontext():
        gen_thread.start()
        gen_thread.join()
        # The load stops with the last release. Backlog is what is still
        # undelivered then among the files due at least one interval
        # earlier; the file released last cannot have been delivered yet.
        backlog_records = loop.undelivered(measured, time.perf_counter() - interval)
        backlog_records *= per_file
        drained = loop.wait_done(measured, DRAIN_TIMEOUT_S)
    progress = list(query.recentProgress)
    query.stop()
    mem = memory_peaks_mb(spark)
    stop_session(spark)

    expected = [r for recs in files for r in recs]
    failed = check_outputs(expected, paths)
    if not drained:
        print("perfbench: delivery did not drain in time", file=sys.stderr)

    lat_ms = [
        (loop.done[f] - loop.due[f]) * 1000.0 for f in measured if f in loop.done
    ]
    last = max((loop.done[f] for f in measured if f in loop.done), default=t0 + 1)
    delivered = len(lat_ms) * per_file
    detail = {
        "host": host,
        "memory_mb": mem,
        "file_rate": FILE_RATE,
        "records_per_file": per_file,
        "files_measured": len(measured),
        "latency_ms": lat_ms,
        "setup_wall_s": setup_wall,
        "setup_parts_s": {
            "import": import_s,
            "session": session_s,
            "generate": gen_s,
            "stream_start": t_warm - t_stream,
        },
        "warmup_s": warmup_s,
        "backlog_records": backlog_records,
    }
    if not ctx.trace:
        metrics = {
            "setup_s": (setup_s, "s"),
            "latency_p50_ms": (percentile(lat_ms, 50), "ms"),
            "latency_tail_ms": (percentile(lat_ms, 75), "ms"),
            "throughput_per_s": (delivered / (last - t0), "1/s"),
            "peak_mem_mb": (peak_mem_mb(mem), "MB"),
        }
        return Result(len(expected), failed, metrics, detail)

    by_batch = tracing.event_log_layers(ctx.path("eventlog"), "streaming.sql.batchId")
    mbatches = [b for b in loop.batches if set(b["files"]) & set(measured)]
    groups = [by_batch.get(str(b["batch_id"]), {}) for b in mbatches]
    fixed_ms = sum(
        (b["end"] - b["start"]) * 1000.0 - g.get("executor_run_ms", 0.0) / ctx.cores
        for b, g in zip(mbatches, groups)
    )
    mids = {b["batch_id"] for b in mbatches}
    sink_files = sink_bytes = 0
    for d in (paths.backup, paths.routed):
        for dirpath, _, fnames in os.walk(d):
            for fn in fnames:
                if fn.endswith(".parquet"):
                    sink_files += 1
                    sink_bytes += os.path.getsize(os.path.join(dirpath, fn))
    metrics = tracing.per_layer_metrics(
        {
            **tracing.sum_groups(groups),
            **tracing.trigger_layers([p for p in progress if p["batchId"] in mids]),
            "session_start_ms": session_s * 1000.0,
            "operators_import_ms": import_s * 1000.0,
            "warmup_ms": warmup_s * 1000.0,
            "fixed_ms": fixed_ms,
            **cg,
            "tri_sink_batch_ms": statistics.median(
                (b["end"] - b["start"]) * 1000.0 for b in mbatches
            ),
            "batch_records": statistics.median(
                len(b["files"]) * per_file for b in mbatches
            ),
            "backlog_files": max(b["backlog_files"] for b in mbatches),
            "backlog_records": backlog_records,
            "sink_files": sink_files,
            "sink_bytes": sink_bytes,
            "generator_late_ms": percentile(loop.late_ms[n_warm:], 99),
        }
    )
    detail["spans"] = tracer.dump()
    detail["batches"] = [
        {**b, "ms": (b["end"] - b["start"]) * 1000.0, **by_batch.get(str(b["batch_id"]), {})}
        for b in loop.batches
    ]
    return Result(len(expected), failed, metrics, detail)
