"""The reference pipeline, Spark-first (SURVEY.md §2.1–2.3, all [REF]).

Reference semantics re-expressed declaratively (citations are to the
reference repo ``doi-t/ex-aws-firehose``):

- decode chain  — base64 → gunzip → utf-8 → JSON   (lambda/main.py:74)
- 3-way routing — bare-string payload → Ok; non-DATA_MESSAGE →
  ProcessingFailed; DATA_MESSAGE → transform      (lambda/main.py:80-98)
- per-event transform — 'Hello' → 'Hell Yeah', append newline
                                                   (lambda/main.py:55-69)
- order-preserving reassembly — concat w/o extra delimiters
                                                   (lambda/main.py:42-44,92-93)
- sequential size-overflow split at a byte threshold
                                                   (lambda/main.py:137-153)
- bounded-retry re-ingestion self-loop             (lambda/main.py:101-128)

Fixture synthesis: Firehose records are built *from the events table*
(deterministic arithmetic on event_id — FIXTURES.md §B) so every
pipeline stage has a DuckDB oracle that recomputes the expected output
relationally from the same rows.

Pipeline stages are standalone DataFrame→DataFrame functions; the
streaming layer reuses them per micro-batch unchanged.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ex_aws_firehose_spark.functions.codec import gzip_compress, gzip_decompress
from ex_aws_firehose_spark.caching import SessionCache
from ex_aws_firehose_spark.registry import query
from ex_aws_firehose_spark.tables import load_table, spread

# CloudWatch Logs envelope (reference lambda/main.py:5-28).
LOG_EVENT_TYPE = "struct<id:string,timestamp:bigint,message:string>"
ENVELOPE_SCHEMA = T.StructType(
    [
        T.StructField("messageType", T.StringType()),
        T.StructField("owner", T.StringType()),
        T.StructField("logGroup", T.StringType()),
        T.StructField("logStream", T.StringType()),
        T.StructField("subscriptionFilters", T.ArrayType(T.StringType())),
        T.StructField(
            "logEvents",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("id", T.StringType()),
                        T.StructField("timestamp", T.LongType()),
                        T.StructField("message", T.StringType()),
                    ]
                )
            ),
        ),
    ]
)

OWNER = "123456789012"
LOG_GROUP = "/ex-aws-firehose"
LOG_STREAM = "test"
SUBSCRIPTION_FILTER = "ex-aws-firehose"

EVENTS_PER_RECORD = 10
# Fixture variant arithmetic (mirrored in ORACLE_CTE): bare-string
# payloads model Firehose re-ingested data (reference lambda/main.py:78-85),
# control messages model CloudWatch CONTROL_MESSAGEs (lambda/main.py:86-90).
BARE_MOD, BARE_REM = 17, 3
CTRL_MOD, CTRL_REM = 13, 5

# Scaled-down analog of the reference's 4,000,000-byte re-ingest threshold
# (lambda/main.py:145-147) so the split actually triggers at test SFs.
OVERFLOW_THRESHOLD = 100_000

# ---------------------------------------------------------------------------
# Shared DuckDB oracle CTE: recomputes record/event derivations from the
# events table with the same deterministic arithmetic as synthesize_records.
# ---------------------------------------------------------------------------
ORACLE_CTE = f"""
WITH ev AS (
    SELECT event_id,
           event_id // {EVENTS_PER_RECORD} AS rec_no,
           lpad(CAST(event_id AS VARCHAR), 56, '0') AS event_id_str,
           epoch_ms(CAST(ts AS TIMESTAMP)) AS ts_millis,
           CASE WHEN event_id % 7 = 0
                THEN 'Hello ' || event_type || ' ' || props
                ELSE event_type || ' ' || props END AS message
    FROM events
),
recs AS (
    SELECT rec_no,
           'rec-' || lpad(CAST(rec_no AS VARCHAR), 8, '0') AS record_id,
           CASE WHEN rec_no % {BARE_MOD} = {BARE_REM} THEN 'bare'
                WHEN rec_no % {CTRL_MOD} = {CTRL_REM} THEN 'control'
                ELSE 'data' END AS kind,
           CAST(count(*) AS INTEGER) AS n_raw_events
    FROM ev GROUP BY rec_no
),
data_events AS (
    SELECT e.*, r.record_id,
           replace(e.message, 'Hello', 'Hell Yeah') || chr(10) AS transformed
    FROM ev e JOIN recs r USING (rec_no) WHERE r.kind = 'data'
),
payloads AS (
    SELECT r.rec_no, r.record_id, r.kind,
           CASE WHEN r.kind = 'bare' THEN 'reingested-' || CAST(r.rec_no AS VARCHAR)
                WHEN r.kind = 'control' THEN NULL
                ELSE (SELECT string_agg(d.transformed, '' ORDER BY d.event_id)
                      FROM data_events d WHERE d.rec_no = r.rec_no)
           END AS payload
    FROM recs r
),
routed AS (
    SELECT p.*,
           CASE WHEN p.kind = 'control' THEN 'ProcessingFailed' ELSE 'Ok' END AS result
    FROM payloads p
),
sized AS (
    -- size accounting measures the wire-format 'data' field
    -- (lambda/main.py:143): base64 of the payload for data records,
    -- the raw pass-through string for bare records
    SELECT *,
           SUM(CASE WHEN result = 'ProcessingFailed' THEN 0
                    ELSE length(CASE WHEN kind = 'data'
                                     THEN to_base64(encode(payload))
                                     ELSE payload END)
                         + length(record_id) END)
               OVER (ORDER BY rec_no) AS cum_size
    FROM routed
),
split AS (
    SELECT rec_no, record_id, kind, payload, cum_size,
           CASE WHEN result = 'ProcessingFailed' THEN 'ProcessingFailed'
                WHEN cum_size > {OVERFLOW_THRESHOLD} THEN 'Dropped'
                ELSE 'Ok' END AS result
    FROM sized
)
"""


# ---------------------------------------------------------------------------
# Fixture synthesis (FIXTURES.md §B) — pure DataFrame ops + gzip UDF.
# ---------------------------------------------------------------------------


def _message_col() -> Column:
    base = F.concat(F.col("event_type"), F.lit(" "), F.col("props"))
    return F.when(
        F.col("event_id") % 7 == 0, F.concat(F.lit("Hello "), base)
    ).otherwise(base)


# One materialization of the synthesized record batch per (session,
# sf_dir): every §2.1-2.3 query starts from the same records, so without
# this each query would re-run the groupBy+gzip synthesis from scratch.
_RECORDS_CACHE: SessionCache = SessionCache()
# Same for the decoded batch: the gzip-decompress UDF is the single most
# expensive stage of the pipeline, and every downstream query
# (explode/transform/reassemble/route/split/reingest) starts from it.
_DECODED_CACHE: SessionCache = SessionCache()


def decoded_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """synthesize_records → decode_chain, persisted once per (session,
    sf_dir) so the gunzip UDF runs a single time across all queries."""
    key = _DECODED_CACHE.scoped_key(spark, sf_dir)
    cached = _DECODED_CACHE.get(key)
    if cached is None:
        cached = decode_chain(synthesize_records(spark, sf_dir)).persist()
        _DECODED_CACHE[key] = cached
    return cached


_SPLIT_CACHE: SessionCache = SessionCache()


def split_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """route → overflow_split, persisted per (session, sf_dir): the
    split frame feeds several consumers inside reingest (pass-1 results,
    the Dropped selection, the union), so the route join + ordered
    window would otherwise run three times."""
    key = _SPLIT_CACHE.scoped_key(spark, sf_dir)
    cached = _SPLIT_CACHE.get(key)
    if cached is None:
        cached = overflow_split(route(decoded_records(spark, sf_dir))).persist()
        _SPLIT_CACHE[key] = cached
    return cached


def synthesize_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events table → Firehose record batch
    ``(idx BIGINT, record_id STRING, data STRING)`` where ``data`` is
    base64(gzip(payload)) exactly as the delivery stream would hand it to
    the processor (reference lambda/main.py:74 in reverse).

    Scales: one shuffle (groupBy rec_no ≈ 10-row groups, high
    cardinality), gzip UDF Arrow-batched, no driver materialization.
    The result is persisted (MEMORY_AND_DISK) and shared across queries.
    """
    key = _RECORDS_CACHE.scoped_key(spark, sf_dir)
    cached = _RECORDS_CACHE.get(key)
    if cached is not None:
        return cached
    records = _synthesize_records_uncached(spark, sf_dir).persist()
    _RECORDS_CACHE[key] = records
    return records


def _synthesize_records_uncached(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        F.col("event_id"),
        F.expr(f"event_id div {EVENTS_PER_RECORD}").alias("rec_no"),
        F.lpad(F.col("event_id").cast("string"), 56, "0").alias("event_id_str"),
        F.unix_millis("ts").alias("ts_millis"),
        _message_col().alias("message"),
    )
    recs = ev.groupBy("rec_no").agg(
        F.sort_array(
            F.collect_list(
                F.struct("event_id", "event_id_str", "ts_millis", "message")
            )
        ).alias("evs")
    )
    kind = (
        F.when(F.col("rec_no") % BARE_MOD == BARE_REM, "bare")
        .when(F.col("rec_no") % CTRL_MOD == CTRL_REM, "control")
        .otherwise("data")
    )
    envelope = F.struct(
        F.when(F.col("kind") == "control", "CONTROL_MESSAGE")
        .otherwise("DATA_MESSAGE")
        .alias("messageType"),
        F.lit(OWNER).alias("owner"),
        F.lit(LOG_GROUP).alias("logGroup"),
        F.lit(LOG_STREAM).alias("logStream"),
        F.array(F.lit(SUBSCRIPTION_FILTER)).alias("subscriptionFilters"),
        F.when(
            F.col("kind") == "control", F.array().cast(f"array<{LOG_EVENT_TYPE}>")
        )
        .otherwise(
            F.transform(
                F.col("evs"),
                lambda x: F.struct(
                    x.event_id_str.alias("id"),
                    x.ts_millis.alias("timestamp"),
                    x.message.alias("message"),
                ),
            )
        )
        .alias("logEvents"),
    )
    payload_json = F.when(
        F.col("kind") == "bare",
        F.concat(F.lit('"reingested-'), F.col("rec_no").cast("string"), F.lit('"')),
    ).otherwise(F.to_json(envelope))
    return (
        recs.withColumn("kind", kind)
        .withColumn("payload_json", payload_json)
        .select(
            F.col("rec_no").alias("idx"),
            F.concat(
                F.lit("rec-"), F.lpad(F.col("rec_no").cast("string"), 8, "0")
            ).alias("record_id"),
            F.base64(gzip_compress(F.col("payload_json").cast("binary"))).alias(
                "data"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Pipeline stages (composable; streaming reuses them per micro-batch).
# ---------------------------------------------------------------------------


def decode_chain(records: DataFrame) -> DataFrame:
    """base64 → gunzip → utf-8 → parse (reference lambda/main.py:74).

    Adds ``payload`` (decoded string), ``envelope`` (parsed struct, null
    for non-envelope payloads), ``kind`` ('data'|'control'|'bare' — the
    3-way dispatch condition of lambda/main.py:80-91) and ``bare_value``
    (the JSON string payload for the re-ingested-data branch)."""
    # try_to_binary (not unbase64): invalid base64 yields null → the
    # record dead-letters instead of throwing inside codegen.
    df = records.withColumn(
        "payload",
        gzip_decompress(F.expr("try_to_binary(data, 'base64')")).cast("string"),
    )
    df = df.withColumn("envelope", F.from_json("payload", ENVELOPE_SCHEMA))
    return df.withColumn(
        "kind",
        # 'error': undecodable record (bad b64/gzip/utf8) → dead-letter
        # route; the reference's Lambda would crash the invocation here,
        # Firehose would retry then error-log — we go straight to the
        # error route (main.tf:21-25 semantics) without poisoning the batch.
        F.when(F.col("payload").isNull(), "error")
        .when(F.col("payload").startswith('"'), "bare")
        .when(F.col("envelope.messageType") == "DATA_MESSAGE", "data")
        .otherwise("control"),
    ).withColumn(
        "bare_value",
        F.when(F.col("kind") == "bare", F.get_json_object("payload", "$")),
    )


def explode_events(decoded: DataFrame) -> DataFrame:
    """Flat-map logEvents → one row per event with its ordinal
    (posexplode keeps the in-record position so reassembly can restore
    byte order after any shuffle — reference lambda/main.py:92)."""
    return (
        decoded.filter(F.col("kind") == "data")
        .select(
            "idx",
            "record_id",
            F.posexplode("envelope.logEvents").alias("pos", "ev"),
        )
        .select(
            "idx",
            "record_id",
            "pos",
            F.col("ev.id").alias("event_id_str"),
            F.col("ev.timestamp").alias("ts_millis"),
            F.col("ev.message").alias("message"),
        )
    )


def rewrite_message(message: Column) -> Column:
    """Per-event scalar transform (reference lambda/main.py:55-69):
    'Hello' → 'Hell Yeah' (all occurrences), then append '\\n'."""
    return F.concat(F.regexp_replace(message, "Hello", "Hell Yeah"), F.lit("\n"))


def unchunked_base64(payload: Column) -> Column:
    """Wire-format base64 of a string payload. Spark's base64 emits
    RFC-2045 MIME chunking (CRLF every 76 chars); the Firehose contract
    (and DuckDB's to_base64) is the unchunked RFC-4648 form — strip the
    breaks."""
    return F.translate(F.base64(payload.cast("binary")), "\r\n", "")


def transform_message(events: DataFrame) -> DataFrame:
    """``rewrite_message`` over exploded events → ``transformed``."""
    return events.withColumn("transformed", rewrite_message(F.col("message")))


def reassemble(transformed: DataFrame) -> DataFrame:
    """Concatenate transformed events back to one payload per record,
    order-preserving, no extra delimiters (lambda/main.py:42-44,92-93).
    The explicit ``pos`` ordinal survives the shuffle — collect_list
    order alone is NOT guaranteed."""
    return (
        transformed.groupBy("idx", "record_id")
        .agg(
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("pos", "transformed"))),
                    lambda x: x.transformed,
                ),
                "",
            ).alias("payload")
        )
        .withColumn("data", unchunked_base64(F.col("payload")))
    )


def route(decoded: DataFrame) -> DataFrame:
    """3-way dispatch (lambda/main.py:80-98): bare → Ok (pass-through,
    'data that is re-ingested'), control → ProcessingFailed, data → Ok
    with the transformed+reassembled payload.

    Row-local: the reference transforms each record's own events
    (lambda/main.py:92), so the payload is a projection over the
    record's ``logEvents`` array — array order is event order, and
    ``array_join`` skips a NULL-message event exactly as the
    explode → ``reassemble`` composition does. No shuffle, no join
    back, and ``decoded`` (with its gzip UDF) is read once."""
    payload = F.array_join(
        F.transform("envelope.logEvents", lambda e: rewrite_message(e.message)),
        "",
    )
    kind = F.col("kind")
    return decoded.select(
        "idx",
        "record_id",
        "kind",
        F.when(kind.isin("control", "error"), "ProcessingFailed")
        .otherwise("Ok")
        .alias("result"),
        F.when(kind == "bare", F.col("bare_value"))
        # empty or NULL logEvents → empty payload, not null: the
        # reference joins an empty list to b'' (lambda/main.py:92).
        .when(kind == "data", F.coalesce(payload, F.lit("")))
        .alias("payload"),
    ).withColumn(
        # the wire-format 'data' field of the processor result record:
        # bare records pass the decoded string through unmodified
        # (lambda/main.py:80-85 yields the str, not a re-encoding),
        # data records carry the base64 of the reassembled payload
        # (lambda/main.py:93), failed records carry none.
        "data",
        F.when(kind == "bare", F.col("payload")).when(
            kind == "data", unchunked_base64(F.col("payload"))
        ),
    )


def overflow_split(routed: DataFrame, threshold: int = OVERFLOW_THRESHOLD) -> DataFrame:
    """Sequential projected-size accounting (lambda/main.py:137-153):
    accumulate len(data)+len(recordId) in input (idx) order — `data` is
    the wire-format field the reference measures (the base64-encoded
    transformed payload for data records, lambda/main.py:93,143; the
    raw pass-through string for bare records, lambda/main.py:81) —
    skipping failed records (lambda/main.py:141-142); once the running
    total crosses ``threshold``, the remainder is 'Dropped' for
    re-ingestion.

    Scale note: the reference's accounting is per Lambda invocation
    (≤ a few MB of records), so the single-partition window here mirrors
    a bounded unit of work — the streaming layer applies it per
    micro-batch, never to an unbounded table. The batch query keeps the
    reference's global-order semantics for oracle checkability."""
    size = F.when(
        F.col("result") == "ProcessingFailed", F.lit(0)
    ).otherwise(F.length("data") + F.length("record_id"))
    w = Window.orderBy("idx").rowsBetween(Window.unboundedPreceding, 0)
    return routed.withColumn("cum_size", F.sum(size).over(w)).withColumn(
        "result",
        F.when(F.col("result") == "ProcessingFailed", "ProcessingFailed")
        .when(F.col("cum_size") > threshold, "Dropped")
        .otherwise("Ok"),
    )


def reingest(
    split_df: DataFrame,
    max_attempts: int = 20,
    threshold: int = OVERFLOW_THRESHOLD,
) -> DataFrame:
    """Batch-mode self-loop to the reference's attempt bound
    (lambda/main.py:101-128,154-157 — maxAttempts=20): records marked
    'Dropped' re-enter with FRESH size accounting each round; each
    round delivers the prefix (input order) whose running size fits the
    threshold, the remainder loops; whatever survives round
    ``max_attempts`` stays Dropped at that attempt count, exactly like
    the reference's give-up path.

    The transform is deterministic, so a record's wire size is
    identical on every attempt, and round k delivers the MAXIMAL
    PREFIX (input order) of the remaining tail whose running sum fits
    the threshold — sizes are non-negative, so the running sum is
    monotone and each round is exactly one step of greedy sequential
    bin-packing. Round 15 (guide §1.2/§4.2): the whole attempt loop
    therefore collapses into ONE sequential pass over the idx-sorted
    Dropped tail — record r's delivery attempt is its greedy bin
    index + 1; a record wider than the threshold never fits alone,
    blocks everything behind it (the monotone running sum keeps every
    later prefix over the threshold), and the loop would have spun to
    the attempt bound delivering nothing, so the pass marks it and
    every successor Dropped at ``max_attempts``; records packed past
    bin ``max_attempts - 1`` likewise outlast the bound.
    Bit-equivalence with the per-round loop is pinned by
    tests/test_plans.py::test_reingest_fold_matches_loop.

    Execution shape: the pass runs as a single-task ``mapInPandas``
    over the tail sorted into one partition — the SAME serialization
    bound the per-round ``Window.orderBy`` (global, partitionless)
    already imposed, paid ONCE instead of per round. The old form
    cost one pending.count() + one eager localCheckpoint (physical-
    plan/RDD compile + blocking job each) per round — ~38 driver
    barriers at sf0.1, where the tail outlasts the bound. (An
    ``aggregate()`` expression fold was tried first and REJECTED:
    appending to the lambda's accumulator array copies it per element
    — O(n²) in the 8.8 k-row tail, measured slower than the loop.)"""
    # A NULL data/record_id sizes 0, as the per-round window F.sum
    # skipped it; left NULL, pandas sees NaN and poisons pack's `run`.
    sz = F.coalesce(
        F.when(F.col("result") == "ProcessingFailed", F.lit(0)).otherwise(
            F.length("data") + F.length("record_id")
        ),
        F.lit(0),
    )
    base = split_df.select("idx", "record_id", "result", sz.alias("sz"))
    settled = base.filter(F.col("result") != "Dropped").select(
        "record_id", F.col("result"), F.lit(1).alias("attempts")
    )
    dropped = base.filter(F.col("result") == "Dropped").select(
        "idx", "record_id", F.col("sz").cast("long").alias("sz")
    )
    last_bin = max_attempts - 1  # bins 1..max_attempts-1 deliver in bound

    def pack(batches):
        import pandas as pd

        bin_no, run, blocked = 1, 0, False
        for pdf in batches:
            res, att = [], []
            for szv in pdf["sz"]:
                if blocked or szv > threshold:
                    blocked = True
                    res.append("Dropped")
                    att.append(max_attempts)
                    continue
                if run + szv <= threshold:
                    run += szv
                else:
                    bin_no += 1
                    run = szv
                if bin_no <= last_bin:
                    res.append("Ok")
                    att.append(bin_no + 1)
                else:
                    res.append("Dropped")
                    att.append(max_attempts)
            yield pd.DataFrame(
                {
                    "record_id": pdf["record_id"],
                    "result": res,
                    "attempts": pd.array(att, dtype="int32"),
                }
            )

    retried = (
        dropped.repartition(1)
        .sortWithinPartitions("idx")
        .mapInPandas(
            pack, schema="record_id string, result string, attempts int"
        )
    )
    return settled.unionByName(retried).select(
        "record_id", F.col("result").alias("final_result"), "attempts"
    )


# ---------------------------------------------------------------------------
# Registered queries (driver-checkable, one per §2.1-2.3 key).
# ---------------------------------------------------------------------------


@query(
    "q_decode_chain",
    oracle=ORACLE_CTE
    + """
    SELECT record_id, kind,
           CASE WHEN kind = 'bare' THEN NULL
                WHEN kind = 'control' THEN 'CONTROL_MESSAGE'
                ELSE 'DATA_MESSAGE' END AS message_type,
           CASE WHEN kind = 'bare' THEN NULL
                WHEN kind = 'control' THEN 0
                ELSE n_raw_events END AS n_events,
           CASE WHEN kind = 'bare'
                THEN length('reingested-' || CAST(rec_no AS VARCHAR)) + 2
                ELSE NULL END AS bare_payload_len
    FROM recs
    """,
    tags=("firehose", "ref"),
)
def q_decode_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full decode chain (b64→gunzip→utf8→JSON-parse) over synthesized
    Firehose records; projects parse results per record."""
    decoded = decoded_records(spark, sf_dir)
    return decoded.select(
        "record_id",
        "kind",
        F.col("envelope.messageType").alias("message_type"),
        F.when(F.col("kind") == "bare", F.lit(None).cast("int"))
        .otherwise(F.size("envelope.logEvents"))
        .alias("n_events"),
        F.when(F.col("kind") == "bare", F.length("payload"))
        .otherwise(F.lit(None).cast("int"))
        .alias("bare_payload_len"),
    )


@query(
    "q_explode_events",
    oracle=ORACLE_CTE
    + """
    SELECT d.record_id,
           CAST(ROW_NUMBER() OVER (PARTITION BY d.rec_no ORDER BY d.event_id) - 1
                AS INTEGER) AS pos,
           d.event_id_str, d.ts_millis, d.message
    FROM data_events d
    """,
    tags=("firehose", "ref"),
)
def q_explode_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """posexplode of logEvents — one row per log event with its ordinal."""
    decoded = decoded_records(spark, sf_dir)
    return explode_events(decoded).select(
        "record_id", "pos", "event_id_str", "ts_millis", "message"
    )


@query(
    "q_transform_message",
    oracle=ORACLE_CTE
    + """
    SELECT d.record_id, d.event_id_str, d.transformed
    FROM data_events d
    """,
    tags=("firehose", "ref"),
)
def q_transform_message(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's transformLogEvent: Hello→Hell Yeah + newline."""
    decoded = decoded_records(spark, sf_dir)
    return transform_message(explode_events(decoded)).select(
        "record_id", "event_id_str", "transformed"
    )


@query(
    "q_reassemble_concat",
    oracle=ORACLE_CTE
    + """
    SELECT record_id, payload,
           to_base64(encode(payload)) AS data
    FROM payloads WHERE kind = 'data'
    """,
    tags=("firehose", "ref"),
)
def q_reassemble_concat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-preserving per-record concat + re-encode."""
    decoded = decoded_records(spark, sf_dir)
    return reassemble(transform_message(explode_events(decoded))).select(
        "record_id", "payload", "data"
    )


@query(
    "q_project_envelope",
    oracle=ORACLE_CTE
    + f"""
    SELECT record_id,
           CASE WHEN kind = 'control' THEN 'CONTROL_MESSAGE'
                ELSE 'DATA_MESSAGE' END AS message_type,
           '{OWNER}' AS owner, '{LOG_GROUP}' AS log_group,
           '{LOG_STREAM}' AS log_stream,
           '{SUBSCRIPTION_FILTER}' AS first_filter,
           1 AS n_filters
    FROM recs WHERE kind <> 'bare'
    """,
    tags=("firehose", "ref"),
)
def q_project_envelope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Envelope field projection (messageType/owner/logGroup/logStream/
    subscriptionFilters) for records that carry an envelope."""
    decoded = decoded_records(spark, sf_dir)
    return decoded.filter(F.col("kind") != "bare").select(
        "record_id",
        F.col("envelope.messageType").alias("message_type"),
        F.col("envelope.owner").alias("owner"),
        F.col("envelope.logGroup").alias("log_group"),
        F.col("envelope.logStream").alias("log_stream"),
        F.element_at("envelope.subscriptionFilters", 1).alias("first_filter"),
        F.size("envelope.subscriptionFilters").alias("n_filters"),
    )


@query(
    "q_route_message_type",
    oracle=ORACLE_CTE
    + """
    SELECT record_id, kind, result,
           CASE WHEN result = 'ProcessingFailed' THEN NULL
                ELSE length(payload) END AS payload_len
    FROM routed
    """,
    tags=("firehose", "ref"),
)
def q_route_message_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-way dispatch producing the Firehose processor result records."""
    routed = route(decoded_records(spark, sf_dir))
    return routed.select(
        "record_id", "kind", "result", F.length("payload").alias("payload_len")
    )


@query(
    "q_filter_failed",
    oracle=ORACLE_CTE
    + """
    SELECT record_id, result FROM routed WHERE result <> 'ProcessingFailed'
    """,
    tags=("firehose", "ref"),
)
def q_filter_failed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drop failed records from delivery accounting (lambda/main.py:141-142)."""
    routed = route(decoded_records(spark, sf_dir))
    return routed.filter(F.col("result") != "ProcessingFailed").select(
        "record_id", "result"
    )


@query(
    "q_size_overflow_split",
    oracle=ORACLE_CTE
    + """
    SELECT record_id, result, CAST(cum_size AS BIGINT) AS cum_size
    FROM split
    """,
    tags=("firehose", "ref"),
)
def q_size_overflow_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running-size accounting + Dropped diversion past the threshold."""
    split_df = split_records(spark, sf_dir)
    return split_df.select(
        "record_id", "result", F.col("cum_size").cast("long").alias("cum_size")
    )


REINGEST_MAX_ATTEMPTS = 20  # the reference's bound, lambda/main.py:156


def _reingest_oracle(max_attempts: int = REINGEST_MAX_ATTEMPTS) -> str:
    """Iterated-CTE mirror of the multi-round reingest loop: one
    (cum, delivered, pending) CTE triple per retry round, statically
    unrolled to the attempt bound — rounds after the Dropped tail
    drains are empty and contribute nothing, exactly like the engine's
    early-exit."""
    ctes = [
        """p1 AS (
        SELECT rec_no, record_id,
               length(CASE WHEN kind = 'data'
                           THEN to_base64(encode(payload))
                           ELSE payload END)
                   + length(record_id) AS sz
        FROM split WHERE result = 'Dropped'
    )"""
    ]
    for k in range(2, max_attempts + 1):
        ctes.append(
            f"c{k} AS (SELECT rec_no, record_id, sz,"
            f" SUM(sz) OVER (ORDER BY rec_no) AS cum FROM p{k - 1})"
        )
        ctes.append(
            f"d{k} AS (SELECT record_id, {k} AS attempts FROM c{k}"
            f" WHERE cum <= {OVERFLOW_THRESHOLD})"
        )
        ctes.append(
            f"p{k} AS (SELECT rec_no, record_id, sz FROM c{k}"
            f" WHERE cum > {OVERFLOW_THRESHOLD})"
        )
    delivered = " UNION ALL ".join(
        f"SELECT * FROM d{k}" for k in range(2, max_attempts + 1)
    )
    ctes.append(f"delivered AS ({delivered})")
    return (
        ORACLE_CTE
        + ", "
        + ",\n    ".join(ctes)
        + f"""
    SELECT s.record_id,
           CASE WHEN s.result <> 'Dropped' THEN s.result
                WHEN del.record_id IS NOT NULL THEN 'Ok'
                ELSE 'Dropped' END AS final_result,
           CASE WHEN s.result <> 'Dropped' THEN 1
                WHEN del.record_id IS NOT NULL THEN del.attempts
                ELSE {max_attempts} END AS attempts
    FROM split s LEFT JOIN delivered del ON s.record_id = del.record_id
    """
    )


@query("q_reingest_retry", oracle=_reingest_oracle(), tags=("firehose", "ref"))
def q_reingest_retry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-loop re-ingestion to the reference's full attempt bound:
    Dropped records re-enter with fresh size accounting every round
    until they deliver or round maxAttempts=20 gives up on them
    (lambda/main.py:123-126,156). At sf0.01 the Dropped tail drains on
    attempt 3 (two real retry rounds); at sf0.1 it outlasts the bound
    and the give-up path itself is exercised — both hash-verified
    against the statically unrolled oracle."""
    return reingest(split_records(spark, sf_dir))


def q_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: whole reference data path in one plan — synthesize →
    decode → route (explode/transform/reassemble inside) → overflow split
    — aggregated to delivery stats per (kind, result)."""
    split_df = split_records(spark, sf_dir)
    return split_df.groupBy("kind", "result").agg(
        F.count("*").alias("n_records"),
        F.sum(F.coalesce(F.length("payload"), F.lit(0))).alias("total_payload_bytes"),
    )


CORRUPT_MOD, CORRUPT_REM = 29, 11


@query(
    "q_decode_dead_letter",
    oracle=ORACLE_CTE
    + f"""
    SELECT CASE WHEN rec_no % {CORRUPT_MOD} = {CORRUPT_REM} THEN 'error'
                ELSE kind END AS kind,
           CASE WHEN rec_no % {CORRUPT_MOD} = {CORRUPT_REM}
                     OR kind = 'control'
                THEN 'ProcessingFailed' ELSE 'Ok' END AS result,
           CAST(COUNT(*) AS BIGINT) AS n_records,
           MIN(record_id) AS first_record
    FROM recs GROUP BY 1, 2
    """,
    tags=("firehose", "ref"),
)
def q_decode_dead_letter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dead-letter accounting for undecodable records: a deterministic
    slice of the batch arrives corrupted (base64 truncated mid-stream),
    the decode chain yields NULL instead of throwing (try_to_binary +
    null-safe gunzip), and the router diverts them to the error output —
    per-route counts prove no corrupt record poisons the batch and none
    is silently dropped. The reference's Lambda would crash the whole
    invocation on the first bad record and rely on Firehose retry +
    error logging (main.tf:21-25); the engine upgrade is per-record
    dead-lettering at scan speed, which at 100 TB is the difference
    between re-running a batch and quarantining 0.01% of it."""
    # Incremental decode (guide §1.2: don't compute what you throw
    # away): only the corrupted slice differs from the already-decoded
    # persisted batch, so run the decode chain on THAT slice (1/29 of
    # records) and reuse the shared persisted decode for the rest —
    # the same result row-for-row, since the chain is deterministic
    # per record. At 100 TB this is the difference between re-decoding
    # the batch and decoding the quarantine candidates.
    is_corrupt = F.col("idx") % CORRUPT_MOD == CORRUPT_REM
    records = synthesize_records(spark, sf_dir)
    corrupted = records.filter(is_corrupt).withColumn(
        "data", F.substring("data", 1, 10)
    )
    # route() is row-local and reads `decoded` once, so the slice's
    # Arrow decode runs once without a checkpoint barrier.
    decoded = decoded_records(spark, sf_dir).filter(~is_corrupt).unionByName(
        decode_chain(corrupted)
    )
    routed = route(decoded)
    return routed.groupBy("kind", "result").agg(
        F.count("*").alias("n_records"),
        F.min("record_id").alias("first_record"),
    )


@query(
    "q_record_size_histogram",
    oracle=ORACLE_CTE
    + """
    , wire AS (
        SELECT record_id,
               length(CASE WHEN kind = 'data'
                           THEN to_base64(encode(payload))
                           ELSE payload END)
                   + length(record_id) AS sz
        FROM routed WHERE result <> 'ProcessingFailed'
    )
    SELECT CAST(length(bin(sz)) AS BIGINT) AS size_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_records,
           CAST(SUM(sz) AS BIGINT) AS total_bytes,
           CAST(MIN(sz) AS BIGINT) AS min_bytes,
           CAST(MAX(sz) AS BIGINT) AS max_bytes
    FROM wire GROUP BY length(bin(sz))
    """,
    tags=("firehose", "dq"),
)
def q_record_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wire-size histogram of delivered records in power-of-two buckets
    (bucket = bit-width of the size — length(bin(sz)) in both engines,
    exactly floor(log2)+1 with no float log): count, total, min/max
    bytes per bucket over the same size accounting the reference bills
    by (payload wire field + record id, lambda/main.py:143). This is
    the buffer-sizing / billing-profile view: Firehose's 5 MB delivery
    buffer and the overflow threshold (q_size_overflow_split) are
    chosen off exactly this distribution.

    100 TB shape: size is a map-side expression over the shared
    persisted split frame (one staging pass serves the whole firehose
    family); the histogram agg has ≤ 64 possible buckets, so map-side
    combine reduces each partition to a handful of rows."""
    split_df = split_records(spark, sf_dir)
    wire = split_df.filter(F.col("result") != "ProcessingFailed").select(
        (F.length("data") + F.length("record_id")).alias("sz")
    )
    return (
        wire.select("sz", F.length(F.bin("sz")).cast("long").alias("size_bucket"))
        .groupBy("size_bucket")
        .agg(
            F.count("*").alias("n_records"),
            F.sum("sz").alias("total_bytes"),
            F.min("sz").cast("long").alias("min_bytes"),
            F.max("sz").cast("long").alias("max_bytes"),
        )
    )


@query(
    "q_log_template_mining",
    oracle="""
    WITH msgs AS (
        SELECT event_type || ' ' || props AS msg FROM events
    ),
    t AS (
        SELECT regexp_replace(msg, '[0-9]+', '<N>', 'g') AS template,
               length(msg) AS msg_len
        FROM msgs
    )
    SELECT template,
           CAST(COUNT(*) AS BIGINT) AS n_messages,
           CAST(MIN(msg_len) AS BIGINT) AS min_len,
           CAST(MAX(msg_len) AS BIGINT) AS max_len
    FROM t GROUP BY template
    """,
    tags=("firehose", "text"),
)
def q_log_template_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-template mining (Drain-lite): collapse each log message to
    its template by masking numeric literals (`[0-9]+` → `<N>`), then
    count instances per template — the first thing a log-delivery
    pipeline's consumers do with the delivered stream (template
    cardinality ≈ distinct code paths; a template count spike = a new
    error path; an exploding template set = an unmasked id leaking
    into messages). Production systems add wildcard learning (Drain's
    fixed-depth parse tree); the masking step here is its first layer
    and the operator shape is identical.

    100 TB shape: masking is a map-side regexp inside codegen; the
    template agg's cardinality is |code paths| (thousands), so
    map-side combine collapses each partition to the template set —
    the shuffle is independent of log volume. The length min/max per
    template double as a zone-map-style sanity band for the mask."""
    e = load_table(spark, sf_dir, "events")
    t = e.select(
        F.regexp_replace(
            F.concat_ws(" ", "event_type", "props"), "[0-9]+", "<N>"
        ).alias("template"),
        F.length(F.concat_ws(" ", "event_type", "props")).alias("msg_len"),
    )
    return t.groupBy("template").agg(
        F.count("*").alias("n_messages"),
        F.min("msg_len").cast("long").alias("min_len"),
        F.max("msg_len").cast("long").alias("max_len"),
    )


# ---------------------------------------------------------------------------
# CloudWatch filter-pattern DSL (main.tf:284-290) — the non-trivial forms
# of the subscription filter the reference deploys empty (main.tf:288).
# One AST drives both backends (functions/filter_pattern.py), so these
# keys hash-check the compiler itself against DuckDB.
# ---------------------------------------------------------------------------

from ex_aws_firehose_spark.functions.filter_pattern import (  # noqa: E402
    Binding,
    compile_pattern,
)

_FP_TERMS = compile_pattern("Hello purchase")
_FP_OR_NOT = compile_pattern("?error ?signup -Hello")
_FP_PHRASE = compile_pattern('"Hell Yeah" -view')
_FP_JSON = compile_pattern(
    "{ ($.k >= 40 && $.k < 90) || ($.k = 7 && $.j NOT EXISTS) }"
)
_FP_BOUND = compile_pattern(
    '{ $.event_type = "s*" && $.value > 100.5 && $.k != 7 }'
)


@query(
    "q_filter_pattern_terms",
    oracle=ORACLE_CTE
    + f"""
    SELECT record_id, event_id_str, message FROM data_events
    WHERE {_FP_TERMS.duckdb_sql(message="message")}
    """,
    tags=("firehose", "filter-pattern"),
)
def q_filter_pattern_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Term-form filter pattern ('Hello purchase'): every unquoted term
    must appear as a whole token (AND) — the first non-empty pattern a
    production user types into main.tf:288. Compiled to word-boundary
    `rlike` conjuncts: pure codegen expressions, no Python, applied
    per log event exactly where the subscription filter sits in the
    reference topology (before the delivery stream)."""
    ev = explode_events(decoded_records(spark, sf_dir))
    return ev.filter(_FP_TERMS.column(message=F.col("message"))).select(
        "record_id", "event_id_str", "message"
    )


@query(
    "q_filter_pattern_or_not",
    oracle=ORACLE_CTE
    + f"""
    SELECT record_id, event_id_str, message FROM data_events
    WHERE {_FP_OR_NOT.duckdb_sql(message="message")}
    """,
    tags=("firehose", "filter-pattern"),
)
def q_filter_pattern_or_not(spark: SparkSession, sf_dir: str) -> DataFrame:
    """'?error ?signup -Hello' — the OR (`?term`) and NOT (`-term`)
    modifiers of the term DSL: (error ∨ signup) ∧ ¬Hello, all as
    negatable whole-token regex predicates in one codegen Filter."""
    ev = explode_events(decoded_records(spark, sf_dir))
    return ev.filter(_FP_OR_NOT.column(message=F.col("message"))).select(
        "record_id", "event_id_str", "message"
    )


@query(
    "q_filter_pattern_phrase",
    oracle=ORACLE_CTE
    + f"""
    SELECT record_id, event_id_str, transformed FROM data_events
    WHERE {_FP_PHRASE.duckdb_sql(message="transformed")}
    """,
    tags=("firehose", "filter-pattern"),
)
def q_filter_pattern_phrase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quoted-phrase terms ('"Hell Yeah" -view') against the
    TRANSFORMED stream (lambda/main.py:67-69's rewrite output): exact
    multi-token phrases compile to escaped-literal regex with `\\b`
    guards applied only at word-character edges — the same pattern
    string means the same thing under Java regex and RE2, which is
    what makes the oracle check the compiler rather than two
    hand-written predicates."""
    ev = transform_message(explode_events(decoded_records(spark, sf_dir)))
    return ev.filter(_FP_PHRASE.column(message=F.col("transformed"))).select(
        "record_id", "event_id_str", "transformed"
    )


@query(
    "q_filter_pattern_json",
    oracle=f"""
    SELECT event_id, event_type, props FROM events
    WHERE {_FP_JSON.duckdb_sql(json="props")}
    """,
    tags=("firehose", "filter-pattern"),
)
def q_filter_pattern_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-selector filter pattern over JSON log payloads:
    '{{ ($.k >= 40 && $.k < 90) || ($.k = 7 && $.j NOT EXISTS) }}' —
    $-rooted selectors, numeric comparators (TRY-cast-to-double
    semantics: non-numeric/missing never match), EXISTS tests, and
    &&/||/parens with CloudWatch's precedence. Spark side is
    get_json_object + comparisons (schema-on-read, no UDF); the oracle
    walks the same AST into json_valid-guarded json_extract_string
    SQL."""
    e = load_table(spark, sf_dir, "events")
    return e.filter(_FP_JSON.column(json=F.col("props"))).select(
        "event_id", "event_type", "props"
    )


def _fp_bound_bindings():
    return {
        "$.event_type": Binding(column=F.col("event_type")),
        "$.value": Binding(column=F.col("value"), numeric=True),
    }


@query(
    "q_filter_pattern_json_bound",
    oracle=f"""
    SELECT event_id, event_type,
           CAST(ROUND(value * 100) AS BIGINT) AS value_cents
    FROM events
    WHERE {_FP_BOUND.duckdb_sql(json="props", bindings={
        "$.event_type": Binding(sql="event_type"),
        "$.value": Binding(sql="value", numeric=True),
    })}
    """,
    tags=("firehose", "filter-pattern"),
)
def q_filter_pattern_json_bound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same JSON pattern language with selectors BOUND to
    materialized columns — the 100 TB form. '$.event_type = "s*"'
    (wildcard → LIKE → StringStartsWith) and '$.value > 100.5' bind to
    real parquet columns and reach the scan as PushedFilters
    (plan-gated in tests/test_plans.py); the unbound '$.k != 7'
    residue stays a post-scan get_json_object filter. Schema-on-read
    and columnar pushdown are the same pattern string — binding is a
    deployment decision, not a query rewrite."""
    e = load_table(spark, sf_dir, "events")
    pred = _FP_BOUND.column(json=F.col("props"), bindings=_fp_bound_bindings())
    return e.filter(pred).select(
        "event_id",
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("value_cents"),
    )


_FP_COLUMNS = compile_pattern(
    '[host, user, session, request = "GET /purchase/*", status = 4*, size >= 1000]'
)
_FP_COLUMNS_OR = compile_pattern(
    "[host, user, session, request, status = 404 || status = 500,"
    " size < 500 && size >= 100]"
)

# Access-log line synthesized deterministically from events in BOTH
# engines (string concat of exact integers — no float formatting), so
# the oracle checks the tokenizer + compiler, not the fixture:
#   h<user_id%50> u<user_id> [sess <user_id%3>] "GET /<type>/<id%100>" <status> <cents>
# The bracketed session and quoted request both contain a SPACE — they
# only parse as single fields if the documented grouping works.
_COL_LOG_SQL = """
WITH logl AS (
    SELECT event_id,
           'h' || CAST(user_id % 50 AS VARCHAR)
           || ' u' || CAST(user_id AS VARCHAR)
           || ' [sess ' || CAST(user_id % 3 AS VARCHAR)
           || '] "GET /' || event_type || '/'
           || CAST(event_id % 100 AS VARCHAR) || '" '
           || CASE CAST(event_id % 7 AS INTEGER)
                  WHEN 0 THEN '404' WHEN 1 THEN '403'
                  WHEN 2 THEN '500' ELSE '200' END
           || ' ' || CAST(CAST(ROUND(value * 100) AS BIGINT) AS VARCHAR)
               AS log_line
    FROM events
)
"""


_COL_LOG_CACHE: SessionCache = SessionCache()


def _col_log_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthesized access-log lines, localCheckpointed once per
    (session, sf): three q_filter_pattern_column* keys filter the same
    frame — sharing it keeps the bench measuring the predicates, not
    repeated fixture synthesis (VERDICT r7 ask #8)."""
    key = _COL_LOG_CACHE.scoped_key(spark, sf_dir)
    cached = _COL_LOG_CACHE.get(key)
    if cached is not None:
        return cached
    e = load_table(spark, sf_dir, "events")
    status = (
        F.when(F.col("event_id") % 7 == 0, "404")
        .when(F.col("event_id") % 7 == 1, "403")
        .when(F.col("event_id") % 7 == 2, "500")
        .otherwise("200")
    )
    lines = e.select(
        "event_id",
        F.concat(
            F.lit("h"),
            (F.col("user_id") % 50).cast("string"),
            F.lit(" u"),
            F.col("user_id").cast("string"),
            F.lit(" [sess "),
            (F.col("user_id") % 3).cast("string"),
            F.lit('] "GET /'),
            F.col("event_type"),
            F.lit("/"),
            (F.col("event_id") % 100).cast("string"),
            F.lit('" '),
            status,
            F.lit(" "),
            F.round(F.col("value") * 100).cast("long").cast("string"),
        ).alias("log_line"),
    ).localCheckpoint()
    _COL_LOG_CACHE[key] = lines
    return lines


@query(
    "q_filter_pattern_columns",
    oracle=_COL_LOG_SQL
    + f"""
    SELECT event_id, log_line FROM logl
    WHERE {_FP_COLUMNS.duckdb_sql(message="log_line")}
    """,
    tags=("firehose", "filter-pattern"),
)
def q_filter_pattern_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The THIRD documented CloudWatch pattern family (after terms and
    JSON): space-delimited column patterns —
    '[host, user, session, request = "GET /purchase/*", status = 4*,
    size >= 1000]' against Apache-access-log-style lines. Tokenization
    groups "quoted" and [bracketed] runs (both fixture fields contain a
    space precisely to prove it), gates on the EXACT field count, then
    applies positional conditions: a quoted '*' wildcard (→ LIKE →
    StringStartsWith), an unquoted prefix wildcard on status, and a
    numeric comparator via try_cast. One pattern string, two backends
    (functions/filter_pattern.py), so the oracle checks the compiler.

    100 TB shape: the whole predicate is built-in codegen expressions
    (regexp_extract_all + element_at + substr — no Python), evaluated
    map-side where the subscription filter sits in the reference
    topology (main.tf:284-290); nothing shuffles."""
    lines = _col_log_lines(spark, sf_dir)
    return lines.filter(_FP_COLUMNS.column(message=F.col("log_line")))


@query(
    "q_filter_pattern_columns_or",
    oracle=_COL_LOG_SQL
    + f"""
    SELECT event_id, log_line FROM logl
    WHERE {_FP_COLUMNS_OR.duckdb_sql(message="log_line")}
    """,
    tags=("firehose", "filter-pattern"),
)
def q_filter_pattern_columns_or(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compound per-slot conditions of the space-delimited family:
    'status = 404 || status = 500' (numeric OR — AWS's documented
    '[w1 = ERROR || w1 = WARN, w2]' shape) AND a two-sided numeric
    band 'size < 500 && size >= 100', with && binding tighter than ||
    exactly as in the JSON family. Bare slots (host, user, session,
    request) bind positions without constraints but still count toward
    the exact-field-count gate."""
    lines = _col_log_lines(spark, sf_dir)
    return lines.filter(_FP_COLUMNS_OR.column(message=F.col("log_line")))


_FP_ELLIPSIS = compile_pattern("[host, ..., status != 200, size >= 5000]")
_FP_REGEX_TERMS = compile_pattern(
    '%Hel+o (purch|sign)[a-z]+% -%"k": [0-4]?[0-9]}%'
)
_FP_JSON_REGEX = compile_pattern(
    "{ $.k = %^[0-4]% || $.k != %[0-9][0-9]% }"
)


@query(
    "q_filter_pattern_ellipsis",
    oracle=_COL_LOG_SQL
    + f"""
    SELECT event_id, log_line FROM logl
    WHERE {_FP_ELLIPSIS.duckdb_sql(message="log_line")}
    """,
    tags=("firehose", "filter-pattern"),
)
def q_filter_pattern_ellipsis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The '...' ellipsis slot of the column family (AWS: "use an
    ellipsis to reference unnamed fields"): '[host, ..., status != 200,
    size >= 5000]' — `host` indexes from the START of the token list,
    `status`/`size` from the END, '...' absorbs however many fields sit
    between (user, session, request here), and the count gate relaxes
    to >=. Also exercises the column family's `!=` comparator. Same
    one-AST-two-backends compiler (functions/filter_pattern.py), so the
    oracle checks the from-end indexing arithmetic in both engines.

    100 TB shape: identical to the other column keys — one
    regexp tokenization + positional predicates, pure map-side
    codegen, zero shuffle."""
    lines = _col_log_lines(spark, sf_dir)
    return lines.filter(_FP_ELLIPSIS.column(message=F.col("log_line")))


@query(
    "q_filter_pattern_regex",
    oracle=ORACLE_CTE
    + f"""
    SELECT record_id, event_id_str, message FROM data_events
    WHERE {_FP_REGEX_TERMS.duckdb_sql(message="message")}
    """,
    tags=("firehose", "filter-pattern"),
)
def q_filter_pattern_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """'%regex%' term patterns (AWS, 2023+):
    '%Hel+o (purch|sign)[a-z]+% -%"k": [0-4]?[0-9]}%' — a positive and
    a negated regex term conjoined with the classic term algebra. The
    body is restricted to the Java-regex ∩ RE2 common subset
    (alternation, classes, greedy quantifiers — no lookaround), matched
    unanchored by `rlike` (Spark) and `regexp_matches` (DuckDB), so one
    pattern string stays one semantics across engine and oracle."""
    ev = explode_events(decoded_records(spark, sf_dir))
    return ev.filter(_FP_REGEX_TERMS.column(message=F.col("message"))).select(
        "record_id", "event_id_str", "message"
    )


@query(
    "q_filter_pattern_json_regex",
    oracle=f"""
    SELECT event_id, event_type, props FROM events
    WHERE {_FP_JSON_REGEX.duckdb_sql(json="props")}
    """,
    tags=("firehose", "filter-pattern"),
)
def q_filter_pattern_json_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """'%regex%' as a JSON-selector VALUE:
    '{{ $.k = %^[0-4]% || $.k != %[0-9][0-9]% }}' — `$.k` is the key
    every events.props fixture row carries (value 0–99), so the key
    selects a non-empty, discriminating row set exercising BOTH arms:
    `= %re%` matches where the extracted value matches (first digit
    0–4 → k ∈ 0–4 ∪ 40–49); `!= %re%` matches present-AND-NOT-matching
    (no two consecutive digits → the single-digit k). Absent keys never
    match either arm, mirroring the wildcard `!=` semantics. Anchors
    (^) behave identically under Java regex and RE2.
    tests/test_filter_pattern.py pins n > 0 for every filter-pattern
    registry key so a fixture drift can never silently re-trivialize
    the oracle to the empty set."""
    e = load_table(spark, sf_dir, "events")
    return e.filter(_FP_JSON_REGEX.column(json=F.col("props"))).select(
        "event_id", "event_type", "props"
    )


@query(
    "q_lineage_hash_chain",
    oracle=ORACLE_CTE
    + """
    , pos_ev AS (
        SELECT record_id, rec_no, event_id, message, transformed,
               ROW_NUMBER() OVER (PARTITION BY rec_no ORDER BY event_id) - 1
                   AS pos
        FROM data_events
    ),
    staged AS (
        SELECT record_id, rec_no, event_id, pos,
               md5(md5(record_id || ':' || CAST(pos AS VARCHAR) || ':'
                       || message) || transformed) AS sh
        FROM pos_ev
    )
    SELECT record_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(concat('0x', substr(md5(string_agg(sh, ',' ORDER BY pos)),
                                    1, 8)) AS BIGINT) AS lineage_hash
    FROM staged GROUP BY record_id
    """,
    tags=("firehose", "dq"),
)
def q_lineage_hash_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Provenance hash chain through the decode→transform pipeline
    ([EXT]): every log event gets a content address
    md5(record_id:pos:raw_message), the transform stage extends the
    chain with the transformed text (so ANY silent mutation of either
    stage flips the digest), and each record's events Merkle-fold in
    position order into one lineage_hash — the per-record audit
    fingerprint a reprocessing run must reproduce bit-for-bit to prove
    the pipeline unchanged. Re-running the chain after a code change
    and diffing lineage_hash pinpoints exactly WHICH records a
    transform tweak touched (the reference pipeline has no such
    auditability — its transform runs inside an opaque per-batch
    handler, lambda/main.py:55-75).

    100 TB shape: per-event hashing is map-only JVM codegen (md5 on
    already-decoded columns); the per-record fold is one hash agg
    whose collect_list is bounded by EVENTS_PER_RECORD (a constant),
    sorted in-memory per group — no global sort, one shuffle keyed by
    record_id (the natural partitioning every downstream firehose op
    already uses)."""
    decoded = decoded_records(spark, sf_dir)
    ev = transform_message(explode_events(decoded))
    staged = ev.select(
        "record_id",
        "pos",
        F.md5(
            F.concat(
                F.md5(
                    F.concat_ws(
                        ":",
                        F.col("record_id"),
                        F.col("pos").cast("string"),
                        F.col("message"),
                    )
                ),
                F.col("transformed"),
            )
        ).alias("sh"),
    )
    folded = staged.groupBy("record_id").agg(
        F.count("*").alias("n_events"),
        F.md5(
            F.concat_ws(
                ",",
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("pos", "sh"))
                    ),
                    lambda x: x.sh,
                ),
            )
        ).alias("chain"),
    )
    return folded.select(
        "record_id",
        "n_events",
        F.conv(F.substring("chain", 1, 8), 16, 10)
        .cast("long")
        .alias("lineage_hash"),
    )
