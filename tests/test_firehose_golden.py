"""Golden pipeline test (SURVEY.md §5.2(2)): synthesize Firehose records
with crafted payloads covering every routing branch of the reference
(data / control / bare-string / oversized batch), run the Spark
pipeline, and assert byte-identical results against an independent
pure-Python model of the documented semantics."""

from __future__ import annotations

import base64
import gzip
import json

import pytest
from pyspark.sql import functions as F

from ex_aws_firehose_spark.operators.firehose import (
    decode_chain,
    explode_events,
    overflow_split,
    reassemble,
    reingest,
    route,
    transform_message,
)

RECORDS_SCHEMA = "idx long, record_id string, data string"


def _env(message_type: str, events: list[dict]) -> dict:
    return {
        "messageType": message_type,
        "owner": "123456789012",
        "logGroup": "/ex-aws-firehose",
        "logStream": "test",
        "subscriptionFilters": ["ex-aws-firehose"],
        "logEvents": events,
    }


def _encode(payload: object) -> str:
    return base64.b64encode(gzip.compress(json.dumps(payload).encode())).decode()


def _py_transform(message: str) -> str:
    # Documented reference semantics: replace all 'Hello' → 'Hell Yeah',
    # append a newline (lambda/main.py:67-69).
    return message.replace("Hello", "Hell Yeah") + "\n"


@pytest.fixture(scope="module")
def crafted(spark):
    rows = [
        (
            0,
            "rec-0",
            _encode(
                _env(
                    "DATA_MESSAGE",
                    [
                        {"id": "01", "timestamp": 1704067200000, "message": "Hello Firehose!"},
                        {"id": "02", "timestamp": 1704067201000, "message": "Hello Hello twice"},
                        {"id": "03", "timestamp": 1704067202000, "message": "no greeting"},
                    ],
                )
            ),
        ),
        (1, "rec-1", _encode(_env("CONTROL_MESSAGE", []))),
        (2, "rec-2", _encode("previously-reingested-payload")),
        (
            3,
            "rec-3",
            _encode(
                _env(
                    "DATA_MESSAGE",
                    [{"id": "04", "timestamp": 1704067203000, "message": "X" * 400}],
                )
            ),
        ),
        (
            4,
            "rec-4",
            _encode(
                _env(
                    "DATA_MESSAGE",
                    [{"id": "05", "timestamp": 1704067204000, "message": "tail"}],
                )
            ),
        ),
    ]
    return spark.createDataFrame(rows, RECORDS_SCHEMA)


def test_decode_branches(spark, crafted):
    decoded = {r["record_id"]: r for r in decode_chain(crafted).collect()}
    assert decoded["rec-0"]["kind"] == "data"
    assert decoded["rec-1"]["kind"] == "control"
    assert decoded["rec-2"]["kind"] == "bare"
    assert decoded["rec-2"]["bare_value"] == "previously-reingested-payload"
    assert decoded["rec-0"]["envelope"]["messageType"] == "DATA_MESSAGE"
    assert len(decoded["rec-0"]["envelope"]["logEvents"]) == 3


def test_transform_reassemble_golden(spark, crafted):
    routed = {r["record_id"]: r for r in route(decode_chain(crafted)).collect()}
    expected_rec0 = (
        _py_transform("Hello Firehose!")
        + _py_transform("Hello Hello twice")
        + _py_transform("no greeting")
    )
    assert routed["rec-0"]["payload"] == expected_rec0
    assert routed["rec-0"]["result"] == "Ok"
    # control → ProcessingFailed, no payload (lambda/main.py:86-90)
    assert routed["rec-1"]["result"] == "ProcessingFailed"
    assert routed["rec-1"]["payload"] is None
    # bare string → pass-through Ok (lambda/main.py:80-85)
    assert routed["rec-2"]["result"] == "Ok"
    assert routed["rec-2"]["payload"] == "previously-reingested-payload"


def test_overflow_split_sequential(spark, crafted):
    # Threshold chosen so the running size crosses inside rec-3: rec-0 and
    # rec-2 fit, rec-1 contributes 0 (failed records are skipped in the
    # accounting, lambda/main.py:141-142), rec-3 crosses, rec-4 is past it.
    # Sizes measure the wire-format 'data' field (base64 for data records),
    # matching the reference's len(rec['data']) at lambda/main.py:143.
    routed = route(decode_chain(crafted))
    sizes = {
        r["record_id"]: (len(r["data"]) + len(r["record_id"]) if r["data"] else 0)
        for r in routed.collect()
    }
    threshold = sizes["rec-0"] + sizes["rec-2"] + 10
    out = {r["record_id"]: r for r in overflow_split(routed, threshold).collect()}
    assert out["rec-0"]["result"] == "Ok"
    assert out["rec-1"]["result"] == "ProcessingFailed"
    assert out["rec-2"]["result"] == "Ok"
    assert out["rec-3"]["result"] == "Dropped"
    assert out["rec-4"]["result"] == "Dropped"
    # cumulative accounting matches the sequential model
    assert out["rec-4"]["cum_size"] == sum(sizes.values())


def test_reingest_second_pass(spark, crafted):
    routed = route(decode_chain(crafted))
    sizes = {
        r["record_id"]: (len(r["data"]) + len(r["record_id"]) if r["data"] else 0)
        for r in routed.collect()
    }
    threshold = sizes["rec-0"] + sizes["rec-2"] + 10
    split_df = overflow_split(routed, threshold)
    final = {r["record_id"]: r for r in reingest(split_df).collect()}
    assert final["rec-0"]["final_result"] == "Ok" and final["rec-0"]["attempts"] == 1
    assert final["rec-1"]["final_result"] == "ProcessingFailed"
    # dropped records re-enter and (fitting now) deliver on attempt 2
    assert final["rec-3"]["attempts"] == 2
    assert final["rec-4"]["attempts"] == 2


def test_reingest_multi_round_and_bound(spark, crafted):
    """The self-loop iterates per-round accounting: with a threshold that
    admits one record per round, the two dropped records drain on
    attempts 2 and 3; with max_attempts=2 the second one hits the
    reference's give-up path (still Dropped, attempts=2)."""
    routed = route(decode_chain(crafted))
    sizes = {
        r["record_id"]: (len(r["data"]) + len(r["record_id"]) if r["data"] else 0)
        for r in routed.collect()
    }
    threshold = sizes["rec-0"] + sizes["rec-2"] + 10
    split_df = overflow_split(routed, threshold)
    per_round = max(sizes["rec-3"], sizes["rec-4"]) + 1
    final = {
        r["record_id"]: r
        for r in reingest(split_df, threshold=per_round).collect()
    }
    assert final["rec-3"]["final_result"] == "Ok"
    assert final["rec-3"]["attempts"] == 2
    assert final["rec-4"]["final_result"] == "Ok"
    assert final["rec-4"]["attempts"] == 3
    bounded = {
        r["record_id"]: r
        for r in reingest(split_df, max_attempts=2, threshold=per_round).collect()
    }
    assert bounded["rec-3"]["final_result"] == "Ok"
    assert bounded["rec-4"]["final_result"] == "Dropped"
    assert bounded["rec-4"]["attempts"] == 2


def test_roundtrip_b64_gzip(spark, crafted):
    """The synthesized data column decodes back to the exact payload the
    pure-Python encoder produced (b64+gzip round-trip fidelity)."""
    decoded = decode_chain(crafted).filter(F.col("record_id") == "rec-0").collect()[0]
    assert json.loads(decoded["payload"])["logEvents"][0]["message"] == "Hello Firehose!"


def test_corrupt_records_dead_letter(spark):
    """Undecodable records (bad base64 / bad gzip) take the error kind →
    ProcessingFailed route instead of poisoning the batch (the Spark
    upgrade of the reference's crash-the-invocation behavior)."""
    rows = [
        (0, "rec-ok", _encode("fine")),
        (1, "rec-badb64", "!!!not-base64!!!"),
        (2, "rec-badgzip", base64.b64encode(b"not gzip bytes").decode()),
    ]
    df = spark.createDataFrame(rows, RECORDS_SCHEMA)
    routed = {r["record_id"]: r for r in route(decode_chain(df)).collect()}
    assert routed["rec-ok"]["result"] == "Ok"
    assert routed["rec-badb64"]["result"] == "ProcessingFailed"
    assert routed["rec-badb64"]["kind"] == "error"
    assert routed["rec-badgzip"]["result"] == "ProcessingFailed"
    assert routed["rec-badgzip"]["kind"] == "error"


def _relational_route(decoded):
    """The explode → transform → reassemble → join-back-on-idx
    composition that ``route`` replaced with a row-local projection."""
    out = reassemble(transform_message(explode_events(decoded))).select(
        "idx", F.col("payload").alias("out_payload"), F.col("data").alias("out_data")
    )
    kind = F.col("kind")
    return decoded.join(out, "idx", "left").select(
        "idx",
        "record_id",
        "kind",
        F.when(kind.isin("control", "error"), "ProcessingFailed")
        .otherwise("Ok")
        .alias("result"),
        F.when(kind == "bare", F.col("bare_value"))
        .when(kind == "data", F.coalesce("out_payload", F.lit("")))
        .alias("payload"),
        F.when(kind == "bare", F.col("bare_value"))
        .when(kind == "data", F.coalesce("out_data", F.lit("")))
        .alias("data"),
    )


def test_row_local_route_matches_relational_composition(spark):
    """Row-local ``route`` equals the explode → reassemble → join
    composition on the shapes the fixtures never produce: empty and
    NULL logEvents, NULL messages, repeated 'Hello's, a payload long
    enough for base64 line breaks, and control/bare/corrupt records."""

    def ev(i, message):
        return {"id": f"{i:02d}", "timestamp": 1704067200000 + i, "message": message}

    no_events = _env("DATA_MESSAGE", [])
    del no_events["logEvents"]
    envelopes = [
        _env(
            "DATA_MESSAGE",
            [ev(1, "Hello Hello Hello"), ev(2, "HelloHello"), ev(3, "plain")],
        ),
        _env("DATA_MESSAGE", []),
        {**_env("DATA_MESSAGE", []), "logEvents": None},
        no_events,
        _env("DATA_MESSAGE", [ev(4, None), ev(5, "after a Hello null")]),
        _env("DATA_MESSAGE", [ev(6, None)]),
        _env("DATA_MESSAGE", [ev(7, "Hello " + "x" * 300)]),
        _env("CONTROL_MESSAGE", []),
        "bare-Hello-payload",
    ]
    rows = [(i, f"rec-{i}", _encode(e)) for i, e in enumerate(envelopes)]
    rows += [
        (len(rows), "rec-badb64", "!!!not-base64!!!"),
        (len(rows) + 1, "rec-badgzip", base64.b64encode(b"not gzip").decode()),
    ]
    decoded = decode_chain(spark.createDataFrame(rows, RECORDS_SCHEMA))
    got = sorted(route(decoded).collect())
    assert got == sorted(_relational_route(decoded).collect())
    by_id = {r["record_id"]: r for r in got}
    assert by_id["rec-0"]["payload"] == (
        "Hell Yeah Hell Yeah Hell Yeah\nHell YeahHell Yeah\nplain\n"
    )
    for rid in ("rec-1", "rec-2", "rec-3", "rec-5"):
        assert (by_id[rid]["payload"], by_id[rid]["data"]) == ("", ""), rid
    assert by_id["rec-4"]["payload"] == "after a Hell Yeah null\n"
    assert base64.b64decode(by_id["rec-6"]["data"]).decode() == by_id["rec-6"]["payload"]
    assert by_id["rec-badb64"]["result"] == by_id["rec-badgzip"]["result"] == "ProcessingFailed"


def test_route_duplicate_idx_one_row_per_record(spark):
    """Two data records sharing an ``idx`` route to one row each, each
    with its own payload (a join back on ``idx`` alone fans out to 4)."""
    rows = [
        (7, rid, _encode(_env("DATA_MESSAGE", [{"id": rid, "timestamp": 1, "message": m}])))
        for rid, m in (("rec-a", "Hello a"), ("rec-b", "b"))
    ]
    routed = route(decode_chain(spark.createDataFrame(rows, RECORDS_SCHEMA))).collect()
    assert sorted((r["record_id"], r["payload"]) for r in routed) == [
        ("rec-a", "Hell Yeah a\n"),
        ("rec-b", "b\n"),
    ]
