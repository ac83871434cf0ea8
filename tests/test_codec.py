"""The JVM gzip codec (functions/GzipCodec.java) against CPython's
``gzip``, which stays here as the reference: the decode chain must give
every record what the reference Lambda's ``gzip.decompress(
base64.b64decode(data))`` gives it (lambda/main.py:74), or NULL where
that raises, and the encoder must write ``gzip.compress(b, 6,
mtime=0)``'s bytes. Also the build's loud failure without a JDK, the
jar cache key, and first registration inside a micro-batch."""

from __future__ import annotations

import base64
import gzip
import io
import json
import random
import shutil
import zlib

import pytest
from pyspark.sql import functions as F

from ex_aws_firehose_spark.functions import codec
from ex_aws_firehose_spark.operators.firehose import decode_chain

RECORDS_SCHEMA = "idx long, record_id string, data string"


def _py_gunzip(b: bytes | None) -> bytes | None:
    if b is None:
        return None
    try:
        return gzip.decompress(b)
    except (OSError, EOFError, ValueError, zlib.error):
        return None


def _py_chain(data: str | None) -> str | None:
    if data is None:
        return None
    try:
        raw = base64.b64decode(data)
    except ValueError:
        return None
    out = _py_gunzip(raw)
    return None if out is None else out.decode()


def _gz(b: bytes) -> bytes:
    return gzip.compress(b, 6, mtime=0)


def _b64(b: bytes) -> str:
    return base64.b64encode(b).decode()


ENV = json.dumps(
    {
        "messageType": "DATA_MESSAGE",
        "logEvents": [
            {"id": str(i), "timestamp": i, "message": f"Hello {i} " * (i + 1)}
            for i in range(8)
        ],
    }
).encode()
GZ = _gz(ENV)
_rng = random.Random(7)
LARGE = " ".join(  # ~300 KB of text, well over the 256 KB mark
    _rng.choice(["alpha", "beta", "gamma", "Hello", "delta", "x" * 9])
    for _ in range(50_000)
).encode()


def _named_member() -> bytes:
    buf = io.BytesIO()
    with gzip.GzipFile(filename="x.json", mode="wb", fileobj=buf, mtime=0) as f:
        f.write(ENV)
    return buf.getvalue()


def _bad_crc() -> bytes:
    b = bytearray(GZ)
    b[-8] ^= 0xFF
    return bytes(b)


# name -> the record's base64 `data` field
CASES = {
    "null": None,
    "empty": "",
    # q_decode_dead_letter's corrupt records: base64 cut to 10 characters
    "corrupt_cut": _b64(GZ)[:10],
    "truncated_trailer": _b64(GZ[:-5]),
    "truncated_deflate": _b64(GZ[: len(GZ) // 2]),
    "multi_member": _b64(GZ + _gz(b"second member") + _gz(b"")),
    "zero_padding": _b64(GZ + bytes(16)),
    # Java's GZIPInputStream ignores these bytes; CPython rejects them
    "trailing_garbage": _b64(GZ + b"garbage"),
    "padding_then_garbage": _b64(GZ + bytes(3) + b"\x1f"),
    "bad_crc": _b64(_bad_crc()),
    "bad_deflate_block": _b64(GZ[:10] + b"\xff" * 8),
    "named_member": _b64(_named_member()),
    "over_256kb": _b64(_gz(LARGE)),
    "b64_lf_breaks": base64.encodebytes(GZ).decode(),
    "b64_crlf_breaks": base64.encodebytes(GZ).decode().replace("\n", "\r\n"),
}


def test_decode_chain_matches_python_gzip(spark):
    assert len(LARGE) > 256 * 1024 and "\n" in CASES["b64_lf_breaks"].strip()
    names = list(CASES)
    df = spark.createDataFrame(
        [(i, name, CASES[name]) for i, name in enumerate(names)], RECORDS_SCHEMA
    )
    got = {r["record_id"]: r["payload"] for r in decode_chain(df).collect()}
    want = {name: _py_chain(CASES[name]) for name in names}
    assert got == want, {n: (got[n], want[n]) for n in names if got[n] != want[n]}
    # the shapes whose outcome the comparison alone would not pin
    assert want["empty"] == ""
    assert want["multi_member"] == ENV.decode() + "second member"
    assert want["zero_padding"] == want["b64_crlf_breaks"] == ENV.decode()
    assert want["over_256kb"] == LARGE.decode()
    for name in ("corrupt_cut", "truncated_trailer", "truncated_deflate",
                 "trailing_garbage", "padding_then_garbage", "bad_crc",
                 "bad_deflate_block"):
        assert want[name] is None, name


def test_gzip_bytes_match_python(spark):
    payloads = [None, b"", ENV, LARGE, random.Random(3).randbytes(70_000)]
    df = spark.createDataFrame([(p,) for p in payloads], "b binary")
    z = codec.gzip(spark, F.col("b"))
    rows = df.select("b", z.alias("z"), codec.gunzip(spark, z).alias("u")).collect()
    for p, r in zip(payloads, rows):
        if p is None:
            assert r["z"] is None and r["u"] is None
            continue
        assert bytes(r["z"]) == gzip.compress(p, 6, mtime=0), len(p)
        assert bytes(r["u"]) == p, len(p)


def test_build_without_javac_raises(tmp_path, monkeypatch):
    monkeypatch.setenv("PATH", str(tmp_path))
    with pytest.raises(RuntimeError, match="javac"):
        codec.build_jar(codec.SOURCE, tmp_path / "build")


def test_jar_name_tracks_source(tmp_path):
    src = tmp_path / codec.SOURCE.name
    shutil.copyfile(codec.SOURCE, src)
    before = codec.jar_path(src, tmp_path)
    assert before.name == codec.jar_path(codec.SOURCE, tmp_path).name
    src.write_text(src.read_text() + "// edited\n")
    assert codec.jar_path(src, tmp_path) != before
    assert codec.build_jar() == codec.jar_path() and codec.jar_path().is_file()


def test_first_registration_inside_foreach_batch(spark, tmp_path):
    """A micro-batch runs on a clone of the stream's session. Started
    from a session that has never registered the codec, the first
    ``decode_chain`` call registers it on the clone, and the batch
    decodes."""
    fresh = spark.newSession()
    assert not fresh.catalog.functionExists(codec.GUNZIP)
    src = str(tmp_path / "source")
    rows = [(0, "ok", _b64(GZ)), (1, "bad", CASES["trailing_garbage"])]
    fresh.createDataFrame(rows, RECORDS_SCHEMA).coalesce(1).write.parquet(src)
    got = {}

    def batch(df, _bid):
        got.update((r["record_id"], r["payload"]) for r in decode_chain(df).collect())

    q = (
        fresh.readStream.schema(RECORDS_SCHEMA)
        .parquet(src)
        .writeStream.foreachBatch(batch)
        .option("checkpointLocation", str(tmp_path / "checkpoint"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert got == {"ok": ENV.decode(), "bad": None}
    # registered on the micro-batch's clone, not on the stream's session
    assert not fresh.catalog.functionExists(codec.GUNZIP)
