"""Gzip codec as JVM scalar UDFs.

Spark SQL has no built-in gzip scalar function (SURVEY.md §4.3 item 1 —
the one genuinely custom piece of the reference's decode chain,
cf. reference lambda/main.py:74: ``json.loads(gzip.decompress(
base64.b64decode(record['data'])))``).  base64 and JSON parsing are
built-ins (`try_to_binary` / `F.from_json`); the gzip hop is
``GzipCodec.java`` next to this module, a ``java.util.zip`` UDF pair, so
the decode chain runs inside whole-stage codegen with no Python worker
and no Arrow round trip.

- :func:`gunzip` maps NULL and *undecodable* input to NULL, so a corrupt
  record dead-letters (ProcessingFailed → error sink, the reference's
  error-log route) instead of failing its batch. Otherwise it decodes
  exactly what CPython's ``gzip.decompress`` decodes: every member of a
  multi-member stream, zero padding after a member skipped, any other
  trailing bytes rejected (tests/test_codec.py compares the two).
- :func:`gzip` writes the bytes of ``gzip.compress(b, 6, mtime=0)``, so
  synthesized fixture bytes are bit-stable across runs and machines.

The source is compiled on first use with the JDK's ``javac`` against
the jars of the Spark home pyspark launches, into ``.jvm_build/`` next
to this module (ignored by git). The jar name carries the sha256 of the
source, so each source version is built once; the jar is written to a
temp file and renamed into place, so concurrent builders never see a
partial jar. There is no Python fallback: without ``javac`` the build
raises. :func:`build_jar` also builds ``LocalFs.java``, the fork-free
``file:`` filesystem that :func:`~ex_aws_firehose_spark.session.get_spark`
puts on the classpath of a local session before it starts its JVM, so
a JDK is needed at local session start, not only at the first gunzip.

Registration is lazy and per session, not a ``spark.jars`` setting: a
caller's session (a driver's vanilla session, a ``foreachBatch``
micro-batch's cloned session) never passed through
:func:`~ex_aws_firehose_spark.session.get_spark`. Each call checks the
session's function registry first, because re-registering costs a
micro-batch ~15 ms.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import subprocess
import tempfile
import zipfile
from pathlib import Path

from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import Column, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

SOURCE = Path(__file__).with_name("GzipCodec.java")
BUILD_DIR = Path(__file__).with_name(".jvm_build")
_CLASS = "ex_aws_firehose_spark.functions.GzipCodec"
GUNZIP, GZIP = "firehose_gunzip", "firehose_gzip"
_UDFS = {GUNZIP: f"{_CLASS}$Decompress", GZIP: f"{_CLASS}$Compress"}


def jar_path(source: Path = SOURCE, build_dir: Path = BUILD_DIR) -> Path:
    """Where the jar for this version of ``source`` lives."""
    digest = hashlib.sha256(source.read_bytes()).hexdigest()[:16]
    return build_dir / f"{source.stem}-{digest}.jar"


def build_jar(source: Path = SOURCE, build_dir: Path = BUILD_DIR) -> Path:
    """Compile ``source`` into its jar unless that jar exists; returns it."""
    jar = jar_path(source, build_dir)
    if jar.exists():
        return jar
    javac = shutil.which("javac")
    if javac is None:
        raise RuntimeError(
            f"compiling {source.name} needs a JDK: no `javac` on PATH"
        )
    build_dir.mkdir(parents=True, exist_ok=True)
    # the jars the JVM will run with: pyspark launches it from this home
    spark_jars = os.path.join(_find_spark_home(), "jars", "*")
    with tempfile.TemporaryDirectory(dir=build_dir) as tmp:
        classes = Path(tmp, "classes")
        # Spark 4 runs on Java 17+: target 17 whatever JDK compiles.
        proc = subprocess.run(
            [javac, "--release", "17", "-cp", spark_jars,
             "-d", str(classes), str(source)],
            capture_output=True,
            text=True,
        )
        if proc.returncode != 0:
            raise RuntimeError(f"`javac` failed on {source}:\n{proc.stderr}")
        part = Path(tmp, jar.name)
        with zipfile.ZipFile(part, "w") as zf:
            for f in sorted(classes.rglob("*.class")):
                zf.write(f, f.relative_to(classes).as_posix())
        os.replace(part, jar)
    return jar


def register(spark: SparkSession) -> None:
    """Register the codec UDFs on ``spark`` unless it already has them."""
    if spark.catalog.functionExists(GUNZIP):
        return
    spark.sql(f"ADD JAR '{build_jar()}'")
    for name, cls in _UDFS.items():
        spark.udf.registerJavaFunction(name, cls, T.BinaryType())


def gunzip(spark: SparkSession, data: Column) -> Column:
    """gzip bytes -> bytes; NULL for NULL or undecodable input."""
    register(spark)
    return F.call_function(GUNZIP, data)


def gzip(spark: SparkSession, data: Column) -> Column:
    """bytes -> gzip bytes (deterministic: mtime=0, level 6)."""
    register(spark)
    return F.call_function(GZIP, data)
