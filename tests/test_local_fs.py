"""The fork-free ``file:`` filesystem (functions/LocalFs.java) that
``get_spark`` installs for local masters: its raw layer against Hadoop's
stock ``RawLocalFileSystem`` (modes on disk, link status field by field,
missing paths), a JFR recording that finds no process start in a
partitioned parquet write and a checkpointed stream, and the session
settings that install it, only into a JVM the session starts itself."""

from __future__ import annotations

import json
import os
import stat
import subprocess
import sys
from pathlib import Path

import pytest
from py4j.protocol import Py4JJavaError
from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home

from ex_aws_firehose_spark.functions import codec
from ex_aws_firehose_spark.session import launches_local_jvm, session_conf

MODES = ["755", "644", "700", "600", "777", "000"]
JAR = Path("/build/LocalFs-0123.jar")


@pytest.fixture(scope="module")
def raw_pair(spark):
    """(new, stock) raw local filesystems, initialized like the session's."""
    jvm = spark._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    new = getattr(jvm.ex_aws_firehose_spark.functions, "LocalFs$Raw")()
    stock = jvm.org.apache.hadoop.fs.RawLocalFileSystem()
    for fs in (new, stock):
        fs.initialize(jvm.java.net.URI("file:///"), conf)
    return new, stock


def _path(spark, p):
    return spark._jvm.org.apache.hadoop.fs.Path(str(p))


def _perm(spark, mode: str):
    return spark._jvm.org.apache.hadoop.fs.permission.FsPermission(mode)


def _mode(p) -> int:
    return stat.S_IMODE(os.lstat(p).st_mode)


def test_session_file_scheme_is_the_fork_free_filesystem(spark):
    jvm = spark._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    uri = jvm.java.net.URI("file:///")
    fs = jvm.org.apache.hadoop.fs.FileSystem.get(uri, conf)
    fc = jvm.org.apache.hadoop.fs.FileContext.getFileContext(uri, conf)
    assert fs.getClass().getName() == "ex_aws_firehose_spark.functions.LocalFs$Local"
    assert fs.getRawFileSystem().getClass().getName().endswith("LocalFs$Raw")
    assert (
        fc.getDefaultFileSystem().getClass().getName()
        == "ex_aws_firehose_spark.functions.LocalFs$Checked"
    )


@pytest.mark.parametrize("mode", MODES)
def test_modes_on_disk_match_stock(spark, raw_pair, tmp_path, mode):
    """mkdirs and create (both under the session's umask) and
    setPermission leave the same mode bits as the stock chmod."""
    seen = []
    for name, fs in zip(("new", "stock"), raw_pair):
        root = tmp_path / name
        root.mkdir()
        d, f, g = root / "dir", root / "file", root / "set"
        assert fs.mkdirs(_path(spark, d), _perm(spark, mode))
        fs.create(_path(spark, f), _perm(spark, mode), True, 4096, 1, 1 << 20, None).close()
        g.write_bytes(b"x")
        fs.setPermission(_path(spark, g), _perm(spark, mode))
        seen.append((_mode(d), _mode(f), _mode(g)))
        for p in (d, f, g):
            os.chmod(p, 0o700)
    assert seen[0] == seen[1]
    assert seen[0][2] == int(mode, 8)


def test_sticky_mode_falls_back_to_stock(spark, raw_pair, tmp_path):
    """A mode above 0777 is beyond java.nio: the stock chmod sets it."""
    got = []
    for name, fs in zip(("new", "stock"), raw_pair):
        d = tmp_path / name
        d.mkdir()
        fs.setPermission(_path(spark, d), _perm(spark, "1777"))
        got.append(stat.S_IMODE(os.stat(d).st_mode))
    assert got == [0o1777, 0o1777]


def _link_status(fs, path):
    try:
        st = fs.getFileLinkStatus(path)
    except Py4JJavaError as e:
        return e.java_exception.getClass().getName()
    return {
        "path": st.getPath().toString(),
        "len": st.getLen(),
        "dir": st.isDirectory(),
        "file": st.isFile(),
        "symlink": st.isSymlink(),
        "target": st.getSymlink().toString() if st.isSymlink() else None,
        "mtime": st.getModificationTime(),
        "atime": st.getAccessTime(),
        "perm": st.getPermission().toString(),
        "owner": st.getOwner(),
        "group": st.getGroup(),
        "replication": st.getReplication(),
        "block_size": st.getBlockSize(),
    }


@pytest.mark.parametrize("qualified", [False, True], ids=["plain", "qualified"])
def test_link_status_matches_stock(spark, raw_pair, tmp_path, qualified):
    f, d = tmp_path / "file", tmp_path / "dir"
    f.write_bytes(b"abc")
    d.mkdir()
    (tmp_path / "link").symlink_to(f)
    (tmp_path / "dangling").symlink_to(tmp_path / "gone")
    new, stock = raw_pair
    for name in ("file", "dir", "link", "dangling", "missing"):
        p = str(tmp_path / name)
        path = _path(spark, f"file:{p}" if qualified else p)
        got, want = _link_status(new, path), _link_status(stock, path)
        assert got == want, name
        if name == "missing":
            assert got == "java.io.FileNotFoundException"
    if not qualified:
        assert _link_status(new, _path(spark, tmp_path / "link"))["symlink"]


def _process_starts(spark, tmp_path, work) -> list[str]:
    """The commands of the JVM's ``jdk.ProcessStart`` events during
    ``work()``."""
    jvm = spark._jvm
    rec = jvm.jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try:
        work()
    finally:
        rec.stop()
    dump = jvm.java.io.File(str(tmp_path / "rec.jfr")).toPath()
    rec.dump(dump)
    rec.close()
    events = jvm.jdk.jfr.consumer.RecordingFile.readAllEvents(dump)
    return [str(events.get(i).getValue("command")) for i in range(events.size())]


def test_writes_and_stream_start_no_process(spark, tmp_path):
    """A partitioned parquet write and a two-trigger checkpointed file
    stream start no process (the stock filesystem forks a chmod per file
    and directory, a readlink per log rename), and still leave the stock
    .crc and _SUCCESS files."""
    table, src = tmp_path / "table", tmp_path / "src"
    sink, ckpt = tmp_path / "sink", tmp_path / "checkpoint"
    for i in range(2):
        spark.range(i * 5, i * 5 + 5).coalesce(1).write.mode("append").parquet(str(src))
    progress = []

    def work():
        (
            spark.range(10)
            .selectExpr("id", "id % 3 AS k")
            .write.partitionBy("k")
            .parquet(str(table))
        )
        q = (
            spark.readStream.schema("id long")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
            .writeStream.format("parquet")
            .option("checkpointLocation", str(ckpt))
            .trigger(availableNow=True)
            .start(str(sink))
        )
        try:
            q.awaitTermination()
        finally:
            q.stop()
        progress.extend(p for p in q.recentProgress if p["numInputRows"])

    assert _process_starts(spark, tmp_path, work) == []
    assert len(progress) == 2
    assert spark.read.parquet(str(sink)).count() == 10
    assert spark.read.parquet(str(table)).count() == 10
    names = set(os.listdir(table))
    assert {"_SUCCESS", "._SUCCESS.crc"} <= names
    assert any(n.endswith(".parquet.crc") for n in os.listdir(table / "k=0"))
    for log in (ckpt / "offsets", ckpt / "commits", sink / "_spark_metadata"):
        assert {"0", "1", ".0.crc", ".1.crc"} <= set(os.listdir(log)), log


@pytest.mark.parametrize("master", ["local", "local[1]", "local[8]", "local[*]"])
def test_new_local_jvm_gets_filesystem(master, monkeypatch):
    monkeypatch.setattr(SparkContext, "_gateway", None)
    monkeypatch.delenv("PYSPARK_GATEWAY_PORT", raising=False)
    assert launches_local_jvm(master)


@pytest.mark.parametrize(
    "master", ["local-cluster[2,1,1024]", "spark://host:7077", "yarn", "k8s://https://h:443"]
)
def test_other_masters_keep_stock_filesystem(master, monkeypatch):
    monkeypatch.setattr(SparkContext, "_gateway", None)
    monkeypatch.delenv("PYSPARK_GATEWAY_PORT", raising=False)
    assert not launches_local_jvm(master)


def test_running_jvm_gets_no_filesystem_settings(spark, monkeypatch):
    """A JVM that is already up (this process's gateway, or spark-submit's
    through PYSPARK_GATEWAY_PORT) has its classpath: no jar can join it."""
    assert SparkContext._gateway is not None
    assert not launches_local_jvm("local[4]")
    monkeypatch.setattr(SparkContext, "_gateway", None)
    monkeypatch.setenv("PYSPARK_GATEWAY_PORT", "12345")
    assert not launches_local_jvm("local[4]")


def test_conf_installs_filesystem_given_jar():
    conf = session_conf(None, None, JAR)
    assert conf["spark.driver.defaultExtraClassPath"] == str(JAR)
    assert conf["spark.hadoop.fs.file.impl"].endswith("LocalFs$Local")
    assert conf["spark.hadoop.fs.AbstractFileSystem.file.impl"].endswith("LocalFs$Checked")
    assert "spark.driver.extraClassPath" not in conf


def test_conf_without_jar_is_the_callers():
    assert session_conf(None, None, None) == {}
    conf = session_conf({"spark.driver.extraClassPath": "/a.jar"}, '{"x": 1}', None)
    assert conf == {"spark.driver.extraClassPath": "/a.jar", "x": "1"}


def test_conf_keeps_caller_classpath():
    cp, default_cp = "spark.driver.extraClassPath", "spark.driver.defaultExtraClassPath"
    via_extra = session_conf({cp: "/a.jar", default_cp: "/d.jar"}, None, JAR)
    via_env = session_conf(None, json.dumps({cp: "/b.jar", default_cp: "/e.jar"}), JAR)
    both = session_conf({default_cp: "/d.jar"}, json.dumps({default_cp: "/e.jar"}), JAR)
    assert via_extra[cp] == "/a.jar"
    assert via_extra[default_cp] == os.pathsep.join([str(JAR), "/d.jar"])
    assert via_env[cp] == "/b.jar"
    assert via_env[default_cp] == os.pathsep.join([str(JAR), "/e.jar"])
    # extra_conf overrides the environment, as for any other key
    assert both[default_cp] == os.pathsep.join([str(JAR), "/d.jar"])


_PROBE = """
import os
from ex_aws_firehose_spark.session import get_spark
spark = get_spark(app_name="local-fs-launch", shuffle_partitions=1)
jvm = spark._jvm
fs = jvm.org.apache.hadoop.fs.FileSystem.get(
    jvm.java.net.URI("file:///"), spark.sparkContext._jsc.hadoopConfiguration())
try:
    jvm.java.lang.Class.forName("ex_aws_firehose_spark.functions.GzipCodec$Compress")
    on_classpath = True
except Exception:
    on_classpath = False
spark.range(3).write.parquet(os.environ["PROBE_OUT"])
print("PROBE", fs.getClass().getName().endswith("LocalFs$Local"), on_classpath,
      spark.read.parquet(os.environ["PROBE_OUT"]).count())
spark.stop()
"""


@pytest.mark.parametrize("launch", ["spark-submit", "driver-class-path"])
def test_session_launches_keep_file_access_and_classpath(tmp_path, launch):
    """get_spark in a fresh process. Under spark-submit the JVM is up
    before python runs: no jar can join its classpath, so the stock
    filesystem stays. With ``--driver-class-path`` in
    PYSPARK_SUBMIT_ARGS (it overrides ``spark.driver.extraClassPath``)
    both that classpath and the filesystem's jar are on the JVM's."""
    script = tmp_path / "probe.py"
    script.write_text(_PROBE)
    repo = str(Path(__file__).resolve().parents[1])
    env = {
        **os.environ,
        "PYTHONPATH": os.pathsep.join(filter(None, [repo, os.environ.get("PYTHONPATH")])),
        "PROBE_OUT": str(tmp_path / "out"),
        "SPARK_GRAFT_CPUS": "1",
        "SPARK_GRAFT_DRIVER_MEM": "512m",
    }
    for key in ("PYSPARK_GATEWAY_PORT", "PYSPARK_GATEWAY_SECRET", "SPARK_GRAFT_EXTRA_CONF"):
        env.pop(key, None)
    if launch == "spark-submit":
        cmd = [str(Path(_find_spark_home(), "bin", "spark-submit")),
               "--master", "local[1]", "--driver-memory", "512m", str(script)]
        want = "False False 3"
    else:
        env["PYSPARK_SUBMIT_ARGS"] = f"--driver-class-path {codec.build_jar()} pyspark-shell"
        cmd = [sys.executable, str(script)]
        want = "True True 3"
    proc = subprocess.run(cmd, env=env, capture_output=True, text=True, timeout=300)
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("PROBE ")]
    assert lines == [f"PROBE {want}"], proc.stderr[-3000:]
