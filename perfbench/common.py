"""Shared pieces of the benchmark: run context and result, session
start and stop inside the checkout, host header, memory and percentile
helpers."""

from __future__ import annotations

import hashlib
import os
import platform
import statistics
import subprocess
import time
from dataclasses import dataclass, field

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
PACKAGE = "ex_aws_firehose_spark"


@dataclass
class Context:
    """Everything a workload needs: its arguments and its private
    directories, all inside the checkout."""

    workload: str
    seed: int
    seconds: float
    trace: bool
    smoke: bool
    work: str
    cores: int

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)


@dataclass
class Result:
    attempted: int
    failed: int
    metrics: dict[str, tuple[float, str]]
    detail: dict = field(default_factory=dict)


def median_of(fn, times: int) -> tuple[float, object]:
    """Run ``fn`` ``times`` times; return the median seconds and the
    last return value."""
    secs, out = [], None
    for _ in range(times):
        t0 = time.perf_counter()
        out = fn()
        secs.append(time.perf_counter() - t0)
    return statistics.median(secs), out


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile, ``q`` in [0, 100]."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def stop_session(spark) -> None:
    """Stop the session, then end the driver JVM (it exits when its
    stdin closes) and wait for it, so the run leaves no process behind."""
    proc = spark.sparkContext._gateway.proc
    spark.stop()
    proc.stdin.close()
    proc.wait(timeout=60)


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:  # the process ended meanwhile
        pass
    return 0


def _descendants(pid: int) -> list[int]:
    """Every live process below ``pid``, from ``/proc/<pid>/stat``."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        kids = children.get(todo.pop(), [])
        out += kids
        todo += kids
    return out


def memory_peaks_mb(spark) -> dict[str, float]:
    """Peak memory of the run by part, read before the session stops:
    the peak resident set of this Python process and of the Python
    workers the JVM started (``pyspark.daemon`` and its forks), and the
    peak used size of each JVM memory pool (heap generations,
    metaspace, code cache). The JVM's own resident set is left out: it
    counts heap the collector has committed but not used."""
    jvm_pid = spark.sparkContext._gateway.proc.pid
    out = {
        "python_driver": _vm_hwm_kb(os.getpid()) / 1024.0,
        "python_workers": sum(_vm_hwm_kb(p) for p in _descendants(jvm_pid)) / 1024.0,
    }
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    for pool in mf.getMemoryPoolMXBeans():
        out[pool.getName()] = pool.getPeakUsage().getUsed() / 2**20
    return out


def peak_mem_mb(parts: dict[str, float]) -> float:
    """The ``peak_mem_mb`` metric from :func:`memory_peaks_mb`: every part
    but the young-generation pools (eden, survivor). Those fill to
    whatever size the collector gives them before each young collection,
    so their peak follows GC sizing and timing (eden alone spread 200-470
    MB between identical runs), not what the program keeps; what
    survives a young collection shows in the old generation."""
    young = ("Eden", "Survivor")
    return sum(mb for name, mb in parts.items() if not any(y in name for y in young))


def _source_digest() -> str:
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, PACKAGE)
    for dirpath, dirnames, files in os.walk(pkg):
        dirnames.sort()
        for name in sorted(files):
            if name.endswith(".py"):
                with open(os.path.join(dirpath, name), "rb") as f:
                    h.update(name.encode() + f.read())
    return h.hexdigest()[:16]


def _git_commit() -> str:
    try:
        out = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"],
            capture_output=True,
            text=True,
            timeout=10,
        )
    except OSError:
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown"


def cpu_times() -> tuple[int, int]:
    """(steal, total) CPU jiffies of the host so far, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields[:8])


def host_header(ctx: Context, data_dir: str, spark) -> dict:
    """Who ran what where: cores, load, versions, code identity, inputs."""
    import pyspark

    java = spark.sparkContext._jvm.java.lang.System.getProperty("java.version")
    return {
        "workload": ctx.workload,
        "trace": int(ctx.trace),
        "nproc": ctx.cores,
        "loadavg": list(os.getloadavg()),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "java": java,
        "git_commit": _git_commit(),
        "source_sha256": _source_digest(),
        "seed": ctx.seed,
        "data_dir": os.path.relpath(data_dir, ROOT),
    }


def spark_conf(ctx: Context) -> dict[str, str]:
    """Session settings that keep every file the run writes inside the
    checkout, plus the event log for traced runs."""
    for d in ("spark-local", "tmp", "warehouse", "eventlog"):
        os.makedirs(ctx.path(d), exist_ok=True)
    conf = {
        "spark.local.dir": ctx.path("spark-local"),
        "spark.sql.warehouse.dir": ctx.path("warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={ctx.path('tmp')} -XX:-UsePerfData"
        ),
        "spark.ui.showConsoleProgress": "false",
    }
    if ctx.trace:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": ctx.path("eventlog"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return conf


def start_session(ctx: Context):
    """Import the operator modules and start the session; returns
    ``(spark, operators_import_s, session_start_s)``."""
    t0 = time.perf_counter()
    from ex_aws_firehose_spark.registry import load_all_operators
    from ex_aws_firehose_spark.session import get_spark

    load_all_operators()
    t1 = time.perf_counter()
    spark = get_spark(app_name=f"perfbench-{ctx.workload}", extra_conf=spark_conf(ctx))
    spark.sparkContext.setLogLevel("ERROR")
    return spark, t1 - t0, time.perf_counter() - t1


def results_dir() -> str:
    return os.path.join(ROOT, ".bench_work", "results")
