"""Self-test of the benchmark: tiny smoke runs of each workload through
the real command line (each in its own process and JVM).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
RUN = os.path.join(BENCH, "run.py")
TIMEOUT = 300

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def _run(args: list[str], code: str | None = None, cwd: str = ROOT, script=RUN):
    """Run the benchmark CLI (or ``code`` with the CLI's argv) and
    return (exit code, stdout lines, stderr)."""
    if code is None:
        cmd = [sys.executable, script, *args]
    else:
        cmd = [sys.executable, "-c", code, *args]
    p = subprocess.run(
        cmd, cwd=cwd, capture_output=True, text=True, timeout=TIMEOUT
    )
    return p.returncode, p.stdout.strip().splitlines(), p.stderr


def _smoke_args(workload: str, trace: int) -> list[str]:
    return [
        "--workload", workload, "--seed", "3", "--seconds", "8",
        "--trace", str(trace), "--smoke",
    ]


def _assert_metrics(result: dict, spec: list[dict]) -> None:
    names = {m["name"]: m["unit"] for m in spec}
    assert set(result["metrics"]) == set(names)
    for name, unit in names.items():
        m = result["metrics"][name]
        assert m["unit"] == unit
        assert isinstance(m["value"], float)


@pytest.mark.parametrize(
    "workload,trace",
    [
        ("delivery", 0),
        ("delivery", 1),
        ("queries_sf0.01", 0),
        ("queries_sf0.1", 0),
        ("queries_sf0.1", 1),
    ],
)
def test_smoke_prints_every_metric_with_unit(workload, trace):
    rc, out, err = _run(_smoke_args(workload, trace))
    assert rc == 0, err[-3000:]
    host, result = json.loads(out[-2]), json.loads(out[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] >= 1
    assert host["host"]["nproc"] >= 1 and host["host"]["seed"] == 3
    _assert_metrics(result, SPEC["per_layer" if trace else "end_to_end"])
    if not trace:
        assert all(m["value"] > 0 for m in result["metrics"].values())
    elif workload == "delivery":
        # a handful of small files at the offered rate: the stream keeps
        # up, so nothing is left when the load stops
        assert result["metrics"]["backlog_records"]["value"] == 0
    else:
        # q_stream_dedup is in the key list: the state store is measured
        assert result["metrics"]["state_rows"]["value"] > 0
        assert result["metrics"]["state_commit_ms"]["value"] > 0


PATCH_KEYS = """
import sys
sys.argv[0] = {run!r}
sys.path.insert(0, {bench!r})
import queries, run
queries.KEYS = queries.KEYS + ("q_no_such_key",)
sys.exit(run.main(sys.argv[1:]))
"""


def test_missing_frozen_key_fails_loudly():
    code = PATCH_KEYS.format(run=RUN, bench=BENCH)
    rc, out, err = _run(_smoke_args("queries_sf0.01", 0), code=code)
    assert rc != 0
    assert "missing from REGISTRY" in err and "q_no_such_key" in err
    assert not any(line.startswith('{"correct"') for line in out)


PATCH_EXPECTED = """
import dataclasses, sys
sys.argv[0] = {run!r}
sys.path.insert(0, {bench!r})
import delivery, run
make = delivery.make_files
def wrong(*a):
    files = make(*a)
    e = files[-1][0]
    files[-1][0] = dataclasses.replace(e, payload=(e.payload or "") + "x")
    return files
delivery.make_files = wrong
sys.exit(run.main(sys.argv[1:]))
"""


def test_wrong_expected_payload_raises_failed():
    code = PATCH_EXPECTED.format(run=RUN, bench=BENCH)
    rc, out, err = _run(_smoke_args("delivery", 0), code=code)
    assert rc == 1, err[-3000:]
    result = json.loads(out[-1])
    assert result["correct"] is False
    assert result["failed"] >= 1
    assert result["failed"] / result["attempted"] > 0


def test_refuses_to_run_without_the_package(tmp_path):
    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    rc, out, err = _run(
        ["--workload", "delivery", "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=str(tmp_path),
        script=os.path.join("perfbench", "run.py"),
    )
    assert rc != 0
    assert out == []
