"""Trace report over the result files the benchmark leaves in
``.bench_work/results/``.

    python3 perfbench/report.py [--results DIR]

For each traced ``queries_*`` result it prints one row per key with
``build_ms + plan_ms + execute_ms`` next to the key's wall time (rows
that miss by more than 10% are flagged), ranked by ``fixed_ms`` (wall
minus executor time over cores). For a traced ``delivery`` result it
prints one row per micro-batch. Each traced result also gets its span
self times by span name, and, where a timed result of the same workload
and seed exists, the tracing overhead: traced ``pass_s`` minus timed
``pass_s`` for queries, traced minus timed median record latency for
delivery. Exits 1 if any key row fails to reconcile.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import statistics
import sys
from collections import defaultdict

RECONCILE_TOLERANCE = 0.10
DEFAULT_RESULTS = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    ".bench_work",
    "results",
)


def load(path: str) -> dict:
    with open(path) as f:
        return json.load(f)


def key_rows(doc: dict) -> tuple[list[str], bool]:
    """Per-key table lines, ranked by fixed_ms; and whether every row
    reconciles to its wall time."""
    lines = [
        f"{'key':<24}{'wall':>8}{'build':>8}{'plan':>7}{'exec':>8}{'miss%':>7}"
        f"{'rerun':>8}{'fixed':>8}{'jobs':>5}{'tasks':>6}{'cg#':>5}{'cg_ms':>7}"
    ]
    ok = True
    rows = sorted(doc["per_key"].items(), key=lambda kv: -kv[1]["fixed_ms"])
    for key, r in rows:
        parts = r["build_ms"] + r["plan_ms"] + r["execute_ms"]
        miss = abs(parts - r["wall_ms"]) / r["wall_ms"]
        flag = "" if miss <= RECONCILE_TOLERANCE else "  <-- does not reconcile"
        ok = ok and not flag
        lines.append(
            f"{key:<24}{r['wall_ms']:>8.0f}{r['build_ms']:>8.0f}{r['plan_ms']:>7.0f}"
            f"{r['execute_ms']:>8.0f}{100 * miss:>7.1f}{r['rerun_ms']:>8.0f}"
            f"{r['fixed_ms']:>8.0f}{r['jobs']:>5}{r['tasks']:>6}"
            f"{r['codegen_compiles']:>5}{r['codegen_ms']:>7.0f}{flag}"
        )
    return lines, ok


def batch_rows(doc: dict) -> list[str]:
    lines = [f"{'batch':>5}{'ms':>8}{'files':>6}{'backlog':>8}{'jobs':>5}{'exec_ms':>9}"]
    for b in doc["batches"]:
        lines.append(
            f"{b['batch_id']:>5}{b['ms']:>8.0f}{len(b['files']):>6}"
            f"{b['backlog_files']:>8}{b.get('jobs', 0):>5}"
            f"{b.get('executor_run_ms', 0):>9.0f}"
        )
    return lines


def self_times(spans: list[dict]) -> list[str]:
    total: dict[str, float] = defaultdict(float)
    count: dict[str, int] = defaultdict(int)
    for s in spans:
        total[s["name"]] += s["self_ms"]
        count[s["name"]] += 1
    return [
        f"  {name:<16} n={count[name]:<4} self_ms={total[name]:.0f}"
        for name in sorted(total, key=lambda n: -total[n])
    ]


def overhead(traced: dict, timed: dict | None, workload: str) -> str:
    if timed is None:
        return "tracing overhead: no timed result of this workload and seed"
    if workload == "delivery":
        a = statistics.median(traced["latency_ms"])
        b = statistics.median(timed["latency_ms"])
        return (
            f"tracing overhead: median record latency {a:.0f} - {b:.0f}"
            f" = {a - b:+.0f} ms ({100 * (a - b) / b:+.1f}%)"
        )
    a, b = traced["pass_s"], timed["pass_s"]
    return (
        f"tracing overhead: pass_s {a:.2f} - {b:.2f} = {a - b:+.2f} s"
        f" ({100 * (a - b) / b:+.1f}%)"
    )


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--results", default=DEFAULT_RESULTS)
    args = p.parse_args(argv)
    traced = sorted(glob.glob(os.path.join(args.results, "*-trace1-seed*.json")))
    if not traced:
        print(f"no traced results in {args.results}", file=sys.stderr)
        return 1
    all_ok = True
    for path in traced:
        doc = load(path)
        host = doc["host"]
        workload = host["workload"]
        timed_path = path.replace("-trace1-", "-trace0-")
        timed = load(timed_path) if os.path.exists(timed_path) else None
        print(
            f"== {workload} seed {host['seed']}  nproc={host['nproc']}"
            f" pyspark={host['pyspark']} java={host['java']}"
            f" commit={host['git_commit'][:12]} load={host['loadavg']}"
        )
        if "per_key" in doc:
            lines, ok = key_rows(doc)
            all_ok = all_ok and ok
        else:
            lines = batch_rows(doc)
        print("\n".join(lines))
        print("span self times:")
        print("\n".join(self_times(doc["spans"])))
        print(overhead(doc, timed, workload))
        print()
    return 0 if all_ok else 1


if __name__ == "__main__":
    sys.exit(main())
