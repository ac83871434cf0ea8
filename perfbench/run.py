"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Runs one workload in a fresh Python process and JVM (``local[nproc]``),
checks its outputs, and prints two lines on stdout: a host header, then
the result object ``{"correct", "attempted", "failed", "metrics"}``.
With ``--trace 0`` the metrics are the end-to-end ones, measured with
tracing off; with ``--trace 1`` they are the per-layer ones from a
traced run, whose spans and per-key rows are written under
``.bench_work/results/`` for ``perfbench/report.py``. The exit code is
non-zero when any output check failed. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

from common import BENCH_DIR, PACKAGE, ROOT, Context, Result, cpu_times, results_dir

WORKLOADS = ("delivery", "queries_sf0.01", "queries_sf0.1")


def _prepare_env(work: str, cores: int) -> None:
    # Python workers import the package; temp files stay in the checkout.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def _check_checkout() -> None:
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "registry.py")):
        raise SystemExit(
            f"perfbench: no {PACKAGE} package next to {BENCH_DIR}; run from a"
            " full checkout"
        )


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument(
        "--smoke",
        action="store_true",
        help="tiny inputs (sf0.001, a handful of delivery files) for the self-test",
    )
    return p.parse_args(argv)


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    _check_checkout()
    cores = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    _prepare_env(work, cores)
    ctx = Context(
        workload=args.workload,
        seed=args.seed,
        seconds=args.seconds,
        trace=bool(args.trace),
        smoke=args.smoke,
        work=work,
        cores=cores,
    )
    steal0, total0 = cpu_times()
    try:
        if ctx.workload == "delivery":
            import delivery

            result = delivery.run(ctx)
        else:
            import queries

            result = queries.run(ctx)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    steal1, total1 = cpu_times()
    host = result.detail["host"]
    host["loadavg_after"] = list(os.getloadavg())
    # Share of CPU time the hypervisor gave to other guests during the
    # run: on a shared VM, runs with a high share read slow.
    host["cpu_steal_share"] = (steal1 - steal0) / max(1, total1 - total0)
    _write_result(ctx, result)
    print(json.dumps({"host": host}), flush=True)
    line = {
        "correct": result.failed == 0,
        "attempted": result.attempted,
        "failed": result.failed,
        "metrics": _metrics_json(result),
    }
    print(json.dumps(line), flush=True)
    return 0 if result.failed == 0 else 1


def _metrics_json(result: Result) -> dict:
    return {k: {"value": v, "unit": u} for k, (v, u) in result.metrics.items()}


def _write_result(ctx: Context, result: Result) -> None:
    os.makedirs(results_dir(), exist_ok=True)
    name = f"{ctx.workload}-trace{int(ctx.trace)}-seed{ctx.seed}.json"
    doc = {
        "attempted": result.attempted,
        "failed": result.failed,
        "metrics": _metrics_json(result),
        **result.detail,
    }
    with open(os.path.join(results_dir(), name), "w") as f:
        json.dump(doc, f, indent=1, sort_keys=True)


if __name__ == "__main__":
    sys.exit(main())
