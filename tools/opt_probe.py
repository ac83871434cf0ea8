"""Per-key optimization probe (round 14): isolate one or more registry
keys in a bench-identical session, time them through the noop sink
(guide §1.4), dump ``explain("formatted")`` plans, and optionally pull
per-node SQL metrics from the UI REST API for an empirical breakdown
(guide §1.1/§7.1 — the UI is disabled in the bench session, so the
probe enables it on a private port).

Usage::

    python tools/opt_probe.py KEY [KEY...] [--runs 3] [--cold-runs 1]
        [--preludes] [--plans-dir plans/r14] [--suffix before]
        [--sql-metrics] [--sf-dir /root/testdata/sf0.1]

Timing protocol: each key is materialized ``--cold-runs`` times first
(cold = includes fixture staging / session-cache fills shared with the
rest of its family, exactly what bench.py charges the key) and then
``--runs`` warm repeats; the report shows cold, warm min and warm
median so a claimed win can be separated from staging amortization.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import preludes
from ex_aws_firehose_spark.registry import REGISTRY, load_all_operators
from ex_aws_firehose_spark.session import get_spark

UI_PORT = 4077


def _materialize(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _sql_metrics(app_id: str, n_last: int = 1) -> list[dict]:
    url = f"http://localhost:{UI_PORT}/api/v1/applications/{app_id}/sql?length=10000"
    with urllib.request.urlopen(url, timeout=10) as r:
        execs = json.load(r)
    return execs[-n_last:]


def _print_metrics(execs: list[dict]) -> None:
    for e in execs:
        print(f"  sql execution {e['id']}: {e.get('duration')} ms  "
              f"status={e.get('status')}")
        nodes = e.get("nodes", [])
        scored = []
        for n in nodes:
            label = n.get("nodeName", "?")
            interesting = []
            for m in n.get("metrics", []):
                nm = m.get("name", "")
                if any(w in nm for w in (
                    "time total", "shuffle bytes written", "records read",
                    "rows output", "data size", "spill", "duration",
                    "shuffle records written", "files read", "bytes read",
                )):
                    interesting.append(f"{nm}={m.get('value')}")
            if interesting:
                scored.append((label, interesting))
        for label, ms in scored:
            print(f"    {label}: {'; '.join(ms)}")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("keys", nargs="+")
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--cold-runs", type=int, default=1)
    ap.add_argument("--preludes", action="store_true")
    ap.add_argument("--plans-dir", default=None)
    ap.add_argument("--suffix", default="before")
    ap.add_argument("--sql-metrics", action="store_true")
    ap.add_argument(
        "--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    )
    args = ap.parse_args(argv)

    load_all_operators()
    spark = get_spark(
        app_name="opt-probe",
        extra_conf={
            "spark.ui.enabled": "true" if args.sql_metrics else "false",
            "spark.ui.port": str(UI_PORT),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    app_id = spark.sparkContext.applicationId
    sf_dir = args.sf_dir

    # Warm up JVM/codegen the way bench.py does.
    _materialize(REGISTRY["q_scan_project"].fn(spark, sf_dir))

    if args.preludes:
        pt = {}
        for name, thunk in preludes(spark, sf_dir):
            t0 = time.perf_counter()
            thunk()
            pt[name] = round(time.perf_counter() - t0, 3)
        print("preludes: " + json.dumps(pt))

    for key in args.keys:
        if key not in REGISTRY:
            print(f"!! unknown key {key}")
            continue
        fn = REGISTRY[key].fn
        spark.sparkContext.setJobDescription(f"probe:{key}")
        colds = []
        for _ in range(args.cold_runs):
            t0 = time.perf_counter()
            _materialize(fn(spark, sf_dir))
            colds.append(time.perf_counter() - t0)
        warms = []
        for _ in range(args.runs):
            t0 = time.perf_counter()
            _materialize(fn(spark, sf_dir))
            warms.append(time.perf_counter() - t0)
        spark.sparkContext.setJobDescription(None)
        cold_s = "/".join(f"{c:.2f}" for c in colds)
        if warms:
            print(
                f"{key}: cold {cold_s}  warm min {min(warms):.2f} "
                f"median {statistics.median(warms):.2f} "
                f"(runs: {', '.join(f'{w:.2f}' for w in warms)})"
            )
        else:
            print(f"{key}: cold {cold_s}")
        if args.plans_dir:
            os.makedirs(args.plans_dir, exist_ok=True)
            df = fn(spark, sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            path = os.path.join(args.plans_dir, f"{key}_{args.suffix}.txt")
            with open(path, "w") as f:
                f.write(plan)
            print(f"  plan -> {path}")
        if args.sql_metrics:
            try:
                _print_metrics(_sql_metrics(app_id, n_last=1))
            except Exception as exc:
                print(f"  (sql metrics unavailable: {exc})")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
