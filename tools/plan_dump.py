"""Dump each registry key's optimized logical plan, normalized for diffing.

A refactor that claims "same plans" runs this on both trees over the
same scale factor and diffs the outputs line by line::

    python tools/plan_dump.py --tag manifest --sf-dir SF_DIR --out before.jsonl
    python tools/plan_dump.py --module sources.formats --sf-dir SF_DIR --out all.jsonl
    python tools/plan_dump.py q_read_snapshot_isolation --sf-dir SF_DIR

``SF_DIR`` holds the scale factor's tables (the test suite uses sf0.01).
Keys come from the positional arguments, ``--tag`` (every key carrying
the tag) and ``--module`` (every key defined in a module whose dotted
name ends with it); with none of them, all keys. Each key writes one
JSON line ``{"key": ..., "plan": ...}`` (or ``"error"`` when building
the DataFrame raises), in key order. Building a key runs its fixtures,
as the bench does; the plan itself is never executed.

The plan text is ``queryExecution().optimizedPlan().toString()`` with
four run-dependent parts normalized: expression ids (``#123`` → ``#``),
the counter PySpark appends to lambda variables (``lambda x_12#`` →
``lambda x_#``; it counts every ``F.transform``/``F.exists`` built in
the JVM, so it moves when the order those are built in changes), the
physical plan ids inside a cached relation (``plan_id=6382`` →
``plan_id=``; adaptive re-planning of earlier keys moves them between
runs of one tree) and the random 8-character suffix of
``tempfile.mkdtemp`` dirs under the temp root
(``/tmp/orders_snap_x1y2z3w4`` → ``/tmp/orders_snap_*``).

Known nondeterminism: the four keys that aggregate several DISTINCT
expressions (``q_curate_split_leakage``, ``q_dq_profile``,
``q_profile_table``, ``q_sketch_hll_intersection``) order the
``Expand`` projections' grouping ids differently between JVM runs of
the SAME tree. Compare those keys across reruns of one tree, not across
trees.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from ex_aws_firehose_spark.registry import REGISTRY, load_all_operators
from ex_aws_firehose_spark.session import get_spark

_EXPR_ID = re.compile(r"#\d+")
_LAMBDA_VAR = re.compile(r"(\blambda \w+?_)\d+#")
_PLAN_ID = re.compile(r"plan_id=\d+")
_TEMP_DIR = re.compile(
    "(" + re.escape(tempfile.gettempdir()) + r"/[^/\s,\]\)'\"]*?)"
    r"[a-z0-9_]{8}(?=[/\s,\]\)'\"]|$)"
)


def normalize(plan: str) -> str:
    """Blank out expression ids, lambda-variable counters, plan ids and
    mkdtemp suffixes."""
    plan = _LAMBDA_VAR.sub(r"\1#", _EXPR_ID.sub("#", plan))
    return _TEMP_DIR.sub(r"\1*", _PLAN_ID.sub("plan_id=", plan))


def select_keys(keys: list[str], tags: list[str], modules: list[str]) -> list[str]:
    unknown = [k for k in keys if k not in REGISTRY]
    if unknown:
        raise SystemExit(f"unknown keys: {', '.join(unknown)}")
    chosen = set(keys)
    for rq in REGISTRY.values():
        if any(t in rq.tags for t in tags) or any(
            rq.fn.__module__.endswith(m) for m in modules
        ):
            chosen.add(rq.key)
    if not (keys or tags or modules):
        chosen = set(REGISTRY)
    return sorted(chosen)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("keys", nargs="*")
    ap.add_argument("--tag", action="append", default=[])
    ap.add_argument("--module", action="append", default=[])
    ap.add_argument("--sf-dir", required=True, help="scale-factor table dir")
    ap.add_argument("--out", default="-", help="output file, - for stdout")
    args = ap.parse_args(argv)

    load_all_operators()
    keys = select_keys(args.keys, args.tag, args.module)
    spark = get_spark(app_name="plan-dump")
    spark.sparkContext.setLogLevel("ERROR")
    out = sys.stdout if args.out == "-" else open(args.out, "w")
    try:
        for key in keys:
            try:
                df = REGISTRY[key].fn(spark, args.sf_dir)
                row = {
                    "key": key,
                    "plan": normalize(
                        df._jdf.queryExecution().optimizedPlan().toString()
                    ),
                }
            except Exception as exc:  # one broken key must not end the dump
                row = {"key": key, "error": f"{type(exc).__name__}: {exc}"}
            out.write(json.dumps(row) + "\n")
            out.flush()
    finally:
        if out is not sys.stdout:
            out.close()
        spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
