"""Physical-plan audit helpers — the engine's "is this the plan I'd
want at 100 TB?" checks, made programmatic so they run in CI instead of
by eyeballing ``.explain`` output.

Used by tests/test_plans.py to pin the plan properties that matter at
scale: small-dim joins stay broadcast, predicates reach the parquet
scan, projections prune columns, top-k never global-sorts, and no
operator falls back to row-at-a-time Python evaluation
(``BatchEvalPython``) — the Arrow-batched forms (``ArrowEvalPython``,
``MapInPandas``/``MapInArrow``, the grouped and cogrouped
``FlatMap*In{Pandas,Arrow}`` nodes, ``ArrowAggregatePython``) are the
only sanctioned Python boundaries. :data:`PYTHON_EVAL` matches all of
them, so "no Python node" asserts see every one.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def physical_plan(df: DataFrame) -> str:
    """The executed (post-AQE-planning) physical plan as text."""
    return df._jdf.queryExecution().executedPlan().toString()


def uses_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in physical_plan(df)


def uses_take_ordered(df: DataFrame) -> bool:
    return "TakeOrderedAndProject" in physical_plan(df)


def pushed_filters(df: DataFrame) -> list[str]:
    """All parquet-scan PushedFilters entries (flattened)."""
    out: list[str] = []
    for m in re.finditer(r"PushedFilters: \[([^\]]*)", physical_plan(df)):
        out.extend(f.strip() for f in m.group(1).split(",") if f.strip())
    return out


def read_schemas(df: DataFrame) -> list[str]:
    """ReadSchema of every file scan — column-pruning check."""
    return re.findall(r"ReadSchema: (\S+)", physical_plan(df))


# Every physical node that ships rows to a Python worker on Spark 4.1:
# scalar UDFs (BatchEvalPython, ArrowEvalPython), grouped-agg and window
# pandas UDFs (ArrowAggregatePython, ArrowWindowPython), mapInPandas /
# mapInArrow, grouped and cogrouped applyInPandas / applyInArrow
# (FlatMap[Co]GroupsIn{Pandas,Arrow}, incl. ...WithState) and
# transformWithStateInPandas.
PYTHON_EVAL = re.compile(
    r"\b(BatchEvalPython|ArrowEvalPython|Arrow(?:Aggregate|Window)Python"
    r"|MapIn(?:Pandas|Arrow)|FlatMap(?:Co)?GroupsIn(?:Pandas|Arrow)\w*"
    r"|TransformWithStateIn\w+)\b"
)


def python_eval_operators(df: DataFrame) -> list[str]:
    """Names of Python-evaluation operators in the plan. Row-at-a-time
    ``BatchEvalPython`` is the slow path and should never appear."""
    return PYTHON_EVAL.findall(physical_plan(df))


def shuffle_count(df: DataFrame) -> int:
    """Number of shuffle exchanges (excluding reused ones) — the scale
    currency every operator budgets."""
    plan = physical_plan(df)
    return len(re.findall(r"\bExchange (?:hashpartitioning|rangepartitioning|RoundRobinPartitioning|SinglePartition)", plan))
