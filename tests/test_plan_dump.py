"""tools/plan_dump.py::normalize: run-dependent plan text is blanked."""

import importlib.util
import tempfile
from pathlib import Path

_spec = importlib.util.spec_from_file_location(
    "plan_dump", Path(__file__).parents[1] / "tools" / "plan_dump.py"
)
plan_dump = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(plan_dump)


def test_normalize_blanks_lambda_counters_and_expr_ids():
    """Two builds of one ``F.transform`` differ only in PySpark's
    lambda-variable counter and the expression ids; both normalize to
    the same text, which keeps the variable's name."""
    def plan(n, ids):
        return (
            f"Project [array_join(transform(envelope#{ids[0]}.logEvents, "
            f"lambdafunction(lambda x_{n}#{ids[1]}.message, "
            f"lambda x_{n}#{ids[1]}, false)), ) AS payload#{ids[2]}]"
        )

    a, b = plan(3, (12, 40, 41)), plan(17, (7, 95, 96))
    assert a != b
    assert plan_dump.normalize(a) == plan_dump.normalize(b) == (
        "Project [array_join(transform(envelope#.logEvents, "
        "lambdafunction(lambda x_#.message, lambda x_#, false)), ) AS payload#]"
    )


def test_normalize_keeps_named_lambda_variables_and_columns():
    """A SQL lambda's own name (no counter) and an ordinary column whose
    name ends in digits are left as they are."""
    text = "filter(xs#1, lambdafunction((lambda x#2 > 0), lambda x#2, false)), col_12#3"
    assert plan_dump.normalize(text) == (
        "filter(xs#, lambdafunction((lambda x# > 0), lambda x#, false)), col_12#"
    )


def test_normalize_blanks_plan_ids_and_mkdtemp_suffix():
    path = f"{tempfile.gettempdir()}/orders_snap_x1y2z3w4"
    text = f"+- Exchange hashpartitioning(k#1, 4), [plan_id=6382]\n{path}/part"
    assert plan_dump.normalize(text) == (
        "+- Exchange hashpartitioning(k#, 4), [plan_id=]\n"
        f"{tempfile.gettempdir()}/orders_snap_*/part"
    )
