"""fixpoint: the one run-to-convergence loop behind the components,
star and k-core operators.

No JVM: the state is a plain int and the signature is the int itself.
"""

from __future__ import annotations

import pytest

from ex_aws_firehose_spark.tables import fixpoint


def _counted(fn):
    """Wrap ``fn`` so the test can see how often the loop called it."""
    calls: list = []

    def wrapped(x):
        calls.append(x)
        return fn(x)

    return wrapped, calls


@pytest.mark.parametrize("max_rounds", [12, 7])
def test_converges_and_returns_its_rounds(max_rounds):
    """40 → 20 → 10 → 5 → 2 → 1 → 0 → 0: round 7 repeats its
    signature, which is a fixpoint even when 7 is the cap itself."""
    state, rounds = fixpoint(
        40, lambda x: x // 2, lambda x: x, max_rounds=max_rounds, name="halve"
    )
    assert (state, rounds) == (0, 7)


def test_raises_at_the_cap_naming_the_loop_and_its_last_signatures():
    with pytest.raises(RuntimeError) as err:
        fixpoint(0, lambda x: x + 1, lambda x: x, max_rounds=5, name="count_up")
    msg = str(err.value)
    assert "count_up" in msg
    assert "5 rounds" in msg
    assert "4, 5" in msg


def test_seeded_prev_saves_the_input_measurement():
    """An input that is already the fixpoint converges in round 1 when
    the caller seeds its signature; unseeded, round 1 only records."""
    sig, calls = _counted(lambda x: x)
    assert fixpoint(0, lambda x: x // 2, sig, max_rounds=3, name="z") == (0, 2)
    assert len(calls) == 2

    sig, calls = _counted(lambda x: x)
    assert fixpoint(
        0, lambda x: x // 2, sig, max_rounds=3, name="z", prev=0
    ) == (0, 1)
    assert len(calls) == 1


def test_none_is_a_signature_like_any_other():
    """An empty frame's SUM is NULL: two NULL sums in a row are a
    fixpoint, not a missing measurement."""
    assert fixpoint(
        None, lambda x: x, lambda x: x, max_rounds=3, name="empty", prev=None
    ) == (None, 1)
