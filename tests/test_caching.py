"""session_cached: the one memo mechanism behind every session fixture.

No JVM: a fake session only needs ``sparkContext.applicationId``.
"""

from __future__ import annotations

from types import SimpleNamespace

import pytest

from ex_aws_firehose_spark.caching import session_cached

M_DEFAULT = 4


def _session(app_id: str) -> SimpleNamespace:
    return SimpleNamespace(sparkContext=SimpleNamespace(applicationId=app_id))


@pytest.fixture
def counted():
    """A decorated fixture that records every build it runs."""
    builds: list[tuple] = []

    @session_cached
    def fixture(spark, sf_dir: str, m: int = M_DEFAULT, where: str | None = None):
        """Fixture docstring."""
        builds.append((spark.sparkContext.applicationId, sf_dir, m, where))
        return object()

    return fixture, builds


def test_second_call_does_not_rebuild(counted):
    f, builds = counted
    s = _session("app-1")
    assert f(s, "sf") is f(s, "sf")
    assert len(builds) == 1


def test_each_argument_value_gets_its_own_entry(counted):
    f, builds = counted
    s = _session("app-1")
    a = f(s, "sf")
    assert f(s, "sf", where="vec_id % 4 != 3") is not a
    assert f(s, "sf", 8) is not a
    assert f(s, "other_sf") is not a
    assert len(builds) == 4
    assert f(s, "sf") is a
    assert len(builds) == 4


def test_positional_keyword_and_default_calls_share_one_entry(counted):
    f, builds = counted
    s = _session("app-1")
    a = f(s, "sf")
    assert f(s, "sf", M_DEFAULT) is a
    assert f(s, "sf", m=M_DEFAULT) is a
    assert f(s, sf_dir="sf", m=M_DEFAULT, where=None) is a
    assert f(spark=s, sf_dir="sf") is a
    assert len(builds) == 1


def test_new_session_evicts_the_old_sessions_entries(counted):
    f, builds = counted
    old = _session("app-1")
    a = f(old, "sf")
    f(old, "sf", 8)
    b = f(_session("app-2"), "sf")
    assert b is not a
    assert builds[-1][0] == "app-2"
    # the stopped session's entries are gone: a call under it rebuilds
    assert f(old, "sf") is not a
    assert len(builds) == 4


def test_build_that_raises_stores_nothing():
    calls = []

    @session_cached
    def flaky(spark, sf_dir):
        calls.append(sf_dir)
        if len(calls) == 1:
            raise RuntimeError("first build fails")
        return sf_dir

    s = _session("app-1")
    with pytest.raises(RuntimeError):
        flaky(s, "sf")
    assert flaky(s, "sf") == "sf"
    assert flaky(s, "sf") == "sf"
    assert len(calls) == 2


def test_cache_clear_empties_the_cache(counted):
    f, builds = counted
    s = _session("app-1")
    a = f(s, "sf")
    f.cache_clear()
    assert f(s, "sf") is not a
    assert len(builds) == 2


def test_wraps_keeps_name_and_docstring(counted):
    f, _ = counted
    assert f.__name__ == "fixture"
    assert f.__doc__ == "Fixture docstring."
