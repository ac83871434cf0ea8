"""Session-scoped fixtures: memoized builds and tracked temp dirs.

Several modules memoize expensive per-(session, sf_dir) work — persisted
DataFrames (decoded record batches, shingle frames), trained codebooks
and staged temp-dir fixtures. :func:`session_cached` is the one
mechanism for all of them: it keys each call on the session's
``applicationId`` plus the function's own bound arguments (defaults
filled, so positional, keyword and default-filled calls share one
entry), builds on the first call and returns the stored value after.

``applicationId`` is stable for a session's lifetime and never recycled
the way ``id()`` can be. Exactly one SparkContext is live per JVM, so an
entry keyed by a different applicationId belongs to a *stopped* session:
its DataFrames are unusable and its temp dirs are reclaimed at
interpreter exit. Each call drops those entries, which keeps long-lived
multi-session processes from accumulating dead references.

Temp dirs a fixture stages into come from :func:`tracked_mkdtemp`, which
removes them at interpreter exit instead of leaking one per session.
"""

from __future__ import annotations

import atexit
import functools
import inspect
import shutil
import tempfile
from collections.abc import Callable
from typing import TypeVar

Fn = TypeVar("Fn", bound=Callable)

_TMP_DIRS: list[str] = []


def tracked_mkdtemp(prefix: str) -> str:
    """``tempfile.mkdtemp`` whose directory is removed at interpreter
    exit — session fixtures otherwise leak one dir per (session, sf)."""
    path = tempfile.mkdtemp(prefix=prefix)
    _TMP_DIRS.append(path)
    return path


@atexit.register
def _cleanup_tmp_dirs() -> None:
    for d in _TMP_DIRS:
        shutil.rmtree(d, ignore_errors=True)


def session_cached(fn: Fn) -> Fn:
    """Memoize ``fn(spark, *args)`` per (applicationId, bound args).

    A build that raises stores nothing. ``fn.cache_clear()`` empties the
    cache, like ``functools.lru_cache``."""
    sig = inspect.signature(fn)
    cache: dict[tuple, object] = {}

    @functools.wraps(fn)
    def wrapper(spark, *args, **kwargs):
        bound = sig.bind(spark, *args, **kwargs)
        bound.apply_defaults()
        app_id = spark.sparkContext.applicationId
        for stale in [k for k in cache if k[0] != app_id]:
            del cache[stale]
        key = (app_id, *list(bound.arguments.values())[1:])
        if key not in cache:
            cache[key] = fn(*bound.args, **bound.kwargs)
        return cache[key]

    wrapper.cache_clear = cache.clear
    return wrapper
