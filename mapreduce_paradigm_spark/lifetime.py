"""Cache lifetime: a persisted frame or a broadcast belongs to the call
that made it.

``df.persist()`` entries stay in Spark's CacheManager until they are
explicitly unpersisted (the ContextCleaner does not reap them on GC), and
executor broadcast blocks stay until unpersisted. So every cache an
operator or query builder makes goes through this module, which ties it
to the plan it backs.

Contract:

- **Owner.** ``persist(df)`` and ``broadcast(bc)`` hand the handle to the
  current scope: the innermost ``@scoped`` call running in this context.
  With no scope open they raise ``RuntimeError``; a caller that forgot
  its scope fails loudly instead of leaking.
- **Outermost exit.** When the outermost scoped call returns, ONE
  ``weakref.finalize`` on its result owns every handle the call and its
  nested calls made. When the result is garbage-collected, frames are
  unpersisted and broadcasts are unpersisted, never destroyed: a derived
  plan that outlives the result may still reference the broadcast, and
  Spark re-ships an unpersisted broadcast on next use. A result that
  cannot be weakly referenced (a dict of counts, a number) was computed
  eagerly, so its handles are released at once.
- **Nested exit.** The scope's handles move to the parent scope, so a
  cache made by an operator inside a builder lives as long as the
  builder's result, however the builder derived that result from the
  operator's frame.
- **Raise.** The scope releases only its own handles (including those
  its already-returned nested calls moved into it) and re-raises; the
  parent's handles are untouched.
- **Threads.** The scope lives in a ``contextvars.ContextVar`` and each
  thread starts with an empty context, so scoped calls on two threads
  never adopt each other's caches.

``release_caches()`` eagerly releases every live outermost result's
handles (benchmark and test hygiene). The cost of an early release is
only recompute, and a re-shipped broadcast on next use.
"""

from __future__ import annotations

import functools
import threading
import weakref
from contextvars import ContextVar

from pyspark.sql import DataFrame

# handles owned by the innermost scoped call of this context: the JVM
# Dataset of each persisted frame (not the Python frame, which may be the
# result itself and must stay collectable) and each Broadcast
_SCOPE: ContextVar[list | None] = ContextVar("cache_scope", default=None)

_LOCK = threading.Lock()
_OWNERS: list[weakref.finalize] = []  # live outermost results, for release_caches


def _current() -> list:
    scope = _SCOPE.get()
    if scope is None:
        raise RuntimeError(
            "no cache scope is open: persist and broadcast only inside a "
            "lifetime.scoped call"
        )
    return scope


def _persist(scope: list, df: DataFrame) -> DataFrame:
    df = df.persist()
    scope.append(df._jdf)
    return df


def _release(handles: list) -> None:
    for h in handles:
        try:
            h.unpersist(False)
        except Exception:
            pass  # session stopped / gateway down: nothing left to free
    handles.clear()


def persist(df: DataFrame) -> DataFrame:
    """``df.persist()``, owned by the current scope."""
    return _persist(_current(), df)


def broadcast(bc):
    """Hand a ``sparkContext.broadcast`` handle to the current scope."""
    _current().append(bc)
    return bc


def scoped(fn):
    """Run ``fn`` in its own cache scope (see the module contract)."""

    @functools.wraps(fn)
    def run(*args, **kwargs):
        parent = _SCOPE.get()
        mine: list = []
        token = _SCOPE.set(mine)
        try:
            result = fn(*args, **kwargs)
        except BaseException:
            _release(mine)
            raise
        finally:
            _SCOPE.reset(token)
        if parent is not None:
            parent.extend(mine)
        elif mine:
            try:
                fin = weakref.finalize(result, _release, mine)
            except TypeError:
                _release(mine)
                return result
            # at interpreter exit the JVM is tearing down anyway
            fin.atexit = False
            with _LOCK:
                _OWNERS[:] = [f for f in _OWNERS if f.alive]
                _OWNERS.append(fin)
        return result

    return run


def release_caches() -> None:
    """Release the handles of every live outermost result now."""
    with _LOCK:
        owners, _OWNERS[:] = list(_OWNERS), []
    for f in owners:
        f()  # idempotent
