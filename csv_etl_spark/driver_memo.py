"""Session-aware bounded memo for small driver-side values, and the
registry of every cache.

Plain Python (a lock and a dict) so that the mapping compiler and the
operator caches can share one keying rule without the compiler importing
the operator families.  Keys start with the SparkContext's
applicationId: entries from a stopped or recreated session are dropped
on the next access.

Every ``BoundedDriverMemo`` and ``operators._cache.BoundedPersistCache``
registers itself here when constructed, so ``clear_all`` empties every
cache without a hand-kept list (a forgotten cache once made a bench time
a cache hit instead of the operator).
"""

from __future__ import annotations

import threading
import weakref

from pyspark.sql import DataFrame

_REGISTRY: weakref.WeakSet = weakref.WeakSet()


def register(cache) -> None:
    """Track ``cache`` for ``clear_all`` (weakly: a dropped cache goes)."""
    _REGISTRY.add(cache)


def clear_all(blocking: bool = True) -> None:
    """``invalidate(blocking=...)`` every registered cache.
    ``blocking=True`` lets a benchmark harness finish the unpersists
    before it times the next pass."""
    for cache in list(_REGISTRY):
        cache.invalidate(blocking=blocking)


def plan_key(df: DataFrame, *extra) -> tuple | None:
    """(applicationId, semanticHash, *extra) — None when the plan
    cannot be semantically hashed (caller should then skip caching
    AND skip persisting, so nothing leaks untracked)."""
    try:
        app_id = df.sparkSession.sparkContext.applicationId
        return (app_id, df.semanticHash(), *extra)
    except Exception:
        return None


class BoundedDriverMemo:
    """Session-aware bounded memo for SMALL driver-side values (r17: the
    BPE merge table — k rows, the merge table IS the model; the
    compiled mappings of ``compiler.compile_mapping``).  Keys start with
    the applicationId; entries from stopped sessions are evicted on
    access; the entries are FIFO-bounded.  Values are plain Python
    objects, so eviction only forgets them —
    ``operators._cache.BoundedPersistCache`` subclasses this and
    overrides ``_drop`` to unpersist.  ``invalidate(blocking=...)``
    takes the persist cache's signature so bench harnesses clear every
    cache uniformly.  A lock guards the entries: the compiled-mapping
    memo is shared by the dashboard's request threads."""

    def __init__(self, max_entries: int = 8) -> None:
        self._entries: dict[tuple, object] = {}
        self._max = max_entries
        self._lock = threading.Lock()
        register(self)

    key_for = staticmethod(plan_key)

    def get(self, key: tuple | None):
        if key is None:
            return None
        with self._lock:
            self._evict_other_sessions(key[0])
            return self._entries.get(key)

    def put(self, key: tuple | None, value) -> None:
        if key is None:
            return
        with self._lock:
            self._evict_other_sessions(key[0])
            while len(self._entries) >= self._max:
                self._drop(next(iter(self._entries)))
            self._entries[key] = value

    def invalidate(self, key: tuple | None = None, blocking: bool = False) -> None:
        """Drop one entry (or all, when key is None).  ``blocking`` is
        passed to ``_drop``: a persist cache then finishes its unpersists
        before returning, so they do not contend with what runs next."""
        with self._lock:
            for k in list(self._entries) if key is None else [key]:
                self._drop(k, blocking=blocking)

    def _evict_other_sessions(self, app_id: str) -> None:
        for k in [k for k in self._entries if k[0] != app_id]:
            self._drop(k)

    def _drop(self, key: tuple, blocking: bool = False):
        """Remove one entry and return its value; the caller holds the
        lock."""
        return self._entries.pop(key, None)
