"""Session-aware bounded cache for persisted DataFrames.

Operators that stage an expensive intermediate (shingle tables, LSH
bucket projections) persist it and register it here so repeated calls
over the same corpus reuse one materialization.  Two failure modes this
guards against (ADVICE round 1):

* cached DataFrames outliving their SparkSession — keys embed the
  applicationId, and any entry from a different (stopped/recreated)
  session is dropped on the next access;
* unbounded growth — FIFO-bounded, evictees unpersisted.

``invalidate()`` is the explicit hook for when the underlying data is
rewritten in place (same plan, same semanticHash, different bytes —
semantic hashing cannot see that).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from csv_etl_spark.driver_memo import BoundedDriverMemo, plan_key, register

__all__ = ["BoundedDriverMemo", "BoundedPersistCache"]


class BoundedPersistCache:
    def __init__(self, max_entries: int = 8) -> None:
        self._entries: dict[tuple, DataFrame] = {}
        self._max = max_entries
        register(self)

    key_for = staticmethod(plan_key)

    def get_or_persist(self, df: DataFrame, *tags) -> DataFrame:
        """The get-or-persist idiom every multi-consumer projection uses,
        in one place so no call site can forget the rules: return the
        cached persisted frame for (df's plan, tags); otherwise persist
        MEMORY_AND_DISK, register, and return it.  Untrackable plans
        (key None) pass through UNPERSISTED — persisting without
        registration would leak (the module-docstring hazard)."""
        from pyspark.storagelevel import StorageLevel

        key = self.key_for(df, *tags)
        if key is None:
            return df
        cached = self.get(key)
        if cached is not None:
            return cached
        df = df.persist(StorageLevel.MEMORY_AND_DISK)
        self.put(key, df)
        return df

    def get(self, key: tuple | None) -> DataFrame | None:
        if key is None:
            return None
        self._evict_other_sessions(key[0])
        return self._entries.get(key)

    def put(self, key: tuple | None, df: DataFrame) -> None:
        if key is None:
            return
        self._evict_other_sessions(key[0])
        while len(self._entries) >= self._max:
            oldest = next(iter(self._entries))
            self._drop(oldest)
        self._entries[key] = df

    def invalidate(self, key: tuple | None = None, blocking: bool = False) -> None:
        """Drop one entry (or all, when key is None), unpersisting.

        ``blocking=True`` forces the unpersist to complete before
        returning — benchmark harnesses need this, because the default
        async unpersist otherwise runs concurrently with (and contends
        against) whatever is timed next.
        """
        if key is not None:
            self._drop(key, blocking=blocking)
            return
        for k in list(self._entries):
            self._drop(k, blocking=blocking)

    def _evict_other_sessions(self, app_id: str) -> None:
        for k in [k for k in self._entries if k[0] != app_id]:
            # the owning session may already be stopped — unpersist
            # best-effort, always drop the reference
            self._drop(k)

    def _drop(self, key: tuple, blocking: bool = False) -> None:
        df = self._entries.pop(key, None)
        if df is not None:
            try:
                df.unpersist(blocking=blocking)
            except Exception:
                pass
