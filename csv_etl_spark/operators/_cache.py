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

from csv_etl_spark.driver_memo import BoundedDriverMemo

__all__ = ["BoundedDriverMemo", "BoundedPersistCache"]


class BoundedPersistCache(BoundedDriverMemo):
    """``BoundedDriverMemo`` over persisted DataFrames: the same keying,
    session eviction, FIFO bound and lock; every evicted or invalidated
    frame is unpersisted."""

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

    def _drop(self, key: tuple, blocking: bool = False) -> None:
        df = super()._drop(key)
        if df is not None:
            # the owning session may already be stopped — unpersist
            # best-effort, always drop the reference
            try:
                df.unpersist(blocking=blocking)
            except Exception:
                pass
