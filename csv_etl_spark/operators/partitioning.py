"""Partitioning strategies for shuffle elimination at scale: bucketing and
skew salting.

* Bucketing — pre-shuffle a fact table ONCE at write time
  (``bucketBy(n, key)``); every later equi-join or aggregation on that key
  reads co-located buckets and skips its Exchange entirely.  This is the
  100 TB move for tables that are joined on the same key every day
  (orders ⋈ lineitem on orderkey): pay one shuffle at ingest, never again.
  ``assert_no_shuffle_join`` exists so tests (and operators) can PROVE the
  Exchange is gone instead of assuming it.

* Salting — when one key value dominates (power-law user, null-key
  bucket), hash-partitioning sends the whole key to one task.  Salting
  appends a random-ish suffix to split the hot key N ways, aggregates
  partially per (key, salt), then merges the partials — the classic
  two-phase aggregation.  AQE's skew-join handles the JOIN case at
  runtime; two-phase aggregation is the groupBy-side counterpart you
  still spell yourself.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_by: str,
    num_buckets: int = 32,
    sort_by: str | None = None,
    path: str | None = None,
) -> None:
    """Persist ``df`` as a bucketed (+optionally sorted) managed table.

    Sorting within buckets additionally enables merge-join without a sort
    step.  Buckets only help when BOTH join sides share (key, num_buckets)
    — pick one bucket count per subject area and stick to it."""
    writer = df.write.mode("overwrite").bucketBy(num_buckets, bucket_by)
    if sort_by:
        writer = writer.sortBy(sort_by)
    if path:
        writer = writer.option("path", path)
    writer.saveAsTable(table)


def bucketed_join(
    spark: SparkSession, left_table: str, right_table: str, on: str, how: str = "inner"
) -> DataFrame:
    """Join two same-bucketed tables on their bucket key: zero Exchange on
    either side (verify with assert_no_shuffle_join)."""
    return spark.table(left_table).join(spark.table(right_table), on, how)


def count_exchanges(df: DataFrame) -> int:
    """Number of Exchange (shuffle) operators in the physical plan."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.count("Exchange hashpartitioning") + plan.count("Exchange rangepartitioning")


def assert_no_shuffle_join(df: DataFrame) -> None:
    """Raise if the plan shuffles — proof that bucketing removed the
    Exchange rather than hope."""
    n = count_exchanges(df)
    if n:
        raise AssertionError(f"plan contains {n} shuffle Exchange(s)")


# ---------------------------------------------------------------------------
# Skew salting
# ---------------------------------------------------------------------------


def with_salt(df: DataFrame, n_salts: int, salt_col: str = "_salt") -> DataFrame:
    """Deterministic pseudo-random salt in [0, n_salts) per row (hash of all
    columns — no rand(), so retried tasks produce identical results;
    nondeterministic salts break speculative execution and resume)."""
    return df.withColumn(
        salt_col, F.pmod(F.xxhash64(*[F.col(c) for c in df.columns]), F.lit(n_salts))
    )


def salted_agg(
    df: DataFrame,
    keys: list[str],
    aggs: list[tuple[str, str, str]],
    n_salts: int = 16,
) -> DataFrame:
    """Two-phase skew-tolerant aggregation.

    ``aggs``: (column, fn, alias) with fn ∈ {sum, count, min, max}.
    Phase 1 aggregates per (keys, salt) — the hot key's rows split across
    ``n_salts`` tasks; phase 2 merges the ≤ n_salts partial rows per key
    (count merges by SUM, min/max by themselves).  avg is deliberately
    absent: express it as sum/count so both phases stay mergeable."""
    supported = {"sum", "count", "min", "max"}
    for _, fn, _ in aggs:
        if fn not in supported:
            raise ValueError(f"salted_agg supports {sorted(supported)}, got '{fn}'")

    salted = with_salt(df, n_salts)
    phase1 = salted.groupBy(*keys, "_salt").agg(
        *[getattr(F, fn)(c).alias(a) for c, fn, a in aggs]
    )
    merge = {"sum": F.sum, "count": F.sum, "min": F.min, "max": F.max}
    phase2 = phase1.groupBy(*keys).agg(
        *[merge[fn](a).alias(a) for _, fn, a in aggs]
    )
    return phase2
