"""One-pass table profiling — the discovery step before anyone writes a
mapping spec or a quality gate: per-column null counts, exact distinct
counts, and numeric/string ranges, computed in a SINGLE aggregation job.

Reference parity note: the reference dashboard's preview page eyeballs the
first rows of a CSV (``app.py`` preview flow); at 100 TB the equivalent
capability is a statistics pass, not a head().  This is also the input a
mapping author needs to pick lookup tables, date formats, and filter
thresholds.

Scale shape: ONE ``agg`` over the table computes every statistic for every
column (Catalyst evaluates all aggregates in one pass over the scan;
map-side partials for count/min/max, partial sets for distinct), then the
single result ROW is exploded into one output row per column — driver
never sees data, just the statistics row.

Choosing ``approx`` — THE switch that matters at scale:

* ``approx=False`` (contract default, oracle-checkable): exact
  ``count_distinct`` on every column.  Catalyst plans multiple distinct
  aggregates as an **Expand** — the input is replicated once per
  distinct column (~n_cols× the scan) plus a distinct-value shuffle per
  column.  Linear and fully distributed, but a ~n_cols constant factor:
  fine to a few hundred GB, wasteful at 100 TB.  Exact is the default
  only because profiling feeds schema decisions (a 37-value column is a
  lookup candidate; "approximately 37" is not actionable) and because
  exact integers are what a cross-engine oracle can hash.
* ``approx=True`` (**the recommended setting at scale — use it for any
  table you wouldn't happily scan n_cols times**): HLL sketches replace
  the distinct sets, the Expand disappears, and the whole profile is ONE
  partial-aggregate pass over the scan — the plan shape is asserted by
  ``tests/test_operators.py::test_profile_approx_plan_has_no_expand``.
  Distinct counts carry ~2 % relative error, which is immaterial for the
  at-scale questions (is this column unique? high-cardinality? enum-ish?).

Engine-portable: counts are exact integers; numeric ranges are rounded
doubles; string ranges compare lexicographically identically.  Other
types (timestamps, arrays, binary) profile nulls/distincts only — their
min/max surface as NULL rather than risking engine-specific renderings.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from csv_etl_spark.local import ident_col

_NUMERIC = (
    T.ByteType, T.ShortType, T.IntegerType, T.LongType,
    T.FloatType, T.DoubleType, T.DecimalType,
)


def profile_table(df: DataFrame, approx: bool = False) -> DataFrame:
    """Per-column profile: ``(column, dtype, n_rows, n_nulls, n_distinct,
    min_num, max_num, min_str, max_str)`` — one row per column, one pass
    over the data.  Pass ``approx=True`` on large or wide tables: exact
    multi-column distincts cost an Expand (~n_cols× the scan; see module
    docstring), the HLL path is a single partial-aggregate pass.
    Each column's statistics are aggregated straight into its output
    struct, so no internal column is named after a user's column."""

    def stats(f: T.StructField):
        q = ident_col(f.name)
        is_num = isinstance(f.dataType, _NUMERIC)
        is_str = isinstance(f.dataType, T.StringType)
        distinct = F.approx_count_distinct(q) if approx else F.count_distinct(q)
        none_num, none_str = F.lit(None).cast("double"), F.lit(None).cast("string")
        return F.struct(
            F.lit(f.name).alias("column"),
            F.lit(f.dataType.simpleString()).alias("dtype"),
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.count(F.when(q.isNull(), 1)).cast("bigint").alias("n_nulls"),
            distinct.cast("bigint").alias("n_distinct"),
            (F.round(F.min(q).cast("double"), 6) if is_num else none_num).alias("min_num"),
            (F.round(F.max(q).cast("double"), 6) if is_num else none_num).alias("max_num"),
            (F.min(q) if is_str else none_str).alias("min_str"),
            (F.max(q) if is_str else none_str).alias("max_str"),
        )

    row = df.agg(F.array(*map(stats, df.schema.fields)).alias("_p"))
    return row.select(F.explode("_p").alias("_p")).select("_p.*")


def profile_oracle_sql(table: str, schema: list[tuple[str, str, str]]) -> str:
    """DuckDB twin: ``schema`` is [(column, kind, spark_dtype)] with kind
    in {'num', 'str', 'other'} and spark_dtype the literal Spark
    ``simpleString`` (emitted verbatim so the dtype column matches);
    one UNION ALL branch per column over a shared single-aggregation
    CTE."""
    aggs = ["count(*) AS _rows"]
    for c, kind, _dt in schema:
        aggs.append(f'count(CASE WHEN "{c}" IS NULL THEN 1 END) AS "_nn_{c}"')
        aggs.append(f'count(DISTINCT "{c}") AS "_nd_{c}"')
        if kind == "num":
            aggs.append(f'round(CAST(min("{c}") AS DOUBLE), 6) AS "_mn_{c}"')
            aggs.append(f'round(CAST(max("{c}") AS DOUBLE), 6) AS "_mx_{c}"')
        elif kind == "str":
            aggs.append(f'min("{c}") AS "_ms_{c}"')
            aggs.append(f'max("{c}") AS "_xs_{c}"')
    branches = []
    for c, kind, dt in schema:
        mn = f'"_mn_{c}"' if kind == "num" else "CAST(NULL AS DOUBLE)"
        mx = f'"_mx_{c}"' if kind == "num" else "CAST(NULL AS DOUBLE)"
        ms = f'"_ms_{c}"' if kind == "str" else "CAST(NULL AS VARCHAR)"
        xs = f'"_xs_{c}"' if kind == "str" else "CAST(NULL AS VARCHAR)"
        branches.append(
            f"SELECT '{c}' AS column, '{dt}' AS dtype, _rows AS n_rows,"
            f' "_nn_{c}" AS n_nulls,'
            f' "_nd_{c}" AS n_distinct, {mn} AS min_num, {mx} AS max_num,'
            f" {ms} AS min_str, {xs} AS max_str FROM agg"
        )
    return f"WITH agg AS (SELECT {', '.join(aggs)} FROM {table})\n" + "\nUNION ALL\n".join(
        branches
    )


def key_skew_report(
    df: DataFrame, key_cols: list[str], top_k: int = 20
) -> DataFrame:
    """Join/aggregation-key SKEW diagnostic — the check to run BEFORE
    keying a 100 TB shuffle on a column: one hot key pins one reducer
    regardless of cluster size, and the time to find that out is before
    the job, not at hour three of a hung stage.  Returns the ``top_k``
    heaviest keys with their row counts and shares plus the table-level
    context: ``(key…, cnt, share, n_rows, n_keys, avg_cnt, skew_ratio)``
    where ``skew_ratio = cnt / avg_cnt`` (a perfectly uniform key space
    scores ~1.0 on every row; the classic salting rule of thumb is to
    act when the top key's ratio reaches the partition count).  This is
    the evidence that chooses between a plain groupBy, the two-phase
    salted aggregate (``partitioning.salted_agg``), and AQE's skew-join
    split.

    Plan shape: ONE map-side-combinable count aggregate on the key
    (the same shuffle the diagnosed job would run, so the report costs
    what one pass of the real job costs — there is no cheaper honest
    answer); table-level totals are a second aggregate over the
    keyspace-sized COUNT TABLE (not the data — map-side partials make it
    scalar-cheap), broadcast back onto the ``top_k`` rows; the top-k is
    TakeOrderedAndProject (per-task k-row heaps, never a full sort),
    deterministically tie-broken by (cnt DESC, key… ASC NULLS LAST).
    NULL keys count as a real key (SQL GROUP BY semantics) — and because
    they do, the tie-break pins null placement EXPLICITLY (Spark's
    ascending default is NULLS FIRST, DuckDB's is NULLS LAST; an
    unpinned sort would let a NULL key tying at the top_k boundary pick
    different rows per engine)."""
    keys = list(key_cols)
    counts = df.groupBy(*keys).agg(F.count(F.lit(1)).alias("cnt"))
    tot = counts.agg(
        F.sum("cnt").alias("n_rows"), F.count(F.lit(1)).alias("n_keys")
    )
    top = counts.orderBy(
        F.col("cnt").desc(), *[F.col(k).asc_nulls_last() for k in keys]
    ).limit(int(top_k))
    out = top.crossJoin(F.broadcast(tot))
    avg = F.col("n_rows").cast("double") / F.col("n_keys").cast("double")
    return out.select(
        *keys,
        "cnt",
        F.round(F.col("cnt") / F.col("n_rows"), 6).alias("share"),
        "n_rows",
        "n_keys",
        F.round(avg, 6).alias("avg_cnt"),
        F.round(F.col("cnt") / avg, 6).alias("skew_ratio"),
    )
