"""S9: point row-update in place (the dashboard's inline cell edit,
reference ``app.py:577-623``: rewrite a CSV with one row replaced), plus
the scale-correct generalization: set-based MERGE/upsert
(reference ROADMAP.md:29 plans "Batch insert/upsert for destinations").

The point update is an anti-pattern at scale but part of the reference
surface: read → ``when(line == n, new).otherwise(old)`` → single-file
overwrite, exactly the reference's semantics with atomic replace.
``merge_upsert`` is what you run instead at 100 TB: one anti-join + union
(both keyed — partition-parallel, no driver involvement), equivalent to
Delta's ``MERGE WHEN MATCHED UPDATE WHEN NOT MATCHED INSERT`` for
whole-row updates.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from csv_etl_spark.local import ident_col
from csv_etl_spark.sources.csv_source import LINE_COL, line_numbered, read_spec_csv
from csv_etl_spark.sources.sinks import one_sorted_partition, write_single_csv_file
from csv_etl_spark.specs import FileSpec


def update_csv_row(
    spark: SparkSession,
    file_path: str,
    line_number: int,
    new_values: dict[str, str],
    spec: FileSpec | None = None,
) -> None:
    """Replace the row at physical ``line_number`` (data starts at 2, like
    the reference's preview numbering) with ``new_values`` (column → new
    cell; unspecified columns keep their value).  A line the file has no
    row at raises ``ValueError`` and leaves the file as it was: the
    rewrite goes to a staged file, and the rows it matched are counted on
    the same job, so the check launches none."""
    if line_number < 2:
        raise ValueError(f"line {line_number} is not a data row: data starts at line 2")
    df, partitions = line_numbered(read_spec_csv(spark, file_path, spec))
    unknown = set(new_values) - set(df.columns)
    if unknown:
        raise ValueError(f"unknown columns in update: {sorted(unknown)}")
    updated = df.select(
        *[
            F.when(F.col(LINE_COL) == line_number, F.lit(new_values[c]))
            .otherwise(ident_col(c))
            .alias(c)
            if c in new_values
            else ident_col(c)
            for c in df.columns
            if c != LINE_COL
        ],
        F.col(LINE_COL),
    )
    matched = Observation()
    updated = updated.observe(matched, F.count_if(F.col(LINE_COL) == line_number).alias("n"))
    staged = file_path + ".edit"
    # a projection of the scan: the scan's partitions, planned once
    write_single_csv_file(one_sorted_partition(updated, LINE_COL, partitions), staged)
    if not matched.get["n"]:
        os.remove(staged)
        raise ValueError(f"line {line_number} is past the last row of the file")
    os.replace(staged, file_path)


def merge_upsert(target: DataFrame, updates: DataFrame, keys: list[str]) -> DataFrame:
    """Set-based upsert: rows of ``updates`` replace same-key rows of
    ``target``; new keys are appended.

    Shape: target ANTI-JOIN updates (drop rows being replaced) ∪ updates.
    Both sides hash on the key — fully parallel, and with AQE the anti
    join broadcasts when ``updates`` is small (the common case: a daily
    correction batch against a huge fact table).  ``updates`` should be
    unique per key; duplicate keys are collapsed (dropDuplicates keeps an
    arbitrary one) so the output can never contain two rows per key."""
    if not keys:
        raise ValueError("merge_upsert needs at least one key column")
    kept = target.join(updates.select(*map(ident_col, keys)), keys, "left_anti")
    deduped = updates.dropDuplicates(keys)
    return kept.unionByName(deduped.select(*map(ident_col, target.columns)))


def scd2_history(
    updates: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    order_tiebreak: str | None = None,
) -> DataFrame:
    """Slowly-Changing-Dimension type-2 history materialization — the CDC
    companion to ``merge_upsert``: an update stream ``(key, ts, value)``
    becomes validity intervals ``(key, value, valid_from_us, valid_to_us,
    is_current)``.  Consecutive updates with an UNCHANGED value collapse
    into one interval (change detection via lag); the latest interval per
    key is open (``valid_to_us`` NULL, ``is_current`` true).

    Scale shape: two window passes over the SAME high-cardinality key
    partitioning — Catalyst plans ONE shuffle and sorts once; per-row
    state is O(1) (lag/lead).  Timestamps surface as epoch MICROSECONDS
    (exact integers on every engine — epoch-seconds doubles lose the
    microsecond digits)."""
    from pyspark.sql import Window

    key, ts, value = ident_col(key_col), ident_col(ts_col), ident_col(value_col)
    tiebreak = [ident_col(order_tiebreak)] if order_tiebreak else []
    w = Window.partitionBy(key).orderBy(ts, *tiebreak)
    changed = (
        updates.withColumn("_prev", F.lag(value).over(w))
        .filter(F.col("_prev").isNull() | (value != F.col("_prev")))
        .drop("_prev")
    )
    # parquet timestamps load as TIMESTAMP_NTZ; unix_micros wants TIMESTAMP.
    # The cast interprets in the session zone, which session.py pins to UTC —
    # so the micros match DuckDB's epoch_us on the same naive value.
    ts_utc = ts.cast("timestamp")
    lead_ts = F.lead(ts).over(w)
    return changed.select(
        key,
        value,
        F.unix_micros(ts_utc).alias("valid_from_us"),
        F.unix_micros(lead_ts.cast("timestamp")).alias("valid_to_us"),
        lead_ts.isNull().alias("is_current"),
    )


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    keys: list[str],
    compare_cols: list[str] | None = None,
) -> DataFrame:
    """Snapshot diff — classify every key across two table versions as
    ``added`` / ``removed`` / ``changed`` / ``unchanged``: the audit step
    between corpus or dimension snapshots (what did this rebuild touch?),
    and the input a CDC pipeline replays.

    ``compare_cols`` defaults to every non-key column the two frames
    share.  NULL-safe comparison (``eqNullSafe``), so NULL → value and
    value → NULL both classify as changed.

    Scale shape: ONE full outer join keyed on ``keys`` (shuffle both
    sides on the key hash, AQE-coalesced) and a map-only classification —
    no window, no collect.  Returns keys + ``status`` + each compared
    column as ``(old_<c>, new_<c>)`` pairs."""
    if compare_cols is None:
        shared = [c for c in old.columns if c in set(new.columns)]
        compare_cols = [c for c in shared if c not in set(keys)]
    key_cols = [ident_col(k) for k in keys]
    o = old.select(*key_cols, *[ident_col(c).alias(f"old_{c}") for c in compare_cols],
                   F.lit(True).alias("_in_old"))
    n = new.select(*key_cols, *[ident_col(c).alias(f"new_{c}") for c in compare_cols],
                   F.lit(True).alias("_in_new"))
    joined = o.join(n, keys, "full_outer")
    same = F.lit(True)
    for c in compare_cols:
        same = same & ident_col(f"old_{c}").eqNullSafe(ident_col(f"new_{c}"))
    status = (
        F.when(F.col("_in_old").isNull(), F.lit("added"))
        .when(F.col("_in_new").isNull(), F.lit("removed"))
        .when(same, F.lit("unchanged"))
        .otherwise(F.lit("changed"))
    )
    return joined.select(
        *key_cols,
        status.alias("status"),
        *[ident_col(f"old_{c}") for c in compare_cols],
        *[ident_col(f"new_{c}") for c in compare_cols],
    )
