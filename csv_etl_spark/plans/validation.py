"""Spec-driven data validation (extension; reference ROADMAP.md:48 plans
"Data validation rules", and the reference's own ColumnSpec already carries
``required``/``max_length``/``date_format`` metadata that nothing enforces —
SURVEY §1.1).

``validate_against_spec`` appends the SAME ``_errors`` channel the mapping
compiler produces (array<struct<field,message,source_value>>), so spec
validation composes with everything downstream: ``errors_by_line`` grouping,
the fail-on-error write gate, error-count metrics.  All checks are pure
Column expressions — one codegen pass, no UDFs, rows never leave the JVM.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from csv_etl_spark.compiler import ERRORS_COL, errors_array
from csv_etl_spark.datefmt import strptime_to_java
from csv_etl_spark.local import ident_col
from csv_etl_spark.specs import ColumnSpec, ColumnType, FileSpec

# numeric text accepted for integer/float/money after cleanup
_MONEY_JUNK = r"[€$£,]"


def _checks_for(col_spec: ColumnSpec, present: bool) -> list[tuple[Column, Column]]:
    """(error_condition, message) pairs for one column."""
    name = col_spec.name
    src = ident_col(name).cast("string") if present else F.lit(None).cast("string")
    empty = src.isNull() | (src == "")
    checks: list[tuple[Column, Column]] = []

    if col_spec.required:
        checks.append((empty, F.lit(f"Required value missing for '{name}'")))

    if col_spec.max_length is not None:
        checks.append(
            (
                ~empty & (F.length(src) > col_spec.max_length),
                F.concat(
                    F.lit(f"Value exceeds max_length {col_spec.max_length} for '{name}': "),
                    F.length(src).cast("string"),
                    F.lit(" chars"),
                ),
            )
        )

    t = col_spec.type
    if t == ColumnType.INTEGER:
        bad = ~empty & src.try_cast("long").isNull()
        checks.append((bad, F.lit(f"Not an integer for '{name}'")))
    elif t == ColumnType.FLOAT:
        bad = ~empty & F.regexp_replace(src, ",", "").try_cast("double").isNull()
        checks.append((bad, F.lit(f"Not a number for '{name}'")))
    elif t == ColumnType.MONEY:
        cleaned = F.regexp_replace(src, _MONEY_JUNK, "")
        bad = ~empty & cleaned.try_cast("double").isNull()
        checks.append((bad, F.lit(f"Not a money amount for '{name}'")))
    elif t == ColumnType.BOOLEAN:
        bad = ~empty & ~F.lower(src).isin("true", "false", "0", "1", "yes", "no")
        checks.append((bad, F.lit(f"Not a boolean for '{name}'")))
    elif t in (ColumnType.DATE, ColumnType.DATETIME):
        fmt = col_spec.date_format
        java = strptime_to_java(fmt, mode="parse") if fmt else (
            "yyyy-MM-dd" if t == ColumnType.DATE else "yyyy-MM-dd HH:mm:ss"
        )
        bad = ~empty & F.try_to_timestamp(src, F.lit(java)).isNull()
        checks.append(
            (bad, F.lit(f"Not a valid {t.value} for '{name}' (expected {fmt or java})"))
        )
    return [(cond, msg, src) for cond, msg in checks]


def validation_errors_column(spec: FileSpec, columns: list[str]) -> Column:
    """array<struct<field,message,source_value>> of spec violations for one
    row — same shape as the mapping compiler's error channel."""
    return errors_array(
        (cs.name, F.when(cond, msg), src)
        for cs in spec.columns
        for cond, msg, src in _checks_for(cs, cs.name in columns)
    )


def validate_against_spec(df: DataFrame, spec: FileSpec) -> DataFrame:
    """Append ``_errors`` with every spec violation per row.  Rows always
    flow through (validation reports, it does not drop — the fail-on-error
    gate decides what to do, same as the mapping path)."""
    return df.withColumn(ERRORS_COL, validation_errors_column(spec, df.columns))
