"""Mapping → Spark logical plan compiler.

The reference interprets its mapping JSON per row, per field, re-dispatching
on ``transform_type`` strings (``dynamic.py:84-257``).  Here the mapping is
compiled **once** into Column expressions; the result is a single
``df.filter(keep).select(...)`` plan that Catalyst optimizes end-to-end:
filters push into the scan, unused source columns are pruned, the whole
projection runs inside WholeStageCodegen with zero Python in the row loop.
That — not micro-tuning — is what makes the same mapping viable at 100 TB.

Semantics are bit-matched to the reference interpreter (see each compile
function's docstring for the file:line it mirrors), including its quirks:
filter rules are SKIP predicates OR-ed together (``dynamic.py:57-82``), null
source values compare as Python would, and every field can emit a
``(value, error)`` pair — the error channel (V1) — without aborting the row.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field as dc_field, replace

from pyspark import SparkContext
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from csv_etl_spark.conditions import compile_condition
from csv_etl_spark.datefmt import strptime_to_java
from csv_etl_spark.driver_memo import BoundedDriverMemo
from csv_etl_spark.formula import FormulaError, compile_formula
from csv_etl_spark.local import ident_col
from csv_etl_spark.specs import ETLMapping, FieldMapping, TransformType

ERRORS_COL = "_errors"


def _src(source_field: str | None, source_columns: list[str]) -> Column:
    """``row.get(source_field)`` semantics: missing column or no source_field
    → null (reference ``dynamic.py:96``; spec/file mismatch yields None)."""
    if source_field and source_field in source_columns:
        return ident_col(source_field)
    return F.lit(None).cast("string")


def _lit_values_column(values: list) -> list[Column]:
    """Normalize a heterogeneous list of JSON scalars to lit Columns of one
    type: if all non-null values share a Python type, keep it; otherwise cast
    everything to string (the reference emits Python objects that stringify
    at CSV-write time, so string is the faithful common denominator)."""
    non_null_types = {type(v) for v in values if v is not None}
    if len(non_null_types) <= 1:
        return [F.lit(v) for v in values]
    return [F.lit(v if v is None else str(v)) for v in values]


# ---------------------------------------------------------------------------
# Filters (F1-F7) — reference dynamic.py:57-82
# ---------------------------------------------------------------------------


def compile_filter_rule(rule: dict, source_columns: list[str]) -> Column:
    """One skip-rule → boolean Column (True = skip row).  Never null.

    Row values are strings (or null); the reference compares them with Python
    operators, so a non-string JSON constant can never equal a row value —
    we preserve that rather than let Spark's implicit casts "helpfully"
    match ``"5" == 5``.
    """
    fld = rule.get("field")
    operator = rule.get("operator")
    values = rule.get("values", [])
    value = rule.get("value")

    row_value = _src(fld, source_columns)

    def eq(v) -> Column:
        if v is None:
            return row_value.isNull()
        if isinstance(v, str):
            return row_value.eqNullSafe(F.lit(v))
        return F.lit(False)  # str row value never == non-str constant in Python

    if operator == "equals":
        return eq(value)
    if operator == "not_equals":
        return ~eq(value)
    if operator == "in":
        if not values:
            return F.lit(False)
        pred = eq(values[0])
        for v in values[1:]:
            pred = pred | eq(v)
        return pred
    if operator == "not_in":
        # ⚠ as-coded reference semantics (SURVEY §2.2 trap): this is a SKIP
        # predicate, so `not_in` skips rows NOT in the list — the shipped
        # reference config misuses it; we implement the spec as coded.
        if not values:
            return F.lit(True)
        pred = eq(values[0])
        for v in values[1:]:
            pred = pred | eq(v)
        return ~pred
    if operator == "is_empty":
        return row_value.isNull() | (row_value == F.lit(""))
    if operator == "is_not_empty":
        return ~(row_value.isNull() | (row_value == F.lit("")))
    if operator == "contains":
        if not value:
            return F.lit(False)
        # str(row_value): Python renders null as "None" before `in` check
        return F.coalesce(row_value, F.lit("None")).contains(str(value))
    # unknown operator: no clause matches → rule never fires
    return F.lit(False)


def compile_filter(filter_rules: list[dict], source_columns: list[str]) -> Column:
    """All rules → one KEEP predicate: skip when ANY rule matches
    (OR of skip-predicates, reference ``dynamic.py:57-82``)."""
    skip = F.lit(False)
    for rule in filter_rules:
        skip = skip | compile_filter_rule(rule, source_columns)
    return ~skip


# ---------------------------------------------------------------------------
# Field transforms (T1-T8) — reference dynamic.py:84-195
# ---------------------------------------------------------------------------


def errors_array(entries) -> Column:
    """The ``_errors`` channel (V1): array<struct<field,message,
    source_value>> of the ``(field name, message, source value)`` entries
    whose message is non-null in this row.  A literal array + runtime
    filter — stays inside codegen, no UDF."""
    structs = [
        F.struct(
            F.lit(name).alias("field"),
            message.cast("string").alias("message"),
            value.cast("string").alias("source_value"),
        )
        for name, message, value in entries
    ]
    if not structs:
        return F.expr(
            "cast(array() as array<struct<field:string,message:string,source_value:string>>)"
        )
    return F.filter(F.array(*structs), lambda e: e.getField("message").isNotNull())


@dataclass
class CompiledField:
    name: str
    value: Column
    error: Column | None  # string error message, null when no error
    source_value: Column  # raw source value (for the error record)


def compile_field(fm: FieldMapping, source_columns: list[str]) -> CompiledField:
    src = _src(fm.source_field, source_columns)
    cfg = fm.transform_config or {}
    tt = fm.transform_type
    empty = src.isNull() | (src == F.lit(""))

    if tt == TransformType.DIRECT:
        # dynamic.py:99-100
        return CompiledField(fm.destination_field, src, None, src)

    if tt == TransformType.CONSTANT:
        # dynamic.py:102-103
        return CompiledField(fm.destination_field, F.lit(cfg.get("value")), None, src)

    if tt == TransformType.DATE_FORMAT:
        # dynamic.py:105-124: empty→null; strip Z when both T and Z present;
        # truncate at first '.'; parse failure → keep (Z-stripped) value + error
        input_fmt = cfg.get("input_format", "%Y-%m-%dT%H:%M:%S")
        output_fmt = cfg.get("output_format", "%Y-%m-%d")
        java_in = strptime_to_java(input_fmt, mode="parse")
        java_out = strptime_to_java(output_fmt, mode="format")
        pre = F.when(
            src.contains("T") & src.contains("Z"), F.regexp_replace(src, "Z", "")
        ).otherwise(src)
        trunc = F.substring_index(pre, ".", 1)
        parsed = F.try_to_timestamp(trunc, F.lit(java_in))
        value = (
            F.when(empty, F.lit(None).cast("string"))
            .when(parsed.isNotNull(), F.date_format(parsed, java_out))
            .otherwise(pre)
        )
        error = F.when(
            ~empty & parsed.isNull(),
            F.concat(
                F.lit("Date format error: time data '"),
                pre,
                F.lit(f"' does not match format '{input_fmt}'"),
            ),
        )
        return CompiledField(fm.destination_field, value, error, src)

    if tt == TransformType.LOOKUP:
        # dynamic.py:126-139: config IS the table; miss → _default; miss with
        # null default and value not a key → error
        table = {k: v for k, v in cfg.items() if k != "_default"}
        default = cfg.get("_default")
        keys = list(table.keys())
        lit_vals = _lit_values_column(list(table.values()) + [default])
        value: Column | None = None
        for k, v_lit in zip(keys, lit_vals[:-1]):
            clause = src.eqNullSafe(F.lit(k))
            value = F.when(clause, v_lit) if value is None else value.when(clause, v_lit)
        default_lit = lit_vals[-1]
        value = default_lit if value is None else value.otherwise(default_lit)
        error = F.when(
            value.isNull() & src.isNotNull() & ~src.isin(keys) if keys else (value.isNull() & src.isNotNull()),
            F.lit("Lookup value not found in mapping table"),
        )
        return CompiledField(fm.destination_field, value, error, src)

    if tt in (TransformType.SUFFIX, TransformType.PREFIX):
        # dynamic.py:141-159: empty → null; optional condition gates the affix
        affix = str(cfg.get("value", ""))
        condition = cfg.get("condition")
        gated = compile_condition(condition) if condition else F.lit(True)
        if tt == TransformType.SUFFIX:
            applied = F.concat(src, F.lit(affix))
        else:
            applied = F.concat(F.lit(affix), src)
        value = (
            F.when(empty, F.lit(None).cast("string"))
            .when(~gated, src)
            .otherwise(applied)
        )
        return CompiledField(fm.destination_field, value, error=None, source_value=src)

    if tt == TransformType.FORMULA:
        # dynamic.py:161-173 + 221-237; tokenizing compiler, not substring
        # substitution (documented divergence, see formula.py)
        expression = cfg.get("expression", "")
        try:
            value, _ = compile_formula(expression, source_columns)
        except FormulaError:
            value = F.lit(None).cast("double")
        error = F.when(value.isNull(), F.lit(f"Formula evaluation failed: {expression}"))
        return CompiledField(fm.destination_field, value, error, src)

    if tt == TransformType.LOOKUP_TABLE:
        # extension (reference ROADMAP.md:50): lookup against an external
        # table, realized as a broadcast left join in CompiledMapping.apply.
        # The value/error expressions reference the join-produced column.
        alias = f"__lkt_{fm.destination_field}"
        joined_val = ident_col(f"{alias}_v")
        default = cfg.get("_default")
        value = F.coalesce(joined_val, F.lit(default).cast("string"))
        error = (
            F.when(
                joined_val.isNull() & src.isNotNull(),
                F.lit("Lookup value not found in lookup table"),
            )
            if default is None
            else None
        )
        return CompiledField(fm.destination_field, value, error, src)

    if tt == TransformType.CONDITIONAL:
        # dynamic.py:175-183: ordered first-match-wins; an `else` entry is a
        # catch-all that terminates evaluation
        conditions = cfg.get("conditions", [])
        then_vals = _lit_values_column(
            [c.get("then") for c in conditions if "if" in c]
            + [c.get("else") for c in conditions if "if" not in c and "else" in c]
        )
        value: Column | None = None
        vi = 0
        terminated = False
        for cond in conditions:
            if "if" in cond:
                pred = compile_condition(cond["if"])
                value = F.when(pred, then_vals[vi]) if value is None else value.when(pred, then_vals[vi])
                vi += 1
            elif "else" in cond:
                else_lit = then_vals[vi]
                value = else_lit if value is None else value.otherwise(else_lit)
                terminated = True
                break
        if value is None:
            value = F.lit(None)
        elif not terminated:
            value = value.otherwise(F.lit(None))
        return CompiledField(fm.destination_field, value, error=None, source_value=src)

    # unknown transform type → direct copy (dynamic.py:185)
    return CompiledField(fm.destination_field, src, None, src)


# ---------------------------------------------------------------------------
# Whole-mapping compilation
# ---------------------------------------------------------------------------


@dataclass
class LookupJoin:
    """A pending broadcast-join for one ``lookup_table`` field."""

    alias: str  # join-column prefix: produces `{alias}_k` / `{alias}_v`
    source_field: str | None
    table: str  # name resolved via the ``tables`` argument of apply()
    key: str  # key column in the external table
    value: str  # value column in the external table


@dataclass
class CompiledMapping:
    """A mapping compiled against a known source-column list."""

    mapping: ETLMapping
    keep: Column
    fields: list[CompiledField]
    has_filters: bool
    source_columns: list[str] = dc_field(default_factory=list)
    lookup_joins: list[LookupJoin] = dc_field(default_factory=list)
    # derived Columns built on first use; shared by every copy that
    # compile_mapping hands out for one memo entry
    _derived: dict = dc_field(default_factory=dict, repr=False, compare=False)

    def errors_column(self) -> Column:
        """This row's field errors (see ``errors_array``).  Built once per
        compiled mapping: each ``F.*`` call is a py4j round trip."""
        if "errors" not in self._derived:
            self._derived["errors"] = errors_array(
                (f.name, f.error, f.source_value) for f in self.fields if f.error is not None
            )
        return self._derived["errors"]

    def destination_columns(self) -> list[Column]:
        """The destination fields, each aliased to its name.  Built once
        per compiled mapping: each ``alias`` is a py4j round trip."""
        if "destinations" not in self._derived:
            self._derived["destinations"] = [f.value.alias(f.name) for f in self.fields]
        return self._derived["destinations"]

    def error_count_column(self) -> Column:
        """Per-row count of field errors — a codegen-friendly sum of
        when-clauses.  ``size(errors_column())`` is semantically identical
        but routes through a higher-order ``filter`` lambda that Spark
        evaluates interpreted per row; when only the COUNT is needed
        (validation summaries, the flagship query's ``n_errors``), this
        form stays inside WholeStageCodegen and measures ~40% faster on
        the sf0.1 events table."""
        total: Column | None = None
        for f in self.fields:
            if f.error is None:
                continue
            c = F.when(f.error.isNotNull(), F.lit(1)).otherwise(F.lit(0))
            total = c if total is None else total + c
        return F.lit(0) if total is None else total

    def apply(
        self,
        df: DataFrame,
        with_errors: bool | str = True,
        tables: dict[str, DataFrame] | None = None,
        carry: list[str] | None = None,
    ) -> DataFrame:
        """filter → [broadcast lookup joins] → project [→ aggregate].

        Output columns = destination fields in mapping order (reference
        ``transform_row``, dynamic.py:239-257), plus ``_errors`` when
        requested, plus the carried columns.

        ``tables`` resolves ``lookup_table`` fields to DataFrames; each
        becomes one broadcast LEFT join (keys deduplicated so the join
        can't fan out rows).  ``carry`` lists input columns to pass through
        untouched when present (the pipeline's ``_line`` provenance, mapping
        chains' accumulated errors).

        If the mapping declares ``aggregations``, the projected rows are
        then grouped by ``group_by`` — see :meth:`aggregate`."""
        out = df.filter(self.keep) if self.has_filters else df

        for lj in self.lookup_joins:
            if not tables or lj.table not in tables:
                raise ValueError(
                    f"mapping '{self.mapping.id}' needs lookup table '{lj.table}' "
                    "passed via apply(tables={...})"
                )
            side = (
                tables[lj.table]
                .select(
                    ident_col(lj.key).cast("string").alias(f"{lj.alias}_k"),
                    ident_col(lj.value).cast("string").alias(f"{lj.alias}_v"),
                )
                .dropDuplicates([f"{lj.alias}_k"])
            )
            # plain == : a null source value matches nothing → falls to the
            # default/error path, mirroring the in-config lookup (T4)
            out = out.join(
                F.broadcast(side),
                _src(lj.source_field, self.source_columns) == ident_col(f"{lj.alias}_k"),
                "left",
            )

        cols = list(self.destination_columns())
        if with_errors == "count":
            # cheap path: only the per-row error count, no array materialized
            cols.append(self.error_count_column().alias(ERRORS_COL))
        elif with_errors:
            cols.append(self.errors_column().alias(ERRORS_COL))
        for c in carry or []:
            if c in df.columns:
                cols.append(ident_col(c))
        projected = out.select(*cols)
        if self.mapping.aggregations:
            return self.aggregate(projected)
        return projected

    def aggregate(self, projected: DataFrame) -> DataFrame:
        """Post-projection aggregation (extension; reference ROADMAP.md:51).

        Groups by the mapping's ``group_by`` destination fields.  Numeric
        aggregates run over ``try_cast(double)`` of the (string-typed)
        destination values; sums/avgs accumulate in DECIMAL(38,6) so the
        result is exact and order-independent — a float sum would differ
        from any single-threaded engine in the last bits depending on
        partition order."""
        exprs = []
        for agg in self.mapping.aggregations:
            dest = agg["destination_field"]
            src_field = agg.get("source_field")
            kind = agg.get("agg", "count")
            num = ident_col(src_field).try_cast("double") if src_field else None
            dec = num.cast("decimal(38,6)") if num is not None else None
            if kind == "count":
                expr = F.count(ident_col(src_field)) if src_field else F.count(F.lit(1))
            elif kind == "sum":
                expr = F.sum(dec).cast("double")
            elif kind == "avg":
                expr = (F.sum(dec) / F.count(num)).cast("double")
            elif kind == "min":
                expr = F.min(num)
            elif kind == "max":
                expr = F.max(num)
            else:
                raise ValueError(f"unknown aggregation '{kind}'")
            exprs.append(expr.alias(dest))
        keys = [ident_col(k) for k in self.mapping.group_by]
        if keys:
            return projected.groupBy(*keys).agg(*exprs)
        return projected.agg(*exprs)


# Compiled mappings per (session, mapping JSON, source columns).  A
# dashboard session re-runs one mapping over one file layout request after
# request; compiling it is ~100 py4j round trips.  Column expressions are
# unresolved and immutable, so one compile serves every later plan.
_COMPILE_MEMO = BoundedDriverMemo(max_entries=32)


def mapping_json(mapping: ETLMapping) -> str | None:
    """The canonical JSON text of ``mapping``, or None when the mapping
    does not survive a JSON round trip unchanged (non-str dict keys,
    tuples, objects): two such mappings could share a text while
    compiling differently, so no memo keys on them."""
    d = mapping.to_dict()
    try:
        text = json.dumps(d, sort_keys=True)
    except (TypeError, ValueError):
        return None
    return text if json.loads(text) == d else None


def _memo_key(mapping: ETLMapping, source_columns: list[str]) -> tuple | None:
    """(applicationId, canonical mapping JSON, source columns), or None
    when there is no session or no canonical text (``mapping_json``)."""
    sc = SparkContext._active_spark_context
    text = mapping_json(mapping)
    if sc is None or text is None:
        return None
    return (sc.applicationId, text, tuple(source_columns))


def compile_mapping(mapping: ETLMapping | dict, source_columns: list[str]) -> CompiledMapping:
    """Compile ``mapping`` against ``source_columns``, memoized per
    session.  The returned object carries the caller's ``mapping``;
    saving a changed mapping changes its JSON and so its key."""
    if isinstance(mapping, dict):
        mapping = ETLMapping.from_dict(mapping)
    key = _memo_key(mapping, source_columns)
    cached = _COMPILE_MEMO.get(key)
    if cached is None:
        cached = _compile(mapping, source_columns)
        _COMPILE_MEMO.put(key, cached)
    return replace(cached, mapping=mapping)


def _compile(mapping: ETLMapping, source_columns: list[str]) -> CompiledMapping:
    keep = compile_filter(mapping.filter_rules, source_columns)
    fields = [compile_field(fm, source_columns) for fm in mapping.field_mappings]
    lookup_joins = [
        LookupJoin(
            alias=f"__lkt_{fm.destination_field}",
            source_field=fm.source_field,
            table=(fm.transform_config or {}).get("table", ""),
            key=(fm.transform_config or {}).get("key", ""),
            value=(fm.transform_config or {}).get("value", ""),
        )
        for fm in mapping.field_mappings
        if fm.transform_type == TransformType.LOOKUP_TABLE
    ]
    return CompiledMapping(
        mapping=mapping,
        keep=keep,
        fields=fields,
        has_filters=bool(mapping.filter_rules),
        source_columns=list(source_columns),
        lookup_joins=lookup_joins,
    )
