"""Pipeline runner — the reference's transform/validate lifecycle (V1-V5)
re-expressed for distributed execution.

Reference model (``dynamic.py:259-348``): interpret mapping per row, collect
``RowError`` objects + per-row log lines in driver memory, then write unless
``fail_on_error`` and any error occurred.

Scale redesign (SURVEY §2.8/§4): errors are DATA (a DataFrame), counters
are observed on the one job that materializes the persisted transform
output (the fail-on-error gate needs the error count before writing
anyway — the reference buffers the whole output in RAM for the same
reason; we persist to executor storage instead).  Per-row log lines (V6)
are deliberately NOT replicated — at 100 TB that's a driver OOM; the
errors DF + counters carry the same information.  The UI views the
reference builds from its error list need only the first few errors:
``transform(error_sample=n)`` collects them into
``TransformResult.error_sample`` from the cached pass, already in the
reference's RowError JSON shape, so they are served without re-reading
the source.

``_line`` (``csv_source.LINE_COL``) is reserved like ``_errors``: when the
frame has it, it is provenance, not a source column, and the transform
carries it onto every output and error row.
"""

from __future__ import annotations

from collections.abc import Iterator
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from csv_etl_spark.compiler import ERRORS_COL, CompiledMapping, compile_mapping
from csv_etl_spark.sources.csv_source import LINE_COL
from csv_etl_spark.sources.sinks import write_spec_csv
from csv_etl_spark.specs import ETLMapping


@dataclass
class TransformResult:
    """Counts follow the reference exactly (``dynamic.py:26-29,304-318``):
    ``success_count`` = rows with zero errors, ``error_count`` = number of
    ERRORS (a row can contribute several), ``skipped_count`` = filtered rows
    (all rows when the mapping has no field_mappings — `{}` is falsy in the
    interpreter, dynamic.py:309)."""

    counts: PassCounts  # what the pass counted
    success_count: int = 0
    skipped_count: int = 0
    error_count: int = 0
    output: DataFrame | None = None  # destination fields only
    errors: DataFrame | None = None  # field, message, source_value [, _line]
    # first errors as {line, field, message, value} (the reference's
    # RowError JSON), collected during the cached pass
    error_sample: list[dict] = field(default_factory=list)
    output_written: bool = False
    log_messages: list[str] = field(default_factory=list)

    def add_log(self, message: str) -> None:
        self.log_messages.append(message)


def _compile(df: DataFrame, mapping: ETLMapping | dict) -> CompiledMapping:
    return compile_mapping(mapping, [c for c in df.columns if c != LINE_COL])


def run_mapping(
    df: DataFrame,
    mapping: ETLMapping | dict,
    with_errors: bool = True,
    tables: dict[str, DataFrame] | None = None,
) -> DataFrame:
    """Lazy: compile + apply, no action.  Use for composing with further
    Spark transformations.  ``tables`` resolves ``lookup_table`` fields."""
    return _compile(df, mapping).apply(
        df, with_errors=with_errors, tables=tables, carry=[LINE_COL]
    )


def chain_mappings(
    df: DataFrame,
    mappings: list[ETLMapping | dict],
    with_errors: bool = True,
    tables: dict[str, DataFrame] | None = None,
) -> DataFrame:
    """Multi-step pipeline (extension; reference ROADMAP.md:52 plans
    "multi-step pipelines"): the destination fields of stage *i* are the
    source columns of stage *i+1* — each stage is the same compiled
    filter+project, so the whole chain stays one Catalyst plan (collapsed
    projections, pushed filters), not N materialized passes.

    ``_errors`` accumulates across stages: a row that survives every
    stage's filters carries the concatenation of all its field errors.
    A stage that aggregates ends error tracking (its output rows are no
    longer the input rows)."""
    cur = df
    for m in mappings:
        carry_errors = with_errors and ERRORS_COL in cur.columns
        source_columns = [c for c in cur.columns if c != ERRORS_COL]
        compiled = compile_mapping(m, source_columns)
        if carry_errors and not compiled.mapping.aggregations:
            cur = cur.withColumnRenamed(ERRORS_COL, "__prev_errors")
            out = compiled.apply(
                cur, with_errors=True, tables=tables, carry=["__prev_errors"]
            )
            cur = out.withColumn(
                ERRORS_COL, F.concat(F.col("__prev_errors"), F.col(ERRORS_COL))
            ).drop("__prev_errors")
        else:
            cur = compiled.apply(cur, with_errors=with_errors, tables=tables)
    return cur


@dataclass(frozen=True)
class PassCounts:
    """What one pass of a mapping over its input counts."""

    total: int  # input rows, before the skip rules
    kept: int  # rows past the skip rules
    errors: int  # field errors
    error_rows: int  # kept rows with at least one error


def writes(mapping: ETLMapping, counts: PassCounts, dry_run: bool, fail_on_error: bool) -> bool:
    """V5/S6, the write gate (dynamic.py:333-343): a pass that has a sink
    writes only when it is not a dry run, the mapping has fields, rows
    were kept, and either there are no errors or ``fail_on_error`` is
    off."""
    return (
        not dry_run
        and bool(mapping.field_mappings)
        and counts.kept > 0
        and not (counts.errors > 0 and fail_on_error)
    )


def settle(
    mapping: ETLMapping,
    counts: PassCounts,
    dry_run: bool = False,
    fail_on_error: bool = True,
    sink: str | None = None,
) -> TransformResult:
    """The result of a pass that counted ``counts``: the reference's
    counts, the gate and the log lines.  ``sink`` names the pass's sink in
    the log (None: the pass has no sink).  The gate is decided here, once,
    and nothing is written: ``output_written`` says the pass's output is
    to be written, and ``transform`` writes it.  ``transform`` calls this
    after its pass, and so does a caller that already knows the counts,
    so both give the same result."""
    result = TransformResult(counts=counts, error_count=counts.errors)
    mode = "Validating" if dry_run else "Transforming"
    result.add_log(f"{mode} with mapping: {mapping.name}")
    result.add_log(
        f"Field mappings: {len(mapping.field_mappings)}, Filter rules: {len(mapping.filter_rules)}"
    )
    if not mapping.field_mappings:
        # `{}` is falsy: every row counts as skipped, nothing is written
        result.skipped_count = counts.total
    else:
        result.skipped_count = counts.total - counts.kept
        result.success_count = counts.kept - counts.error_rows

    if sink is not None and writes(mapping, counts, dry_run, fail_on_error):
        result.output_written = True
        result.add_log(f"Output written to {sink}")
    elif sink is not None and not dry_run and fail_on_error and counts.errors > 0:
        # rows to write, but fail_on_error holds them back (errors arise
        # only on kept rows of a mapping with fields)
        result.add_log(
            f"OUTPUT SKIPPED: {counts.errors} errors found. Fix errors before converting."
        )

    status = "Validation" if dry_run else "Transformation"
    result.add_log(
        f"{status} complete: {result.success_count} valid, "
        f"{result.skipped_count} skipped, {result.error_count} errors"
    )
    return result


@contextmanager
def counted_pass(df: DataFrame, compiled: CompiledMapping) -> Iterator[tuple[DataFrame, PassCounts]]:
    """``compiled`` applied to ``df`` (errors on, ``_line`` carried),
    persisted, and its ``PassCounts``, both from ONE job: a noop write
    materializes the persisted frame, and the input-row total (observed
    on the source) and the kept/error counters (observed on the output)
    ride along on it as ``observe`` metrics — no separate count or
    aggregate pass.  Whatever runs in the ``with`` block reads the cache;
    the frame is unpersisted on exit."""
    from pyspark.sql import Observation

    # The input total is observed UPSTREAM of the mapping's skip-filter,
    # so it sees every input row (it cannot be optimized away: the filter
    # is never a constant, rules always reference source columns); the
    # counters are observed on the projected rows.  Both fill on the one
    # job that materializes the persisted frame.
    total_obs, counts_obs = Observation(), Observation()
    n_errors = F.size(F.col(ERRORS_COL))
    projected = compiled.apply(
        df.observe(total_obs, F.count(F.lit(1)).alias("total")),
        with_errors=True,
        carry=[LINE_COL],
    ).observe(
        counts_obs,
        F.count(F.lit(1)).alias("kept"),
        F.coalesce(F.sum(n_errors), F.lit(0)).alias("errors"),
        F.coalesce(F.sum(F.when(n_errors > 0, 1).otherwise(0)), F.lit(0)).alias("error_rows"),
    )
    projected = projected.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        projected.write.format("noop").mode("overwrite").save()
        observed = counts_obs.get
        yield projected, PassCounts(
            total=int(total_obs.get["total"]),
            kept=int(observed["kept"]),
            errors=int(observed["errors"]),
            error_rows=int(observed["error_rows"]),
        )
    finally:
        # Unpersist before returning: counters, the error sample and the
        # gated write all ran against the cached data.  Leaving it cached
        # poisons later reads — CacheManager matches on the PLAN, so
        # re-reading a file that was edited in between (the preview →
        # fix-row → convert loop) would silently serve the stale pre-edit
        # rows.  A result's error sample already holds the errors a UI
        # shows; its errors / output frames stay valid and recompute from
        # source on access, so callers wanting more than the sample pay a
        # rescan.
        projected.unpersist()


def transform(
    df: DataFrame,
    mapping: ETLMapping | dict,
    output_path: str | None = None,
    fail_on_error: bool = True,
    dry_run: bool = False,
    write=None,
    error_sample: int = 0,
) -> TransformResult:
    """Reference ``transform_file``/``validate_file`` semantics
    (``dynamic.py:267-348``) over a DataFrame.

    ONE scan computes everything (``counted_pass``); the error sample and
    the gated write then read the cache.  ``write`` is an optional
    callable ``(DataFrame) -> None`` that replaces the default CSV write
    (``sinks.write_spec_csv`` to ``output_path``) — lets callers target
    parquet/Delta without changing gate semantics.  Counts, gate and log
    lines are ``settle``'s; the output is written when its result says
    so.

    ``error_sample`` > 0 collects that many first errors into
    ``result.error_sample`` from the persisted pass, and only when there
    are errors.  ``result.errors`` and ``result.output`` stay lazy: read
    after return, they recompute from the source.
    """
    if isinstance(mapping, dict):
        mapping = ETLMapping.from_dict(mapping)
    with counted_pass(df, _compile(df, mapping)) as (projected, counts):
        line = [LINE_COL] if LINE_COL in projected.columns else []
        errors_df = projected.select(
            *line, F.posexplode(F.col(ERRORS_COL)).alias("_pos", "error")
        ).select(
            *line,
            "_pos",
            F.col("error.field").alias("field"),
            F.col("error.message").alias("message"),
            F.col("error.source_value").alias("source_value"),
        )
        sample = []
        if error_sample > 0 and counts.errors > 0:
            # the first errors in file order; a top-n over the cache is one
            # job, where limit() would scan the partitions a few at a time
            first = errors_df.orderBy(LINE_COL, "_pos") if line else errors_df
            sample = [
                {
                    "line": r[LINE_COL] if line else None,
                    "field": r["field"],
                    "message": r["message"],
                    "value": r["source_value"] or "",
                }
                for r in first.limit(error_sample).collect()
            ]
        output_df = projected.drop(ERRORS_COL, LINE_COL)
        sink = output_path or ("custom sink" if write is not None else None)
        result = settle(mapping, counts, dry_run, fail_on_error, sink=sink)
        if result.output_written:
            if write is not None:
                write(output_df)
            else:
                write_spec_csv(output_df, output_path)
        result.errors = errors_df.drop("_pos")
        result.error_sample = sample
        result.output = output_df
        return result


def validate(
    df: DataFrame,
    mapping: ETLMapping | dict,
    error_sample: int = 0,
) -> TransformResult:
    """V3: dry-run — full transform pass, metrics + errors, no write
    (reference ``validate_file``, dynamic.py:259-265)."""
    return transform(df, mapping, dry_run=True, error_sample=error_sample)


def errors_by_line(errors_df: DataFrame) -> DataFrame:
    """V4: ``{line: [errors…]}`` grouping for UI highlighting
    (reference ``app.py:560-567``)."""
    return errors_df.groupBy(LINE_COL).agg(
        F.collect_list(F.struct("field", "message", "source_value")).alias("errors")
    )
