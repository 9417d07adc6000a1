"""Driver-local literal frames as pure-JVM inline tables.

``spark.createDataFrame(small_python_list)`` parallelizes the list into
a PYTHON RDD (``applySchemaToPythonRDD``) spread over
``defaultParallelism`` partitions: every consumer of the frame — most
painfully every BroadcastExchange build against it — runs a
cluster-wide stage of Python workers just to deserialize a handful of
pickled rows.  Profiled at sf0.1 (r16): ``url_registered_domain``'s
five per-depth PSL broadcast builds each ran a 32-task Python stage
(~6 s wall, ~0.15 s CPU — pure worker round-trips) to read a ≤40-row
rule table.

``local_values_frame`` renders the rows as a SQL inline ``VALUES``
table instead, which the analyzer resolves straight to a
``LocalRelation``: consumption is JVM-only, and a BroadcastExchange
over a ``LocalTableScan`` collects driver-side without launching any
job at all.  Intended for CLUSTER-SIZED or constant tables (rule
tables, per-partition offsets, trained model weights) — never for
data-sized rows; ``_MAX_INLINE_ROWS`` enforces the contract (r17:
every row becomes literal expression nodes in one SQL text, so a
data-sized caller would melt driver parse/analysis — fall back to
``createDataFrame`` or a distributed join above the bound).

Scalar and array-of-scalar columns only (string/int/float/bool and
NULLs); values are type-CHECKED against the declared column type
(r17 — the CAST spelling used to coerce silently: a float in an int
column truncated, an out-of-range int became NULL; now a mismatch
raises like ``createDataFrame`` with a schema does).  Floats are
rendered through their shortest round-trip ``repr`` and parsed back by
the engine, which is exact for every finite double.
"""

from __future__ import annotations

import math
import re

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

_INT_TYPES = {"tinyint", "smallint", "int", "integer", "bigint", "long"}
_FLOAT_TYPES = {"float", "double"}

# hard bound on inline rows: VALUES is for model/rule/offset tables.
# 10k rows of a few scalar columns is already a ~100k-node expression
# tree — past the point where createDataFrame's Python RDD is cheaper.
_MAX_INLINE_ROWS = 10_000

# one schema entry: a name (bare, or backtick-quoted as in Spark DDL), a type
_SCHEMA_ENTRY = re.compile(r"\s*(`(?:[^`]|``)+`|[^\s`]+)\s+(\S.*?)\s*")


def quote_ident(name: str) -> str:
    """``name`` as ONE Spark SQL identifier: a dot, space or backtick in a
    user's column name never reads as a struct path or breaks the parse."""
    return "`" + name.replace("`", "``") + "`"


def ident_col(name: str) -> Column:
    """The column literally named ``name``."""
    return F.col(quote_ident(name))


def sql_string(s: str) -> str:
    """``s`` as a Spark SQL string literal — the only renderer of one."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _render(v, base: str) -> str:
    if v is None:
        return "NULL"
    if base == "boolean":
        if not isinstance(v, bool):
            raise TypeError(
                f"local_values_frame: boolean column got {type(v).__name__}"
            )
        return "TRUE" if v else "FALSE"
    if base in _INT_TYPES:
        if isinstance(v, bool) or not isinstance(v, int):
            raise TypeError(
                f"local_values_frame: {base} column got {type(v).__name__}"
            )
        return str(v)
    if base in _FLOAT_TYPES:
        # match createDataFrame-with-schema strictness: ints do not
        # silently widen to double
        if isinstance(v, bool) or not isinstance(v, float):
            raise TypeError(
                f"local_values_frame: {base} column got {type(v).__name__}"
            )
        if math.isnan(v):
            return "CAST('NaN' AS DOUBLE)"
        if math.isinf(v):
            return f"CAST('{'-' if v < 0 else ''}Infinity' AS DOUBLE)"
        # shortest round-trip decimal; the SQL parser returns the same
        # double for it (exact for every finite value)
        return f"CAST('{v!r}' AS DOUBLE)"
    if base == "string":
        if not isinstance(v, str):
            raise TypeError(
                f"local_values_frame: string column got {type(v).__name__}"
            )
        return sql_string(v)
    raise TypeError(f"local_values_frame: unsupported literal type {type(v)}")


def local_values_frame(
    spark: SparkSession, rows, schema: str
) -> DataFrame:
    """Build a DataFrame from a small driver-side list of tuples as a
    JVM ``LocalRelation`` (inline VALUES), not a Python RDD.

    ``schema`` is a Spark schema string of SCALAR columns, e.g.
    ``"suffix string, kind string, nlab int"`` (a name with a space or
    backtick is written ``quote_ident(name)``); every value is validated
    against its declared type and CAST so the result schema matches
    ``createDataFrame`` with the same schema string.  Empty ``rows``
    yield an empty frame of the same schema.  Raises ``ValueError``
    past ``_MAX_INLINE_ROWS`` — this helper is for cluster-sized
    constant tables, never data-sized rows."""
    cols: list[tuple[str, str, str, bool]] = []
    for part in schema.split(","):
        m = _SCHEMA_ENTRY.fullmatch(part)
        if m is None:
            raise ValueError(f"bad schema entry {part!r}")
        name, typ = m.group(1), m.group(2)
        if name.startswith("`"):
            name = name[1:-1].replace("``", "`")
        base = typ.lower()
        is_array = False
        if base.startswith("array<") and base.endswith(">"):
            base = base[len("array<") : -1].strip()
            is_array = True
        if base not in _INT_TYPES | _FLOAT_TYPES | {"string", "boolean"}:
            raise ValueError(
                f"local_values_frame supports scalar (or array-of-scalar) "
                f"columns only, got {typ!r}"
            )
        cols.append((name, typ, base, is_array))
    rows = list(rows)
    if len(rows) > _MAX_INLINE_ROWS:
        raise ValueError(
            f"local_values_frame: {len(rows)} rows exceed the "
            f"{_MAX_INLINE_ROWS}-row inline bound — this helper is for "
            "constant/model tables; use createDataFrame or a distributed "
            "join for data-sized rows"
        )
    if not rows:
        return spark.range(0).select(
            *[F.lit(None).cast(t).alias(n) for n, t, _b, _a in cols]
        )

    def cell(v, base: str, is_array: bool) -> str:
        if is_array:
            if v is None:
                return "NULL"
            if not isinstance(v, (list, tuple)):
                raise TypeError(
                    f"local_values_frame: array column got {type(v).__name__}"
                )
            return "array(" + ",".join(_render(x, base) for x in v) + ")"
        return _render(v, base)

    rendered = ",".join(
        "("
        + ",".join(
            cell(v, cols[i][2], cols[i][3]) for i, v in enumerate(tuple(r))
        )
        + ")"
        for r in rows
    )
    proj = ",".join(
        f"CAST(c{i} AS {t}) AS {quote_ident(n)}"
        for i, (n, t, _b, _a) in enumerate(cols)
    )
    alias_cols = ",".join(f"c{i}" for i in range(len(cols)))
    return spark.sql(
        f"SELECT {proj} FROM VALUES {rendered} AS t({alias_cols})"
    )
