"""Condition mini-grammar → Spark Column.

Grammar (reference ``dynamic.py:197-219``): ``field (==|!=|in) literal``,
regex-parsed; comparisons run on ``str(row_value)`` — which means a missing /
null field compares as the literal string ``"None"`` (Python ``str(None)``).
We reproduce that exactly via ``coalesce(cast(col as string), 'None')`` so
compiled behavior matches the interpreter row-for-row.

``\\w+`` field tokens mean names with spaces can't be referenced — same
restriction as the reference (documented, not "fixed": mappings written for
the reference must behave identically here).
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

from csv_etl_spark.local import ident_col

_CONDITION_RE = re.compile(r"(\w+)\s*(==|!=|in)\s*(.+)", re.DOTALL)
_LIST_ITEM_RE = re.compile(r"'([^']*)'|\"([^\"]*)\"")


def compile_condition(condition: str) -> Column:
    """Compile a condition string to a boolean Column (never null).

    A condition that doesn't parse evaluates to False for every row —
    reference ``dynamic.py:200-202``.
    """
    match = _CONDITION_RE.match(condition.strip())
    if not match:
        return F.lit(False)

    fld, operator, value_str = match.groups()
    # str(row_value): null → "None", like Python's str(None)
    row_value = F.coalesce(ident_col(fld).cast("string"), F.lit("None"))

    if operator == "==":
        return row_value == F.lit(value_str.strip("'\""))
    if operator == "!=":
        return row_value != F.lit(value_str.strip("'\""))
    # in: parse ['a', 'b'] / ["a", "b"] quoted items
    values = [a or b for a, b in _LIST_ITEM_RE.findall(value_str)]
    if not values:
        return F.lit(False)
    return row_value.isin(values)
