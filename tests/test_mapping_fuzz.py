"""Mapping-language FUZZER: hypothesis generates random mappings (all 8
transform types, all 7 filter operators, random configs) and random rows,
runs both the reference interpreter and the compiled Spark plan, and
asserts identical (skip, value, error-fields) behavior row for row.  The
strategies, and what they exclude by construction, are in
``tests/mapping_strategies.py``.  Skips where the reference checkout
(``tests/reference.py``) is absent.
"""

from __future__ import annotations

import math

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from csv_etl_spark.compiler import ERRORS_COL, compile_mapping
from tests.mapping_strategies import COLS, mapping_st, row
from tests.reference import AVAILABLE, requires_reference

if AVAILABLE:
    from converter.transformers.dynamic import DynamicTransformer

pytestmark = requires_reference  # every test here runs the reference interpreter


def _agree(ref_val, spark_val) -> bool:
    if ref_val is None or spark_val is None:
        return ref_val is None and spark_val is None
    if isinstance(ref_val, (int, float)) and not isinstance(ref_val, bool):
        try:
            return math.isclose(float(ref_val), float(spark_val),
                                rel_tol=1e-9, abs_tol=1e-9)
        except (TypeError, ValueError):
            return False
    return str(ref_val) == str(spark_val)


@settings(max_examples=25, deadline=None,
          suppress_health_check=[HealthCheck.too_slow,
                                 HealthCheck.function_scoped_fixture])
@given(mapping_st, st.lists(row, min_size=1, max_size=8))
def test_random_mapping_parity(spark, mapping, rows):
    ref = DynamicTransformer(mapping)
    expected = []
    for i, r in enumerate(rows):
        d = dict(zip(COLS, r))
        transformed, errors = ref.transform_row(d, line_number=i + 2)
        expected.append((transformed, {e.field for e in errors}))

    df = spark.createDataFrame(
        [tuple(r) + (i + 2,) for i, r in enumerate(rows)], COLS + ["_line"]
    )
    compiled = compile_mapping(mapping, COLS)
    got = {}
    for out_row in compiled.apply(df, with_errors=True, carry=["_line"]).collect():
        d = out_row.asDict(recursive=True)
        line = d.pop("_line")
        errs = {e["field"] for e in d.pop(ERRORS_COL)}
        got[line] = (d, errs)

    for i, (ref_row, ref_errs) in enumerate(expected):
        line = i + 2
        if ref_row is None:
            assert line not in got, f"line {line}: ref skipped, spark kept {got.get(line)}"
            continue
        assert line in got, f"line {line}: ref kept {ref_row}, spark skipped"
        spark_row, spark_errs = got[line]
        assert spark_errs == ref_errs, (
            f"line {line}: error fields ref={ref_errs} spark={spark_errs} row={ref_row}"
        )
        for fld, rv in ref_row.items():
            assert _agree(rv, spark_row[fld]), (
                f"line {line} field {fld}: ref={rv!r} spark={spark_row[fld]!r} "
                f"mapping={mapping}"
            )
