"""Differential tests: compiled Spark plan vs the reference interpreter.

We import the reference's ``DynamicTransformer`` (read-only, from the
reference checkout, see ``tests/reference.py``) and run the SAME mapping over
the SAME rows through both engines, asserting identical (value,
error-presence, skip) behavior.  This is the strongest available parity
oracle for the mapping language.  Where the checkout is absent those tests
skip; the reference-free test at the end still runs.
"""

from __future__ import annotations

import pytest

from csv_etl_spark.compiler import ERRORS_COL, compile_mapping
from tests.reference import AVAILABLE, requires_reference

if AVAILABLE:
    from converter.transformers.dynamic import DynamicTransformer

COLUMNS = ["Date", "Ticker", "Type", "Quantity", "Price", "Currency", "Quantity2"]

ROWS = [
    # normal buy
    ["2024-01-15T10:30:00", "AAPL", "BUY - MARKET", "1.5", "USD 3.71", "USD", "2"],
    # junk type (filtered by in-rule)
    ["2024-01-16T11:00:00", "TSLA", "CASH TOP-UP", "0", "USD 0", "USD", "3"],
    # empty ticker
    ["2024-01-17T12:00:00", "", "SELL - LIMIT", "2", "EUR 10.00", "EUR", ""],
    # unparseable date + unknown lookup key
    ["not-a-date", "VOD", "MYSTERY", "3", "GBP 8.00", "GBP", "x"],
    # ISO with fractional seconds and Z
    ["2021-03-02T14:05:42.123456Z", "BTC", "DIVIDEND", "0.001", "1,234.5", "USD", "7"],
    # empty date and empty quantity
    ["", "MSFT", "BUY - LIMIT", "", "USD 5", "USD", "5"],
]

MAPPING = {
    "id": "parity",
    "name": "parity",
    "field_mappings": [
        {"destination_field": "date", "source_field": "Date", "transform_type": "date_format",
         "transform_config": {"input_format": "%Y-%m-%dT%H:%M:%S", "output_format": "%Y-%m-%d"}},
        {"destination_field": "symbol", "source_field": "Ticker", "transform_type": "direct",
         "transform_config": {}},
        {"destination_field": "type", "source_field": "Type", "transform_type": "lookup",
         "transform_config": {"BUY - MARKET": "BUY", "BUY - LIMIT": "BUY", "SELL - LIMIT": "SELL",
                               "DIVIDEND": "DIVIDEND", "_default": None}},
        {"destination_field": "account", "source_field": None, "transform_type": "constant",
         "transform_config": {"value": "Revolut"}},
        {"destination_field": "suffixed", "source_field": "Ticker", "transform_type": "suffix",
         "transform_config": {"value": ".DE", "condition": "Currency == 'EUR'"}},
        {"destination_field": "prefixed", "source_field": "Ticker", "transform_type": "prefix",
         "transform_config": {"value": "X:"}},
        {"destination_field": "total", "source_field": "Quantity", "transform_type": "formula",
         "transform_config": {"expression": "Quantity * 2 + 1"}},
        {"destination_field": "band", "source_field": "Quantity", "transform_type": "conditional",
         "transform_config": {"conditions": [
             {"if": "Currency == 'USD'", "then": "dollar"},
             {"if": "Currency in ['EUR', 'GBP']", "then": "european"},
             {"else": "other"},
         ]}},
    ],
    "filter_rules": [
        {"field": "Type", "operator": "in", "values": ["CASH TOP-UP", "CASH WITHDRAWAL"]},
        {"field": "Ticker", "operator": "is_empty"},
    ],
}


def _reference_results(mapping: dict, rows: list[list[str]]):
    ref = DynamicTransformer(mapping)
    out = []
    for i, row in enumerate(rows):
        d = dict(zip(COLUMNS, row))
        transformed, errors = ref.transform_row(d, line_number=i + 2)
        out.append((transformed, {e.field for e in errors}))
    return out


def _spark_results(spark, mapping: dict, rows: list[list[str]]):
    df = spark.createDataFrame([tuple(r) + (i + 2,) for i, r in enumerate(rows)], COLUMNS + ["_line"])
    compiled = compile_mapping(mapping, COLUMNS)
    result = compiled.apply(df, with_errors=True, carry=["_line"]).orderBy("_line")
    out = {}
    for r in result.collect():
        d = r.asDict(recursive=True)
        line = d.pop("_line")
        errs = {e["field"] for e in d.pop(ERRORS_COL)}
        out[line] = (d, errs)
    return out


@requires_reference
def test_mapping_parity_row_for_row(spark):
    ref = _reference_results(MAPPING, ROWS)
    got = _spark_results(spark, MAPPING, ROWS)

    for i, (ref_row, ref_errs) in enumerate(ref):
        line = i + 2
        if ref_row is None:  # skipped by filter
            assert line not in got, f"line {line} should be filtered out"
            continue
        assert line in got, f"line {line} missing from spark output"
        spark_row, spark_errs = got[line]
        assert spark_errs == ref_errs, f"line {line} error fields differ"
        for field, ref_val in ref_row.items():
            sv = spark_row[field]
            # formula: reference returns python numbers; ours double
            if isinstance(ref_val, (int, float)) and sv is not None:
                assert float(sv) == pytest.approx(float(ref_val)), (line, field)
            else:
                assert sv == ref_val, (line, field, sv, ref_val)


@requires_reference
def test_filter_ops_parity(spark):
    """All 7 filter operators, including the not_in inversion trap."""
    rows = [
        ["a", "x", "1"],
        ["b", "", "2"],
        ["c", "x", ""],
        ["", "y", "3"],
        ["contains-me", "z", "4"],
    ]
    cols = ["f1", "f2", "f3"]
    rule_sets = [
        [{"field": "f1", "operator": "equals", "value": "a"}],
        [{"field": "f1", "operator": "not_equals", "value": "a"}],
        [{"field": "f1", "operator": "in", "values": ["a", "b"]}],
        [{"field": "f1", "operator": "not_in", "values": ["a", "b"]}],
        [{"field": "f2", "operator": "is_empty"}],
        [{"field": "f2", "operator": "is_not_empty"}],
        [{"field": "f1", "operator": "contains", "value": "tains"}],
        [{"field": "missing_col", "operator": "is_empty"}],
        [{"field": "f1", "operator": "equals", "value": "a"},
         {"field": "f3", "operator": "is_empty"}],
    ]
    for rules in rule_sets:
        mapping = {"id": "f", "name": "f", "filter_rules": rules,
                   "field_mappings": [{"destination_field": "out", "source_field": "f1",
                                       "transform_type": "direct", "transform_config": {}}]}
        ref = DynamicTransformer(mapping)
        expected_kept = [r[0] for r in rows if not ref.should_skip(dict(zip(cols, r)))]
        df = spark.createDataFrame([tuple(r) for r in rows], cols)
        compiled = compile_mapping(mapping, cols)
        kept = [r["out"] for r in compiled.apply(df, with_errors=False).collect()]
        assert sorted(kept, key=str) == sorted(expected_kept, key=str), rules


@requires_reference
def test_formula_edge_cases(spark):
    """Division by zero → error; unknown field → error; non-numeric → 0."""
    rows = [("2", "0"), ("6", "3"), ("abc", "2"), ("", "4")]
    cols = ["a", "b"]
    mapping = {
        "id": "f", "name": "f", "filter_rules": [],
        "field_mappings": [
            {"destination_field": "div", "source_field": "a", "transform_type": "formula",
             "transform_config": {"expression": "a / b"}},
            {"destination_field": "bad", "source_field": "a", "transform_type": "formula",
             "transform_config": {"expression": "nosuchfield + 1"}},
        ],
    }
    ref = DynamicTransformer(mapping)
    df = spark.createDataFrame(rows, cols)
    compiled = compile_mapping(mapping, cols)
    got = {tuple(): None}
    spark_rows = compiled.apply(df, with_errors=True).collect()
    # build keyed comparison on the div value by input order is lost; compare as multisets
    ref_out = []
    for r in rows:
        transformed, errors = ref.transform_row(dict(zip(cols, r)), 0)
        ref_out.append((transformed["div"], {e.field for e in errors}))
    spark_out = [
        (r["div"], {e["field"] for e in r[ERRORS_COL]}) for r in spark_rows
    ]

    def norm(item):
        v, errs = item
        return (None if v is None else round(float(v), 9), tuple(sorted(errs)))

    assert sorted(map(norm, spark_out), key=str) == sorted(map(norm, ref_out), key=str)


@requires_reference
def test_formula_substring_divergence_documented(spark):
    """INTENTIONAL DIVERGENCE (SURVEY §2.3 T7): the reference substring-
    replaces field names in row-iteration order, so `Quantity` corrupts an
    expression referencing `Quantity2` ("Quantity * 2 + Quantity2" becomes
    "1.5 * 2 + 1.52" → 4.52).  Our compiler tokenizes identifiers properly
    and computes the mathematically-intended 1.5*2 + 2 = 5.0."""
    cols = ["Quantity", "Quantity2"]
    row = {"Quantity": "1.5", "Quantity2": "2"}
    mapping = {
        "id": "t7", "name": "t7", "filter_rules": [],
        "field_mappings": [{"destination_field": "total", "source_field": "Quantity",
                            "transform_type": "formula",
                            "transform_config": {"expression": "Quantity * 2 + Quantity2"}}],
    }
    ref_val, _ = DynamicTransformer(mapping).transform_value(row, mapping["field_mappings"][0])
    assert ref_val == pytest.approx(4.52)  # the reference's corrupted result

    df = spark.createDataFrame([("1.5", "2")], cols)
    compiled = compile_mapping(mapping, cols)
    got = compiled.apply(df, with_errors=False).collect()[0]["total"]
    assert got == pytest.approx(5.0)  # tokenizing compiler: intended semantics


def test_empty_field_mappings_yield_empty_dict_semantics(spark):
    """Reference counts rows as 'skipped' when projection is empty ({} is
    falsy, dynamic.py:309-318); compiled plan returns no columns but same
    row count — the pipeline layer accounts for this."""
    mapping = {"id": "e", "name": "e", "filter_rules": [], "field_mappings": []}
    df = spark.createDataFrame([("x",)], ["c"])
    compiled = compile_mapping(mapping, ["c"])
    out = compiled.apply(df, with_errors=True)
    assert out.count() == 1
    assert out.columns == [ERRORS_COL]
