"""Lifecycle tests: transform/validate counts, fail-on-error gate, errors DF."""

from __future__ import annotations

import os

from csv_etl_spark.plans import transform, validate
from csv_etl_spark.sources import read_spec_csv
from csv_etl_spark.sources.csv_source import LINE_COL, with_line_numbers
from csv_etl_spark.specs import FileSpec, ColumnSpec, ColumnType

CSV = """Date,Ticker,Type,Quantity
2024-01-15T10:30:00,AAPL,BUY,1.5
2024-01-16T11:00:00,TSLA,SKIPME,2
bad-date,MSFT,BUY,3
2024-01-18T09:00:00,VOD,MYSTERY,4
"""

MAPPING = {
    "id": "m", "name": "m",
    "field_mappings": [
        {"destination_field": "date", "source_field": "Date", "transform_type": "date_format",
         "transform_config": {"input_format": "%Y-%m-%dT%H:%M:%S", "output_format": "%Y-%m-%d"}},
        {"destination_field": "type", "source_field": "Type", "transform_type": "lookup",
         "transform_config": {"BUY": "BUY", "_default": None}},
    ],
    "filter_rules": [{"field": "Type", "operator": "equals", "value": "SKIPME"}],
}


def _write_csv(tmp_path):
    d = tmp_path / "in"
    d.mkdir()
    (d / "data.csv").write_text(CSV)
    return str(d)


def test_transform_counts_and_gate(spark, tmp_path):
    df = with_line_numbers(read_spec_csv(spark, _write_csv(tmp_path)))
    out_dir = str(tmp_path / "out")

    # fail_on_error=True: 2 errors (bad date line 4, lookup miss line 5) → no write
    r = transform(df, MAPPING, output_path=out_dir, fail_on_error=True)
    assert (r.success_count, r.skipped_count, r.error_count) == (1, 1, 2)
    assert not r.output_written
    assert not os.path.exists(out_dir)
    assert any("OUTPUT SKIPPED" in m for m in r.log_messages)

    # errors carry line numbers and offending values
    errs = {(e["field"], e[LINE_COL], e["source_value"]) for e in
            (row.asDict() for row in r.errors.collect())}
    assert ("date", 4, "bad-date") in errs
    assert ("type", 5, "MYSTERY") in errs

    # fail_on_error=False: errored rows still written (V5)
    r2 = transform(df, MAPPING, output_path=out_dir, fail_on_error=False)
    assert r2.output_written
    import glob
    files = glob.glob(out_dir + "/*.csv")
    assert files
    lines = [ln for f in files for ln in open(f).read().splitlines()]
    data_lines = [ln for ln in lines if ln and ln != "date,type"]
    assert len(data_lines) == 3  # 3 kept rows (each part file has its own header)


def test_validate_is_dry_run(spark, tmp_path):
    df = with_line_numbers(read_spec_csv(spark, _write_csv(tmp_path)))
    r = validate(df, MAPPING)
    assert (r.success_count, r.skipped_count, r.error_count) == (1, 1, 2)
    assert r.output is not None and not r.output_written


def test_empty_mapping_all_skipped(spark, tmp_path):
    df = read_spec_csv(spark, _write_csv(tmp_path))
    r = transform(df, {"id": "e", "name": "e", "field_mappings": [], "filter_rules": []},
                  output_path=str(tmp_path / "o"))
    assert (r.success_count, r.skipped_count, r.error_count) == (0, 4, 0)
    assert not r.output_written


def test_spec_dialect_honored(spark, tmp_path):
    """S3: semicolon-delimited spec (the reference's teste_destination_1 case)."""
    d = tmp_path / "semi"
    d.mkdir()
    (d / "f.csv").write_text("a;b\n1;x\n2;y\n")
    spec = FileSpec(id="s", name="s", delimiter=";",
                    columns=[ColumnSpec("a"), ColumnSpec("b")])
    df = read_spec_csv(spark, str(d), spec)
    assert df.columns == ["a", "b"]
    assert df.count() == 2


def test_headerless_spec(spark, tmp_path):
    d = tmp_path / "nohdr"
    d.mkdir()
    (d / "f.csv").write_text("1,x\n2,y\n")
    spec = FileSpec(id="s", name="s", has_header=False,
                    columns=[ColumnSpec("num"), ColumnSpec("val")])
    df = read_spec_csv(spark, str(d), spec)
    assert df.columns == ["num", "val"]
    assert df.count() == 2


def test_compile_memo_keys_on_mapping_and_columns(spark):
    """compile_mapping is memoized per (mapping JSON, source columns): a
    repeat compile reuses the Columns but carries the caller's mapping,
    and the same mapping under another column list compiles separately
    (a column the file lacks resolves to null)."""
    from csv_etl_spark.compiler import compile_mapping
    from csv_etl_spark.specs import ETLMapping

    m1, m2 = ETLMapping.from_dict(MAPPING), ETLMapping.from_dict(MAPPING)
    full = compile_mapping(m1, ["Date", "Ticker", "Type"])
    again = compile_mapping(m2, ["Date", "Ticker", "Type"])
    assert again.fields is full.fields and again.mapping is m2
    assert again.errors_column() is full.errors_column()

    no_type = compile_mapping(m1, ["Date", "Ticker"])
    assert no_type.fields is not full.fields
    df = spark.createDataFrame([("2024-01-15T10:30:00", "AAPL", "BUY")], ["Date", "Ticker", "Type"])
    assert full.apply(df, with_errors=False).collect()[0]["type"] == "BUY"
    assert no_type.apply(df, with_errors=False).collect()[0]["type"] is None


def test_session_skips_dataframe_call_site_capture(spark):
    """``get_spark`` turns PySpark's per-Column-call call-site capture off
    (a py4j set and clear of the JVM origin on every ``F.*`` call); an
    ANSI error still carries its error class."""
    import pytest
    from pyspark.errors import ArithmeticException
    from pyspark.sql import functions as F

    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    with pytest.raises(ArithmeticException) as err:
        spark.range(1).select(F.col("id") / F.lit(0)).collect()
    assert err.value.getCondition() == "DIVIDE_BY_ZERO"
