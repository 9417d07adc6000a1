"""read_spec_csv reads a plain header line without a Spark job; every
other header goes through Spark's own inference.  Either way the frame
must equal a plain Spark read of the same file."""

from __future__ import annotations

import pytest

from csv_etl_spark.sources.csv_source import _plain_header, read_spec_csv
from csv_etl_spark.specs import ColumnSpec, FileSpec

# (id, file bytes, spec overrides, header read without a job)
CASES = [
    ("plain", b"Date,Ticker,Type\n2024-01-15,AAPL,BUY\n", {}, True),
    ("crlf", b"Date,Ticker\r\n2024-01-15,AAPL\r\n", {}, True),
    ("quoted_sep", b'"Price, EUR",Ticker\n1.5,AAPL\n', {}, False),
    ("case_dup", b"Date,date,x\n1,2,3\n", {}, False),
    ("empty_name", b"a,b,,d\n1,2,3,4\n", {}, False),
    ("bom", b"\xef\xbb\xbfDate,Ticker\n2024-01-15,AAPL\n", {}, False),
    ("spaces", b"first name, last name ,age\nAda,Lovelace,36\n", {}, True),
    ("semicolon", b"a;b\n1;x\n2;y\n", {"delimiter": ";"}, True),
    ("latin1", "Café,Prix\nnoir,1\n".encode("latin-1"), {"encoding": "iso-8859-1"}, False),
    ("ragged", b"a,b,c\n1,2\n1,2,3,4\n", {}, True),
]


def _spec(**overrides) -> FileSpec:
    return FileSpec(id="s", name="s", **overrides)


def _plain_read(spark, path: str, spec: FileSpec):
    return (
        spark.read.option("header", "true")
        .option("sep", spec.delimiter)
        .option("encoding", spec.encoding)
        .option("inferSchema", "false")
        .csv(path)
    )


def _rows(df):
    return sorted((tuple(r) for r in df.collect()), key=repr)


@pytest.mark.parametrize("body,overrides,fast", [c[1:] for c in CASES], ids=[c[0] for c in CASES])
def test_header_matches_spark_inference(spark, tmp_path, body, overrides, fast):
    path = tmp_path / "f.csv"
    path.write_bytes(body)
    spec = _spec(**overrides)
    assert (_plain_header(str(path), spec.delimiter) is not None) == (
        fast and spec.encoding == "utf-8"
    )
    got, want = read_spec_csv(spark, str(path), spec), _plain_read(spark, str(path), spec)
    assert got.columns == want.columns
    assert _rows(got) == _rows(want)


def test_case_duplicates_keep_spark_renaming(spark, tmp_path):
    path = tmp_path / "f.csv"
    path.write_text("Date,date\n1,2\n")
    assert read_spec_csv(spark, str(path)).columns == ["Date0", "date1"]


@pytest.mark.parametrize("target", ["dir", "glob"])
def test_directory_and_glob_paths(spark, tmp_path, target):
    d = tmp_path / "in"
    d.mkdir()
    (d / "a.csv").write_text("x,y\n1,2\n")
    (d / "b.csv").write_text("x,y\n3,4\n")
    path = str(d) if target == "dir" else str(d / "*.csv")
    got = read_spec_csv(spark, path)
    assert got.columns == ["x", "y"]
    assert _rows(got) == _rows(_plain_read(spark, path, _spec()))


def test_headerless_spec_uses_spec_names(spark, tmp_path):
    path = tmp_path / "f.csv"
    path.write_text("1,x\n2,y\n")
    spec = _spec(has_header=False, columns=[ColumnSpec("num"), ColumnSpec("val")])
    got = read_spec_csv(spark, str(path), spec)
    want = spark.read.schema(spec.spark_schema()).option("header", "false").csv(str(path))
    assert got.columns == ["num", "val"]
    assert _rows(got) == _rows(want) == [("1", "x"), ("2", "y")]


def test_renamed_header_seen_on_next_read(spark, tmp_path):
    path = tmp_path / "f.csv"
    path.write_text("Date,Ticker\n2024-01-15,AAPL\n")
    assert read_spec_csv(spark, str(path)).columns == ["Date", "Ticker"]
    path.write_text("When,Ticker\n2024-01-15,AAPL\n")
    df = read_spec_csv(spark, str(path))
    assert df.columns == ["When", "Ticker"]
    assert _rows(df) == [("2024-01-15", "AAPL")]


def test_header_changed_after_planning_fails_the_scan(spark, tmp_path):
    """The names read in Python are checked against every file's header
    at scan time (enforceSchema=false), so a header rewritten between
    planning and execution fails loudly instead of mislabelling columns."""
    path = tmp_path / "f.csv"
    path.write_text("Date,Ticker\n2024-01-15,AAPL\n")
    df = read_spec_csv(spark, str(path))
    path.write_text("Ticker,Date\nAAPL,2024-01-15\n")
    with pytest.raises(Exception, match="(?i)header"):
        df.collect()
