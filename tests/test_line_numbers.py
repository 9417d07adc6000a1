"""``with_line_numbers`` against the per-file ``row_number`` window it
replaced, which stays here as the oracle: the same ``(file, row) → _line``
on every shape of scan — files Spark packs into one partition, a file it
splits across partitions, CRLF endings, blank lines, a header-only file,
a directory of 500 files."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from csv_etl_spark.plans import errors_by_line, transform
from csv_etl_spark.sources.csv_source import LINE_COL, read_spec_csv, with_line_numbers


def _window_lines(df):
    """The former spelling: row_number per input file, ordered by the
    monotonically increasing id (a per-file shuffle and sort)."""
    w = Window.partitionBy(F.input_file_name()).orderBy(F.monotonically_increasing_id())
    return df.withColumn(LINE_COL, F.row_number().over(w) + F.lit(1))


def _rows(n: int, tag: str, eol: str = "\n") -> str:
    return "".join(f"2024-01-{i % 28 + 1:02d},{tag}{i},BUY{eol}" for i in range(n))


HEADER = "Date,Ticker,Type"

# (id, {file name: text}, spark confs, expected planned partitions: "one" or "many")
CASES = [
    (
        "dir_one_partition",
        {f"f{i}.csv": f"{HEADER}\n" + _rows(5 + i, f"F{i}_") for i in range(3)},
        {"spark.sql.files.openCostInBytes": "1", "spark.sql.files.minPartitionNum": "1"},
        "one",
    ),
    (
        "split_file",
        {"big.csv": f"{HEADER}\n" + _rows(40, "S")},
        {"spark.sql.files.maxPartitionBytes": "256"},
        "many",
    ),
    (
        "crlf",
        {"crlf.csv": f"{HEADER}\r\n" + _rows(30, "C", "\r\n")},
        {"spark.sql.files.maxPartitionBytes": "200"},
        "many",
    ),
    (
        "blank_lines",
        {"blank.csv": f"{HEADER}\n" + _rows(10, "B") + "\n\n" + _rows(10, "D") + "\n"},
        {"spark.sql.files.maxPartitionBytes": "128"},
        "many",
    ),
    ("header_only", {"empty.csv": f"{HEADER}\n"}, {}, "one"),
    (
        "many_files",
        {f"f{i:03d}.csv": f"{HEADER}\n" + _rows(1 + i % 4, f"M{i}_") for i in range(500)},
        {},
        "many",
    ),
]


@pytest.fixture
def confs(spark):
    """Set session confs for one test and restore them after."""
    saved = {}

    def set_(values: dict[str, str]) -> None:
        for k, v in values.items():
            saved.setdefault(k, spark.conf.get(k, None))
            spark.conf.set(k, v)

    yield set_
    for k, v in saved.items():
        spark.conf.unset(k) if v is None else spark.conf.set(k, v)


def _by_file_row(df) -> dict[tuple, int]:
    """``(file name, row) → _line`` of a frame with a ``_file`` column."""
    rows = df.select(
        "_file", LINE_COL, *[c for c in df.columns if c not in ("_file", LINE_COL)]
    ).collect()
    out = {(os.path.basename(r["_file"]), tuple(r[2:])): r[LINE_COL] for r in rows}
    assert len(out) == len(rows)  # every (file, row) is distinct
    return out


@pytest.mark.parametrize("case, files, conf, partitions", CASES, ids=[c[0] for c in CASES])
def test_line_numbers_match_window(spark, tmp_path, confs, case, files, conf, partitions):
    for name, text in files.items():
        (tmp_path / name).write_bytes(text.encode())
    confs(conf)
    path = str(tmp_path if len(files) > 1 else tmp_path / next(iter(files)))
    scan = read_spec_csv(spark, path)
    n_parts = scan.rdd.getNumPartitions()
    assert (n_parts == 1) if partitions == "one" else (n_parts >= 3), n_parts

    # the file name is read in the scan's stage (after the window's
    # shuffle there is no input file)
    file = F.input_file_name()
    got = _by_file_row(with_line_numbers(scan).withColumn("_file", file))
    want = _by_file_row(_window_lines(read_spec_csv(spark, path).withColumn("_file", file)))
    assert got == want
    n_rows = sum(text.count("BUY") for text in files.values())
    assert len(got) == n_rows
    if case != "blank_lines":  # blank lines are not rows, so not numbered
        for name, text in files.items():
            physical = {
                line.rstrip("\r"): i for i, line in enumerate(text.split("\n"), start=1)
            }
            for (f, row), line in got.items():
                if f == name:
                    assert physical[",".join(row)] == line


def test_split_file_errors_by_line(spark, tmp_path, confs):
    """A bad row deep in a file Spark splits keeps its physical line in
    the error channel."""
    text = f"{HEADER}\n" + _rows(30, "S") + "not-a-date,BAD,BUY\n" + _rows(10, "T")
    (tmp_path / "f.csv").write_text(text)
    confs({"spark.sql.files.maxPartitionBytes": "128"})
    df = with_line_numbers(read_spec_csv(spark, str(tmp_path / "f.csv")))
    assert df.rdd.getNumPartitions() >= 3
    mapping = {
        "id": "m", "name": "m", "filter_rules": [],
        "field_mappings": [
            {"destination_field": "date", "source_field": "Date", "transform_type": "date_format",
             "transform_config": {"input_format": "%Y-%m-%d", "output_format": "%d.%m.%Y"}},
        ],
    }
    result = transform(df, mapping, dry_run=True, error_sample=5)
    grouped = {r[LINE_COL]: [e["field"] for e in r["errors"]]
               for r in errors_by_line(result.errors).collect()}
    assert grouped == {32: ["date"]}
    assert [e["line"] for e in result.error_sample] == [32]
    assert (result.counts.total, result.success_count, result.error_count) == (41, 40, 1)
