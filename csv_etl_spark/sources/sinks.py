"""CSV sink (S5-S7).

S5: header + fixed column order (reference ``loaders/csv_loader.py:14-23``,
``dynamic.py:338-343``).  ``single_file=True`` coalesces to one partition for
byte-parity with the reference's one-output-file model — correct for
golden tests, deliberately NOT the default: at scale you want one file per
partition.
"""

from __future__ import annotations

import shutil
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

from csv_etl_spark.specs import ColumnType, FileSpec

# FIXTURES §5 / reference app.py:730-740 template dummy values
_TEMPLATE_VALUES = {
    ColumnType.STRING: lambda c: f"example_{c.name}",
    ColumnType.INTEGER: lambda c: "123",
    ColumnType.FLOAT: lambda c: "123.45",
    ColumnType.DATE: lambda c: "2024-01-15",
    ColumnType.DATETIME: lambda c: "2024-01-15T10:30:00",
    ColumnType.BOOLEAN: lambda c: "true",
    ColumnType.MONEY: lambda c: "99.99",
}


def write_spec_csv(df: DataFrame, path: str, single_file: bool = False) -> None:
    """S5: write CSV with header.  Column order comes from the DataFrame
    (mapping order — reference uses the first result row's key order, which
    is mapping order).  Header names and cells keep their surrounding
    spaces, as the reference's ``csv`` writer does (Spark trims them)."""
    writer = df.coalesce(1) if single_file else df
    writer.write.mode("overwrite").options(
        header="true", ignoreLeadingWhiteSpace="false", ignoreTrailingWhiteSpace="false"
    ).csv(path)


def one_sorted_partition(df: DataFrame, order_by: str, partitions: int) -> DataFrame:
    """``df`` in one partition sorted by ``order_by``, which is then
    dropped.  ``partitions`` is the number Spark plans for ``df``: a
    one-partition frame is sorted in place (``coalesce(1)``: no shuffle,
    one job); a wider one is scanned in parallel and shuffled into one
    partition first.  Either way the one partition is sorted locally,
    since a global ``orderBy`` would add a sampling job for range bounds
    that one partition does not need."""
    one = df.coalesce(1) if partitions == 1 else df.repartition(1)
    return one.sortWithinPartitions(order_by).drop(order_by)


def write_single_csv_file(df: DataFrame, file_path: str) -> None:
    """Write exactly one CSV file at ``file_path`` (reference emits one
    output file per input file).  Spark writes a directory; we promote the
    part file.  Golden-parity path only.  A caller that must keep input
    order hands in ``one_sorted_partition(df, LINE_COL, ...)``, matching
    the reference's stable pass-through ordering."""
    tmp = file_path + ".spark-tmp"
    write_spec_csv(df, tmp, single_file=True)
    part = next(Path(tmp).glob("part-*.csv"))
    Path(file_path).parent.mkdir(parents=True, exist_ok=True)
    shutil.move(str(part), file_path)
    shutil.rmtree(tmp, ignore_errors=True)


def template_dataframe(spark: SparkSession, spec: FileSpec) -> DataFrame:
    """S7: one dummy row per the spec's column types (reference
    ``app.py:715-747`` writes ``_template_<id>.csv``)."""
    row = tuple(_TEMPLATE_VALUES[c.type](c) for c in spec.columns)
    return spark.createDataFrame([row], spec.spark_schema(all_string=True))


def write_template_csv(spark: SparkSession, spec: FileSpec, directory: str) -> str:
    path = str(Path(directory) / f"_template_{spec.id}.csv")
    write_single_csv_file(template_dataframe(spark, spec), path)
    return path
