"""Spec-driven CSV scan (S1-S4, S10).

Reference behavior being mirrored: ``csv.DictReader`` keys rows off the
FILE's header (not the spec), all values are strings, and a spec/file
mismatch silently yields None for missing columns (``dynamic.py:298-302``).
So we scan header-keyed and all-string, and let the mapping compiler resolve
missing columns to null.

Divergence (documented, SURVEY S3): the reference's DynamicTransformer
ignores the spec's delimiter/encoding/has_header and hardcodes ``,``/utf-8/
header.  We honor the spec — that is what the spec fields are for, and the
reference's own typed path + UI treat them as real.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from csv_etl_spark.specs import FileSpec

LINE_COL = "_line"
FILE_COL = "_file"

_MAX_HEADER_BYTES = 1 << 20
_GLOB_CHARS = re.compile(r"[*?\[\]{}\\]")


def _plain_header(path: str, sep: str) -> list[str] | None:
    """The column names of a single local UTF-8 CSV file whose first line
    Spark would parse to exactly ``line.split(sep)``; None when Spark must
    read the header itself.  Spark renames empty names (``_c<i>``) and
    case-insensitive duplicates (``Date0``, ``date1``), parses quotes and
    escapes, treats a leading NUL as a comment, and keeps a BOM or a lone
    ``\r`` in the name — any of those takes the slow path."""
    if (
        len(sep) != 1
        or sep in '"\\\r\n'
        or not path.endswith(".csv")
        or _GLOB_CHARS.search(path)
        or not os.path.isfile(path)
    ):
        return None
    with open(path, "rb") as fh:
        raw = fh.readline(_MAX_HEADER_BYTES)
    if raw.startswith(b"\xef\xbb\xbf") or not raw.endswith(b"\n"):
        return None
    try:
        line = raw.decode("utf-8").removesuffix("\n").removesuffix("\r")
    except UnicodeDecodeError:
        return None
    if any(ch in line for ch in '"\\\r\x00'):
        return None
    names = line.split(sep)
    # casefold merges at least what Spark's lower-casing merges
    if "" in names or len({n.casefold() for n in names}) != len(names):
        return None
    return names


def read_spec_csv(
    spark: SparkSession,
    path: str,
    spec: FileSpec | None = None,
) -> DataFrame:
    """S1/S2/S3: header-keyed all-string CSV scan over a file, directory or
    glob.  All columns are StringType — typing happens inside compiled
    transforms, exactly like the reference (SURVEY §1.2).

    Spark learns a header by running a job over the first line.  For one
    local UTF-8 file with a plain header line (see ``_plain_header``) the
    line is read here instead, and ``enforceSchema=false`` makes the scan
    check every file's header against those names, failing on a mismatch.
    """
    has_header = spec.has_header if spec else True
    sep = spec.delimiter if spec else ","
    encoding = spec.encoding if spec else "utf-8"
    reader = (
        spark.read.option("header", str(has_header).lower())
        .option("sep", sep)
        .option("encoding", encoding)
        .option("inferSchema", "false")  # strings end-to-end
        .option("pathGlobFilter", "*.csv")
        .option("recursiveFileLookup", "false")
    )
    if not has_header:
        # no header: names come from the spec, positionally
        return reader.schema(spec.spark_schema(all_string=True)).csv(path)
    if encoding.lower() in ("utf-8", "utf8") and (names := _plain_header(path, sep)):
        schema = T.StructType([T.StructField(n, T.StringType()) for n in names])
        return reader.schema(schema).option("enforceSchema", "false").csv(path)
    return reader.csv(path)


def with_line_numbers(df: DataFrame) -> DataFrame:
    """S10: per-file physical line numbers, data starting at 2 (header = 1),
    matching ``enumerate(reader, start=2)`` (``dynamic.py:302``).

    Implemented as row_number per input file ordered by
    ``monotonically_increasing_id`` — within one CSV file Spark assigns
    splits to partitions in file order and mono-ids are ascending per
    partition, so the ordering reconstructs physical order.  This is a
    per-file shuffle: it exists for error-report/preview parity, NOT for the
    hot path — at 100 TB you process without line provenance (the mapping
    plan itself never needs it).

    ``_line`` is a reserved name: a frame that already has a column of that
    name, in any case (Spark resolves names case-insensitively by default),
    raises ``ValueError`` instead of losing the user's values to the line
    numbers."""
    clash = [c for c in df.columns if c.lower() == LINE_COL]
    if clash:
        raise ValueError(
            f"column {clash[0]!r} uses the name {LINE_COL!r}, which is reserved for line numbers"
        )
    w = Window.partitionBy(F.input_file_name()).orderBy(F.monotonically_increasing_id())
    return df.withColumn(LINE_COL, F.row_number().over(w) + F.lit(1))


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Parquet table loader for the driver's testdata layout."""
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")
