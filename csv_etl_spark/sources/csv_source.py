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

import json
import os
import re

from pyspark.sql import DataFrame, SparkSession
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


def check_line_column(columns: list[str]) -> None:
    """``_line`` is a reserved name: raise ``ValueError`` when ``columns``
    has a column of that name, in any case (Spark resolves names
    case-insensitively by default), instead of losing the user's values to
    the line numbers."""
    clash = [c for c in columns if c.lower() == LINE_COL]
    if clash:
        raise ValueError(
            f"column {clash[0]!r} uses the name {LINE_COL!r}, which is reserved for line numbers"
        )


def planned_partitions(df: DataFrame) -> int:
    """The number of partitions Spark plans for ``df``.  Planning builds
    the RDD without running a job for a plan with no shuffle, such as a
    CSV scan and projections over it."""
    return df._jdf.queryExecution().toRdd().getNumPartitions()


def with_line_numbers(df: DataFrame) -> DataFrame:
    """S10: ``df`` with per-file physical line numbers in ``_line`` (see
    ``line_numbered``)."""
    return line_numbered(df)[0]


def line_numbered(df: DataFrame) -> tuple[DataFrame, int]:
    """S10: per-file physical line numbers, data starting at 2 (header = 1),
    matching ``enumerate(reader, start=2)`` (``dynamic.py:302``).  ``df``
    must be a CSV scan (``read_spec_csv``), with nothing applied to it.

    ``monotonically_increasing_id`` numbers each partition's rows in read
    order from ``partition << 33``, and a partition reads its splits (file
    chunks) one after another, so within a split the id minus the split's
    first id is the row's index in the split.  ``_line`` adds the rows of
    the file's earlier splits and 2.  Those per-split offsets come from one
    small aggregate (count and first id per file and split), the
    ``zipWithIndex`` technique; a scan that Spark plans as one file in one
    partition (read off the planned partitions, no job) needs none, and
    its ``_line`` is the id plus 2.  No shuffle and no sort: the line
    numbers ride on the scan's own split-parallel pass.

    Each row finds its split's offset in a hash table that is one literal
    in the plan (``array<map<string,bigint>>``, bucket = Spark's ``hash``
    of the split key), so the expression has the same size for one split
    or thousands and a row costs one bucket probe.  The offsets aggregate
    keeps the scan parallel: partial counts per partition, one row per
    split shuffled (two jobs under AQE); a one-partition scan is one task
    either way and aggregates in place, in one job.  Line provenance
    serves error reports and previews; the mapping plan itself never
    needs it.

    Returns the line-numbered frame and the number of partitions Spark
    plans for the scan, which the numbering reads anyway (building the
    scan's RDD, ~30 ms warm on a 5k-row file): a projection of the frame
    has that many partitions, so a caller that writes one need not plan
    it again (``sinks.one_sorted_partition``).

    Raises ``ValueError`` when the CSV already has a ``_line`` column (see
    ``check_line_column``)."""
    check_line_column(df.columns)
    n_parts = planned_partitions(df)
    if n_parts == 1 and len(df.inputFiles()) == 1:
        return df.withColumn(LINE_COL, (F.monotonically_increasing_id() + 2).cast("int")), 1
    # the id gets its own projection: the offsets aggregate and the line
    # numbers must see the same ids, and a nondeterministic expression is
    # evaluated once per row
    ids = df.withColumn(LINE_COL, F.monotonically_increasing_id())
    split = F.concat_ws("@", F.input_file_name(), F.input_file_block_start().cast("string"))
    stats = ids.select(
        F.input_file_name().alias("file"),
        F.input_file_block_start().alias("start"),
        split.alias("split"),
        F.hash(split).alias("hash"),
        F.col(LINE_COL).alias("id"),
    )
    if n_parts == 1:
        stats = stats.coalesce(1)  # the one partition aggregates without a shuffle
    splits = (
        stats.groupBy("file", "start", "split", "hash")
        .agg(F.count(F.lit(1)).alias("rows"), F.min("id").alias("first_id"))
        .collect()
    )
    # each split's ids are one run starting at first_id; its offset maps
    # the run onto the file's line numbers
    buckets: list[dict[str, int]] = [{} for _ in range(max(len(splits), 1))]
    file, before = None, 0
    for s in sorted(splits, key=lambda s: (s["file"], s["start"])):
        if s["file"] != file:
            file, before = s["file"], 0
        buckets[s["hash"] % len(buckets)][s["split"]] = before + 2 - s["first_id"]
        before += s["rows"]
    table = F.from_json(F.lit(json.dumps(buckets)), "array<map<string,bigint>>")
    bucket = F.element_at(table, F.pmod(F.hash(split), F.lit(len(buckets))) + 1)
    offset = F.element_at(bucket, split)
    return ids.withColumn(LINE_COL, (F.col(LINE_COL) + offset).cast("int")), n_parts


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Parquet table loader for the driver's testdata layout."""
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")
