"""Spec-driven JSON source/sink (extension; reference ROADMAP.md:18-27 plans
"JSON file support" among new source/destination types).

Same data-model contract as the CSV scan: every column arrives as a string
(typing happens inside compiled transforms), field names key off the data
itself, and a spec/file mismatch resolves to null in the compiler.  JSON
Lines is the scan format — it splits by line, so a 100 TB directory scans
with full parallelism; multiline JSON documents can't split and are only
supported via ``multiline=True`` for small config-ish inputs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from csv_etl_spark.local import ident_col
from csv_etl_spark.specs import FileSpec


def read_spec_json(
    spark: SparkSession,
    path: str,
    spec: FileSpec | None = None,
    multiline: bool = False,
) -> DataFrame:
    """All-string JSON Lines scan over a file, directory, or glob.

    With a spec, the schema is declared up front (all StringType) so the
    scan never infers: numbers/booleans arrive as their JSON text, missing
    keys as null — the same "str end-to-end" model as the CSV path.
    Without a spec, the schema is inferred and then every column is cast
    to string.
    """
    reader = (
        spark.read.option("multiLine", str(multiline).lower())
        .option("pathGlobFilter", "*.json*")
        .option("encoding", spec.encoding if spec else "utf-8")
    )
    if spec is not None:
        schema = T.StructType(
            [T.StructField(c.name, T.StringType()) for c in spec.columns]
        )
        return reader.schema(schema).json(path)
    df = reader.json(path)
    return df.select(*[ident_col(c).cast("string").alias(c) for c in df.columns])


def write_spec_json(
    df: DataFrame,
    path: str,
    order_by: str | None = None,
    single_file: bool = False,
) -> None:
    """JSON Lines sink mirroring write_spec_csv's contract."""
    out = df
    if order_by and order_by in df.columns:
        out = out.orderBy(order_by)
    if single_file:
        out = out.coalesce(1)
    out.write.mode("overwrite").json(path)
