"""Gated streaming sink: the reference's validate→gate→write lifecycle
(V3/V5/S6) applied per micro-batch via ``foreachBatch``.

``foreachBatch`` hands each micro-batch to ordinary batch code, so the SAME
compiled mapping, error channel, and fail-on-error gate run unchanged on a
stream — errored batches land in an errors directory instead of the output,
and clean rows append continuously.  This is the streaming shape of the
dashboard's convert loop: validate, withhold on error, write when clean.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from csv_etl_spark.compiler import ERRORS_COL, compile_mapping
from csv_etl_spark.plans.pipeline import counted_pass, writes
from csv_etl_spark.specs import ETLMapping


def gated_stream_writer(
    stream: DataFrame,
    mapping: ETLMapping | dict,
    output_dir: str,
    errors_dir: str,
    checkpoint_dir: str,
    fail_on_error: bool = True,
):
    """Start a stream that applies ``mapping`` per micro-batch and writes
    its output to ``output_dir`` (parquet) when the batch passes the
    batch path's write gate (``pipeline.writes``): the mapping has fields,
    the batch kept rows, and no row errored or ``fail_on_error`` is off.
    With ``fail_on_error`` the WHOLE batch is withheld when any row
    errored (reference S6 semantics, per batch — at stream granularity a
    batch is the unit of atomicity).  Rows with field errors go to
    ``errors_dir``, with the destination fields (a stream has no line
    numbers) and ``_errors`` as JSON.

    Returns the StreamingQuery; caller awaits/stops it."""
    if isinstance(mapping, dict):
        mapping = ETLMapping.from_dict(mapping)
    compiled = compile_mapping(mapping, stream.columns)

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        # foreachBatch is at-least-once: a batch can be retried after a
        # partial write.  Writes are made IDEMPOTENT by landing each batch
        # in its own batch_id=<id> hive partition with overwrite mode — a
        # retry overwrites its own partition instead of appending
        # duplicates.  Readers of the parent directory see batch_id as a
        # partition column.
        with counted_pass(batch_df, compiled) as (out, counts):
            if counts.errors:
                (
                    out.filter(F.size(F.col(ERRORS_COL)) > 0)
                    .withColumn(ERRORS_COL, F.to_json(F.col(ERRORS_COL)))
                    .write.mode("overwrite")
                    .parquet(f"{errors_dir}/batch_id={batch_id}")
                )
            if writes(mapping, counts, dry_run=False, fail_on_error=fail_on_error):
                out.drop(ERRORS_COL).write.mode("overwrite").parquet(
                    f"{output_dir}/batch_id={batch_id}"
                )

    return (
        stream.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
