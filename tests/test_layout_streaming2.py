"""Output layout (partitioned/clustered writes with verified skippability)
and second-wave streaming: stream-static lookup join, watermarked streaming
dedup via dropDuplicatesWithinWatermark."""

from __future__ import annotations

import glob

import pytest
from pyspark.sql import functions as F

from csv_etl_spark.sources.layout import write_clustered, write_partitioned
from csv_etl_spark.sources.tables import load_events

SF = "/root/testdata/sf0.001"


def file_key_ranges(path: str, column: str) -> list[tuple]:
    """(min, max) of ``column`` per parquet file, from the footers only:
    what lets a test prove a layout produced skippable files."""
    import os

    import pyarrow.parquet as pq

    ranges = []
    for f in sorted(glob.glob(os.path.join(path, "*.parquet"))):
        meta = pq.ParquetFile(f).metadata
        mins, maxs = [], []
        for rg in range(meta.num_row_groups):
            for ci in range(meta.num_columns):
                col = meta.row_group(rg).column(ci)
                if col.path_in_schema == column and col.statistics is not None:
                    mins.append(col.statistics.min)
                    maxs.append(col.statistics.max)
        if mins:
            ranges.append((min(mins), max(maxs)))
    return ranges


def test_write_partitioned_prunes_directories(spark, tmp_path):
    ev = load_events(spark, SF)
    out = str(tmp_path / "by_type")
    write_partitioned(ev, out, ["event_type"], max_records_per_file=500)
    dirs = {p.split("=")[-1].split("/")[0] for p in glob.glob(f"{out}/event_type=*")}
    assert "click" in dirs and len(dirs) >= 3
    # partition filter reads only the matching directory (no event_type
    # column in the data files, value comes from the path)
    back = spark.read.parquet(out).filter(F.col("event_type") == "click")
    assert back.count() == ev.filter(F.col("event_type") == "click").count()
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(event_type" in plan


def test_write_clustered_files_have_narrow_disjoint_ranges(spark, tmp_path):
    ev = load_events(spark, SF).select("event_id", "user_id", "value")
    out = str(tmp_path / "clustered")
    write_clustered(ev, out, "user_id", num_files=4)
    ranges = file_key_ranges(out, "user_id")
    assert len(ranges) >= 3
    # ranges must be (near-)disjoint: sorted by min, each file's max stays
    # below the next file's min (allowing the boundary value to repeat)
    ranges.sort()
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2
    # control: an unclustered write produces overlapping full-span files
    out2 = str(tmp_path / "unclustered")
    ev.repartition(4).write.mode("overwrite").parquet(out2)
    r2 = sorted(file_key_ranges(out2, "user_id"))
    overlaps = sum(1 for (a, b), (c, d) in zip(r2, r2[1:]) if b > c)
    assert overlaps >= 1


def test_stream_static_lookup_join(spark, tmp_path):
    """Compiled lookup_table mapping on a STREAM: the broadcast join works
    identically under readStream (stream-static join)."""
    from csv_etl_spark.plans import run_mapping

    src = tmp_path / "ss_in"
    ev = load_events(spark, SF).select(
        F.col("event_id").cast("string").alias("event_id"),
        (F.col("user_id") % 3).cast("string").alias("tier_key"),
    )
    ev.coalesce(1).write.parquet(str(src))
    tiers = spark.createDataFrame(
        [("0", "bronze"), ("1", "silver"), ("2", "gold")], ["k", "tier"]
    )
    mapping = {
        "id": "m", "name": "m", "filter_rules": [],
        "field_mappings": [
            {"destination_field": "event_id", "source_field": "event_id",
             "transform_type": "direct", "transform_config": {}},
            {"destination_field": "tier", "source_field": "tier_key",
             "transform_type": "lookup_table",
             "transform_config": {"table": "tiers", "key": "k", "value": "tier",
                                  "_default": "none"}},
        ],
    }
    stream = spark.readStream.schema("event_id string, tier_key string").parquet(str(src))
    out_stream = run_mapping(stream, mapping, with_errors=False, tables={"tiers": tiers})
    q = (
        out_stream.writeStream.format("memory").queryName("ss_join")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT * FROM ss_join")
    assert got.count() == ev.count()
    assert set(r["tier"] for r in got.select("tier").distinct().collect()) == {
        "bronze", "silver", "gold"
    }


def test_stream_dedup_within_watermark(spark, tmp_path):
    """Built-in watermarked streaming dedup: duplicates of (user_id,
    event_type) within the watermark window are dropped across batches."""
    src = tmp_path / "wm_in"
    ev = load_events(spark, SF).select("event_id", "ts", "user_id", "event_type")
    dup = ev.limit(200)  # re-emit some rows as exact duplicates
    ev.unionByName(dup).coalesce(2).write.parquet(str(src))

    from csv_etl_spark.streaming.events import EVENTS_SCHEMA

    schema = "event_id long, ts timestamp, user_id long, event_type string"
    stream = spark.readStream.schema(schema).parquet(str(src))
    deduped = (
        stream.withWatermark("ts", "24 hours")
        .dropDuplicatesWithinWatermark(["event_id"])
    )
    q = (
        deduped.writeStream.format("memory").queryName("wm_dedup")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT count(*) AS n, count(DISTINCT event_id) AS d FROM wm_dedup").collect()[0]
    assert got["n"] == got["d"] == ev.select("event_id").distinct().count()


def test_write_zordered_skips_on_both_dimensions(spark, tmp_path):
    """Z-order must make per-file footer ranges selective on BOTH columns,
    where a linear sort is selective only on its leading column."""
    from csv_etl_spark.sources.layout import write_zordered

    ev = load_events(spark, SF).select("event_id", "user_id", "value")
    spans = ev.agg(
        (F.max("user_id") - F.min("user_id")).alias("u"),
        (F.max("value") - F.min("value")).alias("v"),
    ).collect()[0]
    span_user, span_value = float(spans["u"]), float(spans["v"])

    out_z = str(tmp_path / "zorder")
    write_zordered(ev, out_z, ["user_id", "value"], num_files=8)
    out_lin = str(tmp_path / "linear")
    write_clustered(ev, out_lin, "value", num_files=8)

    def avg_width(path, col):
        r = file_key_ranges(path, col)
        assert len(r) >= 4
        return sum(float(hi) - float(lo) for lo, hi in r) / len(r)

    # linear value-sort: value is tight, user_id files span ~everything
    assert avg_width(out_lin, "user_id") > 0.9 * span_user
    # z-order: user_id AND value ranges both shrink below full span
    assert avg_width(out_z, "user_id") < 0.8 * avg_width(out_lin, "user_id")
    assert avg_width(out_z, "value") < 0.8 * span_value
