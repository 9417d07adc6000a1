"""CLI end-to-end (typed + dynamic modes) and the gated streaming sink."""

from __future__ import annotations

import csv
import json
import os

import pytest
from pyspark.sql import functions as F

from csv_etl_spark import cli
from csv_etl_spark.streaming.events import EVENTS_SCHEMA, read_events_stream
from csv_etl_spark.streaming.sink import gated_stream_writer


@pytest.fixture()
def workdir(tmp_path, monkeypatch):
    monkeypatch.chdir(tmp_path)
    # cli uses relative data/ dirs like the reference
    cli_in = tmp_path / "data" / "in" / "revolut_stocks"
    cli_in.mkdir(parents=True)
    with open(cli_in / "jan.csv", "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(["Date", "Ticker", "Type", "Quantity", "Price per share",
                    "Total Amount", "Currency"])
        w.writerow(["2024-01-02T10:00:00.000Z", "AAPL", "BUY - MARKET", "1",
                    "USD 180.50", "USD 180.50", "USD"])
        w.writerow(["2024-01-03T11:00:00.000Z", "", "CASH TOP-UP", "",
                    "", "USD 500", "USD"])
        w.writerow(["2024-01-04T12:00:00.000Z", "VWCE", "SELL - LIMIT", "2",
                    "EUR 100", "EUR 200", "EUR"])
    return tmp_path


def test_cli_typed_stocks(spark, workdir):
    total = cli.process_revolut_stocks(spark, account_name="Acct")
    assert total == 2  # CASH TOP-UP filtered
    out_file = workdir / "data" / "out" / "ghostfolio" / "jan_ghostfolio.csv"
    assert out_file.exists()
    with open(out_file) as f:
        rows = list(csv.DictReader(f))
    by_symbol = {r["symbol"]: r for r in rows}
    assert by_symbol["AAPL"]["type"] == "BUY"
    assert by_symbol["AAPL"]["quantity"] == "1"
    assert by_symbol["VWCE.DE"]["type"] == "SELL"  # EUR → .DE suffix
    assert by_symbol["AAPL"]["account"] == "Acct"


def test_cli_dynamic_mode(spark, workdir):
    cfg = workdir / "config"
    cfg.mkdir()
    (cfg / "sources.json").write_text(json.dumps({
        "s1": {"id": "s1", "name": "s1", "columns": [
            {"name": "Date", "type": "string"},
            {"name": "Ticker", "type": "string"},
            {"name": "Type", "type": "string"},
            {"name": "Quantity", "type": "string"},
            {"name": "Price per share", "type": "string"},
            {"name": "Total Amount", "type": "string"},
            {"name": "Currency", "type": "string"},
        ]}}))
    (cfg / "destinations.json").write_text(json.dumps({}))
    (cfg / "mappings.json").write_text(json.dumps({
        "m1": {"id": "m1", "name": "m1", "source_id": "s1", "destination_id": "",
               "filter_rules": [
                   {"field": "Type", "operator": "in", "values": ["CASH TOP-UP"]}],
               "field_mappings": [
                   {"destination_field": "symbol", "source_field": "Ticker",
                    "transform_type": "direct", "transform_config": {}},
                   {"destination_field": "kind", "source_field": "Type",
                    "transform_type": "direct", "transform_config": {}},
               ]}}))
    out_dir = workdir / "out_dynamic"
    n = cli.process_dynamic(
        spark, str(cfg), "m1", str(workdir / "data" / "in" / "revolut_stocks"),
        str(out_dir),
    )
    assert n == 2
    assert out_dir.exists()


def test_cli_dynamic_output_keeps_cell_spaces(spark, tmp_path):
    """``transform(output_path=...)`` writes through the package's one CSV
    writer, which keeps a cell's surrounding spaces like the reference's
    ``csv`` writer (Spark's write default trims them)."""
    cfg = tmp_path / "config"
    cfg.mkdir()
    (cfg / "sources.json").write_text(json.dumps({
        "s1": {"id": "s1", "name": "s1", "columns": [{"name": "Name", "type": "string"}]}}))
    (cfg / "destinations.json").write_text(json.dumps({}))
    (cfg / "mappings.json").write_text(json.dumps({
        "m1": {"id": "m1", "name": "m1", "source_id": "s1", "destination_id": "",
               "filter_rules": [],
               "field_mappings": [
                   {"destination_field": "name", "source_field": "Name",
                    "transform_type": "direct", "transform_config": {}}]}}))
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    (in_dir / "a.csv").write_text("Name\n  padded  \nplain\n")
    out_dir = tmp_path / "out"
    assert cli.process_dynamic(spark, str(cfg), "m1", str(in_dir), str(out_dir)) == 2
    cells = []
    for part in sorted(out_dir.glob("part-*.csv")):
        with open(part, newline="") as f:
            cells += [r["name"] for r in csv.DictReader(f)]
    assert sorted(cells) == ["  padded  ", "plain"]


def test_gated_stream_writer(spark, tmp_path):
    # events stream with deliberately corrupt ts on 'error' rows
    src_dir = tmp_path / "stream_in"
    from csv_etl_spark.sources.tables import load_events

    ev = load_events(spark, "/root/testdata/sf0.001").select(
        F.col("event_id").cast("string").alias("event_id"),
        F.when(F.col("event_type") == "error", F.lit("bad-ts"))
        .otherwise(F.date_format("ts", "yyyy-MM-dd HH:mm:ss")).alias("ts"),
        F.col("event_type"),
    )
    ev.coalesce(1).write.parquet(str(src_dir))

    schema = "event_id string, ts string, event_type string"
    stream = spark.readStream.schema(schema).parquet(str(src_dir))
    mapping = {
        "id": "m", "name": "m", "filter_rules": [],
        "field_mappings": [
            {"destination_field": "event_id", "source_field": "event_id",
             "transform_type": "direct", "transform_config": {}},
            {"destination_field": "day", "source_field": "ts",
             "transform_type": "date_format",
             "transform_config": {"input_format": "%Y-%m-%d %H:%M:%S",
                                  "output_format": "%Y-%m-%d"}},
        ],
    }
    out_dir, err_dir, ckpt = (str(tmp_path / d) for d in ("out", "errs", "ckpt"))
    q = gated_stream_writer(stream, mapping, out_dir, err_dir, ckpt,
                            fail_on_error=False)
    q.awaitTermination(120)

    total = ev.count()
    n_bad = ev.filter(F.col("event_type") == "error").count()
    written = spark.read.parquet(out_dir)
    errs = spark.read.parquet(err_dir)
    assert written.count() == total  # fail_on_error=False: all rows written
    assert errs.count() == n_bad
    assert set(errs.columns) >= {"batch_id", "event_id", "day", "_errors"}


def test_gated_stream_writer_withholds_on_error(spark, tmp_path):
    src_dir = tmp_path / "stream_in2"
    spark.createDataFrame([("1", "nope")], ["event_id", "ts"]).write.parquet(str(src_dir))
    stream = spark.readStream.schema("event_id string, ts string").parquet(str(src_dir))
    mapping = {
        "id": "m", "name": "m", "filter_rules": [],
        "field_mappings": [
            {"destination_field": "day", "source_field": "ts",
             "transform_type": "date_format",
             "transform_config": {"input_format": "%Y-%m-%d",
                                  "output_format": "%d.%m.%Y"}},
        ],
    }
    out_dir, err_dir, ckpt = (str(tmp_path / d) for d in ("out2", "errs2", "ckpt2"))
    q = gated_stream_writer(stream, mapping, out_dir, err_dir, ckpt,
                            fail_on_error=True)
    q.awaitTermination(120)
    assert not os.path.exists(out_dir)  # batch withheld
    assert spark.read.parquet(err_dir).count() == 1



_NO_FIELDS = {"id": "m", "name": "m", "filter_rules": [], "field_mappings": []}
_ALL_SKIPPED = {
    "id": "m", "name": "m",
    "filter_rules": [{"field": "event_id", "operator": "in", "values": ["1", "2"]}],
    "field_mappings": [
        {"destination_field": "event_id", "source_field": "event_id",
         "transform_type": "direct", "transform_config": {}},
    ],
}


@pytest.mark.parametrize(
    "mapping", [_NO_FIELDS, _ALL_SKIPPED], ids=["mapping_without_fields", "all_rows_skipped"]
)
def test_gated_stream_writer_gate_is_the_batch_gate(spark, tmp_path, mapping):
    """A batch the batch path's gate (``pipeline.writes``) writes nothing
    for — a mapping with no field mappings, or every row skipped — writes
    no ``batch_id=`` partition, and the stream ends cleanly instead of
    failing on an empty-schema write."""
    src_dir = tmp_path / "stream_in3"
    spark.createDataFrame([("1", "2024-01-15"), ("2", "2024-01-16")], ["event_id", "ts"]) \
        .write.parquet(str(src_dir))
    stream = spark.readStream.schema("event_id string, ts string").parquet(str(src_dir))
    out_dir, err_dir, ckpt = (str(tmp_path / d) for d in ("out3", "errs3", "ckpt3"))
    q = gated_stream_writer(stream, mapping, out_dir, err_dir, ckpt)
    q.awaitTermination(120)
    assert q.exception() is None
    assert not os.path.exists(out_dir) and not os.path.exists(err_dir)
