"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)``: flagship query (the compiled dynamic ETL mapping — the
reference's core capability — over the events table) at sf0.001.

``queries()``: one entry per implemented operator from SURVEY §2 (+ the
mandated scale extensions).  Keys are prefixed by their SURVEY §2 inventory
id (t* transforms, f* filters, c* typed functions, v* validation, s*
sources/sinks) or the extension family (agg/join/window/dedup/ann/text/
stream/mm).

``oracle_sql()``: DuckDB-equivalent SQL for every query that is
SQL-expressible; hash/LSH-based ops (engine-specific hashes) get rows-only
checks — their correctness oracle is the exact operator they approximate,
tested in tests/.
"""

from __future__ import annotations

import math
import sys
from collections.abc import Callable
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from csv_etl_spark.compiler import ERRORS_COL, compile_mapping
from csv_etl_spark.operators import dedup, similarity, text
from csv_etl_spark.operators import sampling as _sampling
from csv_etl_spark.operators.multimodal import documents_as_media, extract_features
from csv_etl_spark.plans.typed import revolut_stocks_plan
from csv_etl_spark.sources.tables import ensure_parallelism, load_events, load_table
from csv_etl_spark.streaming.events import sessionize, windowed_counts

SF_SMOKE = "/root/testdata/sf0.001"


def _t(
    spark: SparkSession, sf_dir: str, name: str, parallelize: bool = False
) -> DataFrame:
    # parallelize: widen single-row-group scans for expression-bound plans
    # only (see sources/tables.py for the measured trade-off)
    return load_table(spark, sf_dir, name, parallelize=parallelize)


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events loader tolerant of the driver's TIMESTAMP(NANOS) parquet
    (see csv_etl_spark.sources.tables.load_events)."""
    return load_events(spark, sf_dir)


def _dsum(col, alias: str, out_scale: int = 4):
    """Order-independent float sum: cast each operand to DECIMAL(38,6)
    (deterministic per-row), sum exactly in decimal, cast back to double.
    Spark's partial aggregation sums floats in partition order — a plain
    double sum differs from any single-threaded engine in the last bits and
    can flip rounding; decimal sums are exact and associative, so Spark and
    the DuckDB oracle agree bit-for-bit.  (Same trick on the SQL side:
    ``CAST(sum(CAST(x AS DECIMAL(38,6))) AS DOUBLE)``.)"""
    return F.round(F.sum(col.cast("decimal(38,6)")).cast("double"), out_scale).alias(alias)


def _dsum_sql(expr: str, alias: str, out_scale: int = 4) -> str:
    return f"round(CAST(sum(CAST({expr} AS DECIMAL(38,6))) AS DOUBLE), {out_scale}) AS {alias}"


def _events_strings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events with every column cast to string — the reference's data model
    (CSV rows are str end-to-end); timestamps via date_format for a stable
    cross-engine text form."""
    ev = _events(spark, sf_dir)
    return ev.select(
        F.col("event_id").cast("string").alias("event_id"),
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts"),
        F.col("user_id").cast("string").alias("user_id"),
        F.col("event_type").alias("event_type"),
        F.col("value").cast("string").alias("value"),
        F.col("props").alias("props"),
    )


_EVENTS_STRINGS_SQL = """
    SELECT CAST(event_id AS VARCHAR) AS event_id,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts,
           CAST(user_id AS VARCHAR) AS user_id,
           event_type,
           CAST(value AS VARCHAR) AS value,
           props
    FROM events
"""


# ---------------------------------------------------------------------------
# Flagship: the full dynamic mapping (all 8 transforms + filter) on events
# ---------------------------------------------------------------------------

FLAGSHIP_MAPPING = {
    "id": "events_enriched",
    "name": "events_enriched",
    "field_mappings": [
        {"destination_field": "event_id", "source_field": "event_id",
         "transform_type": "direct", "transform_config": {}},
        {"destination_field": "day", "source_field": "ts", "transform_type": "date_format",
         "transform_config": {"input_format": "%Y-%m-%d %H:%M:%S", "output_format": "%Y-%m-%d"}},
        {"destination_field": "category", "source_field": "event_type", "transform_type": "lookup",
         "transform_config": {"click": "engagement", "view": "engagement",
                              "purchase": "revenue", "signup": "growth", "_default": "other"}},
        {"destination_field": "band", "source_field": "event_type", "transform_type": "conditional",
         "transform_config": {"conditions": [
             {"if": "event_type == 'purchase'", "then": "high"},
             {"if": "event_type in ['click', 'view']", "then": "normal"},
             {"else": "low"},
         ]}},
        {"destination_field": "value2", "source_field": "value", "transform_type": "formula",
         "transform_config": {"expression": "value * 2 + 1"}},
        {"destination_field": "tag", "source_field": "event_type", "transform_type": "prefix",
         "transform_config": {"value": "evt:"}},
        {"destination_field": "user_tag", "source_field": "user_id", "transform_type": "suffix",
         "transform_config": {"value": "-u", "condition": "event_type == 'purchase'"}},
        {"destination_field": "source", "source_field": None, "transform_type": "constant",
         "transform_config": {"value": "events"}},
    ],
    "filter_rules": [{"field": "event_type", "operator": "equals", "value": "error"}],
}


def q_etl_dynamic_mapping(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events_strings(spark, sf_dir)
    compiled = compile_mapping(FLAGSHIP_MAPPING, ev.columns)
    # only the error COUNT is exposed, so use the codegen-friendly
    # sum-of-whens instead of size(filter(array<struct>)) — the HOF filter
    # is evaluated interpreted per row and costs ~40% of query time here
    out = compiled.apply(ev, with_errors="count")
    return out.select(
        "event_id", "day", "category", "band",
        F.round(F.col("value2"), 6).alias("value2"),
        "tag", "user_tag", "source",
        F.col(ERRORS_COL).alias("n_errors"),
    )


_ORACLE_ETL_DYNAMIC = f"""
    WITH ev AS ({_EVENTS_STRINGS_SQL})
    SELECT event_id,
           strftime(strptime(CASE WHEN ts LIKE '%.%' THEN split_part(ts, '.', 1) ELSE ts END,
                    '%Y-%m-%d %H:%M:%S'), '%Y-%m-%d') AS day,
           CASE event_type WHEN 'click' THEN 'engagement' WHEN 'view' THEN 'engagement'
                WHEN 'purchase' THEN 'revenue' WHEN 'signup' THEN 'growth'
                ELSE 'other' END AS category,
           CASE WHEN event_type = 'purchase' THEN 'high'
                WHEN event_type IN ('click', 'view') THEN 'normal'
                ELSE 'low' END AS band,
           round(CAST(value AS DOUBLE) * 2 + 1, 6) AS value2,
           'evt:' || event_type AS tag,
           CASE WHEN event_type = 'purchase' THEN user_id || '-u' ELSE user_id END AS user_tag,
           'events' AS source,
           0 AS n_errors
    FROM ev
    WHERE NOT (event_type = 'error')
"""


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: compiled dynamic ETL mapping over sf0.001 events."""
    return q_etl_dynamic_mapping(spark, SF_SMOKE)


# ---------------------------------------------------------------------------
# Mapping-language extensions (reference ROADMAP.md:50-52): external lookup
# tables (broadcast join), aggregation mappings, multi-step chains
# ---------------------------------------------------------------------------


def q_etl_lookup_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lookup_table transform: events keyed into the nation dim via a
    broadcast LEFT join compiled from the mapping JSON."""
    from csv_etl_spark.plans import run_mapping

    ev = _events_strings(spark, sf_dir).withColumn(
        "nkey", (F.col("user_id").cast("long") % 25).cast("string")
    )
    mapping = {
        "id": "lkt", "name": "lkt", "filter_rules": [],
        "field_mappings": [
            {"destination_field": "event_id", "source_field": "event_id",
             "transform_type": "direct", "transform_config": {}},
            {"destination_field": "nation", "source_field": "nkey",
             "transform_type": "lookup_table",
             "transform_config": {"table": "nation", "key": "n_nationkey",
                                  "value": "n_name", "_default": "UNKNOWN"}},
        ],
    }
    nation = _t(spark, sf_dir, "nation")
    return run_mapping(ev, mapping, with_errors=False, tables={"nation": nation})


_ORACLE_ETL_LOOKUP_TABLE = f"""
    WITH ev AS ({_EVENTS_STRINGS_SQL})
    SELECT ev.event_id,
           coalesce(n.n_name, 'UNKNOWN') AS nation
    FROM ev LEFT JOIN nation n
      ON CAST(CAST(ev.user_id AS BIGINT) % 25 AS VARCHAR) = CAST(n.n_nationkey AS VARCHAR)
"""


def q_etl_aggregate_mapping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregation mapping: transform + group_by + sum/count/avg declared in
    the mapping JSON (reference ROADMAP.md:51), compiled to groupBy.agg with
    exact decimal accumulation."""
    from csv_etl_spark.plans import run_mapping

    ev = _events_strings(spark, sf_dir)
    mapping = {
        "id": "aggm", "name": "aggm",
        "filter_rules": [{"field": "event_type", "operator": "equals", "value": "error"}],
        "field_mappings": [
            {"destination_field": "category", "source_field": "event_type",
             "transform_type": "lookup",
             "transform_config": {"click": "engagement", "view": "engagement",
                                  "purchase": "revenue", "signup": "growth",
                                  "_default": "other"}},
            {"destination_field": "value", "source_field": "value",
             "transform_type": "direct", "transform_config": {}},
        ],
        "group_by": ["category"],
        "aggregations": [
            {"destination_field": "total", "source_field": "value", "agg": "sum"},
            {"destination_field": "n", "agg": "count"},
            {"destination_field": "avg_value", "source_field": "value", "agg": "avg"},
        ],
    }
    out = run_mapping(ev, mapping, with_errors=False)
    return out.select(
        "category",
        F.round("total", 4).alias("total"),
        "n",
        F.round("avg_value", 4).alias("avg_value"),
    )


_ORACLE_ETL_AGGREGATE = f"""
    WITH ev AS ({_EVENTS_STRINGS_SQL})
    SELECT CASE event_type WHEN 'click' THEN 'engagement' WHEN 'view' THEN 'engagement'
                WHEN 'purchase' THEN 'revenue' WHEN 'signup' THEN 'growth'
                ELSE 'other' END AS category,
           round(CAST(sum(CAST(CAST(value AS DOUBLE) AS DECIMAL(38,6))) AS DOUBLE), 4) AS total,
           count(*) AS n,
           round(CAST(sum(CAST(CAST(value AS DOUBLE) AS DECIMAL(38,6)))
                      / count(CAST(value AS DOUBLE)) AS DOUBLE), 4) AS avg_value
    FROM ev
    WHERE NOT (event_type = 'error')
    GROUP BY 1
"""


def q_etl_chained_mappings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage mapping chain (reference ROADMAP.md:52 "multi-step
    pipelines"): stage 1 filters + derives, stage 2 transforms stage 1's
    destinations — one collapsed Catalyst plan, not two passes."""
    from csv_etl_spark.plans import chain_mappings

    ev = _events_strings(spark, sf_dir)
    stage1 = {
        "id": "s1", "name": "s1",
        "filter_rules": [{"field": "event_type", "operator": "equals", "value": "error"}],
        "field_mappings": [
            {"destination_field": "event_id", "source_field": "event_id",
             "transform_type": "direct", "transform_config": {}},
            {"destination_field": "tag", "source_field": "event_type",
             "transform_type": "prefix", "transform_config": {"value": "evt:"}},
            {"destination_field": "value2", "source_field": None,
             "transform_type": "formula", "transform_config": {"expression": "value * 2"}},
        ],
    }
    stage2 = {
        "id": "s2", "name": "s2",
        "filter_rules": [{"field": "tag", "operator": "equals", "value": "evt:signup"}],
        "field_mappings": [
            {"destination_field": "event_id", "source_field": "event_id",
             "transform_type": "direct", "transform_config": {}},
            {"destination_field": "tag", "source_field": "tag",
             "transform_type": "suffix", "transform_config": {"value": "!"}},
            {"destination_field": "value4", "source_field": None,
             "transform_type": "formula", "transform_config": {"expression": "value2 * 2"}},
        ],
    }
    out = chain_mappings(ev, [stage1, stage2], with_errors=False)
    return out.select("event_id", "tag", F.round(F.col("value4"), 6).alias("value4"))


_ORACLE_ETL_CHAINED = f"""
    WITH ev AS ({_EVENTS_STRINGS_SQL}),
    s1 AS (
      SELECT event_id, 'evt:' || event_type AS tag, CAST(value AS DOUBLE) * 2 AS value2
      FROM ev WHERE NOT (event_type = 'error')
    )
    SELECT event_id, tag || '!' AS tag, round(value2 * 2, 6) AS value4
    FROM s1 WHERE NOT (tag = 'evt:signup')
"""


def q_spec_validation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spec-driven validation rules (ROADMAP.md:48 + ColumnSpec metadata the
    reference never enforces): required/max_length/type checks emitting the
    standard _errors channel."""
    from csv_etl_spark.plans.validation import validate_against_spec
    from csv_etl_spark.specs import FileSpec

    ev = _events_strings(spark, sf_dir)
    spec = FileSpec.from_dict(
        {
            "id": "events", "name": "events",
            "columns": [
                {"name": "event_id", "type": "integer", "required": True},
                {"name": "ts", "type": "datetime", "date_format": "%Y-%m-%d %H:%M:%S"},
                {"name": "user_id", "type": "integer"},
                {"name": "event_type", "type": "string", "max_length": 5},
                {"name": "value", "type": "float", "required": True},
            ],
        }
    )
    out = validate_against_spec(ev, spec)
    return out.select(
        "event_id",
        F.size(F.col("_errors")).alias("n_errors"),
        F.concat_ws(",", F.array_sort(F.transform("_errors", lambda e: e["field"]))).alias(
            "err_fields"
        ),
    )


_ORACLE_SPEC_VALIDATION = f"""
    WITH ev AS ({_EVENTS_STRINGS_SQL})
    SELECT event_id,
           (CASE WHEN length(event_type) > 5 THEN 1 ELSE 0 END) AS n_errors,
           (CASE WHEN length(event_type) > 5 THEN 'event_type' ELSE '' END) AS err_fields
    FROM ev
"""


def q_merge_upsert_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-based MERGE/upsert (ROADMAP.md:29 batch upsert): a correction
    batch (10% price-doubled updates + synthetic inserts) merged into
    orders via anti-join ∪ updates.

    The batch is derived from orders in ONE scan — each qualifying row
    conditionally emits its update row and/or its insert row through
    explode(array_compact(array(when...))), instead of two separately
    filtered scans.  (In production the batch arrives materialized; this
    derivation keeps the contract query self-contained without rescanning
    the fact table per batch member kind.)"""
    from csv_etl_spark.sources.edits import merge_upsert

    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
    batch = (
        o.filter((F.col("o_orderkey") % 10 == 0) | (F.col("o_orderkey") % 1000 == 0))
        .select(
            F.explode(
                F.array_compact(
                    F.array(
                        F.when(
                            F.col("o_orderkey") % 10 == 0,
                            F.struct(
                                F.col("o_orderkey"),
                                F.col("o_custkey"),
                                (F.col("o_totalprice") * 2).alias("o_totalprice"),
                            ),
                        ),
                        F.when(
                            F.col("o_orderkey") % 1000 == 0,
                            F.struct(
                                (F.col("o_orderkey") + 100000000).alias("o_orderkey"),
                                F.col("o_custkey"),
                                F.lit(1.0).alias("o_totalprice"),
                            ),
                        ),
                    )
                )
            ).alias("r")
        )
        .select("r.*")
    )
    merged = merge_upsert(o, batch, ["o_orderkey"])
    return merged.select(
        "o_orderkey", "o_custkey", F.round("o_totalprice", 4).alias("o_totalprice")
    )


_ORACLE_MERGE_UPSERT = """
    WITH base AS (SELECT o_orderkey, o_custkey, o_totalprice FROM orders),
    upd AS (
      SELECT o_orderkey, o_custkey, o_totalprice * 2 AS o_totalprice
      FROM base WHERE o_orderkey % 10 = 0
      UNION ALL
      SELECT o_orderkey + 100000000 AS o_orderkey, o_custkey, 1.0 AS o_totalprice
      FROM base WHERE o_orderkey % 1000 = 0
    )
    SELECT o_orderkey, o_custkey, round(o_totalprice, 4) AS o_totalprice
    FROM (
      SELECT * FROM base WHERE o_orderkey NOT IN (SELECT o_orderkey FROM upd)
      UNION ALL
      SELECT * FROM upd
    )
"""


# ---------------------------------------------------------------------------
# Filter operators F1-F7 (skip semantics — SURVEY §2.2)
# ---------------------------------------------------------------------------


def _filter_query(rules: list[dict]):
    def q(spark: SparkSession, sf_dir: str) -> DataFrame:
        ev = _events_strings(spark, sf_dir)
        mapping = {
            "id": "f", "name": "f", "filter_rules": rules,
            "field_mappings": [
                {"destination_field": "event_id", "source_field": "event_id",
                 "transform_type": "direct", "transform_config": {}},
                {"destination_field": "event_type", "source_field": "event_type",
                 "transform_type": "direct", "transform_config": {}},
            ],
        }
        return compile_mapping(mapping, ev.columns).apply(ev, with_errors=False)

    return q


def _filter_oracle(where_keep: str) -> str:
    return f"""
        WITH ev AS ({_EVENTS_STRINGS_SQL})
        SELECT event_id, event_type FROM ev WHERE {where_keep}
    """


# F5/F6 need an emptyable column: derive one deterministically
def q_f5_is_empty(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events_strings(spark, sf_dir).withColumn(
        "maybe_empty",
        F.when(F.col("event_type") == "view", F.lit("")).otherwise(F.col("props")),
    )
    mapping = {
        "id": "f5", "name": "f5",
        "filter_rules": [{"field": "maybe_empty", "operator": "is_empty"}],
        "field_mappings": [
            {"destination_field": "event_id", "source_field": "event_id",
             "transform_type": "direct", "transform_config": {}},
            {"destination_field": "maybe_empty", "source_field": "maybe_empty",
             "transform_type": "direct", "transform_config": {}},
        ],
    }
    return compile_mapping(mapping, ev.columns).apply(ev, with_errors=False)


_ORACLE_F5 = f"""
    WITH ev AS ({_EVENTS_STRINGS_SQL}),
    d AS (SELECT event_id,
                 CASE WHEN event_type = 'view' THEN '' ELSE props END AS maybe_empty
          FROM ev)
    SELECT event_id, maybe_empty FROM d
    WHERE NOT (maybe_empty IS NULL OR maybe_empty = '')
"""


def q_f6_is_not_empty(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events_strings(spark, sf_dir).withColumn(
        "maybe_empty",
        F.when(F.col("event_type") == "view", F.lit("")).otherwise(F.col("props")),
    )
    mapping = {
        "id": "f6", "name": "f6",
        "filter_rules": [{"field": "maybe_empty", "operator": "is_not_empty"}],
        "field_mappings": [
            {"destination_field": "event_id", "source_field": "event_id",
             "transform_type": "direct", "transform_config": {}},
        ],
    }
    return compile_mapping(mapping, ev.columns).apply(ev, with_errors=False)


_ORACLE_F6 = f"""
    WITH ev AS ({_EVENTS_STRINGS_SQL}),
    d AS (SELECT event_id,
                 CASE WHEN event_type = 'view' THEN '' ELSE props END AS maybe_empty
          FROM ev)
    SELECT event_id FROM d WHERE (maybe_empty IS NULL OR maybe_empty = '')
"""


# ---------------------------------------------------------------------------
# Transform operators T3/T4/T7 with error channel (V1)
# ---------------------------------------------------------------------------


def q_t3_date_format_errors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """date_format incl. failure path: 'error' events get a corrupted ts →
    passthrough value + RowError; everything else parses."""
    ev = _events_strings(spark, sf_dir).withColumn(
        "ts2",
        F.when(F.col("event_type") == "error", F.concat(F.lit("bad/"), F.col("ts"))).otherwise(
            F.col("ts")
        ),
    )
    mapping = {
        "id": "t3", "name": "t3", "filter_rules": [],
        "field_mappings": [
            {"destination_field": "event_id", "source_field": "event_id",
             "transform_type": "direct", "transform_config": {}},
            {"destination_field": "day", "source_field": "ts2", "transform_type": "date_format",
             "transform_config": {"input_format": "%Y-%m-%d %H:%M:%S",
                                  "output_format": "%d/%m/%Y"}},
        ],
    }
    out = compile_mapping(mapping, ev.columns).apply(ev, with_errors=True)
    return out.select("event_id", "day", F.size(F.col(ERRORS_COL)).alias("n_errors"))


_ORACLE_T3 = f"""
    WITH ev AS ({_EVENTS_STRINGS_SQL}),
    d AS (SELECT event_id, event_type,
                 CASE WHEN event_type = 'error' THEN 'bad/' || ts ELSE ts END AS ts2
          FROM ev)
    SELECT event_id,
           CASE WHEN event_type = 'error' THEN ts2
                ELSE strftime(strptime(ts2, '%Y-%m-%d %H:%M:%S'), '%d/%m/%Y') END AS day,
           CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS n_errors
    FROM d
"""


def q_t4_lookup_errors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lookup with null default: unmapped event types → null + RowError."""
    ev = _events_strings(spark, sf_dir)
    mapping = {
        "id": "t4", "name": "t4", "filter_rules": [],
        "field_mappings": [
            {"destination_field": "event_id", "source_field": "event_id",
             "transform_type": "direct", "transform_config": {}},
            {"destination_field": "category", "source_field": "event_type",
             "transform_type": "lookup",
             "transform_config": {"click": "engagement", "view": "engagement", "_default": None}},
        ],
    }
    out = compile_mapping(mapping, ev.columns).apply(ev, with_errors=True)
    return out.select("event_id", "category", F.size(F.col(ERRORS_COL)).alias("n_errors"))


_ORACLE_T4 = f"""
    WITH ev AS ({_EVENTS_STRINGS_SQL})
    SELECT event_id,
           CASE event_type WHEN 'click' THEN 'engagement'
                WHEN 'view' THEN 'engagement' ELSE NULL END AS category,
           CASE WHEN event_type IN ('click', 'view') THEN 0 ELSE 1 END AS n_errors
    FROM ev
"""


def q_t7_formula(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events_strings(spark, sf_dir)
    mapping = {
        "id": "t7", "name": "t7", "filter_rules": [],
        "field_mappings": [
            {"destination_field": "event_id", "source_field": "event_id",
             "transform_type": "direct", "transform_config": {}},
            {"destination_field": "score", "source_field": None, "transform_type": "formula",
             "transform_config": {"expression": "(value * 3 - user_id / 4) % 7"}},
        ],
    }
    out = compile_mapping(mapping, ev.columns).apply(ev, with_errors=False)
    return out.select("event_id", F.round(F.col("score"), 6).alias("score"))


_ORACLE_T7 = f"""
    WITH ev AS ({_EVENTS_STRINGS_SQL})
    SELECT event_id,
           round(fmod(fmod(CAST(value AS DOUBLE) * 3 - CAST(user_id AS DOUBLE) / 4, 7) + 7, 7), 6)
             AS score
    FROM ev
"""


# ---------------------------------------------------------------------------
# Typed path (C1-C13): revolut stocks plan over a deterministically
# constructed revolut-shaped frame from orders
# ---------------------------------------------------------------------------


def _orders_as_revolut(spark: SparkSession, sf_dir: str) -> DataFrame:
    # expression-bound pipeline (C1-C13 parse chains): widen the scan
    o = _t(spark, sf_dir, "orders", parallelize=True)
    k = F.col("o_orderkey")
    return o.select(
        F.date_format("o_orderdate", "yyyy-MM-dd'T'HH:mm:ss").alias("Date"),
        F.when(k % 17 == 0, F.lit("4P41"))
        .when(k % 11 == 0, F.lit(""))
        .otherwise(F.concat(F.lit("TCK"), (k % 7).cast("string"))).alias("Ticker"),
        F.when(k % 5 == 0, F.lit("CASH TOP-UP"))
        .when(k % 5 == 1, F.lit("BUY - MARKET"))
        .when(k % 5 == 2, F.lit("SELL - LIMIT"))
        .when(k % 5 == 3, F.lit("DIVIDEND"))
        .otherwise(F.lit("BUY - STOP")).alias("Type"),
        F.concat((k % 3).cast("string"), F.lit(","), F.lit("500.25")).alias("Quantity"),
        F.concat(F.lit("USD "), F.round(F.col("o_totalprice"), 2).cast("string")).alias(
            "Price per share"
        ),
        F.lit("").alias("Total Amount"),
        F.when(k % 4 == 0, F.lit("USD")).when(k % 4 == 1, F.lit("EUR"))
        .when(k % 4 == 2, F.lit("GBX")).otherwise(F.lit("")).alias("Currency"),
    )


def q_typed_stocks_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _orders_as_revolut(spark, sf_dir)
    out = revolut_stocks_plan(df, account_name="Revolut Stocks")
    return out.select(
        "date", "symbol", "type",
        F.round("quantity", 6).alias("quantity"),
        F.round("unitPrice", 6).alias("unitPrice"),
        F.round("fee", 6).alias("fee"),
        "currency", "account", "dataSource",
    )


_ORACLE_TYPED_STOCKS = """
    WITH rev AS (
      SELECT strftime(o_orderdate, '%Y-%m-%dT%H:%M:%S') AS "Date",
             CASE WHEN o_orderkey % 17 = 0 THEN '4P41'
                  WHEN o_orderkey % 11 = 0 THEN ''
                  ELSE 'TCK' || CAST(o_orderkey % 7 AS VARCHAR) END AS "Ticker",
             CASE o_orderkey % 5 WHEN 0 THEN 'CASH TOP-UP' WHEN 1 THEN 'BUY - MARKET'
                  WHEN 2 THEN 'SELL - LIMIT' WHEN 3 THEN 'DIVIDEND'
                  ELSE 'BUY - STOP' END AS "Type",
             CAST(o_orderkey % 3 AS VARCHAR) || ',500.25' AS "Quantity",
             'USD ' || CAST(round(o_totalprice, 2) AS VARCHAR) AS "Price",
             CASE o_orderkey % 4 WHEN 0 THEN 'USD' WHEN 1 THEN 'EUR'
                  WHEN 2 THEN 'GBX' ELSE '' END AS "Currency"
      FROM orders
    ),
    prepped AS (
      SELECT *,
             CASE WHEN "Currency" = '' THEN 'USD' ELSE "Currency" END AS cur,
             upper("Type") AS type_u
      FROM rev
    ),
    mapped AS (
      SELECT *,
             CASE WHEN type_u IN ('BUY - MARKET', 'BUY - LIMIT') THEN 'BUY'
                  WHEN type_u IN ('SELL - MARKET', 'SELL - LIMIT') THEN 'SELL'
                  WHEN type_u = 'DIVIDEND' THEN 'DIVIDEND'
                  WHEN type_u LIKE 'BUY%' THEN 'BUY'
                  WHEN type_u LIKE 'SELL%' THEN 'SELL'
                  ELSE NULL END AS gf_type
      FROM prepped
      WHERE type_u NOT IN ('CASH TOP-UP', 'CASH WITHDRAWAL', 'CUSTODY FEE', 'STOCK SPLIT')
    )
    SELECT strftime(strptime("Date", '%Y-%m-%dT%H:%M:%S'), '%Y-%m-%d') AS date,
           CASE WHEN "Ticker" = '4P41' THEN 'P911.DE'
                WHEN cur = 'USD' THEN "Ticker"
                WHEN cur = 'EUR' AND NOT "Ticker" LIKE '%.DE' THEN "Ticker" || '.DE'
                WHEN cur IN ('GBP', 'GBX') AND NOT "Ticker" LIKE '%.L' THEN "Ticker" || '.L'
                ELSE "Ticker" END AS symbol,
           gf_type AS type,
           round(CAST(replace("Quantity", ',', '') AS DOUBLE), 6) AS quantity,
           round(CAST(replace(replace("Price", 'USD ', ''), ',', '') AS DOUBLE), 6) AS unitPrice,
           round(0.0, 6) AS fee,
           cur AS currency,
           'Revolut Stocks' AS account,
           '' AS dataSource
    FROM mapped
    WHERE gf_type IS NOT NULL AND "Ticker" <> ''
"""


def _orders_as_revolut_crypto(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders", parallelize=True)
    k = F.col("o_orderkey")
    price_str = F.round(F.col("o_totalprice"), 2).cast("string")
    return o.select(
        F.date_format("o_orderdate", "MMM dd, yyyy, hh:mm:ss a").alias("Date"),
        F.when(k % 5 == 0, F.lit("BTC")).when(k % 5 == 1, F.lit("eth"))
        .when(k % 5 == 2, F.lit("")).when(k % 5 == 3, F.lit("ZZZ"))
        .otherwise(F.lit("DOT")).alias("Symbol"),
        F.when(k % 4 == 0, F.lit("BUY")).when(k % 4 == 1, F.lit("Sell"))
        .when(k % 4 == 2, F.lit("STAKE")).otherwise(F.lit("PAYMENT")).alias("Type"),
        F.concat((k % 7).cast("string"), F.lit(",250.75")).alias("Quantity"),
        F.when(k % 3 == 0, F.concat(F.lit("€"), price_str))
        .when(k % 3 == 1, F.lit(""))
        .otherwise(F.lit("$1,250.50")).alias("Price"),
        F.concat(F.lit("£"), F.round(F.col("o_totalprice") / 2, 2).cast("string")).alias(
            "Value"
        ),
        F.when(k % 2 == 0, F.lit("€2.50")).otherwise(F.lit("")).alias("Fees"),
    )


def q_typed_crypto_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crypto typed path (C2/C5/C6/C9 + F9-F11) over a deterministically
    constructed revolut-crypto-shaped frame."""
    from csv_etl_spark.plans.typed import revolut_crypto_plan

    df = _orders_as_revolut_crypto(spark, sf_dir)
    out = revolut_crypto_plan(df, account_name="Revolut Crypto")
    return out.select(
        "date", "symbol", "type",
        F.round("quantity", 6).alias("quantity"),
        F.round("unitPrice", 6).alias("unitPrice"),
        F.round("fee", 6).alias("fee"),
        "currency", "account", "dataSource",
    )


_ORACLE_TYPED_CRYPTO = """
    WITH rev AS (
      SELECT strftime(o_orderdate, '%b %d, %Y, %I:%M:%S %p') AS "Date",
             CASE o_orderkey % 5 WHEN 0 THEN 'BTC' WHEN 1 THEN 'eth'
                  WHEN 2 THEN '' WHEN 3 THEN 'ZZZ' ELSE 'DOT' END AS "Symbol",
             CASE o_orderkey % 4 WHEN 0 THEN 'BUY' WHEN 1 THEN 'Sell'
                  WHEN 2 THEN 'STAKE' ELSE 'PAYMENT' END AS "Type",
             CAST(o_orderkey % 7 AS VARCHAR) || ',250.75' AS "Quantity",
             CASE o_orderkey % 3
                  WHEN 0 THEN '€' || CAST(round(o_totalprice, 2) AS VARCHAR)
                  WHEN 1 THEN ''
                  ELSE '$1,250.50' END AS "Price",
             '£' || CAST(round(o_totalprice / 2, 2) AS VARCHAR) AS "Value",
             CASE WHEN o_orderkey % 2 = 0 THEN '€2.50' ELSE '' END AS "Fees",
             o_orderdate
      FROM orders
    ),
    kept AS (
      SELECT *, upper("Type") AS type_u,
             CASE WHEN "Price" = '' THEN "Value" ELSE "Price" END AS pv
      FROM rev
      WHERE upper("Type") IN ('BUY', 'SELL') AND "Symbol" <> ''
    )
    SELECT strftime(o_orderdate, '%Y-%m-%d') AS date,
           upper("Symbol") || '-USD' AS symbol,
           type_u AS type,
           round(CAST(replace("Quantity", ',', '') AS DOUBLE), 6) AS quantity,
           round(abs(coalesce(TRY_CAST(replace(replace(replace(replace("Price", '€', ''),
                 '$', ''), '£', ''), ',', '') AS DOUBLE), 0.0)), 6) AS unitPrice,
           round(abs(coalesce(TRY_CAST(replace(replace(replace(replace("Fees", '€', ''),
                 '$', ''), '£', ''), ',', '') AS DOUBLE), 0.0)), 6) AS fee,
           CASE WHEN pv LIKE '€%' THEN 'EUR' WHEN pv LIKE '$%' THEN 'USD'
                WHEN pv LIKE '£%' THEN 'GBP' ELSE 'EUR' END AS currency,
           'Revolut Crypto' AS account,
           'YAHOO' AS dataSource
    FROM kept
"""


# ---------------------------------------------------------------------------
# Spark-native extensions: aggregation / joins / windows / rollup / set ops
# ---------------------------------------------------------------------------


def q_agg_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: scan-side filter pushdown + partial aggregation."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_quantity") < 45)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            _dsum(F.col("l_quantity"), "sum_qty"),
            _dsum(F.col("l_extendedprice"), "sum_base_price"),
            _dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "sum_disc_price"),
            F.round(
                (F.sum(F.col("l_quantity").cast("decimal(38,6)")).cast("double")
                 / F.count(F.lit(1))), 6
            ).alias("avg_qty"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


_ORACLE_AGG_PRICING = f"""
    SELECT l_returnflag, l_linestatus,
           {_dsum_sql('l_quantity', 'sum_qty')},
           {_dsum_sql('l_extendedprice', 'sum_base_price')},
           {_dsum_sql('l_extendedprice * (1 - l_discount)', 'sum_disc_price')},
           round(CAST(sum(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) / count(*), 6) AS avg_qty,
           count(*) AS count_order
    FROM lineitem
    WHERE l_quantity < 45
    GROUP BY l_returnflag, l_linestatus
"""


def q_join_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-join revenue rollup; small dims broadcast explicitly."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            _dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


_ORACLE_JOIN_REVENUE = f"""
    SELECT n_name,
           {_dsum_sql('l_extendedprice * (1 - l_discount)', 'revenue')},
           count(*) AS n_items
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name
"""


def q_window_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        o.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select(
            "o_custkey",
            "o_orderkey",
            F.round("o_totalprice", 4).alias("o_totalprice"),
            "rk",
        )
    )


_ORACLE_WINDOW_TOP = """
    SELECT o_custkey, o_orderkey, round(o_totalprice, 4) AS o_totalprice, rk
    FROM (SELECT o_custkey, o_orderkey, o_totalprice,
                 row_number() OVER (PARTITION BY o_custkey
                                    ORDER BY o_totalprice DESC, o_orderkey ASC) AS rk
          FROM orders)
    WHERE rk <= 3
"""


def q_rollup_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return (
        o.rollup("o_orderstatus", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"), _dsum(F.col("o_totalprice"), "total"))
    )


_ORACLE_ROLLUP = f"""
    SELECT o_orderstatus, o_orderpriority, count(*) AS n,
           {_dsum_sql('o_totalprice', 'total')}
    FROM orders
    GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
"""


def q_anti_join_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers with no PENDING ('P') orders — anti join against a filtered
    build side (every customer has *some* order in the testdata, so the
    unfiltered variant would be trivially empty)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "P")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name", "c_mktsegment"
    )


_ORACLE_ANTI_JOIN = """
    SELECT c_custkey, c_name, c_mktsegment
    FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey AND o_orderstatus = 'P')
"""


def q_semi_join_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parts that appear in any lineitem — semi join."""
    p = _t(spark, sf_dir, "part")
    li = _t(spark, sf_dir, "lineitem")
    return (
        p.join(li, p.p_partkey == li.l_partkey, "left_semi")
        .groupBy("p_brand")
        .agg(F.count(F.lit(1)).alias("n_parts"))
    )


_ORACLE_SEMI_JOIN = """
    SELECT p_brand, count(*) AS n_parts
    FROM part
    WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_partkey = p_partkey)
    GROUP BY p_brand
"""


def q_union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set op: distinct nation keys appearing on either side of the
    customer/supplier relationship."""
    c = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = _t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.union(s).distinct()


_ORACLE_UNION = """
    SELECT c_nationkey AS nationkey FROM customer
    UNION
    SELECT s_nationkey AS nationkey FROM supplier
"""


def q_cube_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(F.count(F.lit(1)).alias("n"))


_ORACLE_CUBE = """
    SELECT o_orderstatus, o_orderpriority, count(*) AS n
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
"""


def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: for each purchase event, the user's most recent click at
    or before it — windowed carry-forward, no join (operators/joins.py)."""
    from csv_etl_spark.operators.joins import asof_join

    ev = _events(spark, sf_dir)
    purchases = ev.filter(F.col("event_type") == "purchase").select("event_id", "user_id", "ts")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("event_id").alias("click_id")
    )
    out = asof_join(purchases, clicks, on="user_id", left_time="ts", right_time="ts",
                    right_values=["click_id"])
    return out.select(
        "event_id",
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts"),
        F.col("asof_click_id").alias("click_id"),
        F.date_format("asof_ts", "yyyy-MM-dd HH:mm:ss").alias("click_ts"),
    )


_ORACLE_ASOF = """
    WITH p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
         c AS (SELECT event_id AS click_id, user_id, ts FROM events WHERE event_type = 'click')
    SELECT p.event_id, p.user_id,
           strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS ts,
           c.click_id,
           strftime(c.ts, '%Y-%m-%d %H:%M:%S') AS click_ts
    FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts
"""


def q_asof_join_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORWARD as-of join (pandas merge_asof direction parity): for each
    purchase, the user's EARLIEST click at or after it — the same
    windowed-scan operator time-reversed (operators/joins.py)."""
    from csv_etl_spark.operators.joins import asof_join

    ev = _events(spark, sf_dir)
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("event_id").alias("click_id")
    )
    out = asof_join(
        purchases, clicks, on="user_id", left_time="ts", right_time="ts",
        right_values=["click_id"], direction="forward",
    )
    return out.select(
        "event_id",
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts"),
        F.col("asof_click_id").alias("click_id"),
        F.date_format("asof_ts", "yyyy-MM-dd HH:mm:ss").alias("click_ts"),
    )


_ORACLE_ASOF_FORWARD = """
    WITH p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
         c AS (SELECT event_id AS click_id, user_id, ts FROM events WHERE event_type = 'click')
    SELECT p.event_id, p.user_id,
           strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS ts,
           c.click_id,
           strftime(c.ts, '%Y-%m-%d %H:%M:%S') AS click_ts
    FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts <= c.ts
"""


_BUCKETS = [(0.0, 5.0, "low"), (5.0, 20.0, "mid"), (20.0, 1e9, "high")]


def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-vs-interval broadcast range join of events against a bucket
    dim table."""
    from csv_etl_spark.operators.joins import range_join_buckets

    ev = _events(spark, sf_dir).select("event_id", "value")
    from csv_etl_spark.local import local_values_frame

    buckets = local_values_frame(
        spark, _BUCKETS, "lo double, hi double, label string"
    )
    out = range_join_buckets(ev, buckets, "value")
    return out.select("event_id", F.round("value", 6).alias("value"), "label")


_ORACLE_RANGE_JOIN = """
    WITH buckets(lo, hi, label) AS (VALUES (0.0, 5.0, 'low'), (5.0, 20.0, 'mid'),
                                           (20.0, 1e9, 'high'))
    SELECT event_id, round(value, 6) AS value, label
    FROM events LEFT JOIN buckets ON value >= lo AND value < hi
"""


def q_join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join with null-preserving aggregation: every customer,
    including the orderless, with their F-order spend."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_outer")
        .groupBy("c_custkey", "c_mktsegment")
        .agg(
            F.count(F.col("o_orderkey")).alias("n_f_orders"),
            _dsum(F.coalesce(F.col("o_totalprice"), F.lit(0.0)), "f_spend"),
        )
    )


_ORACLE_LEFT_OUTER = f"""
    SELECT c_custkey, c_mktsegment,
           count(o_orderkey) AS n_f_orders,
           {_dsum_sql("coalesce(o_totalprice, 0.0)", "f_spend")}
    FROM customer LEFT OUTER JOIN (SELECT * FROM orders WHERE o_orderstatus = 'F') o
      ON c_custkey = o_custkey
    GROUP BY c_custkey, c_mktsegment
"""


def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (finer than rollup/cube): totals by
    (status, priority), by status alone, and grand total — with grouping
    ids so consumers can tell the levels apart."""
    o = _t(spark, sf_dir, "orders")
    o.createOrReplaceTempView("orders_gs")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority,
               count(*) AS n,
               grouping(o_orderstatus) AS g_status,
               grouping(o_orderpriority) AS g_prio
        FROM orders_gs
        GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
        """
    )


_ORACLE_GROUPING_SETS = """
    SELECT o_orderstatus, o_orderpriority,
           count(*) AS n,
           grouping(o_orderstatus) AS g_status,
           grouping(o_orderpriority) AS g_prio
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
"""


def q_topk_revenue_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: join + aggregate + global deterministic top-k
    (sort + limit with orderkey tie-break)."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderkey", "o_orderdate")
        .agg(_dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue", 2))
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey").asc())
        .limit(10)
        .select(
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            "revenue",
        )
    )


_ORACLE_TOPK_REVENUE = f"""
    SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
           {_dsum_sql("l_extendedprice * (1 - l_discount)", "revenue", 2)}
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderkey, o_orderdate
    ORDER BY revenue DESC, o_orderkey ASC
    LIMIT 10
"""


def q_sample_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Portable hash sampling: ~10% of events chosen by md5(event_id) —
    identical membership in any engine (the oracle re-derives it)."""
    from csv_etl_spark.operators.sampling import hash_sample

    ev = _events_strings(spark, sf_dir)
    return hash_sample(ev, "event_id", 0.10).select("event_id", "event_type")


_ORACLE_SAMPLE = f"""
    WITH ev AS ({_EVENTS_STRINGS_SQL})
    SELECT event_id, event_type
    FROM ev
    WHERE substr(md5(event_id), 1, 8) < '{{thr}}'
"""


def q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stratum quotas (keep all purchases, 20% of clicks, 5% of views,
    none of the rest) — the per-source-mix pass of a training pipeline."""
    from csv_etl_spark.operators.sampling import stratified_hash_sample

    ev = _events_strings(spark, sf_dir)
    out = stratified_hash_sample(
        ev, "event_type",
        {"purchase": 1.0, "click": 0.2, "view": 0.05},
        key_col="event_id",
    )
    return out.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_kept"))


_ORACLE_SAMPLE_STRAT = f"""
    WITH ev AS ({_EVENTS_STRINGS_SQL})
    SELECT event_type, count(*) AS n_kept
    FROM ev
    WHERE substr(md5(event_id), 1, 8) <
          CASE event_type WHEN 'purchase' THEN '{{t100}}'
               WHEN 'click' THEN '{{t20}}' WHEN 'view' THEN '{{t5}}'
               ELSE '{{t0}}' END
    GROUP BY event_type
"""


def q_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distributed percentiles per group (Spark `percentile` ==
    DuckDB `quantile_cont`, verified bit-for-bit)."""
    ev = _events(spark, sf_dir)
    return ev.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 6).alias("p50"),
        F.round(F.expr("percentile(value, 0.95)"), 6).alias("p95"),
        F.round(F.expr("percentile(value, 0.99)"), 6).alias("p99"),
    )


_ORACLE_PERCENTILES = """
    SELECT event_type,
           round(quantile_cont(value, 0.5), 6) AS p50,
           round(quantile_cont(value, 0.95), 6) AS p95,
           round(quantile_cont(value, 0.99), 6) AS p99
    FROM events
    GROUP BY event_type
"""


def q_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct (expand+reaggregate under the hood) — the
    correctness twin of the HLL sketch below."""
    ev = _events(spark, sf_dir)
    return ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users"),
        F.count(F.lit(1)).alias("n_events"),
    )


_ORACLE_DISTINCT_USERS = """
    SELECT event_type, count(DISTINCT user_id) AS n_users, count(*) AS n_events
    FROM events GROUP BY event_type
"""


def q_distinct_users_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL++ sketch distinct (rows-only: sketch estimates are
    engine-specific; tests assert ≤2% relative error vs exact).  At 100 TB
    this is the difference between one pass with bounded memory and an
    expand-shuffle over every distinct pair."""
    ev = _events(spark, sf_dir)
    return ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.01).alias("n_users_approx")
    )


def q_json_extract_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured column handling: extract a field from the JSON
    ``props`` column JVM-side (get_json_object — no Python in the loop)
    and aggregate on it."""
    ev = _events(spark, sf_dir)
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.col("k")).alias("n_with_k"),
            F.sum("k").alias("sum_k"),
            F.max("k").alias("max_k"),
        )
    )


_ORACLE_JSON_EXTRACT = """
    SELECT event_type,
           count(k) AS n_with_k,
           -- DuckDB sum(BIGINT) widens to HUGEINT (-> float64 in pandas,
           -- "123.0" vs Spark's "123"); cast back to BIGINT for an exact
           -- cross-engine text form.
           CAST(sum(k) AS BIGINT) AS sum_k, max(k) AS max_k
    FROM (SELECT event_type,
                 CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
          FROM events)
    GROUP BY event_type
"""


_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


def q_pivot_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: order counts per status × priority as columns (explicit value
    list so the output schema is static — the only safe way at scale;
    value-discovery pivots scan twice and produce unstable schemas)."""
    o = _t(spark, sf_dir, "orders")
    piv = (
        o.groupBy("o_orderstatus")
        .pivot("o_orderpriority", _PRIORITIES)
        .agg(F.count(F.lit(1)))
    )
    renames = {p: f"p{i + 1}" for i, p in enumerate(_PRIORITIES)}
    return piv.select(
        "o_orderstatus",
        *[F.coalesce(F.col(f"`{p}`"), F.lit(0)).alias(renames[p]) for p in _PRIORITIES],
    )


_ORACLE_PIVOT = """
    SELECT o_orderstatus,
           count(*) FILTER (o_orderpriority = '1-URGENT') AS p1,
           count(*) FILTER (o_orderpriority = '2-HIGH') AS p2,
           count(*) FILTER (o_orderpriority = '3-MEDIUM') AS p3,
           count(*) FILTER (o_orderpriority = '4-NOT SPECIFIED') AS p4,
           count(*) FILTER (o_orderpriority = '5-LOW') AS p5
    FROM orders
    GROUP BY o_orderstatus
"""


def q_unpivot_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot/melt: wide numeric columns → (attr, value) long form
    (stack() — constant-folded, single pass)."""
    c = _t(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.expr(
            "stack(2, 'acctbal', cast(c_acctbal as double), "
            "'nationkey', cast(c_nationkey as double)) AS (attr, value)"
        ),
    ).select("c_custkey", "attr", F.round("value", 2).alias("value"))


_ORACLE_UNPIVOT = """
    SELECT c_custkey, 'acctbal' AS attr, round(CAST(c_acctbal AS DOUBLE), 2) AS value
    FROM customer
    UNION ALL
    SELECT c_custkey, 'nationkey' AS attr, round(CAST(c_nationkey AS DOUBLE), 2) AS value
    FROM customer
"""


# ---------------------------------------------------------------------------
# Dedup family
# ---------------------------------------------------------------------------


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    return dedup.exact_dedup_by_key(ev, ["user_id", "event_type"], "event_id")


_ORACLE_DEDUP_EXACT = """
    SELECT user_id, event_type, min(event_id) AS keep_id, count(*) AS n_dups
    FROM events
    GROUP BY user_id, event_type
"""


def q_dedup_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup on normalized text, keyed by the normalized text itself
    (engine-agnostic, unlike hash keys)."""
    d = _t(spark, sf_dir, "documents")
    return dedup.exact_dedup_normalized(d).select("keep_id", "n_dups")


_ORACLE_DEDUP_NORM = """
    SELECT min(doc_id) AS keep_id, count(*) AS n_dups
    FROM (SELECT doc_id,
                 trim(regexp_replace(regexp_replace(lower(text), '[^\\w\\s]', '', 'g'),
                      '\\s+', ' ', 'g')) AS norm_text
          FROM documents)
    GROUP BY norm_text
"""


def q_dedup_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VERIFICATION-ONLY ORACLE TWIN — not the production spelling.
    This exact all-pairs Jaccard (α=1.38 measured, SCALE.md) exists so
    the SQL oracle can hash-check the scale path's semantics; at 100 TB
    use ``dedup_jaccard_capped`` (freq_cap candidate control, α=0.20) —
    the operator's own default."""
    # freq_cap=None: the EXACT variant (matches the exact-jaccard oracle);
    # max_exact_docs=None: the guard's up-front count is pytest-covered
    # (test_jaccard_exact_guard_refuses_large_corpus) and would dominate
    # this micro-benchmark's timing at toy scale — the contract corpus is
    # 500-5000 docs, far under the 100k refusal bound;
    # the operator's default is capped — the 100 TB-safe setting
    d = _t(spark, sf_dir, "documents")
    return dedup.ngram_jaccard_pairs(
        d, threshold=0.35, n=3, freq_cap=None, max_exact_docs=None
    )


def q_dedup_jaccard_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scale-path variant: frequent-shingle cap (here 5, low enough to
    bite on the test corpus) drops stopword-like shingles from candidate
    generation AND size accounting.  On the sf0.1 corpus this cuts
    candidate pairs 1,130,536 → 18,410 (61×) — the difference between a
    quadratic blowup and a bounded join at 100 TB."""
    d = _t(spark, sf_dir, "documents")
    return dedup.ngram_jaccard_pairs(d, threshold=0.35, n=3, freq_cap=5)


_ORACLE_JACCARD_CAPPED = """
    WITH sh AS (
      SELECT doc_id,
             list_distinct(
               list_transform(range(1, greatest(len(toks) - 2, 0) + 1),
                              i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
             ) AS shingles
      FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks FROM documents)
      WHERE len(toks) >= 3
    ),
    posting AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
    dfreq AS (SELECT shingle, count(*) AS d FROM posting GROUP BY shingle),
    p2 AS (
      SELECT posting.doc_id, posting.shingle
      FROM posting JOIN dfreq USING (shingle) WHERE dfreq.d <= 5
    ),
    sized AS (SELECT doc_id, count(*) AS sz FROM p2 GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
      FROM p2 a JOIN p2 b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT i.id_a, i.id_b,
           round(CAST(i.inter AS DOUBLE) / (sa.sz + sb.sz - i.inter), 6) AS jaccard
    FROM inter i
    JOIN sized sa ON sa.doc_id = i.id_a
    JOIN sized sb ON sb.doc_id = i.id_b
    WHERE CAST(i.inter AS DOUBLE) / (sa.sz + sb.sz - i.inter) >= 0.35
"""


_ORACLE_JACCARD_PAIRS = """
    WITH sh AS (
      SELECT doc_id,
             list_distinct(
               list_transform(range(1, greatest(len(toks) - 2, 0) + 1),
                              i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
             ) AS shingles
      FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks FROM documents)
      WHERE len(toks) >= 3
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           round(CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
                 / len(list_distinct(list_concat(a.shingles, b.shingles))), 6) AS jaccard
    FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    WHERE CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
          / len(list_distinct(list_concat(a.shingles, b.shingles))) >= 0.35
"""


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTER resolution: connected components over the exact
    jaccard pair graph (iterative min-label propagation).  The step after
    pair generation that actual corpus dedup needs — keep min-id per
    component, drop the rest."""
    d = _t(spark, sf_dir, "documents")
    # max_exact_docs=None: guard pytest-covered; see dedup_jaccard_pairs
    pairs = dedup.ngram_jaccard_pairs(
        d, threshold=0.35, n=3, freq_cap=None, max_exact_docs=None
    )
    return dedup.resolve_duplicate_clusters(pairs).select("id", "cluster_id")


_ORACLE_DEDUP_CLUSTERS = """
    WITH RECURSIVE sh AS (
      SELECT doc_id,
             list_distinct(
               list_transform(range(1, greatest(len(toks) - 2, 0) + 1),
                              i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
             ) AS shingles
      FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks FROM documents)
      WHERE len(toks) >= 3
    ),
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      WHERE CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
            / len(list_distinct(list_concat(a.shingles, b.shingles))) >= 0.35
    ),
    edges AS (
      SELECT id_a AS u, id_b AS v FROM pairs
      UNION SELECT id_b AS u, id_a AS v FROM pairs
    ),
    reach(u, v) AS (
      SELECT u, u FROM edges
      UNION
      SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
    )
    SELECT u AS id, min(v) AS cluster_id
    FROM reach GROUP BY u
"""


def q_dedup_representatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster REPRESENTATIVE selection: connected components
    over the exact jaccard pair graph, then keep the highest-quality
    member per cluster (ties → lowest id).  Quality is rounded to 6
    decimals on BOTH sides so the selection ordering is engine-portable
    (rounded-quality parity is already proven by text_metrics)."""
    d = _t(spark, sf_dir, "documents")
    # max_exact_docs=None: guard pytest-covered; see dedup_jaccard_pairs
    pairs = dedup.ngram_jaccard_pairs(
        d, threshold=0.35, n=3, freq_cap=None, max_exact_docs=None
    )
    labels = dedup.resolve_duplicate_clusters(pairs)
    scores = d.select(
        F.col("doc_id").alias("id"),
        F.round(text.quality_score(F.col("text")), 6).alias("quality"),
    )
    return dedup.cluster_representatives(labels, scores)


# formatted with sw=_SW in the registry (_SW is defined further down)
_ORACLE_DEDUP_REPRESENTATIVES = """
    WITH RECURSIVE sh AS (
      SELECT doc_id,
             list_distinct(
               list_transform(range(1, greatest(len(toks) - 2, 0) + 1),
                              i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
             ) AS shingles
      FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks FROM documents)
      WHERE len(toks) >= 3
    ),
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      WHERE CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
            / len(list_distinct(list_concat(a.shingles, b.shingles))) >= 0.35
    ),
    edges AS (
      SELECT id_a AS u, id_b AS v FROM pairs
      UNION SELECT id_b AS u, id_a AS v FROM pairs
    ),
    reach(u, v) AS (
      SELECT u, u FROM edges
      UNION
      SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
    ),
    cc AS (SELECT u AS id, min(v) AS cluster_id FROM reach GROUP BY u),
    t AS (
      SELECT doc_id, text,
             CASE WHEN regexp_matches(text, '^\\s*$') THEN []::VARCHAR[]
                  ELSE string_split_regex(trim(text), '\\s+') END AS toks
      FROM documents
    ),
    m AS (
      SELECT doc_id, len(toks) AS n_tokens,
             len(list_filter(toks, x -> list_contains([{sw}], lower(x)))) AS sw_hits,
             length(text) AS n_chars,
             length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS n_punct
      FROM t
    ),
    q AS (
      SELECT doc_id,
             round((least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0)
                    + least(CASE WHEN n_tokens > 0 THEN CAST(sw_hits AS DOUBLE) / n_tokens
                                 ELSE 0.0 END * 4.0, 1.0)) / 2.0
                   * (1.0 - least(CASE WHEN n_chars > 0 THEN CAST(n_punct AS DOUBLE) / n_chars
                                       ELSE 0.0 END * 2.0, 1.0) * 0.5), 6) AS quality
      FROM m
    ),
    r AS (
      SELECT cc.cluster_id, cc.id, q.quality,
             row_number() OVER (PARTITION BY cc.cluster_id
                                ORDER BY q.quality DESC, cc.id ASC) AS rn,
             count(*) OVER (PARTITION BY cc.cluster_id) AS n_members
      FROM cc JOIN q ON cc.id = q.doc_id
    )
    SELECT cluster_id, id AS rep_id, CAST(n_members AS BIGINT) AS n_members
    FROM r WHERE rn = 1
"""


def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH near-dup pairs in PORTABLE hash mode: poly-hash shingles, affine
    minhash family, band keys = raw signature slices.  The DuckDB oracle
    replicates the ENTIRE pipeline (signatures → banding → bucket join →
    exact-jaccard verify) bit-for-bit — a full value-hash check of the
    approximate operator itself, not just of a planted subset.  The
    xxhash64 fast path (scale default) keeps its recall assertion against
    ngram_jaccard_pairs in tests/test_operators.py."""
    d = _t(spark, sf_dir, "documents")
    return dedup.minhash_lsh_pairs(
        d, threshold=0.35, n=3, num_hashes=16, bands=8, portable=True
    )


_MH_PARAMS = dedup.minhash_affine_params(16)


def _poly_sql(s: str) -> str:
    """DuckDB spelling of dedup.portable_string_hash — identical fold."""
    return (
        f"list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"list_transform(range(1, length({s}) + 1), j -> CAST(ascii({s}[j]) AS BIGINT))), "
        f"(acc, x) -> (acc * 131 + x) % 2147483647)"
    )


_MH_SIG_ITEMS = ", ".join(
    f"list_min(list_transform(hs, p -> ({a} * p + {b}) % 2147483647))"
    for a, b in _MH_PARAMS
)

def _minhash_ctes(max_bucket_size: int | None = None) -> str:
    """The minhash-LSH pipeline as a reusable CTE chain — ONE template
    for both spellings (r14 ADVICE: the capped variant used to be built
    by exact string-replace of the shared chain, so an innocent reformat
    silently flipped behavior until an import-time assert fired).
    ``max_bucket_size=None`` is the uncapped chain (dedup_minhash_lsh,
    and leakage_safe_split_lsh chains connected components + the md5
    grouped split on top); an integer inserts the r13 hot-bucket cap —
    band buckets holding more than that many docs are dropped before the
    candidate self-join via a windowed count (dedup.minhash_lsh_pairs
    max_bucket_size, the measured Zipf-vocabulary mega-bucket guard)."""
    if max_bucket_size is None:
        kept_cte = ""
        cand_src = "bands"
    else:
        kept_cte = f"""bands_kept AS (
      SELECT doc_id, band, vals FROM (
        SELECT doc_id, band, vals,
               count(*) OVER (PARTITION BY band, vals) AS _bsz
        FROM bands)
      WHERE _bsz <= {int(max_bucket_size)}
    ),
    """
        cand_src = "bands_kept"
    return f"""th AS (
      SELECT doc_id, list_transform(toks, t -> {_poly_sql('t')}) AS th
      FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks FROM documents)
      WHERE len(toks) >= 3
    ),
    hs AS (
      -- shingle hash = fold of the 3 token hashes: ((h1·131+h2) mod M)·131+h3 mod M
      SELECT doc_id,
             list_distinct(list_transform(range(1, len(th) - 1),
               i -> ((th[i] * 131 + th[i+1]) % 2147483647 * 131 + th[i+2]) % 2147483647
             )) AS hs
      FROM th
    ),
    sig AS (SELECT doc_id, hs, [{_MH_SIG_ITEMS}] AS sig FROM hs),
    bands AS (
      SELECT doc_id, band, [sig[2 * band + 1], sig[2 * band + 2]] AS vals
      FROM sig CROSS JOIN (SELECT unnest(range(0, 8)) AS band) bnd
    ),
    {kept_cte}cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM {cand_src} a JOIN {cand_src} b
        ON a.band = b.band AND a.vals = b.vals AND a.doc_id < b.doc_id
    ),
    mh_pairs AS (
      SELECT c.id_a, c.id_b,
             round(CAST(len(list_intersect(ha.hs, hb.hs)) AS DOUBLE)
                   / len(list_distinct(list_concat(ha.hs, hb.hs))), 6) AS jaccard
      FROM cand c
      JOIN hs ha ON ha.doc_id = c.id_a
      JOIN hs hb ON hb.doc_id = c.id_b
      WHERE CAST(len(list_intersect(ha.hs, hb.hs)) AS DOUBLE)
            / len(list_distinct(list_concat(ha.hs, hb.hs))) >= 0.35
    )"""


_MINHASH_CTES = _minhash_ctes()

_ORACLE_MINHASH_LSH = f"""
    WITH {_MINHASH_CTES}
    SELECT id_a, id_b, jaccard FROM mh_pairs
"""

_ORACLE_LSH_CAPPED = f"""
    WITH {_minhash_ctes(2)}
    SELECT id_a, id_b, jaccard FROM mh_pairs
"""


def q_dedup_lsh_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The HOT-BUCKET-CAPPED LSH spelling (r13): identical pipeline to
    dedup_minhash_lsh plus ``max_bucket_size`` — band buckets larger
    than the cap are dropped before the candidate self-join.  On Zipf
    vocabularies a handful of hot-shingle buckets go quadratic (841M
    bucket-pair rows at 5M real-vocabulary docs, ~600M from the top ten
    buckets — the r13 ladder finding); the cap is the production guard.
    The contract pins a deliberately TINY cap (2) so the guard
    triggers at test scale (sf0.01's largest bucket holds 3 docs); the
    oracle replicates the size filter with a windowed count over the
    same band CTE, so the capped candidate set is value-checked, not
    just the happy path."""
    d = _t(spark, sf_dir, "documents")
    return dedup.minhash_lsh_pairs(
        d, threshold=0.35, n=3, num_hashes=16, bands=8, portable=True,
        max_bucket_size=2,
    )


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash signatures in PORTABLE mode (31-bit polynomial token hash):
    the oracle computes identical signatures, upgrading this from a
    rows-only check to a full value-hash match.  The 64-bit xxhash64 mode
    stays the scale default."""
    d = _t(spark, sf_dir, "documents")
    return dedup.simhash(d, bits=31, portable=True)


_ORACLE_SIMHASH = f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS tok
      FROM documents WHERE NOT regexp_matches(text, '^\\s*$')
    ),
    h AS (SELECT doc_id, {_poly_sql('tok')} AS h FROM toks),
    votes AS (
      SELECT doc_id,
             {", ".join(f"sum(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS b{i}" for i in range(31))}
      FROM h GROUP BY doc_id
    )
    SELECT doc_id AS id,
           CAST({" + ".join(f"CASE WHEN b{i} > 0 THEN {1 << i} ELSE 0 END" for i in range(31))} AS BIGINT)
             AS simhash
    FROM votes
"""


def q_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup via random-hyperplane LSH buckets.

    The driver's embeddings are near-orthogonal (max natural cosine ~0.5),
    so a 0.9-threshold dedup over the raw table is vacuously empty.  Plant
    deterministic near-dups — every 50th vector re-appears scaled by 1.5
    under id+10^9 (same direction ⇒ identical sign bits ⇒ guaranteed
    bucket collision, cosine exactly 1) — so the operator provably finds
    them AND the query gains a full DuckDB oracle instead of a rows-only
    check."""
    e = _t(spark, sf_dir, "embeddings")
    planted = e.filter(F.col("vec_id") % 50 == 0).select(
        (F.col("vec_id") + F.lit(1000000000)).alias("vec_id"),
        F.transform("embedding", lambda x: x * F.lit(1.5)).alias("embedding"),
    )
    aug = e.select("vec_id", "embedding").unionByName(planted)
    return similarity.embedding_dup_pairs(aug, threshold=0.9, n_planes=8)


_ORACLE_DEDUP_EMBEDDING = """
    WITH aug AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
      FROM embeddings
      UNION ALL
      SELECT vec_id + 1000000000 AS vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE) * 1.5) AS emb
      FROM embeddings WHERE vec_id % 50 = 0
    )
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round({cos}, 6) AS cosine
    FROM aug a JOIN aug b ON a.vec_id < b.vec_id
    WHERE {cos} >= 0.9
"""


# ---------------------------------------------------------------------------
# Similarity search
# ---------------------------------------------------------------------------


def q_ann_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "embeddings")
    probes = similarity.make_probes(e, n=10)
    return similarity.brute_force_topk(e, probes, k=5)


# cosine spelled as the same sequential double fold Spark's
# aggregate/zip_with performs (list_cosine_similarity may compute in float)
def _cos_sql(a: str, b: str) -> str:
    def sq(v: str) -> str:
        return f"list_sum(list_transform({v}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))"

    dot = (
        f"list_sum(list_transform(range(1, len({a}) + 1),"
        f" i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))"
    )
    # Spark-side `cosine` guards zero-norm vectors (returns 0.0); mirror it
    # here so a zero embedding cannot make the oracle NaN-diverge (ADVICE r4)
    denom = f"(sqrt({sq(a)}) * sqrt({sq(b)}))"
    return f"(CASE WHEN {denom} > 0 THEN {dot} / {denom} ELSE 0.0 END)"


_ORACLE_ANN_BRUTE = f"""
    WITH probes AS (
      SELECT vec_id AS probe_id, embedding AS probe_vec
      FROM embeddings ORDER BY vec_id LIMIT 10
    )
    SELECT probe_id, vec_id AS neighbor_id,
           round({_cos_sql('embedding', 'probe_vec')}, 6) AS cosine, rank
    FROM (
      SELECT p.probe_id, e.vec_id, e.embedding, p.probe_vec,
             row_number() OVER (
               PARTITION BY p.probe_id
               ORDER BY {_cos_sql('e.embedding', 'p.probe_vec')} DESC, e.vec_id ASC
             ) AS rank
      FROM embeddings e CROSS JOIN probes p
      WHERE e.vec_id <> p.probe_id
    )
    WHERE rank <= 5
"""


def q_ann_ivf_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF machinery at nprobe == n_centroids: must equal brute force —
    shares the brute-force oracle."""
    e = _t(spark, sf_dir, "embeddings")
    probes = similarity.make_probes(e, n=10)
    return similarity.ivf_topk(e, probes, k=5, n_centroids=8, nprobe=8).select(
        "probe_id", "neighbor_id", "cosine", "rank"
    )


def q_ann_ivf_two_level(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Auto-sized IVF (similarity.ivf_two_level_sharded, the name kept
    from the r10 two-level index) at exhaustive routing (nprobe=None):
    with every cell routed the result must EQUAL brute force, so it
    shares the brute-force oracle (the ann_ivf_exact discipline; routing
    past the 4096-literal cap is pinned by
    test_ivf_two_level_past_literal_cap)."""
    e = _t(spark, sf_dir, "embeddings")
    probes = similarity.make_probes(e, n=10)
    return similarity.ivf_two_level_sharded(
        e, probes, k=5, nprobe=None, n_coarse=4
    ).select("probe_id", "neighbor_id", "cosine", "rank")


def q_ann_ivf_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF at nprobe=2 (the scale path) with REAL centroids: sampled
    Lloyd k-means (md5 hash-sample at 50%, 2 iterations, means rounded to
    6 digits — every step engine-portable), then argmax assignment with
    lowest-centroid-id tie-break, top-2 probe routing, exact scan of the
    routed clusters.  The oracle replicates the FULL pipeline in SQL —
    including both unrolled Lloyd iterations — rather than settling for a
    rows-only check."""
    e = _t(spark, sf_dir, "embeddings")
    probes = similarity.make_probes(e, n=10)
    cents = similarity.kmeans_centroids(e, n_centroids=8, iters=2, sample_fraction=0.5)
    return similarity.ivf_topk(e, probes, k=5, nprobe=2, centroids=cents).select(
        "probe_id", "neighbor_id", "cosine", "rank"
    )


def _kmeans_iter_sql(prev: str, idx: int, dim: int) -> str:
    """One unrolled Lloyd iteration: assign the sample to `prev` centroids
    (cosine argmax, lowest-centroid-id tie-break), then per-cluster
    element-wise mean rounded to 6 digits; empty clusters keep the previous
    centroid.  Mirrors similarity.kmeans_centroids exactly."""
    cos = _cos_sql("s.embedding", "c.centroid_vec")
    return f"""
    a{idx} AS (
      SELECT vec_id, embedding, centroid_id AS cluster FROM (
        SELECT s.vec_id, s.embedding, c.centroid_id,
               row_number() OVER (PARTITION BY s.vec_id
                                  ORDER BY {cos} DESC, c.centroid_id ASC) AS rk
        FROM ksample s CROSS JOIN {prev} c) WHERE rk = 1
    ),
    m{idx} AS (
      SELECT cluster, pos, round(avg(val), 6) AS val
      FROM (SELECT cluster, t.i AS pos, CAST(embedding[CAST(t.i AS INT)] AS DOUBLE) AS val
            FROM a{idx} CROSS JOIN range(1, {dim + 1}) t(i))
      GROUP BY cluster, pos
    ),
    c{idx} AS (
      SELECT p.centroid_id,
             COALESCE(mv.vec, list_transform(p.centroid_vec, x -> CAST(x AS DOUBLE)))
               AS centroid_vec
      FROM {prev} p LEFT JOIN (
        SELECT cluster, list(val ORDER BY pos) AS vec FROM m{idx} GROUP BY cluster
      ) mv ON mv.cluster = p.centroid_id
    )"""


def _ivf_oracle_sql(
    n_centroids: int = 8,
    nprobe: int = 2,
    k: int = 5,
    n_probes: int = 10,
    kmeans_iters: int = 2,
    dim: int = 64,
    sample_fraction: float = 0.5,
) -> str:
    cos_ec = _cos_sql("e.embedding", "c.centroid_vec")
    cos_pc = _cos_sql("p.probe_vec", "c.centroid_vec")
    cos_ap = _cos_sql("a.embedding", "r.probe_vec")
    thr = _sampling.fraction_threshold_hex(sample_fraction)
    iter_blocks = ",".join(
        _kmeans_iter_sql("c0" if i == 1 else f"c{i - 1}", i, dim)
        for i in range(1, kmeans_iters + 1)
    )
    return f"""
    WITH ksample AS (
      SELECT vec_id, embedding FROM embeddings
      WHERE substr(md5(CAST(vec_id AS VARCHAR)), 1, 8) < '{thr}'
    ),
    c0 AS (
      SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS centroid_id,
             embedding AS centroid_vec
      FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT {n_centroids})
    ),
    {iter_blocks},
    cents AS (SELECT centroid_id, centroid_vec FROM c{kmeans_iters}),
    probes AS (
      SELECT vec_id AS probe_id, embedding AS probe_vec
      FROM embeddings ORDER BY vec_id LIMIT {n_probes}
    ),
    assigned AS (
      SELECT vec_id, embedding, centroid_id AS cluster FROM (
        SELECT e.vec_id, e.embedding, c.centroid_id,
               row_number() OVER (PARTITION BY e.vec_id
                                  ORDER BY {cos_ec} DESC, c.centroid_id ASC) AS rk
        FROM embeddings e CROSS JOIN cents c)
      WHERE rk = 1
    ),
    routes AS (
      SELECT probe_id, probe_vec, centroid_id AS cluster FROM (
        SELECT p.probe_id, p.probe_vec, c.centroid_id,
               row_number() OVER (PARTITION BY p.probe_id
                                  ORDER BY {cos_pc} DESC, c.centroid_id ASC) AS rk
        FROM probes p CROSS JOIN cents c)
      WHERE rk <= {nprobe}
    )
    SELECT probe_id, neighbor_id, cosine, rank FROM (
      SELECT r.probe_id, a.vec_id AS neighbor_id,
             round({cos_ap}, 6) AS cosine,
             row_number() OVER (PARTITION BY r.probe_id
                                ORDER BY {cos_ap} DESC, a.vec_id ASC) AS rank
      FROM assigned a JOIN routes r ON a.cluster = r.cluster
      WHERE a.vec_id <> r.probe_id)
    WHERE rank <= {k}
    """


def q_ann_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured nprobe→(recall@k, scan cost) calibration curve
    (similarity.nprobe_recall_curve) — the sample-then-scale tuning step
    a 100 TB ANN job runs before committing the full scan: one
    assignment pass and one candidate join serve the whole grid, each
    grid value re-ranks only candidates whose route rank qualifies.
    Deterministic smallest-id codebook and probes, so the oracle replays
    the ENTIRE curve in SQL — routing, per-nprobe top-k, the recall join
    against brute force, and the per-probe scan counts."""
    e = _t(spark, sf_dir, "embeddings")
    probes = similarity.make_probes(e, n=10)
    return similarity.nprobe_recall_curve(
        e, probes, k=5, nprobe_grid=(1, 2, 4, 8), n_centroids=8
    )


def _recall_curve_oracle_sql(
    k: int = 5,
    n_probes: int = 10,
    n_centroids: int = 8,
    grid: tuple[int, ...] = (1, 2, 4, 8),
) -> str:
    cos_ec = _cos_sql("e.embedding", "c.centroid_vec")
    cos_pc = _cos_sql("p.probe_vec", "c.centroid_vec")
    cos_ap = _cos_sql("a.embedding", "r.probe_vec")
    cos_ep = _cos_sql("e.embedding", "p.probe_vec")
    grid_lit = ", ".join(str(int(g)) for g in sorted(grid))
    max_np = max(int(g) for g in grid)
    return f"""
    WITH probes AS (
      SELECT vec_id AS probe_id, embedding AS probe_vec
      FROM embeddings ORDER BY vec_id LIMIT {n_probes}
    ),
    cents AS (
      SELECT vec_id AS centroid_id, embedding AS centroid_vec
      FROM embeddings ORDER BY vec_id LIMIT {n_centroids}
    ),
    assigned AS (
      SELECT vec_id, embedding, centroid_id AS cluster FROM (
        SELECT e.vec_id, e.embedding, c.centroid_id,
               row_number() OVER (PARTITION BY e.vec_id
                                  ORDER BY {cos_ec} DESC, c.centroid_id ASC) AS rk
        FROM embeddings e CROSS JOIN cents c)
      WHERE rk = 1
    ),
    routes AS (
      SELECT probe_id, probe_vec, centroid_id AS cluster, rk AS route_rk FROM (
        SELECT p.probe_id, p.probe_vec, c.centroid_id,
               row_number() OVER (PARTITION BY p.probe_id
                                  ORDER BY {cos_pc} DESC, c.centroid_id ASC) AS rk
        FROM probes p CROSS JOIN cents c)
      WHERE rk <= {max_np}
    ),
    cand AS (
      SELECT r.probe_id, a.vec_id AS neighbor_id,
             round({cos_ap}, 6) AS cosine, r.route_rk
      FROM assigned a JOIN routes r ON a.cluster = r.cluster
      WHERE a.vec_id <> r.probe_id
    ),
    exact AS (
      SELECT probe_id, neighbor_id FROM (
        SELECT p.probe_id, e.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY p.probe_id
                                  ORDER BY {cos_ep} DESC, e.vec_id ASC) AS rank
        FROM embeddings e CROSS JOIN probes p
        WHERE e.vec_id <> p.probe_id)
      WHERE rank <= {k}
    ),
    grid AS (SELECT unnest([{grid_lit}]) AS nprobe),
    exploded AS (
      SELECT g.nprobe, c.probe_id, c.neighbor_id, c.cosine
      FROM cand c JOIN grid g ON c.route_rk <= g.nprobe
    ),
    approx AS (
      SELECT nprobe, probe_id, neighbor_id FROM (
        SELECT nprobe, probe_id, neighbor_id,
               row_number() OVER (PARTITION BY nprobe, probe_id
                                  ORDER BY cosine DESC, neighbor_id ASC) AS rk
        FROM exploded)
      WHERE rk <= {k}
    ),
    hits AS (
      SELECT a.nprobe, a.probe_id, count(*) AS n_hit
      FROM approx a JOIN exact e
        ON a.probe_id = e.probe_id AND a.neighbor_id = e.neighbor_id
      GROUP BY a.nprobe, a.probe_id
    ),
    scanned AS (
      SELECT nprobe, probe_id, count(*) AS n_scan
      FROM exploded GROUP BY nprobe, probe_id
    ),
    universe AS (SELECT g.nprobe, p.probe_id FROM grid g CROSS JOIN probes p)
    SELECT u.nprobe,
           round(avg(coalesce(h.n_hit, 0) / {float(k)}), 6) AS recall_at_k,
           round(avg(coalesce(s.n_scan, 0)), 6) AS avg_scanned
    FROM universe u
    LEFT JOIN hits h ON u.nprobe = h.nprobe AND u.probe_id = h.probe_id
    LEFT JOIN scanned s ON u.nprobe = s.nprobe AND u.probe_id = s.probe_id
    GROUP BY u.nprobe
    """


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup: k-means clusters bound the pairwise
    term, dedup compares only within a cluster (similarity.semantic_dedup).
    Same planted near-dups as dedup_embedding (every 50th vector rescaled
    under id+10^9 — cosine exactly 1) so the drop decision is provable; the
    full pipeline (hash-sampled Lloyd centroids, argmax assignment,
    ε-graph min-neighbor rule) is replicated in the SQL oracle."""
    e = _t(spark, sf_dir, "embeddings")
    planted = e.filter(F.col("vec_id") % 50 == 0).select(
        (F.col("vec_id") + F.lit(1000000000)).alias("vec_id"),
        F.transform("embedding", lambda x: x * F.lit(1.5)).alias("embedding"),
    )
    aug = e.select("vec_id", "embedding").unionByName(planted)
    return similarity.semantic_dedup(
        aug, n_centroids=8, threshold=0.9, kmeans_iters=2, sample_fraction=0.5
    )


def q_assign_sharded_flat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The torrent-broadcast codebook router's assignment
    (similarity.assign_to_centroids) in its SQL-replayable spelling:
    ``m_super=None`` makes routing the EXACT flat argmax (sim desc,
    centroid_id asc on ties — bit-faithful selection via the matmul +
    risky-gap refold kernel), so the router is value-hash-checked
    against a plain SQL argmax.  Codebook = the
    deterministic first-64 vectors (the contract convention); the
    hierarchical m_super default and the genuinely-above-cap regime are
    covered by the real-5000-cell unit tests and the r15 semantic
    ladder's 39k-cell point."""
    e = _t(spark, sf_dir, "embeddings", parallelize=True).select(
        "vec_id", "embedding"
    )
    cents = (
        e.orderBy("vec_id")
        .limit(64)
        .select(
            F.col("vec_id").cast("int").alias("centroid_id"),
            F.col("embedding").alias("centroid_vec"),
        )
    )
    return similarity.assign_to_centroids(
        e, cents, m_super=None
    ).select("vec_id", "cluster")


def _assign_sharded_oracle_sql() -> str:
    cos = _cos_sql("e.embedding", "c.centroid_vec")
    return f"""
    WITH e AS (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS embedding
      FROM embeddings
    ),
    cents AS (
      SELECT CAST(vec_id AS INT) AS centroid_id, embedding AS centroid_vec
      FROM e ORDER BY vec_id LIMIT 64
    )
    SELECT vec_id, cluster FROM (
      SELECT e.vec_id, c.centroid_id AS cluster,
             row_number() OVER (PARTITION BY e.vec_id
                                ORDER BY {cos} DESC, c.centroid_id ASC) AS rk
      FROM e CROSS JOIN cents c) WHERE rk = 1
    """


_ORACLE_ASSIGN_SHARDED = _assign_sharded_oracle_sql()


def _semdedup_oracle_sql(
    n_centroids: int = 8,
    threshold: float = 0.9,
    kmeans_iters: int = 2,
    dim: int = 64,
    sample_fraction: float = 0.5,
) -> str:
    cos_ec = _cos_sql("e.embedding", "c.centroid_vec")
    cos_ab = _cos_sql("a.embedding", "b.embedding")
    thr = _sampling.fraction_threshold_hex(sample_fraction)
    iter_blocks = ",".join(
        _kmeans_iter_sql("c0" if i == 1 else f"c{i - 1}", i, dim)
        for i in range(1, kmeans_iters + 1)
    )
    return f"""
    WITH aug AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS embedding
      FROM embeddings
      UNION ALL
      SELECT vec_id + 1000000000 AS vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE) * 1.5) AS embedding
      FROM embeddings WHERE vec_id % 50 = 0
    ),
    ksample AS (
      SELECT vec_id, embedding FROM aug
      WHERE substr(md5(CAST(vec_id AS VARCHAR)), 1, 8) < '{thr}'
    ),
    c0 AS (
      SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS centroid_id,
             embedding AS centroid_vec
      FROM (SELECT vec_id, embedding FROM aug ORDER BY vec_id LIMIT {n_centroids})
    ),
    {iter_blocks},
    cents AS (SELECT centroid_id, centroid_vec FROM c{kmeans_iters}),
    assigned AS (
      SELECT vec_id, embedding, centroid_id AS cluster FROM (
        SELECT e.vec_id, e.embedding, c.centroid_id,
               row_number() OVER (PARTITION BY e.vec_id
                                  ORDER BY {cos_ec} DESC, c.centroid_id ASC) AS rk
        FROM aug e CROSS JOIN cents c) WHERE rk = 1
    ),
    dups AS (
      SELECT DISTINCT b.vec_id FROM assigned a
      JOIN assigned b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
      WHERE {cos_ab} >= {threshold}
    )
    SELECT s.vec_id, s.cluster, (d.vec_id IS NULL) AS kept
    FROM assigned s LEFT JOIN dups d ON s.vec_id = d.vec_id
    """


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------


def q_text_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    # tokenize/regex-heavy per-row work: widen the scan
    d = _t(spark, sf_dir, "documents", parallelize=True)
    return text.text_metrics(d)


def q_text_top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus top-100 token frequencies (vocabulary pass)."""
    d = _t(spark, sf_dir, "documents", parallelize=True)
    return text.top_tokens(d, k=100)


_ORACLE_TOP_TOKENS = """
    WITH toks AS (
      SELECT lower(unnest(string_split_regex(trim(text), '\\s+'))) AS token
      FROM documents WHERE NOT regexp_matches(text, '^\\s*$')
    ),
    counts AS (SELECT token, count(*) AS n FROM toks GROUP BY token)
    SELECT row_number() OVER (ORDER BY n DESC, token ASC) AS rank, token, n
    FROM counts
    ORDER BY n DESC, token ASC
    LIMIT 100
"""


_SW = ", ".join(f"'{w}'" for w in text.EN_STOPWORDS)
_RO = ", ".join(f"'{w}'" for w in ["el", "la", "de", "que", "y", "le", "et", "un", "una", "les"])

_ORACLE_TEXT_METRICS = f"""
    WITH t AS (
      SELECT doc_id, text,
             CASE WHEN regexp_matches(text, '^\\s*$') THEN []::VARCHAR[]
                  ELSE string_split_regex(trim(text), '\\s+') END AS toks
      FROM documents
    ),
    m AS (
      SELECT doc_id, text, toks,
             len(toks) AS n_tokens,
             len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS n_bpe_tokens,
             len(list_filter(toks, x -> list_contains([{_SW}], lower(x)))) AS sw_hits,
             len(list_filter(toks, x -> list_contains([{_RO}], lower(x)))) AS ro_hits,
             length(text) AS n_chars,
             length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS n_punct,
             CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE) AS tok_len_sum
      FROM t
    )
    SELECT doc_id,
           n_tokens,
           n_bpe_tokens,
           round(CASE WHEN n_tokens > 0 THEN CAST(sw_hits AS DOUBLE) / n_tokens ELSE 0.0 END, 6)
             AS stopword_ratio,
           round(CASE WHEN n_chars > 0 THEN CAST(n_punct AS DOUBLE) / n_chars ELSE 0.0 END, 6)
             AS punct_ratio,
           round(CASE WHEN n_tokens > 0 THEN tok_len_sum / n_tokens ELSE 0.0 END, 6)
             AS mean_word_len,
           round((least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0)
                  + least(CASE WHEN n_tokens > 0 THEN CAST(sw_hits AS DOUBLE) / n_tokens
                               ELSE 0.0 END * 4.0, 1.0)) / 2.0
                 * (1.0 - least(CASE WHEN n_chars > 0 THEN CAST(n_punct AS DOUBLE) / n_chars
                                     ELSE 0.0 END * 2.0, 1.0) * 0.5), 6) AS quality,
           CASE WHEN sw_hits > ro_hits AND sw_hits >= 2 THEN 'en'
                WHEN ro_hits > sw_hits AND ro_hits >= 2 THEN 'ro'
                ELSE 'unknown' END AS lang_pred,
           CAST(list_sum(list_transform(range(1, len(toks) + 1),
                    i -> (CAST(i AS BIGINT) * (131 * length(toks[i]) + ascii(toks[i])))
                         % 2147483647)) % 2147483647 AS BIGINT) AS fingerprint
    FROM m
"""


def q_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeated-n-gram quality signals (Gopher-rules family), with
    degenerate repetition PLANTED on every 25th doc (its first 6 tokens
    repeated 5×) so high-dup outliers provably exist."""
    d = _t(spark, sf_dir, "documents", parallelize=True).select("doc_id", "text")
    head6 = F.array_join(F.slice(text.ws_tokens(F.col("text")), 1, 6), " ")
    seeded = d.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 25 == 0,
            F.concat_ws(" ", F.col("text"), *([head6] * 5)),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return text.repetition_metrics(seeded)


_ORACLE_TEXT_REPETITION = """
    WITH seeded AS (
      SELECT doc_id,
             CASE WHEN doc_id % 25 = 0 THEN
               concat_ws(' ', text,
                 array_to_string(string_split_regex(trim(text), '\\s+')[1:6], ' '),
                 array_to_string(string_split_regex(trim(text), '\\s+')[1:6], ' '),
                 array_to_string(string_split_regex(trim(text), '\\s+')[1:6], ' '),
                 array_to_string(string_split_regex(trim(text), '\\s+')[1:6], ' '),
                 array_to_string(string_split_regex(trim(text), '\\s+')[1:6], ' '))
             ELSE text END AS text
      FROM documents
    ),
    t AS (
      SELECT doc_id,
             CASE WHEN regexp_matches(text, '^\\s*$') THEN []::VARCHAR[]
                  ELSE string_split_regex(trim(text), '\\s+') END AS toks
      FROM seeded
    ),
    g AS (
      SELECT doc_id, len(toks) AS n_tokens,
             list_transform(range(1, greatest(len(toks) - 1, 0) + 1),
                            i -> array_to_string(toks[i:i+1], ' ')) AS g2,
             list_transform(range(1, greatest(len(toks) - 2, 0) + 1),
                            i -> array_to_string(toks[i:i+2], ' ')) AS g3
      FROM t
    )
    SELECT doc_id, n_tokens,
           CASE WHEN len(g2) > 0
                THEN round(CAST(len(g2) - len(list_distinct(g2)) AS DOUBLE) / len(g2), 6)
                ELSE 0.0 END AS dup_2gram_frac,
           CASE WHEN len(g3) > 0
                THEN round(CAST(len(g3) - len(list_distinct(g3)) AS DOUBLE) / len(g3), 6)
                ELSE 0.0 END AS dup_3gram_frac
    FROM g
"""


def q_text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction (map-only regexp_replace chain, JVM-side).  The
    synthetic corpus is PII-free, so PII is PLANTED on every 10th doc —
    an email, a phone, and an SSN-shaped token — proving each pattern
    fires; the oracle applies the IDENTICAL chain in the IDENTICAL order
    with RE2 'g' semantics."""
    from csv_etl_spark.operators import cleaning

    d = _t(spark, sf_dir, "documents", parallelize=True).select("doc_id", "text")
    seeded = d.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 10 == 0,
            F.concat(
                F.col("text"),
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com or +1 555-123-4567 ssn 123-45-6789"),
            ),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return cleaning.scrub_pii(seeded)


def _pii_scrub_sql(col: str) -> tuple[str, str]:
    """(scrubbed_expr, count_expr) applying cleaning.PII_PATTERNS in order
    with stage-accurate counting, built from the SAME pattern list the
    Spark operator uses."""
    from csv_etl_spark.operators.cleaning import PII_PATTERNS

    out = col
    counts = []
    for pattern, token in PII_PATTERNS:
        p = pattern.replace("'", "''")
        counts.append(f"len(regexp_extract_all({out}, '{p}'))")
        out = f"regexp_replace({out}, '{p}', '{token}', 'g')"
    return out, " + ".join(counts)


def _oracle_pii_scrub() -> str:
    scrubbed, n = _pii_scrub_sql("text")
    return f"""
    WITH seeded AS (
      SELECT doc_id,
             CASE WHEN doc_id % 10 = 0
                  THEN text || ' contact user' || CAST(doc_id AS VARCHAR)
                       || '@example.com or +1 555-123-4567 ssn 123-45-6789'
                  ELSE text END AS text
      FROM documents
    )
    SELECT doc_id, {scrubbed} AS scrubbed, CAST({n} AS BIGINT) AS n_redactions
    FROM seeded
    """


def q_text_strip_html(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML → text extraction with markup PLANTED around every doc
    (script block with content to kill, heading, entity-bearing
    paragraph, nbsp) — proves block removal, tag→newline structure,
    entity decode and whitespace collapse on every row."""
    from csv_etl_spark.operators.cleaning import strip_html

    d = _t(spark, sf_dir, "documents", parallelize=True).select("doc_id", "text")
    seeded = d.select(
        "doc_id",
        F.concat(
            F.lit("<html><head><title>t</title></head><body><script>var k="),
            F.col("doc_id").cast("string"),
            F.lit(";</script><h1>Doc "),
            F.col("doc_id").cast("string"),
            F.lit("</h1><p>"),
            F.col("text"),
            F.lit(" &amp; more</p><div>tail&nbsp;item</div></body></html>"),
        ).alias("text"),
    )
    return strip_html(seeded)


def _strip_html_sql(col: str) -> str:
    """Nested regexp_replace chain built from the SAME pattern list the
    Spark operator uses (cleaning.HTML_STRIP_PATTERNS) — identical
    patterns, identical order.  Literal-newline replacements become
    chr(10) (DuckDB string literals do not interpret backslash
    escapes)."""
    from csv_etl_spark.operators.cleaning import HTML_STRIP_PATTERNS

    out = col
    for pattern, rep in HTML_STRIP_PATTERNS:
        p = pattern.replace("'", "''")
        r = "chr(10)" if rep == "\n" else "'" + rep.replace("'", "''") + "'"
        out = f"regexp_replace({out}, '{p}', {r}, 'g')"
    return out


def _oracle_strip_html() -> str:
    cleaned = _strip_html_sql("text")
    return f"""
    WITH seeded AS (
      SELECT doc_id,
             '<html><head><title>t</title></head><body><script>var k='
             || CAST(doc_id AS VARCHAR) || ';</script><h1>Doc '
             || CAST(doc_id AS VARCHAR) || '</h1><p>' || text
             || ' &amp; more</p><div>tail&nbsp;item</div></body></html>' AS text
      FROM documents
    )
    SELECT doc_id, {cleaned} AS text,
           CAST(length(text) - length({cleaned}) AS BIGINT) AS n_chars_removed
    FROM seeded
    """


def q_web_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end WEB-corpus curation as ONE Catalyst plan: HTML→text
    extraction → C4 line filter → ≥10-token gate → exact normalized
    dedup (keep lowest id).  Markup, boilerplate lines ("too short.", a
    banned-substring banner) and duplicates (every 15th doc shares one
    body) are all PLANTED so every stage provably fires.  Map-only until
    the single dedup groupBy — one shuffle end to end."""
    from csv_etl_spark.operators.cleaning import filter_lines, strip_html

    d = _t(spark, sf_dir, "documents", parallelize=True).select("doc_id", "text")
    body = F.when(
        F.col("doc_id") % 15 == 0,
        F.lit("duplicate body sentence repeated for the pipeline test."),
    ).otherwise(F.concat(F.col("text"), F.lit(" end of body.")))
    seeded = d.select(
        "doc_id",
        F.concat(
            F.lit("<html><body><p>too short.</p><p>"),
            body,
            F.lit("</p><p>visit our javascript page now.</p></body></html>"),
        ).alias("text"),
    )
    cleaned = filter_lines(strip_html(seeded).select("doc_id", "text"))
    gated = cleaned.select(
        "doc_id", "text", text.token_count(F.col("text")).alias("n_tokens")
    ).filter(F.col("n_tokens") >= 10)
    keyed = gated.select(
        "doc_id", "n_tokens", F.xxhash64(dedup.normalize_text(F.col("text"))).alias("_k")
    )
    return (
        keyed.groupBy("_k")
        .agg(
            F.min(F.struct("doc_id", "n_tokens")).alias("_first"),
            F.count(F.lit(1)).cast("bigint").alias("n_dups"),
        )
        .select(
            F.col("_first.doc_id").alias("doc_id"),
            F.col("_first.n_tokens").alias("n_tokens"),
            "n_dups",
        )
    )


def _oracle_web_curation() -> str:
    cleaned = _strip_html_sql("text")
    return f"""
    WITH seeded AS (
      SELECT doc_id,
             '<html><body><p>too short.</p><p>'
             || CASE WHEN doc_id % 15 = 0
                     THEN 'duplicate body sentence repeated for the pipeline test.'
                     ELSE text || ' end of body.' END
             || '</p><p>visit our javascript page now.</p></body></html>' AS text
      FROM documents
    ),
    x AS (SELECT doc_id, {cleaned} AS text FROM seeded),
    s AS (SELECT doc_id, string_split(text, chr(10)) AS lines FROM x),
    j AS (
      SELECT doc_id,
             array_to_string(list_filter(lines, l ->
               trim(l) != ''
               AND len(string_split_regex(trim(l), '\\s+')) >= 3
               AND regexp_matches(trim(l), '[.!?"'']$')
               AND NOT contains(lower(trim(l)), 'javascript')
               AND NOT contains(lower(trim(l)), 'lorem ipsum')
               AND NOT contains(lower(trim(l)), '{{')
             ), chr(10)) AS text
      FROM s
    ),
    g AS (
      SELECT doc_id, text,
             CAST(CASE WHEN regexp_matches(text, '^\\s*$') THEN 0
                  ELSE len(string_split_regex(trim(text), '\\s+')) END AS BIGINT)
               AS n_tokens,
             trim(regexp_replace(regexp_replace(lower(text), '[^\\w\\s]', '', 'g'),
                  '\\s+', ' ', 'g')) AS nt
      FROM j
    ),
    f AS (SELECT * FROM g WHERE n_tokens >= 10)
    SELECT min_by(doc_id, doc_id) AS doc_id,
           min_by(n_tokens, doc_id) AS n_tokens,
           CAST(count(*) AS BIGINT) AS n_dups
    FROM f GROUP BY nt
    """


def q_text_filter_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style line-level boilerplate removal (Raffel et al. 2020 §2.2).
    The synthetic docs are single-line with no terminal punctuation, so
    multi-line structure is PLANTED: every doc gains a short line, a
    banned-substring line, a punctuation-less line, and one qualifying
    sentence keyed to doc_id — proving each of the three drop rules and
    the keep path fire.  Map-only higher-order functions (split → filter →
    array_join), no shuffle; the oracle applies the identical rules with
    DuckDB list functions."""
    from csv_etl_spark.operators import cleaning

    d = _t(spark, sf_dir, "documents", parallelize=True).select("doc_id", "text")
    seeded = d.select(
        "doc_id",
        F.concat_ws(
            "\n",
            F.col("text"),
            F.lit("too short."),
            F.lit("this line mentions javascript so it is banned."),
            F.lit("this line has no terminal punctuation at all"),
            F.concat(
                F.lit("doc "),
                F.col("doc_id").cast("string"),
                F.lit(" closes with a proper sentence."),
            ),
        ).alias("text"),
    )
    return cleaning.filter_lines(seeded)


_ORACLE_FILTER_LINES = """
    WITH seeded AS (
      SELECT doc_id,
             text || chr(10) || 'too short.'
                  || chr(10) || 'this line mentions javascript so it is banned.'
                  || chr(10) || 'this line has no terminal punctuation at all'
                  || chr(10) || 'doc ' || CAST(doc_id AS VARCHAR)
                  || ' closes with a proper sentence.' AS text
      FROM documents
    ),
    s AS (
      SELECT doc_id, string_split(text, chr(10)) AS lines FROM seeded
    ),
    k AS (
      SELECT doc_id, lines,
             list_filter(lines, l ->
               trim(l) != ''
               AND len(string_split_regex(trim(l), '\\s+')) >= 3
               AND regexp_matches(trim(l), '[.!?"'']$')
               AND NOT contains(lower(trim(l)), 'javascript')
               AND NOT contains(lower(trim(l)), 'lorem ipsum')
               AND NOT contains(lower(trim(l)), '{')
             ) AS kept
      FROM s
    )
    SELECT doc_id, array_to_string(kept, chr(10)) AS text,
           CAST(len(lines) AS BIGINT) AS n_lines,
           CAST(len(kept) AS BIGINT) AS n_lines_kept
    FROM k
"""


def q_corpus_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test decontamination: every 40th document doubles as a
    'benchmark' doc, so the corpus is contaminated by construction; docs
    sharing any 8-token shingle with the benchmark set are dropped.  The
    benchmark shingle set broadcasts (eval sets are tiny next to a TB
    corpus) — the corpus side stays map-only + one doc-keyed aggregate."""
    from csv_etl_spark.operators import cleaning

    d = _t(spark, sf_dir, "documents", parallelize=True).select("doc_id", "text")
    bench = d.filter(F.col("doc_id") % 40 == 0)
    kept = cleaning.decontaminate(d, bench, n=8)
    return kept.select("doc_id")


_ORACLE_DECONTAMINATE = """
    WITH tok AS (
      SELECT doc_id,
             CASE WHEN regexp_matches(text, '^\\s*$') THEN []::VARCHAR[]
                  ELSE string_split_regex(trim(text), '\\s+') END AS toks
      FROM documents
    ),
    csh AS (
      SELECT doc_id, unnest(list_distinct(list_transform(
               range(1, greatest(len(toks) - 7, 0) + 1),
               i -> array_to_string(toks[i:i+7], ' ')))) AS sh
      FROM tok
    ),
    bsh AS (
      SELECT DISTINCT sh FROM csh WHERE doc_id % 40 = 0
    ),
    hits AS (
      SELECT DISTINCT c.doc_id FROM csh c JOIN bsh USING (sh)
    )
    SELECT d.doc_id
    FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
    WHERE h.doc_id IS NULL
"""


def q_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-corpus curation — the composition every
    pretraining data pipeline runs, expressed as ONE Catalyst plan:

        score (lang-id + quality + token count, map-only)
        → gate (language / quality / length filter)
        → exact near-dup removal (normalized text, keep lowest doc_id —
          one shuffle on the normalized key)
        → deterministic md5 train/holdout split (map-only, portable)

    The raw corpus has no normalized duplicates, so — like dedup_embedding
    — duplicates are PLANTED: every 20th document reappears uppercased
    with punctuation appended (same normalized form, different doc_id,
    degraded quality), proving the dedup stage collapses them to the
    original.  The whole pipeline is replicated in the DuckDB oracle, so
    gate arithmetic, dedup choice, and split membership are all
    value-checked.  At 100 TB the only shuffle is the dedup groupBy; the
    scoring/gating/split stages scale linearly with input splits."""
    d = _t(spark, sf_dir, "documents", parallelize=True).select("doc_id", "text")
    planted = d.filter(F.col("doc_id") % 20 == 0).select(
        (F.col("doc_id") + F.lit(1000000000)).alias("doc_id"),
        F.concat(F.upper(F.col("text")), F.lit(" !!!")).alias("text"),
    )
    aug = d.unionByName(planted)
    c = F.col("text")
    scored = aug.select(
        "doc_id",
        text.token_count(c).alias("n_tokens"),
        text.quality_score(c).alias("quality"),
        text.lang_id(c).alias("lang_pred"),
        dedup.normalize_text(c).alias("_norm"),
    )
    gated = scored.filter(
        (F.col("lang_pred") == "en")
        & (F.col("quality") >= 0.25)
        & (F.col("n_tokens") >= 10)
    )
    w = Window.partitionBy("_norm").orderBy("doc_id")
    kept = gated.withColumn("_rk", F.row_number().over(w)).filter(F.col("_rk") == 1)
    holdout_thr = _sampling.fraction_threshold_hex(0.1)
    return kept.select(
        "doc_id",
        "n_tokens",
        "quality",
        "lang_pred",
        F.when(
            _sampling.hash_bucket_hex(F.col("doc_id")) < F.lit(holdout_thr),
            F.lit("holdout"),
        )
        .otherwise(F.lit("train"))
        .alias("split"),
    )


_ORACLE_CORPUS_CURATION = f"""
    WITH aug AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000000 AS doc_id, upper(text) || ' !!!' AS text
      FROM documents WHERE doc_id % 20 = 0
    ),
    t AS (
      SELECT doc_id, text,
             CASE WHEN regexp_matches(text, '^\\s*$') THEN []::VARCHAR[]
                  ELSE string_split_regex(trim(text), '\\s+') END AS toks,
             trim(regexp_replace(regexp_replace(lower(text), '[^\\w\\s]', '', 'g'),
                  '\\s+', ' ', 'g')) AS norm_text
      FROM aug
    ),
    m AS (
      SELECT doc_id, norm_text,
             len(toks) AS n_tokens,
             len(list_filter(toks, x -> list_contains([{_SW}], lower(x)))) AS sw_hits,
             len(list_filter(toks, x -> list_contains([{_RO}], lower(x)))) AS ro_hits,
             length(text) AS n_chars,
             length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS n_punct
      FROM t
    ),
    s AS (
      SELECT doc_id, norm_text, n_tokens,
             round((least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0)
                    + least(CASE WHEN n_tokens > 0 THEN CAST(sw_hits AS DOUBLE) / n_tokens
                                 ELSE 0.0 END * 4.0, 1.0)) / 2.0
                   * (1.0 - least(CASE WHEN n_chars > 0 THEN CAST(n_punct AS DOUBLE) / n_chars
                                       ELSE 0.0 END * 2.0, 1.0) * 0.5), 6) AS quality,
             CASE WHEN sw_hits > ro_hits AND sw_hits >= 2 THEN 'en'
                  WHEN ro_hits > sw_hits AND ro_hits >= 2 THEN 'ro'
                  ELSE 'unknown' END AS lang_pred
      FROM m
    ),
    g AS (
      SELECT * FROM s
      WHERE lang_pred = 'en' AND quality >= 0.25 AND n_tokens >= 10
    ),
    k AS (
      SELECT *, row_number() OVER (PARTITION BY norm_text ORDER BY doc_id) AS rk
      FROM g
    )
    SELECT doc_id, n_tokens, quality, lang_pred,
           CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) < '{{thr}}'
                THEN 'holdout' ELSE 'train' END AS split
    FROM k WHERE rk = 1
"""


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence packing (GPT-style): documents concatenated
    in doc_id order, token stream cut into 512-token training sequences.
    Reduces to ONE exact distributed prefix sum (range shuffle + mapInPandas
    local cumsum + broadcast partition offsets — no unpartitioned window)
    plus map-only integer arithmetic; see operators/packing.py."""
    from csv_etl_spark.operators import packing

    d = _t(spark, sf_dir, "documents", parallelize=True)
    return packing.pack_sequences(d, budget=512)


# Exclusive prefix sum over the doc_id total order; DuckDB's window spelling
# is the *serial* model the distributed operator must reproduce exactly.
_ORACLE_PACK_SEQUENCES = """
    WITH d AS (
      SELECT doc_id,
             CAST(CASE WHEN regexp_matches(text, '^\\s*$') THEN 0
                  ELSE len(string_split_regex(trim(text), '\\s+')) END AS BIGINT)
               AS n_tokens
      FROM documents
    ),
    c AS (
      SELECT doc_id, n_tokens,
             CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
               AS cum_before
      FROM d
    )
    SELECT doc_id, n_tokens,
           cum_before // 512 AS seq_id,
           cum_before % 512 AS seq_offset,
           CASE WHEN n_tokens = 0 THEN CAST(0 AS BIGINT)
                ELSE (cum_before + n_tokens - 1) // 512 - cum_before // 512 + 1
           END AS n_seqs
    FROM c
"""


# ---------------------------------------------------------------------------
# Paragraph / incremental dedup, rolling analytics, length histogram
# ---------------------------------------------------------------------------


def q_dedup_paragraphs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4/RefinedWeb GLOBAL paragraph dedup.  The synthetic docs are
    single-line, so multi-paragraph structure is PLANTED: every doc gains
    a shared header and footer paragraph (corpus-wide boilerplate — kept
    only in the lowest doc) plus a per-doc closing sentence (always
    kept), around its own body.  Winner-per-paragraph is a
    groupBy(key).min(struct) — no window, no join on the winner path."""
    d = _t(spark, sf_dir, "documents", parallelize=True).select("doc_id", "text")
    seeded = d.select(
        "doc_id",
        F.concat_ws(
            "\n",
            F.lit("subscribe to our newsletter today please."),
            F.col("text"),
            F.lit("all rights reserved worldwide."),
            F.concat(
                F.lit("closing paragraph for doc "),
                F.col("doc_id").cast("string"),
                F.lit("."),
            ),
        ).alias("text"),
    )
    return dedup.dedup_paragraphs(seeded)


_ORACLE_DEDUP_PARAGRAPHS = """
    WITH seeded AS (
      SELECT doc_id,
             'subscribe to our newsletter today please.' || chr(10) || text
             || chr(10) || 'all rights reserved worldwide.'
             || chr(10) || 'closing paragraph for doc ' || CAST(doc_id AS VARCHAR) || '.'
               AS text
      FROM documents
    ),
    s AS (SELECT doc_id, string_split(text, chr(10)) AS ps FROM seeded),
    p0 AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(ps) + 1),
                                   i -> {'pos': i, 'para': ps[i]})) AS u
      FROM s
    ),
    p AS (
      SELECT doc_id, u.pos AS pos, u.para AS para,
             trim(regexp_replace(regexp_replace(lower(u.para), '[^\\w\\s]', '', 'g'),
                  '\\s+', ' ', 'g')) AS key
      FROM p0
    ),
    kp AS (
      SELECT doc_id, pos, para FROM (
        SELECT doc_id, pos, para,
               row_number() OVER (PARTITION BY key ORDER BY doc_id, pos) AS rn
        FROM p WHERE key <> ''
      ) WHERE rn = 1
    ),
    ka AS (
      SELECT doc_id, string_agg(para, chr(10) ORDER BY pos) AS text,
             count(*) AS n_kept
      FROM kp GROUP BY doc_id
    ),
    tot AS (
      SELECT doc_id,
             len(list_filter(ps, x ->
               trim(regexp_replace(regexp_replace(lower(x), '[^\\w\\s]', '', 'g'),
                    '\\s+', ' ', 'g')) <> '')) AS n_paragraphs
      FROM s
    )
    SELECT t.doc_id, coalesce(ka.text, '') AS text,
           -- NULL text → 0 paragraphs (Spark side wraps size() in greatest(..,0))
           CAST(coalesce(t.n_paragraphs, 0) AS BIGINT) AS n_paragraphs,
           CAST(coalesce(ka.n_kept, 0) AS BIGINT) AS n_paragraphs_kept
    FROM tot t LEFT JOIN ka ON t.doc_id = ka.doc_id
"""


def _incremental_inputs(spark: SparkSession, sf_dir: str):
    """Shared planted scenario for the two incremental-dedup queries:
    even doc_ids play the already-curated corpus, odd doc_ids the new
    batch; cross-set duplicates planted by giving every batch doc with
    doc_id % 10 == 5 the text of corpus doc (doc_id - 1), within-batch
    duplicates via a constant filler on doc_id % 11 == 0."""
    d = _t(spark, sf_dir, "documents", parallelize=True).select("doc_id", "text")
    corpus = d.filter(F.col("doc_id") % 2 == 0)
    donors = corpus.select(
        (F.col("doc_id") + 1).alias("doc_id"), F.col("text").alias("_donor")
    )
    batch = (
        d.filter(F.col("doc_id") % 2 == 1)
        .join(donors, "doc_id", "left")
        .select(
            "doc_id",
            F.when(
                F.col("doc_id") % 11 == 0, F.lit("duplicate batch filler document.")
            )
            .when(
                (F.col("doc_id") % 10 == 5) & F.col("_donor").isNotNull(),
                F.col("_donor"),
            )
            .otherwise(F.col("text"))
            .alias("text"),
        )
    )
    return batch, corpus


def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup over the planted scenario (_incremental_inputs).
    Survivors = lowest-id batch doc per normalized text whose key the
    corpus has never seen."""
    batch, corpus = _incremental_inputs(spark, sf_dir)
    return dedup.incremental_dedup(batch, corpus)


def q_dedup_incremental_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same planted scenario through the ``bloom=True`` path: corpus keys
    build the shared distributed Bloom bitmap (the decontaminate
    machinery) that pre-filters batch keys BEFORE the exact left_anti —
    the join's shuffle carries only probable-hits, and because the final
    left_anti is still exact, the RESULT is identical to the plain
    variant.  Oracle: dedup_incremental's, verbatim (a Bloom false
    positive can only send an extra key INTO the exact join, never change
    its output)."""
    batch, corpus = _incremental_inputs(spark, sf_dir)
    return dedup.incremental_dedup(batch, corpus, bloom=True)


_ORACLE_DEDUP_INCREMENTAL = """
    WITH corpus AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0),
    donors AS (SELECT doc_id + 1 AS doc_id, text AS donor FROM corpus),
    batch AS (
      SELECT b.doc_id,
             CASE WHEN b.doc_id % 11 = 0 THEN 'duplicate batch filler document.'
                  WHEN b.doc_id % 10 = 5 AND donor IS NOT NULL THEN donor
                  ELSE b.text END AS text
      FROM documents b LEFT JOIN donors ON b.doc_id = donors.doc_id
      WHERE b.doc_id % 2 = 1
    ),
    keys AS (
      SELECT doc_id,
             trim(regexp_replace(regexp_replace(lower(text), '[^\\w\\s]', '', 'g'),
                  '\\s+', ' ', 'g')) AS k
      FROM batch
    ),
    w AS (
      SELECT k, min(doc_id) AS doc_id, count(*) AS n_dups_in_batch
      FROM keys WHERE k <> '' GROUP BY k
    ),
    seen AS (
      SELECT DISTINCT
             trim(regexp_replace(regexp_replace(lower(text), '[^\\w\\s]', '', 'g'),
                  '\\s+', ' ', 'g')) AS k
      FROM corpus
    )
    SELECT w.doc_id, CAST(w.n_dups_in_batch AS BIGINT) AS n_dups_in_batch
    FROM w
    WHERE NOT EXISTS (SELECT 1 FROM seen WHERE seen.k = w.k AND seen.k <> '')
"""


def q_events_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window-FRAME analytics over events: per-user lag/delta, 4-row
    rolling sum/avg, per-user sequence numbers.  One shuffle keyed on
    user_id (high-cardinality — spreads across all reducers)."""
    from csv_etl_spark.operators.rolling import rolling_metrics

    ev = _t(spark, sf_dir, "events", parallelize=True)
    return rolling_metrics(ev, frame_rows=3)


_ORACLE_EVENTS_ROLLING = """
    SELECT user_id, event_id, value,
           lag(value) OVER w AS prev_value,
           round(value - lag(value) OVER w, 6) AS delta,
           round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN 3 PRECEDING AND CURRENT ROW), 6) AS rolling_sum,
           round(avg(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN 3 PRECEDING AND CURRENT ROW), 6) AS rolling_avg,
           CAST(row_number() OVER w AS BIGINT) AS seq
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
"""


def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window token chunking (32-token chunks, 8-token overlap)
    — map-only posexplode + array slice, no shuffle."""
    from csv_etl_spark.operators.packing import chunk_documents

    d = _t(spark, sf_dir, "documents", parallelize=True).select("doc_id", "text")
    return chunk_documents(d, chunk_tokens=32, overlap=8)


# stride = 32 - 8 = 24; chunk c covers tokens [c*24+1 .. c*24+32] (1-based,
# end-inclusive DuckDB slice == Spark slice(start, length) with auto-cap)
_ORACLE_CHUNK_DOCUMENTS = """
    WITH t AS (
      SELECT doc_id,
             CASE WHEN regexp_matches(text, '^\\s*$') THEN []::VARCHAR[]
                  ELSE string_split_regex(trim(text), '\\s+') END AS toks
      FROM documents
    ),
    g AS (
      SELECT doc_id, toks, len(toks) AS n,
             CASE WHEN len(toks) = 0 THEN 0
                  WHEN len(toks) <= 8 THEN 1
                  ELSE CAST(ceil((len(toks) - 8) / 24.0) AS BIGINT) END AS n_chunks
      FROM t
    ),
    c AS (
      SELECT doc_id, toks, n, unnest(range(0, n_chunks)) AS cid FROM g
    )
    SELECT doc_id, CAST(cid AS BIGINT) AS chunk_id,
           array_to_string(toks[CAST(cid*24+1 AS BIGINT):CAST(cid*24+32 AS BIGINT)], ' ')
             AS chunk_text,
           CAST(len(toks[CAST(cid*24+1 AS BIGINT):CAST(cid*24+32 AS BIGINT)]) AS BIGINT)
             AS n_chunk_tokens
    FROM c
"""


def q_tokens_to_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequency-ranked vocabulary encoding (vocab_size=20 so OOV→0
    actually fires on this corpus: its full vocabulary is larger).  The
    id array is emitted space-joined — a string column hashes identically
    across engines, while list-cell repr does not."""
    d = _t(spark, sf_dir, "documents", parallelize=True).select("doc_id", "text")
    out = text.tokens_to_ids(d, vocab_size=20)
    return out.select(
        "doc_id",
        F.array_join("token_ids", " ").alias("token_ids"),
        "n_tokens",
        "n_oov",
    )


_ORACLE_TOKENS_TO_IDS = """
    WITH ts AS (
      SELECT doc_id,
             CASE WHEN regexp_matches(text, '^\\s*$') THEN []::VARCHAR[]
                  ELSE string_split_regex(trim(text), '\\s+') END AS toks
      FROM documents
    ),
    t0 AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(toks) + 1),
                                   i -> {'pos': i, 'tok': lower(toks[i])})) AS u
      FROM ts
    ),
    t AS (SELECT doc_id, u.pos AS pos, u.tok AS tok FROM t0),
    counts AS (SELECT tok, count(*) AS n FROM t GROUP BY tok),
    vocab AS (
      SELECT tok, row_number() OVER (ORDER BY n DESC, tok ASC) AS rank
      FROM counts ORDER BY n DESC, tok ASC LIMIT 20
    ),
    enc AS (
      SELECT t.doc_id, t.pos, coalesce(v.rank, 0) AS id
      FROM t LEFT JOIN vocab v ON t.tok = v.tok
    ),
    agg AS (
      SELECT doc_id,
             array_to_string(list(id ORDER BY pos), ' ') AS token_ids,
             count(*) AS n_tokens,
             sum(CASE WHEN id = 0 THEN 1 ELSE 0 END) AS n_oov
      FROM enc GROUP BY doc_id
    )
    SELECT d.doc_id,
           coalesce(a.token_ids, '') AS token_ids,
           CAST(coalesce(a.n_tokens, 0) AS BIGINT) AS n_tokens,
           CAST(coalesce(a.n_oov, 0) AS BIGINT) AS n_oov
    FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id
"""


def q_corpus_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global training-order shuffle: position = exclusive
    prefix sum of 1s over the md5(id) order (window-free — the oracle's
    row_number spelling is the serial model the distributed prefix sum
    must reproduce exactly)."""
    from csv_etl_spark.operators.packing import shuffled_positions

    d = _t(spark, sf_dir, "documents", parallelize=True).select("doc_id")
    return shuffled_positions(d)


_ORACLE_CORPUS_SHUFFLE = """
    SELECT doc_id,
           CAST(row_number() OVER (
             ORDER BY md5(CAST(doc_id AS VARCHAR) || '|')) - 1 AS BIGINT)
             AS position
    FROM documents
"""


def q_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-estimated unigram LM quality score per doc (the CCNet
    perplexity-gate shape).  avg rounded to 6 decimals: libm ln() may
    differ in the last ulp between engines."""
    d = _t(spark, sf_dir, "documents", parallelize=True).select("doc_id", "text")
    return text.unigram_logprob(d)


_ORACLE_UNIGRAM_LOGPROB = """
    WITH ts AS (
      SELECT doc_id,
             CASE WHEN regexp_matches(text, '^\\s*$') THEN []::VARCHAR[]
                  ELSE string_split_regex(trim(text), '\\s+') END AS toks
      FROM documents
    ),
    t AS (SELECT doc_id, lower(unnest(toks)) AS tok FROM ts),
    counts AS (SELECT tok, count(*) AS n FROM t GROUP BY tok),
    tot AS (SELECT CAST(sum(n) AS DOUBLE) AS total FROM counts),
    sc AS (
      SELECT t.doc_id, ln(c.n / tot.total) AS lp
      FROM t JOIN counts c ON t.tok = c.tok CROSS JOIN tot
    ),
    agg AS (
      SELECT doc_id, count(*) AS n_tokens, round(avg(lp), 6) AS avg_logprob
      FROM sc GROUP BY doc_id
    )
    SELECT d.doc_id,
           CAST(coalesce(a.n_tokens, 0) AS BIGINT) AS n_tokens,
           coalesce(a.avg_logprob, 0.0) AS avg_logprob
    FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id
"""


def q_salted_agg_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase skew-salted aggregation over the LOW-cardinality
    event_type key (the exact shape where one hot key would otherwise pin
    one reducer).  The salted result must equal a plain GROUP BY — that
    equality IS the oracle.  Double sums rounded to 6 decimals: the
    salted merge and DuckDB's single-pass sum add in different orders
    (error ~1e-8 at this scale, far under the rounding)."""
    from csv_etl_spark.operators.partitioning import salted_agg

    ev = _t(spark, sf_dir, "events", parallelize=True)
    out = salted_agg(
        ev.select("event_type", "value"),
        keys=["event_type"],
        aggs=[
            ("value", "count", "n_events"),
            ("value", "sum", "sum_value"),
            ("value", "min", "min_value"),
            ("value", "max", "max_value"),
        ],
        n_salts=16,
    )
    return out.select(
        "event_type",
        F.col("n_events").cast("bigint").alias("n_events"),
        F.round("sum_value", 6).alias("sum_value"),
        "min_value",
        "max_value",
    )


_ORACLE_SALTED_AGG = """
    SELECT event_type,
           CAST(count(value) AS BIGINT) AS n_events,
           round(sum(value), 6) AS sum_value,
           min(value) AS min_value,
           max(value) AS max_value
    FROM events GROUP BY event_type
"""


def q_length_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust corpus length-outlier gate (median/MAD, exact percentiles
    — the same percentile==quantile_cont parity value_percentiles
    proves)."""
    d = _t(spark, sf_dir, "documents", parallelize=True).select("doc_id", "text")
    return text.length_outliers(d, k=3.0)


_ORACLE_LENGTH_OUTLIERS = """
    WITH n AS (
      SELECT doc_id,
             CAST(CASE WHEN regexp_matches(text, '^\\s*$') THEN 0
                  ELSE len(string_split_regex(trim(text), '\\s+')) END AS BIGINT)
               AS n_tokens
      FROM documents
    ),
    med AS (SELECT quantile_cont(CAST(n_tokens AS DOUBLE), 0.5) AS m FROM n),
    mad AS (
      SELECT quantile_cont(abs(CAST(n.n_tokens AS DOUBLE) - med.m), 0.5) AS d
      FROM n CROSS JOIN med
    )
    SELECT n.doc_id, n.n_tokens,
           round(CASE WHEN mad.d > 0
                      THEN abs(CAST(n.n_tokens AS DOUBLE) - med.m) / mad.d
                      ELSE 0.0 END, 6) AS deviation,
           (CASE WHEN mad.d > 0
                 THEN abs(CAST(n.n_tokens AS DOUBLE) - med.m) / mad.d
                 ELSE 0.0 END) > 3.0 AS is_outlier
    FROM n CROSS JOIN med CROSS JOIN mad
"""


def q_events_rolling_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-RANGE frame analytics: per-user activity over the trailing
    10 minutes (sum/count) + inter-event gap — the irregular-spacing
    window ROWS frames can't express.  Epoch-second numeric RANGE frame,
    portable across engines."""
    from csv_etl_spark.operators.rolling import rolling_time_metrics

    ev = _t(spark, sf_dir, "events", parallelize=True)
    return rolling_time_metrics(ev, window_seconds=600)


_ORACLE_EVENTS_ROLLING_TIME = """
    WITH e AS (
      -- floor, not CAST: epoch() keeps fractional seconds and BIGINT
      -- casts round-half-up, while Spark's unix_timestamp truncates
      SELECT user_id, event_id, value, CAST(floor(epoch(ts)) AS BIGINT) AS ep
      FROM events
    )
    SELECT user_id, event_id, value,
           round(sum(value) OVER (PARTITION BY user_id ORDER BY ep
                 RANGE BETWEEN 600 PRECEDING AND CURRENT ROW), 6) AS window_sum,
           CAST(count(*) OVER (PARTITION BY user_id ORDER BY ep
                 RANGE BETWEEN 600 PRECEDING AND CURRENT ROW) AS BIGINT) AS window_n,
           CAST(ep - lag(ep) OVER (PARTITION BY user_id ORDER BY ep, event_id)
                AS BIGINT) AS secs_since_prev
    FROM e
"""


def q_doc_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-length distribution of the corpus in 16-token bins — the
    pass that picks sequence budgets and length gates.  Map-side partials
    reduce to ~n_bins rows."""
    d = _t(spark, sf_dir, "documents", parallelize=True)
    return text.length_histogram(d, bin_width=16)


_ORACLE_DOC_LENGTH_HISTOGRAM = """
    WITH n AS (
      SELECT CAST(CASE WHEN regexp_matches(text, '^\\s*$') THEN 0
                  ELSE len(string_split_regex(trim(text), '\\s+')) END AS BIGINT)
               AS n_tokens
      FROM documents
    ),
    b AS (SELECT n_tokens, n_tokens // 16 AS bin FROM n)
    SELECT bin * 16 AS bin_lo, bin * 16 + 15 AS bin_hi,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens
    FROM b GROUP BY bin
"""


# ---------------------------------------------------------------------------
# Streaming semantics (batch-equivalent checks; live-stream tests in tests/)
# ---------------------------------------------------------------------------


def q_stream_hourly_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    out = windowed_counts(ev, window="1 hour", watermark="2 hours")
    return out.select(
        F.date_format("window_start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        "event_type",
        "n_events",
        "sum_value",
    )


_ORACLE_STREAM_HOURLY = f"""
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type, count(*) AS n_events,
           {_dsum_sql('value', 'sum_value', 6)}
    FROM events
    GROUP BY 1, 2
"""


def q_stream_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    out = sessionize(ev, gap="30 minutes", watermark="2 hours")
    return out.select(
        F.date_format("session_start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
        "user_id",
        "n_events",
        "sum_value",
    )


_ORACLE_SESSIONIZE = """
    WITH x AS (
      SELECT user_id, ts, value,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                       > INTERVAL 30 MINUTE
                  OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                  THEN 1 ELSE 0 END AS brk
      FROM events
    ),
    y AS (
      SELECT user_id, ts, value,
             sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                            ROWS UNBOUNDED PRECEDING) AS grp
      FROM x
    )
    SELECT strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           user_id, count(*) AS n_events,
           round(CAST(sum(CAST(value AS DECIMAL(38,6))) AS DOUBLE), 6) AS sum_value
    FROM y
    GROUP BY user_id, grp
"""


# ---------------------------------------------------------------------------
# Multimodal plumbing
# ---------------------------------------------------------------------------


def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    media = documents_as_media(d)
    feats = extract_features(media)
    return feats.select(
        "media_id",
        "kind",
        "n_bytes",
        "checksum",
        # features is array<float>; cast to double so the pandas repr
        # matches the oracle's DOUBLE exactly (float32 123.4 != double 123.4)
        F.round(F.element_at("features", 4).cast("double"), 1).alias("f4"),
    )


_ORACLE_MULTIMODAL = """
    SELECT doc_id AS media_id,
           'image' AS kind,
           octet_length(encode(text)) AS n_bytes,
           CAST(list_sum(list_transform(range(1, least(length(text), 256) + 1),
                    i -> ascii(text[i]))) % 1000003 AS BIGINT) AS checksum,
           round(CAST(list_sum(list_transform(range(1, least(length(text), 64) + 1),
                      i -> ascii(text[i]))) % 997 AS DOUBLE), 1) AS f4
    FROM documents
"""


# ---------------------------------------------------------------------------
# Round 6: Gopher quality gate, data-mixture resampling, int8-quantized ANN,
# image dHash near-dup
# ---------------------------------------------------------------------------


def q_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher document-quality rules (Rae et al. 2021 §A1.1) — word-count,
    mean-word-length, symbol/bullet/ellipsis, alpha-word and stopword
    gates in one map-only pass (operators/text.py).  min_words=50 and
    min_stopword_hits=1 are the thresholds that discriminate on this
    corpus (277/500 and 382/500 pass respectively at sf0.01)."""
    d = _t(spark, sf_dir, "documents", parallelize=True)
    return text.gopher_quality(d, min_words=50, min_stopword_hits=1)


_GSW = ", ".join(f"'{w}'" for w in text.GOPHER_STOPWORDS)

_ORACLE_GOPHER = f"""
    WITH t AS (
      SELECT doc_id, text,
             CASE WHEN regexp_matches(text, '^\\s*$') THEN []::VARCHAR[]
                  ELSE string_split_regex(trim(text), '\\s+') END AS toks
      FROM documents
    ),
    m AS (
      SELECT doc_id, text, toks,
             len(toks) AS n_words,
             CASE WHEN len(toks) > 0
                  THEN CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE) / len(toks)
                  ELSE 0.0 END AS mean_len,
             len(regexp_extract_all(text, '#'))
               + len(regexp_extract_all(text, '(\\.\\.\\.|…)')) AS n_symbols,
             list_filter(string_split(text, chr(10)), x -> trim(x) <> '') AS lines,
             len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]'))) AS n_alpha,
             len(list_intersect(list_transform(toks, x -> lower(x)), [{_GSW}])) AS sw_hits
      FROM t
    ),
    r AS (
      SELECT doc_id, n_words, mean_len, sw_hits,
             CASE WHEN n_words > 0 THEN CAST(n_symbols AS DOUBLE) / n_words ELSE 0.0 END AS symbol_ratio,
             CASE WHEN len(lines) > 0
                  THEN CAST(len(list_filter(lines, x -> regexp_matches(trim(x), '^[-*•]'))) AS DOUBLE) / len(lines)
                  ELSE 0.0 END AS bullet_frac,
             CASE WHEN len(lines) > 0
                  THEN CAST(len(list_filter(lines, x -> regexp_matches(trim(x), '(\\.\\.\\.|…)$'))) AS DOUBLE) / len(lines)
                  ELSE 0.0 END AS ellipsis_frac,
             CASE WHEN n_words > 0 THEN CAST(n_alpha AS DOUBLE) / n_words ELSE 0.0 END AS alpha_frac
      FROM m
    )
    SELECT doc_id, n_words,
           round(mean_len, 6) AS mean_word_len,
           round(symbol_ratio, 6) AS symbol_ratio,
           round(bullet_frac, 6) AS bullet_frac,
           round(ellipsis_frac, 6) AS ellipsis_frac,
           round(alpha_frac, 6) AS alpha_frac,
           sw_hits AS n_stopword_hits,
           (n_words >= 50 AND n_words <= 100000
            AND mean_len >= 3.0 AND mean_len <= 10.0
            AND symbol_ratio <= 0.1 AND bullet_frac <= 0.9
            AND ellipsis_frac <= 0.3 AND alpha_frac >= 0.8
            AND sw_hits >= 1) AS keep
    FROM r
"""


# weights: src0 up-sampled 2.5x, src1 down to 25%, src2 dropped, rest 1x —
# every arm of the copy-count logic (floor, bernoulli-extra, zero, default)
_MIX_WEIGHTS = {"src0": 2.5, "src1": 0.25, "src2": 0.0}


def q_mixture_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic data-mixture resampling to target source weights
    (operators/sampling.py): floor(w) copies per doc plus an md5-keyed
    bernoulli(frac(w)) extra — map-only, engine-portable."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "source")
    return _sampling.mixture_resample(
        d, weights=_MIX_WEIGHTS, group_col="source", key_col="doc_id"
    )


def _mix_copies_sql() -> str:
    arms = []
    for src, w in _MIX_WEIGHTS.items():
        base, frac = int(w), w - int(w)
        thr = _sampling.fraction_threshold_hex(frac)
        extra = (
            f"CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) < '{thr}'"
            " THEN 1 ELSE 0 END"
        )
        arms.append(f"WHEN '{src}' THEN {base} + {extra}")
    return "CASE source " + " ".join(arms) + " ELSE 1 END"


_ORACLE_MIXTURE = f"""
    SELECT doc_id, source, gs.k AS copy
    FROM documents
    CROSS JOIN (SELECT unnest(generate_series(1, 3)) AS k) gs
    WHERE gs.k <= ({_mix_copies_sql()})
"""


def q_ann_quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k over int8-quantized vectors — 4x less scan
    bandwidth at 100 TB; cosine is scale-invariant so the quantized codes
    search directly (operators/similarity.py)."""
    e = _t(spark, sf_dir, "embeddings")
    probes = similarity.make_probes(e, n=10)
    return similarity.quantized_topk(e, probes, k=5)


# rank by the ROUNDED cosine exactly as the Spark side does (scored rows
# carry round(cos, 6) before top-k), so round-boundary ties break on id
# identically in both engines
_ORACLE_ANN_QUANTIZED = f"""
    WITH q AS (
      SELECT vec_id,
             CASE WHEN amax > 0
                  THEN list_transform(embedding,
                         x -> CAST(round(CAST(x AS DOUBLE) / (amax / 127.0)) AS INT))
                  ELSE list_transform(embedding, x -> 0) END AS qvec
      FROM (
        SELECT vec_id, embedding,
               list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS amax
        FROM embeddings
      )
    ),
    probes AS (
      SELECT vec_id AS probe_id, qvec AS probe_vec FROM q ORDER BY vec_id LIMIT 10
    )
    SELECT probe_id, neighbor_id, cosine, rank
    FROM (
      SELECT p.probe_id, e.vec_id AS neighbor_id,
             round({_cos_sql('e.qvec', 'p.probe_vec')}, 6) AS cosine,
             row_number() OVER (
               PARTITION BY p.probe_id
               ORDER BY round({_cos_sql('e.qvec', 'p.probe_vec')}, 6) DESC, e.vec_id ASC
             ) AS rank
      FROM q e CROSS JOIN probes p
      WHERE e.vec_id <> p.probe_id
    )
    WHERE rank <= 5
"""


def q_image_dhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-image 64-bit perceptual difference hash over the media adapter
    frames (operators/multimodal.py): Arrow-batched kernel, hex16 output.
    The oracle re-derives the same hash from the byte stream with pure
    integer math."""
    from csv_etl_spark.operators.multimodal import image_dhash

    d = _t(spark, sf_dir, "documents", parallelize=True)
    return image_dhash(documents_as_media(d))


def _dhash_row_sql(r: int) -> str:
    terms = [
        f"(CASE WHEN p[{r * 9 + c + 1}] > p[{r * 9 + c + 2}] THEN {1 << c} ELSE 0 END)"
        for c in range(8)
    ]
    return "(" + " + ".join(terms) + ")"


def _dhash_px_cte(from_clause: str = "documents") -> str:
    # Byte-TRUE sampling, mirroring the Spark kernel's
    # ``content[(i*n)//72]`` over the UTF-8 octet stream: this DuckDB
    # build has no BLOB substring, so the oracle goes through
    # hex(encode(text)) — hex chars 2i+1..2i+2 ARE byte i — instead of
    # character indexing, which would diverge from the kernel on any
    # multi-byte codepoint (no ASCII-only corpus assumption needed).
    return f"""
    px AS (
      SELECT media_id,
             CASE WHEN n = 0
                  THEN list_transform(range(0, 72), i -> 0)
                  ELSE list_transform(range(0, 72),
                         i -> CAST('0x' || substring(
                                hx, CAST(2 * ((i * n) // 72) AS INT) + 1, 2)
                              AS INT))
             END AS p
      FROM (SELECT doc_id AS media_id, hex(encode(text)) AS hx,
                   octet_length(encode(text)) AS n
            FROM {from_clause})
    )
"""


_DHASH_PX_CTE = _dhash_px_cte()

_DHASH_HEX_SQL = (
    "printf('" + "%02x" * 8 + "', "
    + ", ".join(_dhash_row_sql(r) for r in range(8))
    + ")"
)

_ORACLE_IMAGE_DHASH = f"""
    WITH {_DHASH_PX_CTE}
    SELECT media_id, {_DHASH_HEX_SQL} AS dhash FROM px
"""


def q_image_dhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-dup pairs: dHash → 16-bit band equijoin → exact Hamming
    verify (conv/xor/bit_count, JVM-side).  The corpus is augmented with a
    deterministic near-dup per 50th doc (first byte replaced, length
    preserved — the byte-sampling analogue of a brightness tweak, moving
    the hash ≤ 1 bit) so the query demonstrably FINDS pairs; exact text
    dups in the data land at Hamming 0 through the same path."""
    from csv_etl_spark.operators.multimodal import dhash_near_dup_pairs, image_dhash

    d = _t(spark, sf_dir, "documents", parallelize=True)
    tweaked = d.filter(F.col("doc_id") % 50 == 0).select(
        (F.col("doc_id") + F.lit(1000000)).alias("doc_id"),
        F.concat(F.lit("Z"), F.expr("substring(text, 2)")).alias("text"),
        F.col("source"),
    )
    media = documents_as_media(d.select("doc_id", "text", "source")).unionByName(
        documents_as_media(tweaked)
    )
    return dhash_near_dup_pairs(image_dhash(media), max_hamming=4, allow_recall_gap=True)


def _dhash_pairs_oracle() -> str:
    rows = ", ".join(_dhash_row_sql(r) for r in range(8))
    ham = " + ".join(f"bit_count(xor(a.b[{r}], c.b[{r}]))" for r in range(1, 9))
    # band_arity=2 (the operator's scale default since r8): candidates
    # must agree on >= 2 of the 4 16-bit bands (two consecutive byte rows
    # per band), not just one
    band_eq = " + ".join(
        f"(CASE WHEN a.b[{2 * i + 1}] = c.b[{2 * i + 1}]"
        f" AND a.b[{2 * i + 2}] = c.b[{2 * i + 2}] THEN 1 ELSE 0 END)"
        for i in range(4)
    ) + " >= 2"
    aug = (
        "aug AS (SELECT doc_id, text FROM documents"
        " UNION ALL"
        " SELECT doc_id + 1000000 AS doc_id, 'Z' || substr(text, 2) AS text"
        " FROM documents WHERE doc_id % 50 = 0)"
    )
    return f"""
    WITH {aug},
    {_dhash_px_cte("aug")},
    h AS (SELECT media_id, [{rows}] AS b FROM px)
    SELECT a.media_id AS id_a, c.media_id AS id_b,
           CAST({ham} AS BIGINT) AS hamming
    FROM h a JOIN h c ON a.media_id < c.media_id
    WHERE ({band_eq}) AND ({ham}) <= 4
"""


_ORACLE_IMAGE_DHASH_PAIRS = _dhash_pairs_oracle()


def q_image_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-dup CLUSTERS: the dHash banded-Hamming pair graph fed to
    the SAME connected-components resolver the text dedup family uses
    (dedup.resolve_duplicate_clusters) — pair generators are modality-
    specific, cluster resolution is shared.  Same planted near-dups as
    image_dhash_pairs, so every planted (orig, tweak) pair collapses to
    one component."""
    from csv_etl_spark.operators.multimodal import dhash_near_dup_pairs, image_dhash

    d = _t(spark, sf_dir, "documents", parallelize=True)
    tweaked = d.filter(F.col("doc_id") % 50 == 0).select(
        (F.col("doc_id") + F.lit(1000000)).alias("doc_id"),
        F.concat(F.lit("Z"), F.expr("substring(text, 2)")).alias("text"),
        F.col("source"),
    )
    media = documents_as_media(d.select("doc_id", "text", "source")).unionByName(
        documents_as_media(tweaked)
    )
    pairs = dhash_near_dup_pairs(image_dhash(media), max_hamming=4, allow_recall_gap=True)
    return dedup.resolve_duplicate_clusters(pairs).select("id", "cluster_id")


def _image_clusters_oracle() -> str:
    rows = ", ".join(_dhash_row_sql(r) for r in range(8))
    ham = " + ".join(f"bit_count(xor(a.b[{r}], c.b[{r}]))" for r in range(1, 9))
    # band_arity=2 candidates (>= 2 shared bands) — see _dhash_pairs_oracle
    band_eq = " + ".join(
        f"(CASE WHEN a.b[{2 * i + 1}] = c.b[{2 * i + 1}]"
        f" AND a.b[{2 * i + 2}] = c.b[{2 * i + 2}] THEN 1 ELSE 0 END)"
        for i in range(4)
    ) + " >= 2"
    aug = (
        "aug AS (SELECT doc_id, text FROM documents"
        " UNION ALL"
        " SELECT doc_id + 1000000 AS doc_id, 'Z' || substr(text, 2) AS text"
        " FROM documents WHERE doc_id % 50 = 0)"
    )
    return f"""
    WITH RECURSIVE {aug},
    {_dhash_px_cte("aug")},
    h AS (SELECT media_id, [{rows}] AS b FROM px),
    pairs AS (
      SELECT a.media_id AS id_a, c.media_id AS id_b
      FROM h a JOIN h c ON a.media_id < c.media_id
      WHERE ({band_eq}) AND ({ham}) <= 4
    ),
    edges AS (
      SELECT id_a AS u, id_b AS v FROM pairs
      UNION SELECT id_b AS u, id_a AS v FROM pairs
    ),
    reach(u, v) AS (
      SELECT u, u FROM edges
      UNION
      SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
    )
    SELECT u AS id, min(v) AS cluster_id
    FROM reach GROUP BY u
"""


_ORACLE_IMAGE_DUP_CLUSTERS = _image_clusters_oracle()


def q_stats_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type mean/stddev of value and its covariance/correlation
    with time — computed from EXACT fixed-point moments
    (operators/stats.py) so the result is bit-reproducible on any engine
    and any partitioning, unlike double-accumulating stddev/corr.  One
    groupBy with map-side partials; y = truncated-second epoch (Spark
    unix_timestamp == floor(epoch) in the oracle).  center_y re-centers
    the epoch column before quantizing: raw epoch seconds would exhaust
    the decimal(38,0) moment headroom after ~3e7 rows/group; centered,
    the same group holds ~1e10 rows, and overflow past that raises
    instead of silently NULLing (stats.py module docstring)."""
    from csv_etl_spark.operators.stats import moment_stats

    e = _t(spark, sf_dir, "events").select(
        "event_type",
        F.col("value").cast("double").alias("value"),
        F.unix_timestamp("ts").cast("double").alias("ts_epoch"),
    )
    return moment_stats(
        e, "value", "ts_epoch", by=["event_type"], center_y=_EPOCH_CENTER
    )


# Any epoch near the data works (stats are shift-invariant; mean_x adds
# it back); a multiple of 1e-6 keeps the quantized shift exact.
_EPOCH_CENTER = 1_700_000_000.0


def _stats_oracle() -> str:
    from csv_etl_spark.operators.stats import moment_stats_oracle_sql

    derived = (
        "(SELECT event_type, CAST(value AS DOUBLE) AS value,"
        " CAST(floor(epoch(ts)) AS DOUBLE) AS ts_epoch FROM events) ev"
    )
    return moment_stats_oracle_sql(
        derived, "value", "ts_epoch", by=["event_type"], center_y=_EPOCH_CENTER
    )


_ORACLE_STATS_MOMENTS = _stats_oracle()


def q_window_funcs_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking/distribution window-function breadth per customer: ntile
    quartile, percent_rank, cume_dist, lag/lead — one window, partitioned
    on the HIGH-cardinality o_custkey (scales out; deterministic total
    order via the o_orderkey tiebreak)."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.ntile(4).over(w).alias("price_quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
        F.lag("o_orderkey", 1).over(w).alias("prev_key"),
        F.lead("o_orderkey", 1).over(w).alias("next_key"),
    )


_ORACLE_WINDOW_FUNCS = """
    SELECT o_custkey, o_orderkey,
           ntile(4) OVER w AS price_quartile,
           round(percent_rank() OVER w, 6) AS pct_rank,
           round(cume_dist() OVER w, 6) AS cume,
           lag(o_orderkey, 1) OVER w AS prev_key,
           lead(o_orderkey, 1) OVER w AS next_key
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC)
"""


def q_training_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-mix assembly: Gopher quality gate → per-source
    mixture resampling — the composition a real corpus build runs (filter
    junk, then hit the target data mixture).  One Catalyst plan: the gate
    is map-only, the resample is map-only, the only shuffle is the
    doc-keyed join carrying `source` back to the gated ids."""
    d = _t(spark, sf_dir, "documents", parallelize=True)
    gated = (
        text.gopher_quality(d, min_words=50, min_stopword_hits=1)
        .filter(F.col("keep"))
        .select("doc_id")
    )
    kept = d.select("doc_id", "source").join(gated, "doc_id")
    return _sampling.mixture_resample(
        kept, weights=_MIX_WEIGHTS, group_col="source", key_col="doc_id"
    )


_ORACLE_TRAINING_MIX = f"""
    WITH g AS ({_ORACLE_GOPHER})
    SELECT d.doc_id, d.source, gs.k AS copy
    FROM documents d
    JOIN g ON d.doc_id = g.doc_id AND g.keep
    CROSS JOIN (SELECT unnest(generate_series(1, 3)) AS k) gs
    WHERE gs.k <= (CASE d.source
        {" ".join(
            f"WHEN '{src}' THEN {int(w)} + CASE WHEN substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 8) < '{_sampling.fraction_threshold_hex(w - int(w))}' THEN 1 ELSE 0 END"
            for src, w in _MIX_WEIGHTS.items()
        )}
        ELSE 1 END)
"""


def q_text_top_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus top-100 adjacent-token-pair frequencies — the BPE first-merge
    statistic (operators/text.top_token_pairs); same TakeOrdered scale
    shape as the unigram vocabulary pass."""
    d = _t(spark, sf_dir, "documents", parallelize=True)
    return text.top_token_pairs(d, k=100)


_ORACLE_TOP_BIGRAMS = """
    WITH t AS (
      SELECT CASE WHEN regexp_matches(text, '^\\s*$') THEN []::VARCHAR[]
                  ELSE string_split_regex(trim(text), '\\s+') END AS toks
      FROM documents
    ),
    lt AS (SELECT list_transform(toks, x -> lower(x)) AS toks FROM t),
    p AS (
      SELECT unnest(CASE WHEN len(toks) < 2 THEN []::VARCHAR[]
                    ELSE list_transform(range(1, len(toks)),
                                        i -> toks[i] || ' ' || toks[i + 1]) END) AS pair
      FROM lt
    ),
    c AS (SELECT pair, count(*) AS n FROM p GROUP BY pair)
    SELECT row_number() OVER (ORDER BY n DESC, pair ASC) AS rank, pair, n
    FROM c ORDER BY n DESC, pair ASC LIMIT 100
"""


def q_dedup_doc_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WITHIN-document line dedup (the intra-doc half of the C4 recipe;
    cleaning.dedup_lines_within_doc).  The corpus is single-line, so the
    query derives line structure deterministically (a newline every 6
    tokens) and plants one repeated line per doc (the first line appended
    at the end) — the operator must collapse exactly that repeat while
    preserving first-occurrence order."""
    from csv_etl_spark.operators.cleaning import dedup_lines_within_doc

    d = _t(spark, sf_dir, "documents", parallelize=True)
    lined = F.regexp_replace(
        F.col("text"), r"(\S+ \S+ \S+ \S+ \S+ \S+) ", "$1\n"
    )
    planted = F.concat(lined, F.lit("\n"), F.element_at(F.split(lined, "\n"), 1))
    return dedup_lines_within_doc(d.select("doc_id", planted.alias("text")))


_ORACLE_DOC_LINES = """
    WITH lined AS (
      SELECT doc_id,
             regexp_replace(text,
               '(\\S+ \\S+ \\S+ \\S+ \\S+ \\S+) ', '\\1' || chr(10), 'g') AS lt
      FROM documents
    ),
    planted AS (
      SELECT doc_id, lt || chr(10) || string_split(lt, chr(10))[1] AS text
      FROM lined
    ),
    pos AS (
      SELECT doc_id,
             unnest(string_split(text, chr(10))) AS line,
             unnest(generate_series(1, len(string_split(text, chr(10))))) AS i,
             len(string_split(text, chr(10))) AS n_lines
      FROM planted
    ),
    firsts AS (
      SELECT doc_id, line, min(i) AS first_i, any_value(n_lines) AS n_lines
      FROM pos GROUP BY doc_id, line
    )
    SELECT doc_id,
           string_agg(line, chr(10) ORDER BY first_i) AS text,
           CAST(any_value(n_lines) AS BIGINT) AS n_lines,
           CAST(count(*) AS BIGINT) AS n_lines_kept
    FROM firsts GROUP BY doc_id
"""


def q_sample_by_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Soft quality-weighted sampling: each doc kept with probability
    equal to its composite quality score (sampling.sample_by_score) — a
    gradient filter instead of a threshold cliff; deterministic md5-keyed
    decision, engine-reproducible."""
    d = _t(spark, sf_dir, "documents", parallelize=True)
    scored = d.select("doc_id", text.quality_score(F.col("text")).alias("quality"))
    return _sampling.sample_by_score(scored, "doc_id", F.col("quality"))


_ORACLE_SAMPLE_QUALITY = f"""
    WITH t AS (
      SELECT doc_id, text,
             CASE WHEN regexp_matches(text, '^\\s*$') THEN []::VARCHAR[]
                  ELSE string_split_regex(trim(text), '\\s+') END AS toks
      FROM documents
    ),
    m AS (
      SELECT doc_id,
             len(toks) AS n_tokens,
             len(list_filter(toks, x -> list_contains([{_SW}], lower(x)))) AS sw_hits,
             length(text) AS n_chars,
             length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS n_punct
      FROM t
    ),
    q AS (
      SELECT doc_id,
             round((least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0)
                    + least(CASE WHEN n_tokens > 0 THEN CAST(sw_hits AS DOUBLE) / n_tokens
                                 ELSE 0.0 END * 4.0, 1.0)) / 2.0
                   * (1.0 - least(CASE WHEN n_chars > 0 THEN CAST(n_punct AS DOUBLE) / n_chars
                                       ELSE 0.0 END * 2.0, 1.0) * 0.5), 6) AS quality
      FROM m
    )
    SELECT doc_id, quality FROM q
    WHERE CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
          / 4294967296.0 < quality
"""


def q_tfidf_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-5 TF-IDF terms (text.tfidf_top_terms): token-keyed
    tf/df aggregations + idf join, doc-keyed top-k window."""
    d = _t(spark, sf_dir, "documents", parallelize=True)
    return text.tfidf_top_terms(d, k=5)


_ORACLE_TFIDF = """
    WITH t AS (
      SELECT doc_id,
             CASE WHEN regexp_matches(text, '^\\s*$') THEN []::VARCHAR[]
                  ELSE string_split_regex(trim(text), '\\s+') END AS toks
      FROM documents
    ),
    e AS (SELECT doc_id, lower(unnest(toks)) AS token FROM t),
    tf AS (SELECT doc_id, token, count(*) AS tf FROM e GROUP BY doc_id, token),
    dfq AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
    n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.token, CAST(tf.tf AS BIGINT) AS tf,
             round(tf.tf * ln(n.n / dfq.df), 6) AS score
      FROM tf JOIN dfq USING (token) CROSS JOIN n
    )
    SELECT doc_id, token, tf, score, rank
    FROM (
      SELECT *, row_number() OVER (
        PARTITION BY doc_id ORDER BY score DESC, token ASC) AS rank
      FROM scored
    )
    WHERE rank <= 5
"""


def q_join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join completing the join family (inner/left/semi/anti/
    as-of/range already covered): high-balance supplier counts vs
    deep-negative customer counts per nation — both sides genuinely
    one-sided on this data (7 vs 9 nations), so both NULL arms execute.
    Two small aggregates; the full-outer is a tiny sort-merge."""
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    cn = (
        c.filter(F.col("c_acctbal") < -900)
        .groupBy(F.col("c_nationkey").alias("nationkey"))
        .agg(F.count(F.lit(1)).alias("n_poor_customers"))
    )
    sn = (
        s.filter(F.col("s_acctbal") > 9000)
        .groupBy(F.col("s_nationkey").alias("nationkey"))
        .agg(F.count(F.lit(1)).alias("n_rich_suppliers"))
    )
    return cn.join(sn, "nationkey", "full_outer").select(
        "nationkey",
        F.coalesce("n_poor_customers", F.lit(0)).alias("n_poor_customers"),
        F.coalesce("n_rich_suppliers", F.lit(0)).alias("n_rich_suppliers"),
    )


_ORACLE_JOIN_FULL_OUTER = """
    WITH cn AS (
      SELECT c_nationkey AS nationkey, count(*) AS n_poor_customers
      FROM customer WHERE c_acctbal < -900 GROUP BY c_nationkey
    ),
    sn AS (
      SELECT s_nationkey AS nationkey, count(*) AS n_rich_suppliers
      FROM supplier WHERE s_acctbal > 9000 GROUP BY s_nationkey
    )
    SELECT coalesce(cn.nationkey, sn.nationkey) AS nationkey,
           coalesce(n_poor_customers, 0) AS n_poor_customers,
           coalesce(n_rich_suppliers, 0) AS n_rich_suppliers
    FROM cn FULL OUTER JOIN sn ON cn.nationkey = sn.nationkey
"""


def q_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type-2 history from the event stream (sources/edits.scd2_history):
    per-user event_type validity intervals with change-collapse; one
    shuffle on the high-cardinality key, O(1) window state."""
    from csv_etl_spark.sources.edits import scd2_history

    e = _t(spark, sf_dir, "events")
    return scd2_history(
        e, key_col="user_id", ts_col="ts", value_col="event_type",
        order_tiebreak="event_id",
    )


_ORACLE_SCD2 = """
    WITH changed AS (
      SELECT user_id, event_type, ts, event_id
      FROM (
        SELECT user_id, event_type, ts, event_id,
               lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                 AS prev
        FROM events
      )
      WHERE prev IS NULL OR event_type <> prev
    )
    SELECT user_id, event_type,
           epoch_us(ts) AS valid_from_us,
           epoch_us(lead(ts) OVER w) AS valid_to_us,
           (lead(ts) OVER w IS NULL) AS is_current
    FROM changed
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
"""


def q_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily retention-cohort matrix: users bucketed by first-active day,
    counted by days-since-cohort offset — the standard product-analytics
    triangle.  Two aggregations + one broadcast-sized cohort join (one
    row per user); distinct day-activity bounds the fact side to
    users × days."""
    e = _t(spark, sf_dir, "events")
    user_days = e.select(
        F.col("user_id"), F.to_date("ts").alias("day")
    ).distinct()
    cohorts = user_days.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    return (
        user_days.join(F.broadcast(cohorts), "user_id")
        .groupBy(
            F.date_format("cohort_day", "yyyy-MM-dd").alias("cohort_day"),
            F.datediff(F.col("day"), F.col("cohort_day")).alias("offset_days"),
        )
        .agg(F.count_distinct(F.col("user_id")).alias("n_users"))
    )


_ORACLE_RETENTION = """
    WITH ud AS (
      SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS day
      FROM events
    ),
    c AS (SELECT user_id, min(day) AS cohort_day FROM ud GROUP BY user_id)
    SELECT strftime(c.cohort_day, '%Y-%m-%d') AS cohort_day,
           datediff('day', c.cohort_day, ud.day) AS offset_days,
           count(DISTINCT ud.user_id) AS n_users
    FROM ud JOIN c USING (user_id)
    GROUP BY 1, 2
"""


def q_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM (add-0.5 smoothing) document quality score — the order-
    sensitive upgrade of the unigram gate (text.bigram_logprob)."""
    d = _t(spark, sf_dir, "documents", parallelize=True)
    return text.bigram_logprob(d, k_smooth=0.5)


_ORACLE_BIGRAM_LP = """
    WITH t AS (
      SELECT doc_id,
             CASE WHEN regexp_matches(text, '^\\s*$') THEN []::VARCHAR[]
                  ELSE string_split_regex(trim(text), '\\s+') END AS toks
      FROM documents
    ),
    lt AS (SELECT doc_id, list_transform(toks, x -> lower(x)) AS toks FROM t),
    tr AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(toks)), i -> toks[i])) AS prev,
             unnest(list_transform(range(1, len(toks)), i -> toks[i + 1])) AS word
      FROM lt WHERE len(toks) >= 2
    ),
    big AS (SELECT prev, word, count(*) AS nb FROM tr GROUP BY prev, word),
    uni AS (SELECT prev, count(*) AS np FROM tr GROUP BY prev),
    v AS (SELECT CAST(count(DISTINCT word) AS DOUBLE) AS v FROM big),
    scored AS (
      SELECT tr.doc_id,
             ln((big.nb + 0.5) / (uni.np + 0.5 * v.v)) AS lp
      FROM tr JOIN big USING (prev, word) JOIN uni USING (prev) CROSS JOIN v
    ),
    agg AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_transitions,
             round(avg(lp), 6) AS avg_logprob
      FROM scored GROUP BY doc_id
    )
    SELECT d.doc_id,
           coalesce(a.n_transitions, 0) AS n_transitions,
           coalesce(a.avg_logprob, 0.0) AS avg_logprob
    FROM documents d LEFT JOIN agg a USING (doc_id)
"""


def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff between two table versions (sources/edits.
    snapshot_diff): the new snapshot is derived from orders in-query
    (0.97% keys removed, ~1% prices changed, 0.2% keys re-added under new
    ids) so all four status arms execute; one keyed full-outer join +
    map-only classification."""
    from csv_etl_spark.sources.edits import snapshot_diff

    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    modified = o.filter(F.col("o_orderkey") % 97 != 0).select(
        "o_orderkey",
        "o_orderstatus",
        F.when(
            F.col("o_orderkey") % 101 == 0, F.col("o_totalprice") + F.lit(1.5)
        )
        .otherwise(F.col("o_totalprice"))
        .alias("o_totalprice"),
    )
    added = o.filter(F.col("o_orderkey") % 500 == 0).select(
        (F.col("o_orderkey") + F.lit(10_000_000)).alias("o_orderkey"),
        "o_orderstatus",
        "o_totalprice",
    )
    return snapshot_diff(o, modified.unionByName(added), ["o_orderkey"])


_ORACLE_SNAPSHOT_DIFF = """
    WITH o AS (SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders),
    n AS (
      SELECT o_orderkey, o_orderstatus,
             CASE WHEN o_orderkey % 101 = 0 THEN o_totalprice + 1.5
                  ELSE o_totalprice END AS o_totalprice
      FROM o WHERE o_orderkey % 97 <> 0
      UNION ALL
      SELECT o_orderkey + 10000000, o_orderstatus, o_totalprice
      FROM o WHERE o_orderkey % 500 = 0
    )
    SELECT coalesce(o.o_orderkey, n.o_orderkey) AS o_orderkey,
           CASE WHEN o.o_orderkey IS NULL THEN 'added'
                WHEN n.o_orderkey IS NULL THEN 'removed'
                WHEN o.o_orderstatus IS NOT DISTINCT FROM n.o_orderstatus
                 AND o.o_totalprice IS NOT DISTINCT FROM n.o_totalprice
                THEN 'unchanged' ELSE 'changed' END AS status,
           o.o_orderstatus AS old_o_orderstatus,
           o.o_totalprice AS old_o_totalprice,
           n.o_orderstatus AS new_o_orderstatus,
           n.o_totalprice AS new_o_totalprice
    FROM o FULL OUTER JOIN n ON o.o_orderkey = n.o_orderkey
"""


def q_funnel_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel conversion (signup → view → purchase): users whose
    FIRST occurrence of each step respects the order.  One user-keyed
    aggregation (min-ts per step, conditional — no join), one scalar agg,
    and a 3-row stack; NULL propagation makes the < chain drop users
    missing a step."""
    e = _t(spark, sf_dir, "events")
    g = e.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).alias("_t0"),
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("_t1"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias("_t2"),
    )
    agg = g.agg(
        F.count(F.when(F.col("_t0").isNotNull(), 1)).alias("_n1"),
        F.count(F.when(F.col("_t0") < F.col("_t1"), 1)).alias("_n2"),
        F.count(
            F.when((F.col("_t0") < F.col("_t1")) & (F.col("_t1") < F.col("_t2")), 1)
        ).alias("_n3"),
    )
    return agg.select(
        F.expr(
            "stack(3, 1, 'signup', _n1, 2, 'view_after_signup', _n2,"
            " 3, 'purchase_after_view', _n3) AS (step_idx, step, n_users)"
        )
    )


_ORACLE_FUNNEL = """
    WITH g AS (
      SELECT user_id,
             min(CASE WHEN event_type = 'signup' THEN ts END) AS t0,
             min(CASE WHEN event_type = 'view' THEN ts END) AS t1,
             min(CASE WHEN event_type = 'purchase' THEN ts END) AS t2
      FROM events GROUP BY user_id
    )
    SELECT 1 AS step_idx, 'signup' AS step,
           count(CASE WHEN t0 IS NOT NULL THEN 1 END) AS n_users FROM g
    UNION ALL
    SELECT 2, 'view_after_signup', count(CASE WHEN t0 < t1 THEN 1 END) FROM g
    UNION ALL
    SELECT 3, 'purchase_after_view',
           count(CASE WHEN t0 < t1 AND t1 < t2 THEN 1 END) FROM g
"""


def q_profile_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass table profile of events (operators/profile.py): per-column
    nulls, exact distincts, numeric/string ranges — the discovery step
    before writing a mapping spec, as ONE aggregation job."""
    from csv_etl_spark.operators.profile import profile_table

    return profile_table(_t(spark, sf_dir, "events"))


def _profile_events_oracle() -> str:
    from csv_etl_spark.operators.profile import profile_oracle_sql

    return profile_oracle_sql(
        "events",
        [
            ("event_id", "num", "bigint"),
            ("ts", "other", "timestamp_ntz"),
            ("user_id", "num", "bigint"),
            ("event_type", "str", "string"),
            ("value", "num", "double"),
            ("props", "str", "string"),
        ],
    )


_ORACLE_PROFILE_EVENTS = _profile_events_oracle()


def q_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width numeric histogram of event values (the numeric-column
    sibling of doc_length_histogram): map-only bin id → one groupBy with
    map-side partials, ~n_bins output rows; exact decimal sums."""
    e = _t(spark, sf_dir, "events")
    width = 10.0
    bin_id = F.floor(F.col("value") / F.lit(width))
    return (
        e.groupBy(bin_id.alias("_bin"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.round(
                F.sum(F.col("value").cast("decimal(38,6)")).cast("double"), 6
            ).alias("sum_value"),
        )
        .select(
            (F.col("_bin") * width).cast("double").alias("bin_lo"),
            ((F.col("_bin") + 1) * width).cast("double").alias("bin_hi"),
            "n_events",
            "sum_value",
        )
    )


_ORACLE_VALUE_HISTOGRAM = """
    SELECT CAST(bin * 10.0 AS DOUBLE) AS bin_lo,
           CAST((bin + 1) * 10.0 AS DOUBLE) AS bin_hi,
           CAST(count(*) AS BIGINT) AS n_events,
           round(CAST(sum(CAST(value AS DECIMAL(38,6))) AS DOUBLE), 6) AS sum_value
    FROM (SELECT value, floor(value / 10.0) AS bin FROM events)
    GROUP BY bin
"""


def q_events_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type z-score anomaly gate composing the exact-moment
    statistics (operators/stats.py): events whose value sits > 3 sample
    stddevs above/below their type's mean.  The 5-row stats table
    broadcasts back; the flag pass is map-only.  z is computed from the
    ROUNDED mean/stddev both engines already agree on bit-for-bit."""
    from csv_etl_spark.operators.stats import moment_stats

    e = _t(spark, sf_dir, "events")
    prepared = e.select(
        "event_id",
        "event_type",
        F.col("value").cast("double").alias("value"),
        F.unix_timestamp("ts").cast("double").alias("ts_epoch"),
    )
    stats = (
        moment_stats(
            prepared, "value", "ts_epoch", by=["event_type"], center_y=_EPOCH_CENTER
        )
        .select("event_type", "mean_x", "stddev_x")
        # zero-variance groups have no defined z-score: under this repo's
        # ANSI-on sessions (value - mean)/0.0 would RAISE (moment_stats now
        # clamps near-constant groups to exactly 0.0 rather than NaN), and
        # the oracle's NULL-division rows never pass abs(z) > 3 either —
        # filtering the group out matches the oracle on both engines.
        .filter(F.col("stddev_x") > 0)
    )
    z = (F.col("value") - F.col("mean_x")) / F.col("stddev_x")
    return (
        prepared.join(F.broadcast(stats), "event_type")
        .filter(F.abs(z) > 3.0)
        .select(
            "event_id",
            "event_type",
            F.round("value", 6).alias("value"),
            F.round(z, 6).alias("z"),
        )
    )


def _anomalies_oracle() -> str:
    from csv_etl_spark.operators.stats import moment_stats_oracle_sql

    derived = (
        "(SELECT event_id, event_type, CAST(value AS DOUBLE) AS value,"
        " CAST(floor(epoch(ts)) AS DOUBLE) AS ts_epoch FROM events) ev"
    )
    moments = moment_stats_oracle_sql(
        derived, "value", "ts_epoch", by=["event_type"], center_y=_EPOCH_CENTER
    )
    return f"""
    WITH stats AS ({moments})
    SELECT e.event_id, e.event_type,
           round(CAST(e.value AS DOUBLE), 6) AS value,
           round((CAST(e.value AS DOUBLE) - s.mean_x) / s.stddev_x, 6) AS z
    FROM events e JOIN stats s ON e.event_type = s.event_type
    WHERE s.stddev_x > 0
      AND abs((CAST(e.value AS DOUBLE) - s.mean_x) / s.stddev_x) > 3.0
"""


_ORACLE_EVENTS_ANOMALIES = _anomalies_oracle()


def q_sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement (Efraimidis–Spirakis A-ES,
    sampling.weighted_sample_topk): 100 docs drawn with inclusion
    probability proportional to length — deterministic, engine-portable,
    TakeOrdered plan."""
    d = _t(spark, sf_dir, "documents")
    return _sampling.weighted_sample_topk(
        d.select("doc_id", "source", "n_chars"), "doc_id", F.col("n_chars"), k=100
    )


_ORACLE_SAMPLE_WEIGHTED = """
    SELECT doc_id, source, n_chars FROM (
      SELECT doc_id, source, n_chars,
             round(ln(greatest(
                 CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
                 / 4294967296.0, 1e-12)) / n_chars, 9) AS s
      FROM documents
    )
    ORDER BY s DESC, doc_id ASC
    LIMIT 100
"""


# ---------------------------------------------------------------------------
# Round-7 operators: BM25, CCNet buckets, boilerplate lines, token budget,
# duplicated spans
# ---------------------------------------------------------------------------


def q_bm25_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-5 Okapi BM25 term weights (text.bm25_top_terms,
    k1=1.2, b=0.75) — tfidf_terms' plan plus a doc-keyed dl aggregate and
    a broadcast (N, avgdl) scalar pair."""
    d = _t(spark, sf_dir, "documents", parallelize=True)
    return text.bm25_top_terms(d, k=5)


_ORACLE_BM25 = """
    WITH t AS (
      SELECT doc_id,
             CASE WHEN regexp_matches(text, '^\\s*$') THEN []::VARCHAR[]
                  ELSE string_split_regex(trim(text), '\\s+') END AS toks
      FROM documents
    ),
    e AS (SELECT doc_id, lower(unnest(toks)) AS token FROM t),
    tf AS (SELECT doc_id, token, count(*) AS tf FROM e GROUP BY doc_id, token),
    dfq AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
    dl AS (SELECT doc_id, CAST(sum(tf) AS DOUBLE) AS dl FROM tf GROUP BY doc_id),
    s AS (
      SELECT CAST(count(*) AS DOUBLE) AS n,
             CAST(coalesce(sum(CASE WHEN regexp_matches(text, '^\\s*$') THEN 0
                  ELSE len(string_split_regex(trim(text), '\\s+')) END), 0)
               AS DOUBLE) AS total
      FROM documents
    ),
    s2 AS (SELECT n, total / n AS avgdl FROM s),
    scored AS (
      SELECT tf.doc_id, tf.token, CAST(tf.tf AS BIGINT) AS tf,
             round(
               ln(1.0 + (s2.n - dfq.df + 0.5) / (dfq.df + 0.5))
               * ((tf.tf * (1.2 + 1.0))
                  / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / s2.avgdl))),
               6) AS score
      FROM tf JOIN dfq USING (token) JOIN dl USING (doc_id) CROSS JOIN s2
    )
    SELECT doc_id, token, tf, score, rank
    FROM (
      SELECT *, row_number() OVER (
        PARTITION BY doc_id ORDER BY score DESC, token ASC) AS rank
      FROM scored
    )
    WHERE rank <= 5
"""


def q_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style head/middle/tail LM-quality bucketing per source
    (text.lm_score_buckets): unigram-LM scores + per-group exact tercile
    boundaries broadcast back for a map-only classify — no per-group
    window over the data."""
    d = _t(spark, sf_dir, "documents", parallelize=True).select(
        "doc_id", "text", "source"
    )
    return text.lm_score_buckets(d, by="source")


_P_LO, _P_HI = 1.0 / 3.0, 2.0 / 3.0

_ORACLE_PERPLEXITY_BUCKETS = f"""
    WITH ts AS (
      SELECT doc_id,
             CASE WHEN regexp_matches(text, '^\\s*$') THEN []::VARCHAR[]
                  ELSE string_split_regex(trim(text), '\\s+') END AS toks
      FROM documents
    ),
    t AS (SELECT doc_id, lower(unnest(toks)) AS tok FROM ts),
    counts AS (SELECT tok, count(*) AS n FROM t GROUP BY tok),
    tot AS (SELECT CAST(sum(n) AS DOUBLE) AS total FROM counts),
    sc AS (
      SELECT t.doc_id, ln(c.n / tot.total) AS lp
      FROM t JOIN counts c ON t.tok = c.tok CROSS JOIN tot
    ),
    agg AS (SELECT doc_id, round(avg(lp), 6) AS avg_logprob FROM sc GROUP BY doc_id),
    scored AS (
      SELECT d.doc_id, d.source, coalesce(a.avg_logprob, 0.0) AS avg_logprob
      FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id
    ),
    b AS (
      SELECT source,
             round(quantile_cont(avg_logprob, {_P_LO!r}), 6) AS b_lo,
             round(quantile_cont(avg_logprob, {_P_HI!r}), 6) AS b_hi
      FROM scored GROUP BY source
    )
    SELECT s.doc_id, s.source, s.avg_logprob,
           CASE WHEN s.avg_logprob <= b.b_lo THEN 'tail'
                WHEN s.avg_logprob <= b.b_hi THEN 'middle'
                ELSE 'head' END AS bucket
    FROM scored s JOIN b USING (source)
"""


def q_boilerplate_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-corpus boilerplate-line removal
    (cleaning.drop_boilerplate_lines): a shared banner line is PLANTED
    onto every doc (plus a per-doc unique tail line, always kept) so the
    corpus-frequency drop demonstrably fires; naturally duplicated doc
    bodies (>2 copies) fall out through the same path."""
    from csv_etl_spark.operators.cleaning import drop_boilerplate_lines

    d = _t(spark, sf_dir, "documents", parallelize=True).select("doc_id", "text")
    seeded = d.select(
        "doc_id",
        F.concat_ws(
            "\n",
            F.lit("please accept cookies to continue."),
            F.col("text"),
            F.concat(F.lit("unique tail "), F.col("doc_id").cast("string")),
        ).alias("text"),
    )
    return drop_boilerplate_lines(seeded, max_docs=2)


_ORACLE_BOILERPLATE_LINES = """
    WITH seeded AS (
      SELECT doc_id,
             'please accept cookies to continue.' || chr(10) || text ||
             chr(10) || 'unique tail ' || CAST(doc_id AS VARCHAR) AS text
      FROM documents
    ),
    l AS (
      SELECT doc_id,
             unnest(string_split(text, chr(10))) AS line,
             generate_subscripts(string_split(text, chr(10)), 1) AS pos
      FROM seeded
    ),
    hot AS (
      SELECT k FROM (
        SELECT DISTINCT doc_id, trim(line) AS k FROM l WHERE trim(line) <> ''
      ) GROUP BY k HAVING count(*) > 2
    ),
    kept AS (SELECT * FROM l WHERE trim(line) NOT IN (SELECT k FROM hot)),
    re AS (
      SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS text,
             count(*) AS n_kept
      FROM kept GROUP BY doc_id
    ),
    tot AS (
      SELECT doc_id, len(string_split(text, chr(10))) AS n_lines FROM seeded
    )
    SELECT t.doc_id, coalesce(re.text, '') AS text,
           CAST(t.n_lines AS BIGINT) AS n_lines,
           CAST(coalesce(re.n_kept, 0) AS BIGINT) AS n_lines_kept
    FROM tot t LEFT JOIN re ON t.doc_id = re.doc_id
"""


def q_token_budget_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token-budget selection (sampling.token_budget_select,
    800 tokens/source): docs taken in md5 order until each source's
    cumulative token count would cross the budget — the mix-assembly
    step stated in tokens.  One global range-shuffled prefix sum (the
    group rides the front of the order key), no per-group window."""
    d = _t(spark, sf_dir, "documents", parallelize=True).select(
        "doc_id", "text", "source"
    )
    return _sampling.token_budget_select(d, budget=800, by="source")


_ORACLE_TOKEN_BUDGET_MIX = """
    WITH d AS (
      SELECT doc_id, source,
             CAST(CASE WHEN regexp_matches(text, '^\\s*$') THEN 0
                  ELSE len(string_split_regex(trim(text), '\\s+')) END AS BIGINT)
               AS n_tokens,
             md5(CAST(doc_id AS VARCHAR) || '|') AS k
      FROM documents
    ),
    c AS (
      SELECT doc_id, source, n_tokens,
             CAST(sum(n_tokens) OVER (PARTITION BY source ORDER BY k
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS cum_tokens
      FROM d
    )
    SELECT doc_id, source, n_tokens, cum_tokens FROM c WHERE cum_tokens <= 800
"""


_SPAN_PASSAGE = " ".join(f"shared{i:02d}" for i in range(40))


def _span_seeded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared planted corpus for the two span queries: a 40-token passage
    prepended to every 25th doc (prefix, because strided windows only
    align on shared prefixes/whole docs — the documented granularity
    trade vs suffix-array substring dedup)."""
    d = _t(spark, sf_dir, "documents", parallelize=True).select("doc_id", "text")
    return d.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 25 == 0,
            F.concat(F.lit(_SPAN_PASSAGE + " "), F.col("text")),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )


def _span_windows_cte() -> str:
    """Shared oracle CTE prefix (seeded corpus -> tokens -> full 32-token
    windows at stride 16) for the two span oracles — one definition, so
    detection and removal can never drift apart."""
    return f"""seeded AS (
      SELECT doc_id,
             CASE WHEN doc_id % 25 = 0 THEN '{_SPAN_PASSAGE} ' || text
                  ELSE text END AS text
      FROM documents
    ),
    t AS (
      SELECT doc_id,
             CASE WHEN regexp_matches(text, '^\\s*$') THEN []::VARCHAR[]
                  ELSE string_split_regex(trim(text), '\\s+') END AS toks
      FROM seeded
    ),
    g AS (
      SELECT doc_id, toks, len(toks) AS n,
             CASE WHEN len(toks) = 0 THEN 0
                  WHEN len(toks) <= 16 THEN 1
                  ELSE CAST(ceil((len(toks) - 16) / 16.0) AS BIGINT) END AS n_chunks
      FROM t
    ),
    w AS (
      SELECT doc_id, CAST(cid * 16 AS BIGINT) AS start_token,
             array_to_string(
               toks[CAST(cid*16+1 AS BIGINT):CAST(cid*16+32 AS BIGINT)], ' ')
               AS win
      FROM (SELECT doc_id, toks, unnest(range(0, n_chunks)) AS cid FROM g)
      WHERE len(toks[CAST(cid*16+1 AS BIGINT):CAST(cid*16+32 AS BIGINT)]) = 32
    )"""


def q_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document duplicated-span detection (dedup.duplicate_spans,
    32-token windows, stride 16, ≥2 docs): a shared 40-token passage is
    PLANTED as a PREFIX on every 25th doc (prefix, because strided
    windows only align on shared prefixes/whole docs — the documented
    granularity trade vs suffix-array substring dedup), so window 0 of
    every planted doc is a corpus-duplicated span; naturally identical
    docs surface through the same path at every window.  Corpus seeding
    and the oracle window CTEs are shared with remove_dup_spans
    (_span_seeded / _span_windows_cte)."""
    return dedup.duplicate_spans(
        _span_seeded(spark, sf_dir), span_tokens=32, stride=16, min_docs=2
    )


def _duplicate_spans_oracle() -> str:
    return f"""
    WITH {_span_windows_cte()},
    hot AS (
      SELECT win, CAST(count(*) AS BIGINT) AS n_docs
      FROM (SELECT DISTINCT doc_id, win FROM w)
      GROUP BY win HAVING count(*) >= 2
    )
    SELECT w.doc_id, w.start_token, hot.n_docs
    FROM w JOIN hot USING (win)
"""


_ORACLE_DUPLICATE_SPANS = _duplicate_spans_oracle()


def q_remove_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicated-span REMOVAL (dedup.remove_duplicate_spans): same
    planted shared-prefix corpus as duplicate_spans (_span_seeded); every
    planted doc except the lowest id loses the shared 32-token window,
    keepers and clean docs pass through re-joined."""
    return dedup.remove_duplicate_spans(
        _span_seeded(spark, sf_dir), span_tokens=32, stride=16, min_docs=2
    )


def _remove_spans_oracle() -> str:
    return f"""
    WITH {_span_windows_cte()},
    perkey AS (
      SELECT win, min(doc_id) AS keeper
      FROM (SELECT DISTINCT doc_id, win FROM w)
      GROUP BY win HAVING count(*) >= 2
    ),
    losers AS (
      SELECT w.doc_id, w.start_token
      FROM w JOIN perkey USING (win)
      WHERE w.doc_id <> perkey.keeper
    ),
    mask AS (
      SELECT DISTINCT doc_id, start_token + unnest(range(0, 32)) AS pos
      FROM losers
    ),
    tokpos AS (
      SELECT doc_id, unnest(toks) AS tok,
             generate_subscripts(toks, 1) - 1 AS pos
      FROM t
    ),
    kept AS (
      SELECT tp.doc_id, tp.tok, tp.pos
      FROM tokpos tp LEFT JOIN mask m
        ON tp.doc_id = m.doc_id AND tp.pos = m.pos
      WHERE m.doc_id IS NULL
    ),
    re AS (
      SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS text,
             count(*) AS nk
      FROM kept GROUP BY doc_id
    ),
    tot AS (SELECT doc_id, len(toks) AS n_tokens FROM t)
    SELECT tot.doc_id, coalesce(re.text, '') AS text,
           CAST(tot.n_tokens AS BIGINT) AS n_tokens,
           CAST(tot.n_tokens - coalesce(re.nk, 0) AS BIGINT) AS n_tokens_removed
    FROM tot LEFT JOIN re ON tot.doc_id = re.doc_id
"""


_ORACLE_REMOVE_DUP_SPANS = _remove_spans_oracle()


def q_contamination_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc contamination overlap report
    (cleaning.contamination_overlap): same planted benchmark as
    corpus_decontaminate (every 40th doc doubles as a benchmark doc), but
    reporting each doc's shingle-overlap FRACTION instead of dropping —
    the distribution a release audit logs.  Broadcast benchmark set,
    map-only probe, one doc-keyed count aggregate."""
    from csv_etl_spark.operators import cleaning

    d = _t(spark, sf_dir, "documents", parallelize=True).select("doc_id", "text")
    bench = d.filter(F.col("doc_id") % 40 == 0)
    return cleaning.contamination_overlap(d, bench, n=8)


_ORACLE_CONTAMINATION_REPORT = """
    WITH tok AS (
      SELECT doc_id,
             CASE WHEN regexp_matches(text, '^\\s*$') THEN []::VARCHAR[]
                  ELSE string_split_regex(trim(text), '\\s+') END AS toks
      FROM documents
    ),
    csh AS (
      SELECT doc_id, unnest(list_distinct(list_transform(
               range(1, greatest(len(toks) - 7, 0) + 1),
               i -> array_to_string(toks[i:i+7], ' ')))) AS sh
      FROM tok
    ),
    bsh AS (
      SELECT DISTINCT sh AS bs FROM csh WHERE doc_id % 40 = 0
    ),
    per AS (
      SELECT c.doc_id,
             count(*) AS n_shingles,
             count(b.bs) AS n_hits
      FROM csh c LEFT JOIN bsh b ON c.sh = b.bs
      GROUP BY c.doc_id
    )
    SELECT d.doc_id,
           CAST(coalesce(p.n_shingles, 0) AS BIGINT) AS n_shingles,
           CAST(coalesce(p.n_hits, 0) AS BIGINT) AS n_hits,
           CASE WHEN p.n_shingles > 0
                THEN round(CAST(p.n_hits AS DOUBLE) / p.n_shingles, 6)
                ELSE 0.0 END AS overlap_frac
    FROM documents d LEFT JOIN per p ON d.doc_id = p.doc_id
"""


def q_source_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document cap (sampling.cap_per_group, n=10): at most 10
    docs per source survive, chosen by md5 order — two-stage salted
    top-k, row-identical to the oracle's single serial window."""
    d = _t(spark, sf_dir, "documents", parallelize=True).select("doc_id", "source")
    return _sampling.cap_per_group(d, n=10, by="source")


_ORACLE_SOURCE_CAP = """
    SELECT doc_id, source, rank
    FROM (
      SELECT doc_id, source,
             row_number() OVER (
               PARTITION BY source
               ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC, doc_id ASC) AS rank
      FROM documents
    )
    WHERE rank <= 10
"""


def q_events_winsorized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type winsorization of event values (stats.winsorize, p05/p95):
    exact percentile bounds broadcast back, map-only clamp — the
    heavy-tail taming step before feature aggregation."""
    from csv_etl_spark.operators.stats import winsorize

    e = _t(spark, sf_dir, "events")
    out = winsorize(e, "value", by=["event_type"])
    return out.select(
        "event_id", "event_type", "value", "value_lo", "value_hi", "value_wins"
    )


_ORACLE_EVENTS_WINSORIZED = """
    WITH b AS (
      SELECT event_type,
             round(quantile_cont(CAST(value AS DOUBLE), 0.05), 6) AS value_lo,
             round(quantile_cont(CAST(value AS DOUBLE), 0.95), 6) AS value_hi
      FROM events GROUP BY event_type
    )
    SELECT e.event_id, e.event_type, e.value,
           b.value_lo, b.value_hi,
           round(greatest(least(CAST(e.value AS DOUBLE), b.value_hi),
                          b.value_lo), 6) AS value_wins
    FROM events e JOIN b
      ON e.event_type IS NOT DISTINCT FROM b.event_type
"""


def q_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Big×big interval-overlap join (joins.interval_overlap_join):
    4-hour purchase windows vs 1-hour error windows per user —
    bucketed epoch equijoin + distinct + exact predicate, never an
    inequality cross join.  Epochs emitted as BIGINT (timezone-free
    parity)."""
    from csv_etl_spark.operators.joins import interval_overlap_join

    e = _t(spark, sf_dir, "events")
    p = e.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("start"),
        (F.col("ts") + F.expr("INTERVAL 14400 SECONDS")).alias("end"),
    )
    r = e.filter(F.col("event_type") == "error").select(
        "user_id",
        F.col("event_id").alias("error_id"),
        F.col("ts").alias("start"),
        (F.col("ts") + F.expr("INTERVAL 3600 SECONDS")).alias("end"),
    )
    out = interval_overlap_join(
        p, r, keys=["user_id"], left_id="purchase_id", right_id="error_id",
        bucket_seconds=7200,
    )
    return out.select(
        "user_id",
        "purchase_id",
        "error_id",
        F.unix_timestamp("overlap_start").cast("bigint").alias("overlap_start_epoch"),
        F.unix_timestamp("overlap_end").cast("bigint").alias("overlap_end_epoch"),
        "overlap_seconds",
    )


_ORACLE_INTERVAL_OVERLAP = """
    WITH p AS (
      SELECT user_id, event_id AS purchase_id,
             CAST(floor(epoch(ts)) AS BIGINT) AS s,
             CAST(floor(epoch(ts)) AS BIGINT) + 14400 AS e
      FROM events WHERE event_type = 'purchase'
    ),
    r AS (
      SELECT user_id, event_id AS error_id,
             CAST(floor(epoch(ts)) AS BIGINT) AS s,
             CAST(floor(epoch(ts)) AS BIGINT) + 3600 AS e
      FROM events WHERE event_type = 'error'
    )
    SELECT p.user_id, p.purchase_id, r.error_id,
           greatest(p.s, r.s) AS overlap_start_epoch,
           least(p.e, r.e) AS overlap_end_epoch,
           least(p.e, r.e) - greatest(p.s, r.s) AS overlap_seconds
    FROM p JOIN r ON p.user_id = r.user_id AND p.s < r.e AND r.s < p.e
"""


def q_dsir_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style data selection (text.dsir_importance): src0 documents
    play the target domain; every doc gets a log importance weight under
    add-k unigram LMs (target vs corpus), and the top 100 are drawn by
    Gumbel top-k — log_importance + Gumbel(md5-uniform) noise, the
    log-domain equivalent of resampling with probability ∝ exp(weight)
    (no exp overflow, engine-portable).  Deterministic md5 noise, rounded
    key, doc_id tiebreak."""
    d = _t(spark, sf_dir, "documents", parallelize=True)
    target = d.filter(F.col("source") == "src0").select("text")
    imp = text.dsir_importance(d.select("doc_id", "text"), target)
    u = _sampling.key_uniform(F.col("doc_id"))
    gkey = F.round(
        F.col("log_importance") - F.log(-F.log(F.greatest(u, F.lit(1e-12)))), 9
    )
    return (
        imp.withColumn("_g", gkey)
        .orderBy(F.col("_g").desc(), F.col("doc_id").asc())
        .limit(100)
        .select("doc_id", "n_tokens", "log_importance")
    )


_ORACLE_DSIR_SELECTION = """
    WITH ts AS (
      SELECT doc_id, source,
             CASE WHEN regexp_matches(text, '^\\s*$') THEN []::VARCHAR[]
                  ELSE string_split_regex(trim(text), '\\s+') END AS toks
      FROM documents
    ),
    t AS (SELECT doc_id, lower(unnest(toks)) AS tok FROM ts),
    tt AS (SELECT lower(unnest(toks)) AS tok FROM ts WHERE source = 'src0'),
    cc AS (SELECT tok, count(*) AS nc FROM t GROUP BY tok),
    tc AS (SELECT tok, count(*) AS nt FROM tt GROUP BY tok),
    sc AS (
      SELECT (SELECT CAST(sum(nc) AS DOUBLE) FROM cc) AS totc,
             (SELECT CAST(count(*) AS DOUBLE) FROM cc) AS v,
             (SELECT CAST(coalesce(sum(nt), 0) AS DOUBLE) FROM tc) AS tott
    ),
    r AS (
      SELECT t.doc_id,
             round(ln((coalesce(tc.nt, 0) + 0.5) / (sc.tott + 0.5 * sc.v))
                   - ln((cc.nc + 0.5) / (sc.totc + 0.5 * sc.v)), 6) AS r6
      FROM t JOIN cc USING (tok) LEFT JOIN tc USING (tok) CROSS JOIN sc
    ),
    agg AS (
      SELECT doc_id, count(*) AS n_tokens,
             round(CAST(sum(CAST(r6 * 1000000 AS HUGEINT)) AS DOUBLE)
                   / 1000000.0, 6) AS li
      FROM r GROUP BY doc_id
    ),
    full_docs AS (
      SELECT d.doc_id,
             CAST(coalesce(a.n_tokens, 0) AS BIGINT) AS n_tokens,
             coalesce(a.li, 0.0) AS log_importance
      FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id
    )
    SELECT doc_id, n_tokens, log_importance
    FROM (
      SELECT *,
             round(log_importance - ln(-ln(greatest(
               CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
               / 4294967296.0, 1e-12))), 9) AS gkey
      FROM full_docs
    )
    ORDER BY gkey DESC, doc_id ASC
    LIMIT 100
"""


def q_corpus_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus summary (text.corpus_report): docs, tokens,
    mean quality, English fraction, exact-normalized duplicate fraction
    — one metric projection + one groupBy.  Duplicates are PLANTED like
    corpus_curation's (every 20th doc reappears uppercased+punctuated
    under a shifted id) so dup_frac is demonstrably non-zero."""
    d = _t(spark, sf_dir, "documents", parallelize=True).select(
        "doc_id", "text", "source"
    )
    planted = d.filter(F.col("doc_id") % 20 == 0).select(
        (F.col("doc_id") + F.lit(1000000000)).alias("doc_id"),
        F.concat(F.upper(F.col("text")), F.lit(" !!!")).alias("text"),
        F.col("source"),
    )
    return text.corpus_report(d.unionByName(planted), by="source")


_ORACLE_CORPUS_REPORT = f"""
    WITH aug AS (
      SELECT doc_id, text, source FROM documents
      UNION ALL
      SELECT doc_id + 1000000000 AS doc_id, upper(text) || ' !!!' AS text, source
      FROM documents WHERE doc_id % 20 = 0
    ),
    t AS (
      SELECT source, text,
             CASE WHEN regexp_matches(text, '^\\s*$') THEN []::VARCHAR[]
                  ELSE string_split_regex(trim(text), '\\s+') END AS toks,
             trim(regexp_replace(regexp_replace(lower(text), '[^\\w\\s]', '', 'g'),
                  '\\s+', ' ', 'g')) AS norm_text
      FROM aug
    ),
    m AS (
      SELECT source, norm_text,
             len(toks) AS n_tokens,
             len(list_filter(toks, x -> list_contains([{_SW}], lower(x)))) AS sw_hits,
             len(list_filter(toks, x -> list_contains([{_RO}], lower(x)))) AS ro_hits,
             length(text) AS n_chars,
             length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS n_punct
      FROM t
    ),
    s AS (
      SELECT source, norm_text, n_tokens,
             round((least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0)
                    + least(CASE WHEN n_tokens > 0 THEN CAST(sw_hits AS DOUBLE) / n_tokens
                                 ELSE 0.0 END * 4.0, 1.0)) / 2.0
                   * (1.0 - least(CASE WHEN n_chars > 0 THEN CAST(n_punct AS DOUBLE) / n_chars
                                       ELSE 0.0 END * 2.0, 1.0) * 0.5), 6) AS quality,
             CASE WHEN sw_hits > ro_hits AND sw_hits >= 2 THEN 1 ELSE 0 END AS en
      FROM m
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
           round(avg(quality), 6) AS mean_quality,
           round(CAST(sum(en) AS DOUBLE) / count(*), 6) AS english_frac,
           round(1.0 - CAST(count(DISTINCT norm_text) AS DOUBLE) / count(*), 6)
             AS dup_frac
    FROM s GROUP BY source
"""


def q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative BPE-style phrase-merge training (text.phrase_merges,
    k=8).  The LOOP is not single-pass SQL — but every individual round
    IS, once the previous rounds' winners are known: step i's (pair, n)
    is the argmax of adjacent-pair counts after replaying merges
    1..i-1.  The oracle therefore pins the merge PAIRS the sf0.01 run
    provably learns (the ``apply_merges`` pin technique,
    ``_BPE_MERGES_PINNED``) as REPLAY INPUTS only, and DuckDB
    re-derives each row's rank/pair/count by recounting: chained
    doubled-separator replaces (the validated application spelling) →
    adjacent-pair histogram → top-1 with the (n DESC, pair ASC)
    tiebreak.  A training divergence at ANY step changes the recounted
    winner and hash-mismatches — this was the one never-hash-checked
    query (r10 verdict ask #4).  The serial-reference pytest
    (test_phrase_merges_matches_serial_reference) still covers the
    generic k/min_count surface."""
    d = _t(spark, sf_dir, "documents", parallelize=True).select("doc_id", "text")
    return text.phrase_merges(d, k=8)


# The 8 merges phrase_merges(k=8) learns at sf0.01, in rank order —
# replay inputs for the re-deriving oracle below.  Re-derive with
# scripts/check_oracle.py if the driver testdata is ever regenerated.
_BPE_MERGES_PINNED = [
    "table hash", "part filter", "customer join", "merge group",
    "slow key", "vector small", "big order", "merge order",
]


def _bpe_merges_oracle_sql() -> str:
    """Stage i's stream = stage i-1 with merge i applied (doubled-SEP
    plain replace, identical to the apply_merges oracle); rank i's row =
    top adjacent pair of stage i-1's stream, recounted from scratch."""
    sep2 = "chr(31)||chr(31)"
    stages = ["s0"]
    stage_sql = []
    for i, pair in enumerate(_BPE_MERGES_PINNED[:-1], start=1):
        a, b = pair.split(" ", 1)
        prev = stages[-1]
        stage_sql.append(
            f"s{i} AS (SELECT replace(st, "
            f"chr(31)||'{a}'||chr(31)||chr(31)||'{b}'||chr(31), "
            f"chr(31)||'{a}_{b}'||chr(31)) AS st FROM {prev})"
        )
        stages.append(f"s{i}")
    count_sql = []
    for i in range(1, len(_BPE_MERGES_PINNED) + 1):
        src = stages[i - 1]
        count_sql.append(
            f"""t{i} AS (
      SELECT CAST({i} AS INTEGER) AS rank, pair, CAST(count(*) AS BIGINT) AS n
      FROM (
        SELECT unnest(list_transform(range(1, len(tk)),
                                     j -> tk[j] || ' ' || tk[j+1])) AS pair
        FROM (SELECT string_split(substring(st, 3, length(st) - 4),
                                  {sep2}) AS tk FROM {src})
      ) GROUP BY pair ORDER BY n DESC, pair ASC LIMIT 1
    )"""
        )
    union = "\n    UNION ALL ".join(
        f"SELECT * FROM t{i}" for i in range(1, len(_BPE_MERGES_PINNED) + 1)
    )
    stages_joined = ",\n    ".join(stage_sql)
    counts_joined = ",\n    ".join(count_sql)
    return f"""
    WITH ts AS (
      SELECT CASE WHEN regexp_matches(text, '^\\s*$') THEN []::VARCHAR[]
                  ELSE string_split_regex(trim(text), '\\s+') END AS toks
      FROM documents
    ),
    s0 AS (
      SELECT {sep2}||
             array_to_string(list_transform(toks, t -> lower(t)),
                             {sep2})||{sep2} AS st
      FROM ts WHERE len(toks) > 0
    ),
    {stages_joined},
    {counts_joined}
    {union}
    """


def q_apply_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train→apply tokenizer pipeline (round-8 verdict item #3 — the
    trainer's missing other half): the k=4 ``phrase_merges`` table
    learned from THIS corpus re-tokenizes it via
    ``text.apply_phrase_merges`` — k chained JVM literal ``replace``
    calls over a doubled-separator token stream, map-only, zero
    shuffles beyond training's own.  Unlike the trainer, application of
    a fixed merge table is deterministic and single-pass, so the
    COMPOSITION carries a DuckDB oracle: the SQL pins the merge table
    training provably produces at sf0.01 (``table hash``,
    ``part filter``, ``customer join``, ``merge group``) and replays the
    application with the same doubled-separator plain-replace spelling —
    a value-hash mismatch therefore catches EITHER a training divergence
    OR an application bug.  (The pinned list is sf0.01-specific by
    construction; the driver's correctness harness runs at sf0.01, and
    bench-only runs at other SFs never consult the oracle.)"""
    d = _t(spark, sf_dir, "documents", parallelize=True).select("doc_id", "text")
    merges = text.phrase_merges(d, k=4)
    return text.apply_phrase_merges(d, merges)


# The merge table phrase_merges(k=4) learns at sf0.01 — re-derive with
# scripts/check_oracle.py if the driver testdata is ever regenerated.
_APPLY_MERGES_PINNED = ["table hash", "part filter", "customer join", "merge group"]


def _apply_merges_oracle_sql() -> str:
    expr = "st"
    for pair in _APPLY_MERGES_PINNED:
        a, b = pair.split(" ", 1)
        expr = (
            f"replace({expr}, chr(31)||'{a}'||chr(31)||chr(31)||'{b}'||chr(31), "
            f"chr(31)||'{a}_{b}'||chr(31))"
        )
    return f"""
    WITH ts AS (
      SELECT doc_id,
             CASE WHEN regexp_matches(text, '^\\s*$') THEN []::VARCHAR[]
                  ELSE string_split_regex(trim(text), '\\s+') END AS toks
      FROM documents
    ),
    s AS (
      SELECT doc_id, len(toks) AS n0,
             chr(31)||chr(31)||
             array_to_string(list_transform(toks, t -> lower(t)),
                             chr(31)||chr(31))||chr(31)||chr(31) AS st
      FROM ts
    ),
    m AS (SELECT doc_id, n0, {expr} AS mst FROM s),
    sp AS (
      SELECT doc_id, n0,
             string_split(substring(mst, 3, length(mst) - 4),
                          chr(31)||chr(31)) AS out_toks
      FROM m
    )
    SELECT doc_id,
           CASE WHEN n0 = 0 THEN '' ELSE array_to_string(out_toks, ' ') END
             AS merged_text,
           CAST(CASE WHEN n0 = 0 THEN 0 ELSE len(out_toks) END AS BIGINT)
             AS n_tokens
    FROM sp
    """


def q_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learned quality gate (operators/classify.py): bootstrap labels
    from the SAME relaxed Gopher gate the gopher_quality contract query
    uses (min_words=50, min_stopword_hits=1 — 251/249 split at sf0.01),
    train closed-form NB log-odds weights on 4096 hashed unigram
    features, score every doc.  The public CCNet/RedPajama recipe:
    heuristic seed → cheap linear classifier → corpus-wide scores.
    Closed-form (not SGD) keeps the whole train→score pipeline
    single-pass-SQL-expressible, so the learned model itself is
    oracle-checked — not just the plumbing."""
    from csv_etl_spark.operators import classify

    d = _t(spark, sf_dir, "documents", parallelize=True).select("doc_id", "text")
    labels = text.gopher_quality(d, min_words=50, min_stopword_hits=1).select(
        "doc_id", F.col("keep").alias("label")
    )
    return classify.quality_classifier(d, labels, n_features=4096)


def q_lang_id_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trained language ID (operators/classify.py:lang_id_model — r14
    verdict ask #5, replacing text.lang_id's stopword voting as the
    production operator; the heuristic stays as the documented
    fallback).  Char-trigram multinomial NB fitted deterministically at
    import time from literal seed corpora (pure counting, micro-unit
    weights — no RNG, no external model file); scoring is all-JVM:
    trigram explode → (doc, trigram) count → broadcast model join →
    (doc, lang) micro-unit sum → struct-min argmax.  The DuckDB oracle
    replays SCORING in full with the fitted weights inlined as VALUES
    (~900 rows), so the learned pipeline is value-hash-checked end to
    end, with the exact (score desc, lang asc) tie rule."""
    from csv_etl_spark.operators import classify

    d = _t(spark, sf_dir, "documents", parallelize=True).select("doc_id", "text")
    return classify.lang_id_model(d)


def _lang_id_oracle() -> str:
    """The lang_id_model scoring pipeline in DuckDB, model weights
    inlined from the SAME ``lang_trigram_model()`` fit the Spark side
    uses — one source of truth, zero drift by construction."""
    from csv_etl_spark.operators.classify import lang_trigram_model

    model_rows, lang_rows = lang_trigram_model()
    mv = ",\n      ".join(
        "('{}', '{}', {})".format(t.replace("'", "''"), lg, w)
        for t, lg, w in model_rows
    )
    lv = ", ".join(f"('{lg}', {p}, {dw})" for lg, p, dw in lang_rows)
    return f"""
    WITH low AS (SELECT doc_id, lower(text) AS s FROM documents),
    model(trigram, lang, adj_w) AS (VALUES {mv}),
    langs(lang, prior_w, default_w) AS (VALUES {lv}),
    spine AS (SELECT doc_id, greatest(length(s) - 2, 0) AS n3 FROM low),
    tris AS (
      SELECT doc_id,
             unnest(list_transform(range(1, greatest(length(s) - 2, 0) + 1),
                                   i -> substring(s, CAST(i AS INTEGER), 3)))
               AS trigram
      FROM low
    ),
    counts AS (SELECT doc_id, trigram, count(*) AS n FROM tris GROUP BY 1, 2),
    adj AS (
      SELECT c.doc_id, m.lang, sum(c.n * m.adj_w) AS a
      FROM counts c JOIN model m USING (trigram) GROUP BY 1, 2
    ),
    scored AS (
      SELECT s.doc_id, s.n3, l.lang,
             l.prior_w + s.n3 * l.default_w + coalesce(a.a, 0) AS sm
      FROM spine s CROSS JOIN langs l
      LEFT JOIN adj a ON a.doc_id = s.doc_id AND a.lang = l.lang
    ),
    best AS (
      SELECT doc_id, n3, lang, sm,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY sm DESC, lang ASC) AS rk
      FROM scored
    )
    SELECT doc_id,
           CASE WHEN n3 = 0 THEN 'unknown' ELSE lang END AS lang_pred,
           round(CAST(sm AS DOUBLE) / 1000000.0, 6) AS lang_score
    FROM best WHERE rk = 1
"""


_ORACLE_LANG_ID_MODEL = _lang_id_oracle()


def q_fuzzy_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy (edit-distance ≤ 1) string join
    (operators/joins.py:fuzzy_string_join — PassJoin pigeonhole segments
    + position/length windows + exact levenshtein verify, candidates via
    pure equijoin).  Entities are high-entropy 12-hex-char keys derived
    from customers (md5 prefix — engine-portable), right side perturbed:
    every 10th key's first char becomes 'z' (distance exactly 1, 'z' is
    outside the hex alphabet), the rest verbatim (distance 0) — so the
    join must recover every planted pair through blocking, and the
    DuckDB oracle is the naive cross-join-with-levenshtein ground
    truth."""
    from csv_etl_spark.operators.joins import fuzzy_string_join

    c = _t(spark, sf_dir, "customer", parallelize=True).select("c_custkey")
    key12 = F.substring(F.md5(F.col("c_custkey").cast("string")), 1, 12)
    left = c.select(F.col("c_custkey").alias("lid"), key12.alias("s"))
    right = c.select(
        (F.col("c_custkey") + 1_000_000).alias("rid"),
        F.when(
            F.col("c_custkey") % 10 == 0,
            F.concat(F.lit("z"), F.substring(key12, 2, 11)),
        )
        .otherwise(key12)
        .alias("t"),
    )
    return fuzzy_string_join(left, right, "s", "t", "lid", "rid", max_dist=1)


_ORACLE_FUZZY_JOIN = """
    WITH l AS (
      SELECT c_custkey AS lid,
             substring(md5(CAST(c_custkey AS VARCHAR)), 1, 12) AS s
      FROM customer
    ),
    r AS (
      SELECT c_custkey + 1000000 AS rid,
             CASE WHEN c_custkey % 10 = 0
                  THEN 'z' || substring(md5(CAST(c_custkey AS VARCHAR)), 2, 11)
                  ELSE substring(md5(CAST(c_custkey AS VARCHAR)), 1, 12)
             END AS t
      FROM customer
    )
    SELECT l.lid, r.rid, l.s AS left_val, r.t AS right_val,
           CAST(levenshtein(l.s, r.t) AS INT) AS dist
    FROM l CROSS JOIN r
    WHERE levenshtein(l.s, r.t) <= 1
"""


def q_pct_rank_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type percent-rank normalization of the event value
    (stats.percent_rank_transform): SQL percent_rank() semantics WITHOUT
    a Window — distinct-value counts + the packer's distributed prefix
    sum + an equijoin back; a Window.orderBy spelling would single-reduce
    each type at 100 TB.  Oracle is the literal SQL window function, so
    the check proves the window-free plan is row-identical to the window
    semantics (ties, 1-row groups and all)."""
    from csv_etl_spark.operators.stats import percent_rank_transform

    e = (
        _events(spark, sf_dir)
        .filter(F.col("value").isNotNull())
        .select("event_id", "event_type", "value")
    )
    return percent_rank_transform(e, "value", by=["event_type"])


_ORACLE_PCT_RANK = """
    SELECT event_id, event_type, value,
           percent_rank() OVER (PARTITION BY event_type ORDER BY value)
             AS pct_rank
    FROM events WHERE value IS NOT NULL
"""


def q_corr_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass pairwise Pearson correlation matrix over the four numeric
    lineitem columns (stats.pairwise_corr): all 6 pairs from ONE scan
    with conditional exact fixed-point moments — the feature-profiling
    step that naively costs a scan per pair.  Engine-parity via the
    module's quantize→decimal-sum→double-combine discipline."""
    from csv_etl_spark.operators.stats import pairwise_corr

    li = _t(spark, sf_dir, "lineitem", parallelize=True)
    return pairwise_corr(
        li, ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    )


def _corr_lineitem_oracle_sql() -> str:
    from csv_etl_spark.operators.stats import pairwise_corr_oracle_sql

    return pairwise_corr_oracle_sql(
        "lineitem", ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    )


def q_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type robust outlier gate via Median Absolute Deviation
    (stats.mad_outliers): the heavy-tail-safe sibling of the z-score
    anomaly gate — a contaminated group can't shift its own threshold.
    Two n_groups-row exact-percentile aggregates broadcast back
    null-safely, map-only flag; no window, no sort.  Oracle replicates
    the med→|x−med|→MAD chain with quantile_cont and the same 6-decimal
    pre-rounding."""
    from csv_etl_spark.operators.stats import mad_outliers

    e = _events(spark, sf_dir).select("event_id", "event_type", "value")
    return mad_outliers(e, "value", by=["event_type"]).select(
        "event_id",
        "event_type",
        "value",
        "value_med",
        "value_mad",
        "value_rz",
        "is_outlier",
    )


_ORACLE_MAD_OUTLIERS = """
    WITH e AS (SELECT event_id, event_type, value FROM events),
    m AS (SELECT event_type, round(quantile_cont(value, 0.5), 6) AS value_med
          FROM e GROUP BY event_type),
    d AS (SELECT e.*, m.value_med FROM e JOIN m USING (event_type)),
    md AS (SELECT event_type,
                  round(quantile_cont(abs(value - value_med), 0.5), 6) AS value_mad
           FROM d GROUP BY event_type),
    f AS (SELECT d.*, md.value_mad FROM d JOIN md USING (event_type))
    SELECT event_id, event_type, value, value_med, value_mad,
           CASE WHEN value_mad <> 0
                THEN round((value - value_med) / (1.4826 * value_mad), 6)
           END AS value_rz,
           CASE WHEN value IS NULL THEN NULL
                WHEN value_mad = 0 THEN value <> value_med
                ELSE abs(round((value - value_med) / (1.4826 * value_mad), 6)) > 3.5
           END AS is_outlier
    FROM f
"""


def q_copurchase_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 co-occurring part pairs within orders
    (affinity.top_cooccurrence): the 2-itemset support table of every
    association-rule pipeline.  Baskets collapse to sorted distinct-item
    arrays in ONE basket-key shuffle and pairs are generated MAP-SIDE
    from the array (no self-join, no sort — the r9 fix for the measured
    α=1.09 super-linearity of the join formulation at 60M lineitems),
    fan-out-guarded against mega-baskets (max_basket cap BEFORE any pair
    is emitted) and top-k'd via TakeOrderedAndProject with a
    deterministic (count DESC, item_a, item_b) tie-break."""
    from csv_etl_spark.operators.affinity import top_cooccurrence

    li = _t(spark, sf_dir, "lineitem", parallelize=True)
    return top_cooccurrence(
        li, "l_orderkey", "l_partkey", top_k=50, min_support=2
    )


_ORACLE_COPURCHASE_PAIRS = """
    WITH bi AS (SELECT DISTINCT l_orderkey AS bk, l_partkey AS it
                FROM lineitem
                WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL),
    sz AS (SELECT bk FROM bi GROUP BY bk HAVING count(*) <= 1000),
    el AS (SELECT bi.* FROM bi JOIN sz USING (bk)),
    p AS (SELECT a.it AS item_a, b.it AS item_b, count(*) AS pair_count
          FROM el a JOIN el b ON a.bk = b.bk AND a.it < b.it
          GROUP BY 1, 2 HAVING count(*) >= 2)
    SELECT * FROM p ORDER BY pair_count DESC, item_a, item_b LIMIT 50
"""


def q_copurchase_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The freq_cap scale spelling of copurchase_pairs (r10 verdict ask
    #1 — the ``dedup_jaccard_capped`` hot-item discipline applied to
    baskets): parts appearing in MORE than ``freq_cap`` orders are
    dropped from pair generation entirely, the documented-bias control
    that keeps the pair table bounded when real-world baskets carry hot
    items (a staple item in 1M baskets contributes 1M × (b−1) pair rows
    of pure frequency, no co-occurrence signal).  cap=40 bites on the
    sf0.01 corpus (part frequencies run 14-49, median 30 — the hottest
    ~5% of parts sit above it) so the oracle genuinely checks the drop
    semantics without emptying the result."""
    from csv_etl_spark.operators.affinity import top_cooccurrence

    li = _t(spark, sf_dir, "lineitem", parallelize=True)
    return top_cooccurrence(
        li, "l_orderkey", "l_partkey", top_k=50, min_support=2, freq_cap=40
    )


_ORACLE_COPURCHASE_CAPPED = """
    WITH bi AS (SELECT DISTINCT l_orderkey AS bk, l_partkey AS it
                FROM lineitem
                WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL),
    sz AS (SELECT bk FROM bi GROUP BY bk HAVING count(*) <= 1000),
    el AS (SELECT bi.* FROM bi JOIN sz USING (bk)),
    cold AS (SELECT it FROM el GROUP BY it HAVING count(*) <= 40),
    el2 AS (SELECT el.* FROM el JOIN cold USING (it)),
    p AS (SELECT a.it AS item_a, b.it AS item_b, count(*) AS pair_count
          FROM el2 a JOIN el2 b ON a.bk = b.bk AND a.it < b.it
          GROUP BY 1, 2 HAVING count(*) >= 2)
    SELECT * FROM p ORDER BY pair_count DESC, item_a, item_b LIMIT 50
"""


def q_record_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-resolution CLUSTERS: the blocked fuzzy string join
    (PassJoin segments, joins.py:fuzzy_string_join) feeding the SAME
    connected-components resolver the text/image dedup families use —
    pair generators are modality-specific, cluster resolution is shared
    (third consumer of dedup.resolve_duplicate_clusters).  Entities are
    12-hex customer keys with TWO planted perturbation generations:
    every 10th key gets a 'z'-prefixed copy, every 20th a 'z'-suffixed
    copy — the two variants are edit-distance 2 APART and link only
    through their shared original, so the check proves transitive
    closure, not just pair recovery.  Oracle = naive all-pairs
    levenshtein + recursive-CTE reachability (the image_dup_clusters
    pattern)."""
    from csv_etl_spark.operators import dedup
    from csv_etl_spark.operators.joins import fuzzy_string_join

    # ids are custkey*4 + generation — disjoint by construction at EVERY
    # scale factor (an additive +1M offset would collide with real
    # custkeys once the table passes 1M rows, silently fusing unrelated
    # components while the oracle replays the same bug).  One scan: each
    # customer row is exploded into its base key and the copies it plants
    k = F.col("c_custkey")
    key12 = F.substring(F.md5(k.cast("string")), 1, 12)
    base = F.struct((k * 4).alias("id"), key12.alias("s"))
    p1 = F.struct((k * 4 + 1).alias("id"), F.concat(F.lit("z"), F.substring(key12, 2, 11)).alias("s"))
    p2 = F.struct((k * 4 + 2).alias("id"), F.concat(F.substring(key12, 1, 11), F.lit("z")).alias("s"))
    ents = _t(spark, sf_dir, "customer").select(
        F.inline(F.array_compact(F.array(base, F.when(k % 10 == 0, p1), F.when(k % 20 == 0, p2))))
    )
    pairs = fuzzy_string_join(
        ents.select(F.col("id").alias("lid"), "s"),
        ents.select(F.col("id").alias("rid"), F.col("s").alias("t")),
        "s",
        "t",
        "lid",
        "rid",
        max_dist=1,
    ).filter(F.col("lid") < F.col("rid"))
    return dedup.resolve_duplicate_clusters(pairs, id_a="lid", id_b="rid").select(
        "id", "cluster_id"
    )


_ORACLE_RECORD_CLUSTERS = """
    WITH RECURSIVE ents AS (
      SELECT c_custkey * 4 AS id,
             substring(md5(CAST(c_custkey AS VARCHAR)), 1, 12) AS s
      FROM customer
      UNION ALL
      SELECT c_custkey * 4 + 1,
             'z' || substring(md5(CAST(c_custkey AS VARCHAR)), 2, 11)
      FROM customer WHERE c_custkey % 10 = 0
      UNION ALL
      SELECT c_custkey * 4 + 2,
             substring(md5(CAST(c_custkey AS VARCHAR)), 1, 11) || 'z'
      FROM customer WHERE c_custkey % 20 = 0
    ),
    pairs AS (
      SELECT a.id AS id_a, b.id AS id_b
      FROM ents a JOIN ents b ON a.id < b.id
      WHERE levenshtein(a.s, b.s) <= 1
    ),
    edges AS (
      SELECT id_a AS u, id_b AS v FROM pairs
      UNION SELECT id_b AS u, id_a AS v FROM pairs
    ),
    reach(u, v) AS (
      SELECT u, u FROM edges
      UNION
      SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
    )
    SELECT u AS id, min(v) AS cluster_id FROM reach GROUP BY u
"""


# url_dedup's synthetic corpus treats ?ref= as tracking — extend the
# default utm/click-id set (bare "ref" is opt-in since r9: it is often
# a functional parameter and stripping it loses documents)
from csv_etl_spark.operators.urls import TRACKING_PARAMS as _TRACKING_DEFAULT

_TRACKING_WITH_REF = _TRACKING_DEFAULT + "|ref"


def q_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL curation composition (operators/urls.py): canonicalize →
    domain-blocklist filter → URL-level dedup — the steps C4/RefinedWeb
    run before any text operator.  Synthetic messy URLs derived
    deterministically from (doc_id, source): scheme-case + www on every
    3rd, .co.uk vs .com TLD split on every 4th (exercising the
    multi-part-suffix branch of registered_domain), :443 default port on
    every 5th, trailing slash on every 2nd, and tracking-only query
    strings — ALL of which must normalize away so docs sharing
    (source, tld-class, doc_id%300) collapse to one URL.  Blocklist
    drops src7 entirely and src3's .com half only (registered-domain
    semantics, broadcast anti-join).  The oracle replays the identical
    normalization chain, generated from the same pattern constants
    (urls.normalize_url_oracle_sql)."""
    from csv_etl_spark.operators.urls import (
        dedup_by_url,
        domain_blocklist_filter,
    )

    d = _t(spark, sf_dir, "documents", parallelize=True).select(
        "doc_id", "source"
    )
    did = F.col("doc_id")
    url = F.concat(
        F.when(did % 3 == 0, F.lit("HTTPS://WWW.")).otherwise(F.lit("https://")),
        F.col("source"),
        F.when(did % 4 == 0, F.lit(".co.uk")).otherwise(F.lit(".com")),
        F.when(did % 5 == 0, F.lit(":443")).otherwise(F.lit("")),
        F.lit("/doc/"),
        (did % 300).cast("string"),
        F.when(did % 2 == 0, F.lit("/")).otherwise(F.lit("")),
        F.when(did % 3 == 0, F.lit("?utm_source=feed&utm_medium=rss"))
        .when(did % 3 == 1, F.lit("?ref=promo"))
        .otherwise(F.lit("")),
    )
    docs = d.select("doc_id", url.alias("url"))
    from csv_etl_spark.local import local_values_frame

    blocked = local_values_frame(
        spark,
        [("src7.com",), ("src7.co.uk",), ("src3.com",)],
        "domain string",
    )
    # this corpus uses ?ref= as a tracking key, so the query extends the
    # default utm/click-id set explicitly (bare "ref" is opt-in since r9
    # — it is often functional; see urls.TRACKING_PARAMS)
    return dedup_by_url(
        domain_blocklist_filter(docs, "url", blocked),
        "url",
        "doc_id",
        tracking_params=_TRACKING_WITH_REF,
    )


def _url_dedup_oracle() -> str:
    from csv_etl_spark.operators.urls import (
        normalize_url_oracle_sql,
        registered_domain_oracle_sql,
    )

    return f"""
    WITH docs AS (
      SELECT doc_id,
             (CASE WHEN doc_id % 3 = 0 THEN 'HTTPS://WWW.' ELSE 'https://' END
              || source
              || CASE WHEN doc_id % 4 = 0 THEN '.co.uk' ELSE '.com' END
              || CASE WHEN doc_id % 5 = 0 THEN ':443' ELSE '' END
              || '/doc/' || CAST(doc_id % 300 AS VARCHAR)
              || CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END
              || CASE WHEN doc_id % 3 = 0 THEN '?utm_source=feed&utm_medium=rss'
                      WHEN doc_id % 3 = 1 THEN '?ref=promo' ELSE '' END
             ) AS url
      FROM documents
    ),
    kept AS (
      SELECT doc_id, url FROM docs
      WHERE {registered_domain_oracle_sql('url')}
            NOT IN ('src7.com', 'src7.co.uk', 'src3.com')
    )
    SELECT {normalize_url_oracle_sql('url', _TRACKING_WITH_REF)} AS url_norm,
           min(doc_id) AS keep_id,
           count(*) AS n_copies
    FROM kept
    GROUP BY 1
"""


def q_url_registered_domain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PSL-table registered-domain resolution (urls.registered_domain_psl,
    new in r9): synthetic hosts exercising every rule kind — a
    private-section suffix (github.io), a ccTLD second-level (co.jp), a
    WILDCARD ccTLD (*.ck), the !www.ck EXCEPTION, an unlisted suffix
    (default rule), and plain .com/.co.uk — resolved via the per-depth
    broadcast longest-match joins, then a registered-domain frequency
    rollup.  The oracle replays the publicsuffix.org algorithm in SQL
    over a VALUES copy of the SAME PSL_HEAD_RULES constant (generated,
    so the two rule sets cannot drift)."""
    from csv_etl_spark.operators.urls import psl_frame, registered_domain_psl

    d = _t(spark, sf_dir, "documents", parallelize=True).select("doc_id", "source")
    did = F.col("doc_id")
    host = (
        F.when(did % 7 == 0, F.concat(F.col("source"), F.lit(".github.io")))
        .when(did % 7 == 1, F.concat(F.lit("shop."), F.col("source"), F.lit(".co.jp")))
        .when(did % 7 == 2, F.concat(F.lit("x"), (did % 5).cast("string"),
                                     F.lit("."), F.col("source"), F.lit(".ck")))
        .when(did % 7 == 3, F.lit("www.ck"))
        .when(did % 7 == 4, F.concat(F.col("source"), F.lit(".example")))
        .when(did % 7 == 5, F.concat(F.lit("sub."), F.col("source"), F.lit(".com")))
        .otherwise(F.concat(F.col("source"), F.lit(".co.uk")))
    )
    urls = d.select(
        "doc_id",
        F.concat(F.lit("https://"), host, F.lit("/p/"), (did % 50).cast("string")).alias("url"),
    )
    tagged = registered_domain_psl(urls, "url", psl_frame(spark))
    return tagged.groupBy("registered_domain").agg(
        F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("min_doc")
    )


def _url_registered_domain_oracle() -> str:
    from csv_etl_spark.operators.urls import PSL_HEAD_RULES

    vals = []
    for r in PSL_HEAD_RULES:
        r = r.strip().lower()
        if r.startswith("!"):
            kind, sfx = "exception", r[1:]
        elif r.startswith("*."):
            kind, sfx = "wildcard", r[2:]
        else:
            kind, sfx = "normal", r
        vals.append(f"('{sfx}', '{kind}', {sfx.count('.') + 1})")
    values = ",\n      ".join(vals)
    return f"""
    WITH docs AS (
      SELECT doc_id,
        CASE doc_id % 7
          WHEN 0 THEN source || '.github.io'
          WHEN 1 THEN 'shop.' || source || '.co.jp'
          WHEN 2 THEN 'x' || CAST(doc_id % 5 AS VARCHAR) || '.' || source || '.ck'
          WHEN 3 THEN 'www.ck'
          WHEN 4 THEN source || '.example'
          WHEN 5 THEN 'sub.' || source || '.com'
          ELSE source || '.co.uk'
        END AS host
      FROM documents
    ),
    ls AS (SELECT doc_id, string_split(host, '.') AS l FROM docs),
    psl(suffix, kind, nlab) AS (VALUES
      {values}
    ),
    cand AS (
      SELECT doc_id, k,
             array_to_string(l[len(l) - k + 1 : len(l)], '.') AS cand
      FROM ls, range(1, 6) t(k)
      WHERE len(l) >= k
    ),
    m AS (
      SELECT c.doc_id,
             max(CASE WHEN p.kind = 'normal' THEN p.nlab
                      WHEN p.kind = 'wildcard' THEN p.nlab + 1 END) AS imp,
             max(CASE WHEN p.kind = 'exception' THEN p.nlab - 1 END) AS exc
      FROM cand c JOIN psl p ON c.cand = p.suffix
      GROUP BY c.doc_id
    ),
    r AS (
      SELECT ls.doc_id,
             CASE WHEN len(l) > ps
                  THEN array_to_string(l[len(l) - ps : len(l)], '.') END
             AS registered_domain
      FROM (
        SELECT ls.doc_id, ls.l,
               coalesce(m.exc, greatest(coalesce(m.imp, 1), 1)) AS ps
        FROM ls LEFT JOIN m ON ls.doc_id = m.doc_id
      ) ls
    )
    SELECT registered_domain, count(*) AS n_docs, min(doc_id) AS min_doc
    FROM r GROUP BY 1
"""


def q_events_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type distribution-drift report (stats.distribution_drift):
    PSI over 10 reference-decile bins between two deterministic halves
    of the events table, with a 1.5x value scale-up planted in the
    CURRENT half's 'click' type — click must clearly dominate the
    unshifted types' split-half sampling noise.  Reference edges from one n_groups-row exact
    percentile agg broadcast to both sides; bin assignment is map-only
    size(filter(edges)); everything after the two count aggs rides
    n_groups × n_bins rows.  Oracle replays the identical chain
    (quantile_cont edges, eps clamp, contribution rounding, decimal
    sum)."""
    from csv_etl_spark.operators.stats import distribution_drift

    e = _events(spark, sf_dir).select("event_id", "event_type", "value")
    ref = e.filter(F.col("event_id") % 2 == 0).select("event_type", "value")
    cur = e.filter(F.col("event_id") % 2 == 1).select(
        "event_type",
        (
            F.col("value")
            * F.when(F.col("event_type") == "click", 1.5).otherwise(1.0)
        ).alias("value"),
    )
    return distribution_drift(ref, cur, "value", by=["event_type"])


_ORACLE_EVENTS_DRIFT = f"""
    WITH ref AS (SELECT event_type, value FROM events WHERE event_id % 2 = 0),
    cur AS (SELECT event_type,
            value * CASE WHEN event_type = 'click' THEN 1.5 ELSE 1.0 END AS value
            FROM events WHERE event_id % 2 = 1),
    edges AS (SELECT event_type,
              list_transform(
                quantile_cont(value, [{",".join(str(i / 10.0) for i in range(1, 10))}]),
                e -> round(e, 6)) AS edges
              FROM ref WHERE value IS NOT NULL GROUP BY event_type),
    rb AS (SELECT r.event_type,
                  len(list_filter(e.edges, x -> r.value > x)) AS bin,
                  count(*) AS c_ref
           FROM ref r JOIN edges e USING (event_type)
           WHERE r.value IS NOT NULL GROUP BY 1, 2),
    cb AS (SELECT c.event_type,
                  len(list_filter(e.edges, x -> c.value > x)) AS bin,
                  count(*) AS c_cur
           FROM cur c JOIN edges e USING (event_type)
           WHERE c.value IS NOT NULL GROUP BY 1, 2),
    j AS (SELECT coalesce(rb.event_type, cb.event_type) AS event_type,
                 coalesce(rb.bin, cb.bin) AS bin,
                 coalesce(c_ref, 0) AS c_ref, coalesce(c_cur, 0) AS c_cur
          FROM rb FULL OUTER JOIN cb
          ON rb.event_type = cb.event_type AND rb.bin = cb.bin),
    t AS (SELECT event_type, sum(c_ref) AS t_ref, sum(c_cur) AS t_cur
          FROM j GROUP BY 1),
    w AS (SELECT j.*, t.t_ref, t.t_cur FROM j JOIN t USING (event_type)
          WHERE t_ref > 0 AND t_cur > 0),
    s AS (SELECT event_type,
                 greatest(round(c_ref / t_ref, 6), 1e-6) AS sr,
                 greatest(round(c_cur / t_cur, 6), 1e-6) AS sc,
                 t_ref, t_cur FROM w)
    SELECT event_type,
           round(CAST(sum(CAST(round((sc - sr) * ln(sc / sr), 8)
                 AS DECIMAL(38,8))) AS DOUBLE), 4) AS psi,
           CAST(max(t_ref) AS BIGINT) AS n_ref,
           CAST(max(t_cur) AS BIGINT) AS n_cur
    FROM s GROUP BY 1
"""


def q_key_skew_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnostic (profile.key_skew_report) over a
    PLANTED hot key: every 4th event collapses onto key 0 (25% of the
    table on one key — the classic pre-shuffle hazard), the rest keep
    their uniform user_id.  The report must surface key 0 with
    skew_ratio ≈ n_keys/4 while the uniform tail scores ~single-digit
    ratios — the evidence that routes a job to salted_agg / AQE skew
    split.  One count aggregate (the same shuffle the diagnosed job
    would run), scalar totals broadcast onto a TakeOrderedAndProject
    top-20."""
    from csv_etl_spark.operators.profile import key_skew_report

    e = _events(spark, sf_dir).select(
        F.when(F.col("event_id") % 4 == 0, F.lit(0))
        .otherwise(F.col("user_id"))
        .alias("join_key")
    )
    return key_skew_report(e, ["join_key"], top_k=20)


_ORACLE_KEY_SKEW = """
    WITH k AS (SELECT CASE WHEN event_id % 4 = 0 THEN 0 ELSE user_id END
               AS join_key FROM events),
    c AS (SELECT join_key, count(*) AS cnt FROM k GROUP BY 1),
    t AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_rows,
                 count(*) AS n_keys FROM c),
    top AS (SELECT * FROM c ORDER BY cnt DESC, join_key NULLS LAST LIMIT 20)
    SELECT join_key, cnt,
           round(cnt / n_rows, 6) AS share,
           n_rows, n_keys,
           round(CAST(n_rows AS DOUBLE) / n_keys, 6) AS avg_cnt,
           round(cnt / (CAST(n_rows AS DOUBLE) / n_keys), 6) AS skew_ratio
    FROM top CROSS JOIN t
"""


# Full train→score replication: same gopher labels, same md5-top-32-bit
# feature hashing, same add-0.5 NB log-odds with 6-decimal pre-rounding,
# same decimal micro-unit sum (HUGEINT, the dsir spelling).
_ORACLE_QUALITY_CLASSIFIER = f"""
    WITH g AS ({_ORACLE_GOPHER}),
    lab AS (SELECT doc_id, keep AS y FROM g),
    tok AS (
      SELECT doc_id,
             lower(unnest(CASE WHEN regexp_matches(text, '^\\s*$')
                  THEN []::VARCHAR[]
                  ELSE string_split_regex(trim(text), '\\s+') END)) AS tok
      FROM documents
    ),
    f AS (
      SELECT DISTINCT doc_id,
             CAST('0x' || substring(md5(tok), 1, 8) AS BIGINT) % 4096 AS feature
      FROM tok
    ),
    counts AS (
      SELECT feature,
             sum(CASE WHEN y THEN 1 ELSE 0 END) AS cpos,
             sum(CASE WHEN y THEN 0 ELSE 1 END) AS cneg
      FROM f JOIN lab USING (doc_id) GROUP BY feature
    ),
    tot AS (
      SELECT CAST(sum(cpos) AS DOUBLE) AS tpos,
             CAST(sum(cneg) AS DOUBLE) AS tneg
      FROM counts
    ),
    w AS (
      SELECT feature,
             round(ln((cpos + 0.5) / (tpos + 0.5 * 4096))
                   - ln((cneg + 0.5) / (tneg + 0.5 * 4096)), 6) AS weight
      FROM counts CROSS JOIN tot
    ),
    prior AS (
      SELECT round(ln((sum(CASE WHEN y THEN 1 ELSE 0 END) + 0.5)
                   / (sum(CASE WHEN y THEN 0 ELSE 1 END) + 0.5)), 6) AS bias
      FROM lab
    ),
    sc AS (
      SELECT f.doc_id, count(*) AS nf,
             sum(CAST(w.weight * 1000000 AS HUGEINT)) AS w6
      FROM f JOIN w USING (feature) GROUP BY f.doc_id
    )
    SELECT d.doc_id,
           CAST(coalesce(sc.nf, 0) AS BIGINT) AS n_features,
           round(prior.bias + coalesce(CAST(sc.w6 AS DOUBLE) / 1000000.0,
                                       0.0), 6) AS score,
           (round(prior.bias + coalesce(CAST(sc.w6 AS DOUBLE) / 1000000.0,
                                        0.0), 6) > 0) AS predicted
    FROM documents d LEFT JOIN sc ON d.doc_id = sc.doc_id CROSS JOIN prior
"""


def q_sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based BATCH sessionization (rolling.sessionize_batch) — the
    batch twin of streaming.events.sessionize: one session row per
    (user, burst of events ≤30 min apart).  Two windows sharing ONE
    per-user shuffle (lag marks session starts, a running sum numbers
    them) and a map-side-combinable groupBy collapses events to
    sessions; epochs stay bigint seconds for engine-portable compares."""
    from csv_etl_spark.operators.rolling import sessionize_batch

    e = _events(spark, sf_dir).select("user_id", "event_id", "ts")
    return sessionize_batch(
        e, partition_col="user_id", ts_col="ts",
        tiebreak_col="event_id", gap_seconds=1800,
    )


_ORACLE_SESSIONIZE_BATCH = """
    WITH e AS (
      -- floor, not round: Spark's unix_timestamp TRUNCATES fractional
      -- seconds while a bare CAST(DOUBLE AS BIGINT) rounds-to-nearest
      SELECT user_id, event_id,
             CAST(floor(epoch(ts)) AS BIGINT) AS ep FROM events
    ),
    m AS (
      SELECT user_id, event_id, ep,
             CASE WHEN lag(ep) OVER w IS NULL
                       OR ep - lag(ep) OVER w > 1800
                  THEN 1 ELSE 0 END AS ns
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ep, event_id)
    ),
    n AS (
      SELECT user_id, ep,
             CAST(sum(ns) OVER (PARTITION BY user_id ORDER BY ep, event_id
                                ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS session_seq
      FROM m
    )
    SELECT user_id, session_seq,
           min(ep) AS session_start, max(ep) AS session_end,
           CAST(count(*) AS BIGINT) AS n_events,
           max(ep) - min(ep) AS duration_secs
    FROM n GROUP BY 1, 2
"""


def q_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN GRAPH over the whole embeddings table via similarity.knn_join
    — the co-partitioned ANN path where the probe side IS the corpus
    (SemDeDup ε-graphs, kNN-LM retrieval sets), so NEITHER side is
    broadcast: one codebook router sends right vectors to their nearest
    cell and every probe to its nprobe=2 nearest cells (map-only, no
    window), and one cell-keyed shuffle co-partitions both big sides
    before the two-stage per-probe top-3.  The codebook SCALES WITH THE CORPUS — n_centroids =
    max(8, min(4096, floor(sqrt(N)))), the IVF discipline
    similarity.knn_join's docstring prescribes: with a constant codebook
    the pair-score cost |N|²·nprobe/n_cells is quadratic in N (the r9
    parameterization fixed 8 cells and this one query was 23% of the
    whole headline bench), with √N cells it is N^1.5·nprobe.  The count
    that sizes the codebook is a parquet-metadata scalar, and the
    deterministic smallest-vec_id convention keeps the routing
    replicable in SQL — the oracle computes the SAME √N via a scalar
    subquery and replays the FULL pipeline, not a rows-only check."""
    e = _t(spark, sf_dir, "embeddings")
    # Codebook = sqrt(N) cells, capped at 4096: this is the FLOP-OPTIMAL
    # balance for an all-pairs IVF graph (routing costs N*cells sims,
    # scanning costs N*nprobe*N/cells; the sum is minimized at cells ~
    # sqrt(nprobe*N)), so total work grows as N^1.5 BY DESIGN and the
    # 2M-decade ladder's alpha=1.17 (BENCHNOTES_r11_embeddings) is the
    # asymptote showing through, not a plan defect.  Measured refutation
    # of the obvious "more cells" fix (r11): forcing members-per-cell to
    # <=512 (3906 cells at 2M) made the decade 2.5x WORSE (530 s vs
    # 213 s, BENCHNOTES_r11_knn2) because routing flops N*cells then
    # dominate.  Past ~16M vectors the right tier is IMPLEMENTED (r12):
    # similarity.knn_join(m_super=4) — bounded cells with hierarchical
    # k-means+spill routing (linear scan, ~N^1.25 routing; measured
    # alpha 0.99 and recall@5 1.000 at the 2M decade vs this query's
    # 1.17 — BENCHNOTES_r12_knn_sharded, RECALL.md).  This flat-codebook
    # spelling remains the recommended tier BELOW that crossover.
    n_centroids = max(8, min(4096, int(math.floor(math.sqrt(e.count())))))
    cents = (
        e.orderBy("vec_id").limit(n_centroids)
        .select(
            F.col("vec_id").cast("int").alias("centroid_id"),
            F.col("embedding").alias("centroid_vec"),
        )
    )
    probes = e.select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("probe_vec")
    )
    return similarity.knn_join(
        probes, e, cents, k=3, nprobe=2, exclude_same_id=True
    ).select("probe_id", "neighbor_id", "cosine", "rank")


def _knn_graph_oracle_sql(
    nprobe: int = 2, k: int = 3, cells_sql: str | None = None
) -> str:
    # n_centroids replays the Spark side's corpus-scaled codebook:
    # max(8, min(4096, floor(sqrt(N)))) via a scalar subquery, so the
    # oracle stays a FULL-pipeline replay at every sf.  ``cells_sql``
    # overrides the codebook-size expression (the sharded tier passes
    # its bounded-cell formula; everything downstream is identical
    # because m_super=None routing IS the flat argmax).
    cos_ec = _cos_sql("e.embedding", "c.centroid_vec")
    cos_pc = _cos_sql("p.probe_vec", "c.centroid_vec")
    cos_ap = _cos_sql("a.embedding", "r.probe_vec")
    if cells_sql is None:
        cells_sql = (
            "GREATEST(8, LEAST(4096, CAST(FLOOR(SQRT(COUNT(*))) AS BIGINT)))"
        )
    return f"""
    WITH n_cents AS (
      SELECT {cells_sql}
        AS n FROM embeddings
    ),
    cents AS (
      SELECT CAST(vec_id AS INT) AS centroid_id, embedding AS centroid_vec
      FROM (SELECT vec_id, embedding,
                   row_number() OVER (ORDER BY vec_id) AS _rn
            FROM embeddings)
      WHERE _rn <= (SELECT n FROM n_cents)
    ),
    assigned AS (
      SELECT vec_id, embedding, centroid_id AS cluster FROM (
        SELECT e.vec_id, e.embedding, c.centroid_id,
               row_number() OVER (PARTITION BY e.vec_id
                                  ORDER BY {cos_ec} DESC, c.centroid_id ASC)
                 AS rk
        FROM embeddings e CROSS JOIN cents c)
      WHERE rk = 1
    ),
    routes AS (
      SELECT probe_id, probe_vec, centroid_id AS cluster FROM (
        SELECT p.probe_id, p.probe_vec, c.centroid_id,
               row_number() OVER (PARTITION BY p.probe_id
                                  ORDER BY {cos_pc} DESC, c.centroid_id ASC)
                 AS rk
        FROM (SELECT vec_id AS probe_id, embedding AS probe_vec
              FROM embeddings) p
        CROSS JOIN cents c)
      WHERE rk <= {nprobe}
    )
    SELECT probe_id, neighbor_id, cosine, rank FROM (
      SELECT r.probe_id, a.vec_id AS neighbor_id,
             round({cos_ap}, 6) AS cosine,
             row_number() OVER (
               PARTITION BY r.probe_id
               ORDER BY {cos_ap} DESC, a.vec_id ASC) AS rank
      FROM assigned a JOIN routes r ON a.cluster = r.cluster
      WHERE a.vec_id <> r.probe_id
    ) WHERE rank <= {k}
    """


def q_knn_graph_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The AUTO-DISPATCHING kNN-graph entry point (r12 verdict ask #6:
    similarity.knn_join_auto) — picks the flat √N-codebook tier at or
    below KNN_FLAT_MAX_N (16M vectors) and the bounded-cell sharded tier
    above it, so a user never has to read the tier map to get the right
    plan.  At every test scale factor the corpus is far below the bound,
    so this dispatches to knn_join over the exact codebook q_knn_graph
    builds (same k=3, nprobe=2, smallest-id convention) and the oracle
    is the SAME full-pipeline SQL replay; the dispatch threshold itself
    is pinned in test_knn_join_auto_dispatch, which forces both arms."""
    e = _t(spark, sf_dir, "embeddings")
    probes = e.select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("probe_vec")
    )
    return similarity.knn_join_auto(
        probes, e, k=3, nprobe=2, exclude_same_id=True
    ).select("probe_id", "neighbor_id", "cosine", "rank")


def q_knn_graph_sharded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN GRAPH on the BOUNDED-CELL tier (similarity.knn_join over a
    bounded codebook, r11 verdict ask #1 — the ≥16M-vector regime's answer to the flat
    √N-cell design's measured N^1.5 asymptote).  Codebook = the first
    max(⌊√N⌋, ⌈N/512⌉) vectors by id: below the ~262k-vector crossover
    that is exactly the flat √N discipline; above it, cells stay at
    ~512 members so the scan term is N·nprobe·512 — LINEAR — while
    hierarchical two-level routing (⌈√C⌉ super-centroids, m_super
    probed) caps routing at ~N^1.25 with a tiny constant.

    THIS contract spelling routes m_super=None — stage 2 ranks ALL
    centroids with the flat stable (sim desc, cid asc) rule — so the
    pipeline is a flat IVF over the bounded codebook and the SQL oracle
    replays it in full (same CTE chain as knn_graph, different cell
    count).  The production m_super=4 spelling is recall-measured in
    RECALL.md and ladder-measured in SCALE.md instead (its routing is
    approximate, hence not SQL-replayable)."""
    e = _t(spark, sf_dir, "embeddings")
    n = e.count()
    n_centroids = max(8, int(math.floor(math.sqrt(n))), -(-n // 512))
    cents = (
        e.orderBy("vec_id").limit(n_centroids)
        .select(
            F.col("vec_id").cast("int").alias("centroid_id"),
            F.col("embedding").alias("centroid_vec"),
        )
    )
    probes = e.select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("probe_vec")
    )
    return similarity.knn_join(
        probes, e, cents, k=3, nprobe=2, m_super=None, exclude_same_id=True
    ).select("probe_id", "neighbor_id", "cosine", "rank")


_KNN_SHARDED_CELLS_SQL = (
    "GREATEST(8, CAST(FLOOR(SQRT(COUNT(*))) AS BIGINT), "
    "CAST(CEIL(COUNT(*) / 512.0) AS BIGINT))"
)


def q_part_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank centrality (graph.pagerank, 3 power iterations, d=0.85)
    over the part↔supplier co-supply graph — the crawl-frontier
    prioritization shape (Common Crawl ranks its domain graph by exactly
    such link centrality before fetching).  Edges are the distinct
    (l_partkey, l_suppkey) pairs of lineitem in BOTH directions
    (suppliers offset to their own id space); contributions are
    quantized round-8 → DECIMAL(38,8) before summation so the ranks are
    bit-identical across engines, and the top-100 rides a
    TakeOrderedAndProject."""
    from csv_etl_spark.operators.graph import pagerank

    li = _t(spark, sf_dir, "lineitem", parallelize=True)
    fwd = li.select(
        F.col("l_partkey").alias("src"),
        (F.col("l_suppkey") + F.lit(1000000000)).alias("dst"),
    )
    edges = fwd.unionByName(
        fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    pr = pagerank(edges, iters=3, damping=0.85)
    return pr.orderBy(F.col("pagerank").desc(), F.col("node_id")).limit(100)


_ORACLE_PART_PAGERANK = """
    WITH fwd AS (
      SELECT DISTINCT l_partkey AS src, l_suppkey + 1000000000 AS dst
      FROM lineitem
    ),
    e AS (SELECT src, dst FROM fwd
          UNION SELECT dst AS src, src AS dst FROM fwd),
    deg AS (SELECT src, count(*) AS outdeg FROM e GROUP BY src),
    nodes AS (SELECT DISTINCT src AS node_id FROM e
              UNION SELECT DISTINCT dst FROM e),
    nn AS (SELECT count(*) AS n FROM (SELECT DISTINCT node_id FROM nodes)),
    pr0 AS (SELECT node_id, round(1.0 / nn.n, 6) AS pagerank
            FROM nodes CROSS JOIN nn),
    it1 AS (
      SELECT n.node_id,
             round(0.15 / nn.n + 0.85 * coalesce(c.s, 0.0), 6) AS pagerank
      FROM nodes n CROSS JOIN nn LEFT JOIN (
        SELECT e.dst AS node_id,
               CAST(sum(CAST(round(p.pagerank / d.outdeg, 8)
                             AS DECIMAL(38,8))) AS DOUBLE) AS s
        FROM e JOIN deg d ON e.src = d.src JOIN pr0 p ON e.src = p.node_id
        GROUP BY e.dst) c ON n.node_id = c.node_id
    ),
    it2 AS (
      SELECT n.node_id,
             round(0.15 / nn.n + 0.85 * coalesce(c.s, 0.0), 6) AS pagerank
      FROM nodes n CROSS JOIN nn LEFT JOIN (
        SELECT e.dst AS node_id,
               CAST(sum(CAST(round(p.pagerank / d.outdeg, 8)
                             AS DECIMAL(38,8))) AS DOUBLE) AS s
        FROM e JOIN deg d ON e.src = d.src JOIN it1 p ON e.src = p.node_id
        GROUP BY e.dst) c ON n.node_id = c.node_id
    ),
    it3 AS (
      SELECT n.node_id,
             round(0.15 / nn.n + 0.85 * coalesce(c.s, 0.0), 6) AS pagerank
      FROM nodes n CROSS JOIN nn LEFT JOIN (
        SELECT e.dst AS node_id,
               CAST(sum(CAST(round(p.pagerank / d.outdeg, 8)
                             AS DECIMAL(38,8))) AS DOUBLE) AS s
        FROM e JOIN deg d ON e.src = d.src JOIN it2 p ON e.src = p.node_id
        GROUP BY e.dst) c ON n.node_id = c.node_id
    )
    SELECT node_id, pagerank FROM it3
    ORDER BY pagerank DESC, node_id LIMIT 100
"""


def q_salted_join_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-SALTED fact×dim equijoin (joins.salted_skew_join) over a
    PLANTED hot key: every 4th event collapses onto customer 0 (25% of
    the fact side on one join key — the shuffle shape key_skew_events
    diagnoses), detection finds it with one count agg, the fact side
    salts it across 8 partitions and the dim side replicates its one hot
    row ×8.  The salted result must equal the PLAIN join — that equality
    IS the oracle (the salted_agg_events discipline applied to joins).
    Double sums rounded to 6: salted merge and DuckDB add in different
    orders."""
    from csv_etl_spark.operators.joins import salted_skew_join

    ev = _events(spark, sf_dir).select(
        F.when(F.col("event_id") % 4 == 0, F.lit(0))
        .otherwise(F.col("user_id"))
        .alias("c_custkey"),
        "value",
    )
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    j = salted_skew_join(ev, cust, "c_custkey", n_salts=8, min_share=0.05)
    return j.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.countDistinct("c_custkey").cast("bigint").alias("n_customers"),
        F.round(F.sum("value"), 6).alias("sum_value"),
    )


_ORACLE_SALTED_JOIN = """
    WITH f AS (
      SELECT CASE WHEN event_id % 4 = 0 THEN 0 ELSE user_id END AS c_custkey,
             value
      FROM events
    ),
    j AS (SELECT f.c_custkey, f.value, c.c_mktsegment
          FROM f JOIN customer c USING (c_custkey))
    SELECT c_mktsegment,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(DISTINCT c_custkey) AS BIGINT) AS n_customers,
           round(sum(value), 6) AS sum_value
    FROM j GROUP BY 1
"""


def q_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based mixture rebalancing (sampling.temperature_resample,
    the mT5/XLM-R alpha-sampling rule at alpha=0.5) over the documents
    language mix: keep rates ∝ count^(alpha-1) normalized so the
    smallest language keeps 100% — one count agg, one scalar max
    broadcast, map-only deterministic md5 keep.  Output is the per-lang
    post-mix census (kept docs, the rounded keep rate, surviving
    chars)."""
    from csv_etl_spark.operators.sampling import temperature_resample

    d = _t(spark, sf_dir, "documents", parallelize=True).select(
        "doc_id", "lang", "n_chars"
    )
    out = temperature_resample(d, "lang", "doc_id", alpha=0.5)
    return out.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_kept"),
        F.max("keep_rate").alias("keep_rate"),
        F.sum("n_chars").cast("bigint").alias("sum_chars"),
    )


_ORACLE_TEMPERATURE_MIX = """
    WITH c AS (SELECT lang, count(*) AS cnt FROM documents GROUP BY 1),
    w AS (SELECT lang, pow(CAST(cnt AS DOUBLE), -0.5) AS w FROM c),
    mx AS (SELECT max(w) AS wmax FROM w),
    r AS (SELECT lang, round(w / wmax, 6) AS keep_rate
          FROM w CROSS JOIN mx),
    k AS (
      SELECT d.doc_id, d.lang, d.n_chars, r.keep_rate
      FROM documents d JOIN r USING (lang)
      WHERE CAST('0x' || substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 8)
                 AS BIGINT) / 4294967296.0 < r.keep_rate
    )
    SELECT lang, CAST(count(*) AS BIGINT) AS n_kept,
           max(keep_rate) AS keep_rate,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars
    FROM k GROUP BY 1
"""


def q_embedding_standardize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension z-score standardization of the embeddings table
    (similarity.standardize_embeddings): ONE aggregate computes all 128
    per-dimension decimal moments as array-indexed column expressions —
    no explode, no window, no Python — then the 1-row stats frame
    broadcasts back and a map-only in-row transform emits the z-scores.
    The comparison frame is exploded to (vec_id, dim_idx, z) scalars;
    the oracle replays the identical rounded-decimal moment chain."""
    from csv_etl_spark.operators.similarity import standardize_embeddings

    e = _t(spark, sf_dir, "embeddings")
    out = standardize_embeddings(e, dim=64)
    return out.select(
        "vec_id", F.posexplode("standardized").alias("dim_idx", "z")
    ).select("vec_id", F.col("dim_idx").cast("int").alias("dim_idx"), "z")


_ORACLE_EMBEDDING_STANDARDIZE = """
    WITH x AS (
      SELECT vec_id,
             CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS dim_idx,
             round(CAST(unnest(embedding) AS DOUBLE), 6) AS v
      FROM embeddings
    ),
    s AS (
      SELECT dim_idx, count(*) AS n,
             sum(CAST(v AS DECIMAL(18,6))) AS sm,
             sum(CAST(v AS DECIMAL(18,6)) * CAST(v AS DECIMAL(18,6))) AS sq
      FROM x GROUP BY 1
    ),
    m AS (
      SELECT dim_idx,
             round(CAST(sm AS DOUBLE) / n, 6) AS mean,
             round(sqrt(greatest(
               CAST(sq AS DOUBLE) / n
                 - round(CAST(sm AS DOUBLE) / n, 6)
                   * round(CAST(sm AS DOUBLE) / n, 6),
               0.0)), 6) AS std
      FROM s
    )
    SELECT x.vec_id, x.dim_idx,
           CASE WHEN m.std = 0.0 THEN 0.0
                ELSE round((x.v - m.mean) / m.std, 6) END AS z
    FROM x JOIN m USING (dim_idx)
"""


def q_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VERIFICATION-ONLY ORACLE TWIN — not the production spelling.
    The exact-jaccard pair feeder below is quadratic (its own docstring
    calls it dead at 100×); at scale use ``leakage_safe_split_lsh``,
    the MinHash-LSH spelling with identical split semantics (α=0.78
    through 5M docs).  Kept because its oracle is exact end-to-end.

    LEAKAGE-SAFE train/val/test split (sampling.grouped_split over
    near-dup clusters): resolve the exact-jaccard duplicate components
    (the dedup_clusters pipeline), group every document by its cluster
    id (singletons by their own id), and split 80/10/10 on the md5 of
    the GROUP — so no near-duplicate pair can straddle train and test,
    the contamination a row-level split silently creates.  Split
    assignment is map-only; the only shuffles are the cluster
    resolution's own."""
    from csv_etl_spark.operators.sampling import grouped_split

    d = _t(spark, sf_dir, "documents")
    # max_exact_docs=None: guard pytest-covered; see dedup_jaccard_pairs
    pairs = dedup.ngram_jaccard_pairs(
        d, threshold=0.35, n=3, freq_cap=None, max_exact_docs=None
    )
    labels = dedup.resolve_duplicate_clusters(pairs)
    g = d.select("doc_id").join(
        labels.withColumnRenamed("id", "doc_id"), "doc_id", "left"
    ).select(
        "doc_id",
        F.coalesce("cluster_id", "doc_id").alias("group_key"),
    )
    return grouped_split(
        g, "group_key", {"train": 0.8, "val": 0.1, "test": 0.1}
    )


def _leakage_split_oracle_sql() -> str:
    from csv_etl_spark.operators.sampling import fraction_threshold_hex

    t_train = fraction_threshold_hex(0.8)
    t_val = fraction_threshold_hex(0.9)
    return f"""
    WITH RECURSIVE sh AS (
      SELECT doc_id,
             list_distinct(
               list_transform(range(1, greatest(len(toks) - 2, 0) + 1),
                              i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
             ) AS shingles
      FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
            FROM documents)
      WHERE len(toks) >= 3
    ),
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      WHERE CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
            / len(list_distinct(list_concat(a.shingles, b.shingles))) >= 0.35
    ),
    edges AS (
      SELECT id_a AS u, id_b AS v FROM pairs
      UNION SELECT id_b AS u, id_a AS v FROM pairs
    ),
    reach(u, v) AS (
      SELECT u, u FROM edges
      UNION
      SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
    ),
    lab AS (SELECT u AS id, min(v) AS cluster_id FROM reach GROUP BY u),
    g AS (
      SELECT d.doc_id, coalesce(l.cluster_id, d.doc_id) AS group_key
      FROM documents d LEFT JOIN lab l ON d.doc_id = l.id
    )
    SELECT doc_id, group_key,
           CASE WHEN substring(md5(CAST(group_key AS VARCHAR)), 1, 8)
                     < '{t_train}' THEN 'train'
                WHEN substring(md5(CAST(group_key AS VARCHAR)), 1, 8)
                     < '{t_val}' THEN 'val'
                ELSE 'test' END AS split
    FROM g
    """


def q_leakage_safe_split_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SCALE spelling of the leakage-safe split: identical
    grouped_split semantics, but the near-dup clusters come from the
    banded MinHash-LSH pair generator instead of exact all-pairs
    jaccard.  The exact twin (q_leakage_safe_split) deliberately
    disables both guards of ngram_jaccard_pairs to stay SQL-replicable
    — the repo's one measured α=1.38/decade path, fine as a
    verification query at sf0.01 but dead at 100x.  This spelling is
    the one a 100 TB corpus runs: LSH candidate generation is banded
    and bucket-joined (never O(n²)), cluster resolution is the same
    checkpointed min-label CC, and the 80/10/10 assignment is the same
    map-only md5-of-group rule, so no near-duplicate pair straddles
    train and test.  Portable-hash mode keeps the WHOLE pipeline —
    signatures, banding, CC, split — replayable in the SQL oracle."""
    from csv_etl_spark.operators.sampling import grouped_split

    d = _t(spark, sf_dir, "documents")
    pairs = dedup.minhash_lsh_pairs(
        d, threshold=0.35, n=3, num_hashes=16, bands=8, portable=True
    )
    labels = dedup.resolve_duplicate_clusters(pairs)
    g = d.select("doc_id").join(
        labels.withColumnRenamed("id", "doc_id"), "doc_id", "left"
    ).select(
        "doc_id",
        F.coalesce("cluster_id", "doc_id").alias("group_key"),
    )
    return grouped_split(
        g, "group_key", {"train": 0.8, "val": 0.1, "test": 0.1}
    )


def _leakage_split_lsh_oracle_sql() -> str:
    from csv_etl_spark.operators.sampling import fraction_threshold_hex

    t_train = fraction_threshold_hex(0.8)
    t_val = fraction_threshold_hex(0.9)
    return f"""
    WITH RECURSIVE {_MINHASH_CTES},
    edges AS (
      SELECT id_a AS u, id_b AS v FROM mh_pairs
      UNION SELECT id_b AS u, id_a AS v FROM mh_pairs
    ),
    reach(u, v) AS (
      SELECT u, u FROM edges
      UNION
      SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
    ),
    lab AS (SELECT u AS id, min(v) AS cluster_id FROM reach GROUP BY u),
    g AS (
      SELECT d.doc_id, coalesce(l.cluster_id, d.doc_id) AS group_key
      FROM documents d LEFT JOIN lab l ON d.doc_id = l.id
    )
    SELECT doc_id, group_key,
           CASE WHEN substring(md5(CAST(group_key AS VARCHAR)), 1, 8)
                     < '{t_train}' THEN 'train'
                WHEN substring(md5(CAST(group_key AS VARCHAR)), 1, 8)
                     < '{t_val}' THEN 'val'
                ELSE 'test' END AS split
    FROM g
    """


# ---------------------------------------------------------------------------
# Registry
# ---------------------------------------------------------------------------

# Tier tags: machine-readable marking of which queries() entries are
# RECOMMENDED 100-TB paths and which exist to verify them.  A user
# discovering the registry programmatically can filter on tiers()
# instead of reading docstrings.
TIER_SCALE = "scale-path"            # the recommended production spelling
TIER_SCALE_BOUNDED = "scale-path-bounded"  # recommended UP TO a measured
#   size bound, past which a named successor takes over; the bound and
#   successor are machine-readable in tier_bounds()
TIER_TWIN = "verification-twin"      # exact/oracle sibling of a scale path:
#   correct at every SF but deliberately NOT the 100×-safe plan (quadratic
#   pair generation, route-every-cell, flat routing over a bounded
#   codebook); each twin's docstring names its scale sibling
TIER_ROWS_ONLY = "rows-only"         # estimate-valued; driver row carries
#   no value-hash signal, verified by pytest against the exact twin

# Size bounds for the bounded scale paths: the flat √N-cell kNN graph's
# total work is N^1.5 BY DESIGN (routing N·√N + scanning N·nprobe·√N —
# measured α 1.17 at the 2M decade, BENCHNOTES_r11_knn2.json), so past
# ~16M vectors the bounded-cell ``knn_join(m_super=4)`` tier (linear scan
# term, ~N^1.25 routing, SCALE.md-measured α 0.99) is the plan a 100-TB
# user needs.
_TIER_BOUNDS = {
    "knn_graph": {
        "recommended_max_n": 16_000_000,   # vectors on the corpus side
        "successor": "knn_join_auto",   # operator (similarity.py)
        "successor_query": "knn_graph_sharded",  # its contract spelling
        "why": "flat sqrt(N)-cell IVF graph is N^1.5 past the bound; "
               "knn_join_auto then runs knn_join(m_super=4) over "
               "max(isqrt(N), N/512) cells for a linear scan term "
               "(SCALE.md alpha 0.99 at 2M)",
    },
}


# One row per driver query: (name, query, DuckDB oracle SQL or None[, tier]).
# queries(), oracle_sql() and tiers() are all read off this table, so a
# new query is registered by adding its row here.
#
# Row order IS the driver schedule: the driver checks the first 50 rows.
# The policy is age-based round-robin: the window holds the 50 entries
# whose last driver-green CORRECTNESS row is OLDEST, never-checked
# entries first.  With N oracle-checkable entries this bounds every
# query's driver-evidence age to ceil(N/50) rounds (3 at N = 141).  To
# rotate, re-sort the rows on (last driver-green round, current position).
# Every entry is still oracle-checked locally each round by
# scripts/check_oracle.py, whatever its position.
#
# A row with no oracle is rows-only: an estimate whose driver row carries
# no value-hash signal, verified by pytest against its exact twin instead.
# It yields its window slot permanently, so it stays last.  The optional
# fourth field overrides the default TIER_SCALE tag; the _TIER_BOUNDS
# entries are TIER_SCALE_BOUNDED.
_REGISTRY = (
    # ---- r15 window: never driver-checked first, then the oldest evidence
    ("lang_id_model", q_lang_id_model, _ORACLE_LANG_ID_MODEL),
    ("assign_sharded_flat", q_assign_sharded_flat, _ORACLE_ASSIGN_SHARDED),
    # bloom pre-filter is exact-result-preserving: same oracle verbatim
    ("dedup_incremental_bloom", q_dedup_incremental_bloom,
     _ORACLE_DEDUP_INCREMENTAL),
    # quadratic exact n-gram Jaccard — scale sibling: dedup_jaccard_capped
    ("dedup_jaccard_pairs", q_dedup_jaccard_pairs, _ORACLE_JACCARD_PAIRS,
     TIER_TWIN),
    # portable-hash mode: full-pipeline SQL replication (see the query)
    ("dedup_minhash_lsh", q_dedup_minhash_lsh, _ORACLE_MINHASH_LSH),
    ("dedup_paragraphs", q_dedup_paragraphs, _ORACLE_DEDUP_PARAGRAPHS),
    ("dedup_representatives", q_dedup_representatives,
     _ORACLE_DEDUP_REPRESENTATIVES.format(sw=_SW)),
    ("etl_aggregate_mapping", q_etl_aggregate_mapping, _ORACLE_ETL_AGGREGATE),
    ("etl_dynamic_mapping", q_etl_dynamic_mapping, _ORACLE_ETL_DYNAMIC),
    ("etl_lookup_table", q_etl_lookup_table, _ORACLE_ETL_LOOKUP_TABLE),
    ("events_rolling_time", q_events_rolling_time, _ORACLE_EVENTS_ROLLING_TIME),
    ("gopher_quality", q_gopher_quality, _ORACLE_GOPHER),
    ("image_dhash", q_image_dhash, _ORACLE_IMAGE_DHASH),
    ("image_dhash_pairs", q_image_dhash_pairs, _ORACLE_IMAGE_DHASH_PAIRS),
    ("join_full_outer", q_join_full_outer, _ORACLE_JOIN_FULL_OUTER),
    ("join_revenue_by_nation", q_join_revenue_by_nation, _ORACLE_JOIN_REVENUE),
    # m_super=None flat routing over the bounded codebook (N·C flops) —
    # scale sibling: knn_join(m_super=4), recall/ladder-measured in
    # RECALL.md / SCALE.md.  Oracle: the same full-pipeline replay as
    # knn_graph; only the codebook-size formula differs
    ("knn_graph_sharded", q_knn_graph_sharded,
     _knn_graph_oracle_sql(cells_sql=_KNN_SHARDED_CELLS_SQL), TIER_TWIN),
    ("leakage_safe_split_lsh", q_leakage_safe_split_lsh,
     _leakage_split_lsh_oracle_sql()),
    ("length_outliers", q_length_outliers, _ORACLE_LENGTH_OUTLIERS),
    ("mixture_resample", q_mixture_resample, _ORACLE_MIXTURE),
    ("pack_sequences", q_pack_sequences, _ORACLE_PACK_SEQUENCES),
    ("range_join_buckets", q_range_join, _ORACLE_RANGE_JOIN),
    ("retention_cohorts", q_retention_cohorts, _ORACLE_RETENTION),
    ("salted_agg_events", q_salted_agg_events, _ORACLE_SALTED_AGG),
    ("sample_by_quality", q_sample_by_quality, _ORACLE_SAMPLE_QUALITY),
    ("scd2_history", q_scd2_history, _ORACLE_SCD2),
    ("semantic_dedup", q_semantic_dedup, _semdedup_oracle_sql()),
    ("spec_validation", q_spec_validation, _ORACLE_SPEC_VALIDATION),
    ("stats_moments", q_stats_moments, _ORACLE_STATS_MOMENTS),
    ("stream_hourly_counts", q_stream_hourly_counts, _ORACLE_STREAM_HOURLY),
    ("stream_sessionize", q_stream_sessionize, _ORACLE_SESSIONIZE),
    ("text_metrics", q_text_metrics, _ORACLE_TEXT_METRICS),
    ("text_strip_html", q_text_strip_html, _oracle_strip_html()),
    ("text_top_bigrams", q_text_top_bigrams, _ORACLE_TOP_BIGRAMS),
    ("text_top_tokens", q_text_top_tokens, _ORACLE_TOP_TOKENS),
    ("tfidf_terms", q_tfidf_terms, _ORACLE_TFIDF),
    ("tokens_to_ids", q_tokens_to_ids, _ORACLE_TOKENS_TO_IDS),
    ("training_mix", q_training_mix, _ORACLE_TRAINING_MIX),
    ("typed_stocks_pipeline", q_typed_stocks_pipeline, _ORACLE_TYPED_STOCKS),
    ("web_curation", q_web_curation, _oracle_web_curation()),
    ("window_funcs_orders", q_window_funcs_orders, _ORACLE_WINDOW_FUNCS),
    # route-every-cell IVF (= brute force by construction) — scale
    # sibling: ann_ivf_approx.  nprobe=all ⇒ exact ⇒ same oracle
    ("ann_ivf_exact", q_ann_ivf_exact, _ORACLE_ANN_BRUTE, TIER_TWIN),
    # full curve replayed in SQL
    ("ann_recall_curve", q_ann_recall_curve, _recall_curve_oracle_sql()),
    ("apply_merges", q_apply_merges, _apply_merges_oracle_sql()),
    ("asof_join_forward", q_asof_join_forward, _ORACLE_ASOF_FORWARD),
    ("bigram_logprob", q_bigram_logprob, _ORACLE_BIGRAM_LP),
    ("bm25_terms", q_bm25_terms, _ORACLE_BM25),
    ("boilerplate_lines", q_boilerplate_lines, _ORACLE_BOILERPLATE_LINES),
    ("bpe_merges", q_bpe_merges, _bpe_merges_oracle_sql()),
    ("contamination_report", q_contamination_report,
     _ORACLE_CONTAMINATION_REPORT),
    ("copurchase_capped", q_copurchase_capped, _ORACLE_COPURCHASE_CAPPED),
    # ---- past the 50-row window: r14-green (newest driver evidence) ----
    ("copurchase_pairs", q_copurchase_pairs, _ORACLE_COPURCHASE_PAIRS),
    ("corpus_report", q_corpus_report, _ORACLE_CORPUS_REPORT),
    ("corr_lineitem", q_corr_lineitem, _corr_lineitem_oracle_sql()),
    ("cube_orders", q_cube_orders, _ORACLE_CUBE),
    ("dedup_jaccard_capped", q_dedup_jaccard_capped, _ORACLE_JACCARD_CAPPED),
    ("dedup_lsh_capped", q_dedup_lsh_capped, _ORACLE_LSH_CAPPED),
    ("dedup_normalized", q_dedup_normalized, _ORACLE_DEDUP_NORM),
    ("dsir_selection", q_dsir_selection, _ORACLE_DSIR_SELECTION),
    ("duplicate_spans", q_duplicate_spans, _ORACLE_DUPLICATE_SPANS),
    ("events_anomalies", q_events_anomalies, _ORACLE_EVENTS_ANOMALIES),
    ("events_drift", q_events_drift, _ORACLE_EVENTS_DRIFT),
    ("events_winsorized", q_events_winsorized, _ORACLE_EVENTS_WINSORIZED),
    ("f1_equals",
     _filter_query([{"field": "event_type", "operator": "equals", "value": "error"}]),
     _filter_oracle("NOT (event_type = 'error')")),
    ("f2_not_equals",
     _filter_query([{"field": "event_type", "operator": "not_equals", "value": "error"}]),
     _filter_oracle("NOT (event_type <> 'error')")),
    ("f3_in",
     _filter_query([{"field": "event_type", "operator": "in", "values": ["click", "view"]}]),
     _filter_oracle("event_type NOT IN ('click', 'view')")),
    ("f6_is_not_empty", q_f6_is_not_empty, _ORACLE_F6),
    ("f7_contains",
     _filter_query([{"field": "event_type", "operator": "contains", "value": "ick"}]),
     _filter_oracle("NOT contains(event_type, 'ick')")),
    ("funnel_steps", q_funnel_steps, _ORACLE_FUNNEL),
    ("fuzzy_join", q_fuzzy_join, _ORACLE_FUZZY_JOIN),
    ("grouping_sets_orders", q_grouping_sets, _ORACLE_GROUPING_SETS),
    ("image_dup_clusters", q_image_dup_clusters, _ORACLE_IMAGE_DUP_CLUSTERS),
    ("interval_overlap", q_interval_overlap, _ORACLE_INTERVAL_OVERLAP),
    ("key_skew_events", q_key_skew_events, _ORACLE_KEY_SKEW),
    # auto dispatcher: below the 16M bound it IS the flat tier with
    # the identical codebook formula, so the same replay applies
    ("knn_graph_auto", q_knn_graph_auto, _knn_graph_oracle_sql()),
    ("mad_outliers", q_mad_outliers, _ORACLE_MAD_OUTLIERS),
    ("pct_rank_events", q_pct_rank_events, _ORACLE_PCT_RANK),
    ("perplexity_buckets", q_perplexity_buckets, _ORACLE_PERPLEXITY_BUCKETS),
    ("profile_events", q_profile_events, _ORACLE_PROFILE_EVENTS),
    ("quality_classifier", q_quality_classifier, _ORACLE_QUALITY_CLASSIFIER),
    ("record_clusters", q_record_clusters, _ORACLE_RECORD_CLUSTERS),
    ("remove_dup_spans", q_remove_dup_spans, _ORACLE_REMOVE_DUP_SPANS),
    ("sample_stratified", q_sample_stratified, _ORACLE_SAMPLE_STRAT.format(
        t100=_sampling.fraction_threshold_hex(1.0),
        t20=_sampling.fraction_threshold_hex(0.2),
        t5=_sampling.fraction_threshold_hex(0.05),
        t0=_sampling.fraction_threshold_hex(0.0),
    )),
    ("sample_weighted", q_sample_weighted, _ORACLE_SAMPLE_WEIGHTED),
    ("semi_join_parts", q_semi_join_parts, _ORACLE_SEMI_JOIN),
    ("snapshot_diff", q_snapshot_diff, _ORACLE_SNAPSHOT_DIFF),
    ("source_cap", q_source_cap, _ORACLE_SOURCE_CAP),
    ("token_budget_mix", q_token_budget_mix, _ORACLE_TOKEN_BUDGET_MIX),
    ("union_distinct_nations", q_union_distinct, _ORACLE_UNION),
    ("url_dedup", q_url_dedup, _url_dedup_oracle()),
    ("value_histogram", q_value_histogram, _ORACLE_VALUE_HISTOGRAM),
    # nprobe=None route-every-cell IVF (= brute force) — scale sibling:
    # ivf_two_level_sharded at a finite nprobe.  Exhaustive routing ⇒
    # brute-force oracle
    ("ann_ivf_two_level", q_ann_ivf_two_level, _ORACLE_ANN_BRUTE, TIER_TWIN),
    ("anti_join_customers", q_anti_join_customers, _ORACLE_ANTI_JOIN),
    ("asof_join_purchase_click", q_asof_join, _ORACLE_ASOF),
    ("dedup_exact", q_dedup_exact, _ORACLE_DEDUP_EXACT),
    ("dedup_incremental", q_dedup_incremental, _ORACLE_DEDUP_INCREMENTAL),
    ("dedup_simhash", q_dedup_simhash, _ORACLE_SIMHASH),
    ("distinct_users", q_distinct_users, _ORACLE_DISTINCT_USERS),
    ("doc_length_histogram", q_doc_length_histogram,
     _ORACLE_DOC_LENGTH_HISTOGRAM),
    ("embedding_standardize", q_embedding_standardize,
     _ORACLE_EMBEDDING_STANDARDIZE),
    ("etl_chained_mappings", q_etl_chained_mappings, _ORACLE_ETL_CHAINED),
    ("events_rolling", q_events_rolling, _ORACLE_EVENTS_ROLLING),
    ("f4_not_in",
     _filter_query([{"field": "event_type", "operator": "not_in", "values": ["click", "view"]}]),
     _filter_oracle("event_type IN ('click', 'view')")),
    ("f5_is_empty", q_f5_is_empty, _ORACLE_F5),
    ("join_left_outer", q_join_left_outer, _ORACLE_LEFT_OUTER),
    ("json_extract_props", q_json_extract_props, _ORACLE_JSON_EXTRACT),
    # full routing replicated in SQL
    ("knn_graph", q_knn_graph, _knn_graph_oracle_sql()),
    # exact-jaccard cluster feeder — scale sibling: leakage_safe_split_lsh
    ("leakage_safe_split", q_leakage_safe_split, _leakage_split_oracle_sql(),
     TIER_TWIN),
    ("merge_upsert_orders", q_merge_upsert_orders, _ORACLE_MERGE_UPSERT),
    ("multimodal_features", q_multimodal_features, _ORACLE_MULTIMODAL),
    ("part_pagerank", q_part_pagerank, _ORACLE_PART_PAGERANK),
    ("pivot_orders", q_pivot_orders, _ORACLE_PIVOT),
    ("rollup_orders", q_rollup_orders, _ORACLE_ROLLUP),
    ("salted_join_customers", q_salted_join_customers, _ORACLE_SALTED_JOIN),
    ("sample_deterministic", q_sample_deterministic,
     _ORACLE_SAMPLE.format(thr=_sampling.fraction_threshold_hex(0.10))),
    ("sessionize_events", q_sessionize_events, _ORACLE_SESSIONIZE_BATCH),
    ("t3_date_format", q_t3_date_format_errors, _ORACLE_T3),
    ("t4_lookup", q_t4_lookup_errors, _ORACLE_T4),
    ("t7_formula", q_t7_formula, _ORACLE_T7),
    ("temperature_mix", q_temperature_mix, _ORACLE_TEMPERATURE_MIX),
    ("text_filter_lines", q_text_filter_lines, _ORACLE_FILTER_LINES),
    ("text_pii_scrub", q_text_pii_scrub, _oracle_pii_scrub()),
    ("text_repetition", q_text_repetition, _ORACLE_TEXT_REPETITION),
    ("topk_revenue_orders", q_topk_revenue_orders, _ORACLE_TOPK_REVENUE),
    ("typed_crypto_pipeline", q_typed_crypto_pipeline, _ORACLE_TYPED_CRYPTO),
    ("unigram_logprob", q_unigram_logprob, _ORACLE_UNIGRAM_LOGPROB),
    ("unpivot_customer", q_unpivot_customer, _ORACLE_UNPIVOT),
    ("url_registered_domain", q_url_registered_domain,
     _url_registered_domain_oracle()),
    ("value_percentiles", q_value_percentiles, _ORACLE_PERCENTILES),
    ("window_top_orders", q_window_top_orders, _ORACLE_WINDOW_TOP),
    ("agg_pricing_summary", q_agg_pricing_summary, _ORACLE_AGG_PRICING),
    ("ann_bruteforce", q_ann_bruteforce, _ORACLE_ANN_BRUTE),
    # deterministic IVF replicated in SQL
    ("ann_ivf_approx", q_ann_ivf_approx, _ivf_oracle_sql()),
    ("ann_quantized", q_ann_quantized, _ORACLE_ANN_QUANTIZED),
    ("chunk_documents", q_chunk_documents, _ORACLE_CHUNK_DOCUMENTS),
    ("corpus_curation", q_corpus_curation,
     _ORACLE_CORPUS_CURATION.format(thr=_sampling.fraction_threshold_hex(0.1))),
    ("corpus_decontaminate", q_corpus_decontaminate, _ORACLE_DECONTAMINATE),
    ("corpus_shuffle", q_corpus_shuffle, _ORACLE_CORPUS_SHUFFLE),
    ("dedup_clusters", q_dedup_clusters, _ORACLE_DEDUP_CLUSTERS),
    ("dedup_doc_lines", q_dedup_doc_lines, _ORACLE_DOC_LINES),
    ("dedup_embedding", q_dedup_embedding,
     _ORACLE_DEDUP_EMBEDDING.format(cos=_cos_sql("a.emb", "b.emb"))),
    # HLL++ estimate (engine-specific, so no SQL twin) — exact twin:
    # distinct_users
    ("distinct_users_approx", q_distinct_users_approx, None),
)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Every registered query by name, in driver-schedule order."""
    return {row[0]: row[1] for row in _REGISTRY}


def oracle_sql() -> dict[str, str]:
    """The DuckDB twin of every query that has one (all but rows-only)."""
    return {row[0]: row[2] for row in _REGISTRY if row[2] is not None}


def tier_bounds() -> dict[str, dict]:
    """Machine-readable validity bounds for every ``scale-path-bounded``
    registry entry: ``recommended_max_n`` (input size past which the
    tag's recommendation expires) and the ``successor`` operator/query
    to switch to.  Keys are exactly the entries ``tiers()`` tags
    ``scale-path-bounded`` (asserted in test_registry_tier_tags_complete)."""
    return {k: dict(v) for k, v in _TIER_BOUNDS.items()}


def tiers() -> dict[str, str]:
    """Tier tag for every ``queries()`` entry.  ``scale-path-bounded``
    entries carry their size bound + successor in ``tier_bounds()``."""
    out = {}
    for name, _query, oracle, *override in _REGISTRY:
        if oracle is None:
            out[name] = TIER_ROWS_ONLY
        elif name in _TIER_BOUNDS:
            out[name] = TIER_SCALE_BOUNDED
        else:
            out[name] = override[0] if override else TIER_SCALE
    return out
