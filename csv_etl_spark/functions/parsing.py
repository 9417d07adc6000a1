"""String → value parsers (C1-C6), as Column builders.

Each mirrors a reference typed-path helper exactly (file:line cited per
function), expressed as built-in Spark expressions so the whole parse stays
inside WholeStageCodegen — a ~100× difference vs a row-at-a-time Python UDF
at 100 TB scale.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from csv_etl_spark.datefmt import strptime_to_java

# C1: reference transformers/revolut_stocks.py:86-102
STOCKS_DATE_FORMATS = [
    "%Y-%m-%dT%H:%M:%S.%fZ",
    "%Y-%m-%dT%H:%M:%SZ",
    "%Y-%m-%dT%H:%M:%S",
    "%Y-%m-%d",
    "%d/%m/%Y",
]

# C2: reference transformers/revolut_crypto.py:113-128
CRYPTO_DATE_FORMATS = [
    "%b %d, %Y, %I:%M:%S %p",
    "%B %d, %Y, %I:%M:%S %p",
    "%Y-%m-%dT%H:%M:%S.%fZ",
    "%Y-%m-%d",
]


def parse_date_chain(col: Column, formats: list[str]) -> Column:
    """C1/C2 — try formats in order; first success wins, formatted
    ``%Y-%m-%d``; unparseable or empty input passes the original value
    through unchanged (reference ``revolut_stocks.py:86-102`` returns
    ``value`` on total failure, ``""`` on empty)."""
    parsed = F.coalesce(
        *[F.try_to_timestamp(col, F.lit(strptime_to_java(fmt, mode="parse"))) for fmt in formats]
    )
    out = F.date_format(parsed, "yyyy-MM-dd")
    return F.when(col.isNull() | (col == ""), col).otherwise(F.coalesce(out, col))


def parse_float(col: Column) -> Column:
    """C3 — strip thousands commas; empty/invalid → 0.0
    (reference ``revolut_stocks.py:104-111``, ``revolut_crypto.py:130-138``)."""
    return F.coalesce(F.regexp_replace(col, ",", "").try_cast("double"), F.lit(0.0))


def parse_price(col: Column) -> Column:
    """C4 — strip one leading currency prefix ``USD |EUR |GBP `` then C3
    (reference ``revolut_stocks.py:113-126``; note the reference strips
    surrounding whitespace first and only the FIRST matching prefix)."""
    trimmed = F.trim(col)
    stripped = F.regexp_replace(trimmed, r"^(USD |EUR |GBP )", "")
    return F.coalesce(F.regexp_replace(stripped, ",", "").try_cast("double"), F.lit(0.0))


def parse_money(col: Column) -> Column:
    """C5 — strip €$£ symbols (anywhere) and commas; abs(); empty/invalid → 0.0
    (reference ``revolut_crypto.py:140-151``)."""
    cleaned = F.regexp_replace(F.trim(col), r"[€$£,]", "")
    return F.abs(F.coalesce(cleaned.try_cast("double"), F.lit(0.0)))


def detect_currency(col: Column) -> Column:
    """C6 — sniff first char of the (trimmed) value: € → EUR, $ → USD,
    £ → GBP, anything else (incl. empty) → EUR
    (reference ``revolut_crypto.py:99-111``)."""
    v = F.trim(col)
    return (
        F.when(v.startswith("€"), F.lit("EUR"))
        .when(v.startswith("$"), F.lit("USD"))
        .when(v.startswith("£"), F.lit("GBP"))
        .otherwise(F.lit("EUR"))
    )
