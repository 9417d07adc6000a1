"""Property-based DIFFERENTIAL tests for the typed-path parsers (C1-C6):
hypothesis generates adversarial inputs (valid dates in every supported
format, money with random symbols/commas/whitespace, junk), and each value
runs through BOTH the reference's pure-Python parser (imported read-only
from the reference checkout, see ``tests/reference.py``; the tests skip where
it is absent) and our compiled Column expression — results must agree
value-for-value.

Each hypothesis example is a BATCH of strings (one Spark job per example,
not per string) to keep runtime sane."""

from __future__ import annotations

import math

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F
from pyspark.sql import types as T

from csv_etl_spark.functions.parsing import (
    CRYPTO_DATE_FORMATS,
    STOCKS_DATE_FORMATS,
    detect_currency,
    parse_date_chain,
    parse_float,
    parse_money,
    parse_price,
)
from tests.reference import AVAILABLE, requires_reference

if AVAILABLE:
    from converter.transformers.revolut_crypto import RevolutCryptoTransformer
    from converter.transformers.revolut_stocks import RevolutStocksTransformer

pytestmark = requires_reference  # every test here runs the reference's parsers

SETTINGS = dict(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)

# -- input strategies --------------------------------------------------------

_dt = st.datetimes(
    min_value=__import__("datetime").datetime(1971, 1, 3),
    max_value=__import__("datetime").datetime(2099, 12, 28),
)

stocks_dates = st.one_of(
    _dt.map(lambda d: d.strftime("%Y-%m-%dT%H:%M:%S.%f")[:-3] + "Z"),
    _dt.map(lambda d: d.strftime("%Y-%m-%dT%H:%M:%SZ")),
    _dt.map(lambda d: d.strftime("%Y-%m-%dT%H:%M:%S")),
    _dt.map(lambda d: d.strftime("%Y-%m-%d")),
    _dt.map(lambda d: d.strftime("%d/%m/%Y")),
    st.text(max_size=12),  # junk → passthrough on both sides
)

crypto_dates = st.one_of(
    _dt.map(lambda d: d.strftime("%b %d, %Y, %I:%M:%S %p")),
    _dt.map(lambda d: d.strftime("%B %d, %Y, %I:%M:%S %p")),
    _dt.map(lambda d: d.strftime("%Y-%m-%dT%H:%M:%S.%fZ")),
    _dt.map(lambda d: d.strftime("%Y-%m-%d")),
    st.text(max_size=12),
)

number_text = st.one_of(
    st.floats(-1e9, 1e9, allow_nan=False).map(lambda f: f"{f:.4f}"),
    st.integers(-10**9, 10**9).map(lambda i: f"{i:,}"),  # thousands commas
    st.text(alphabet="0123456789,.-x ", max_size=10),
    st.just(""),
)

price_text = st.tuples(
    st.sampled_from(["", "USD ", "EUR ", "GBP "]), number_text
).map(lambda t: t[0] + t[1])

money_text = st.tuples(
    st.sampled_from(["", "€", "$", "£"]), number_text
).map(lambda t: t[0] + t[1])

currency_sniff = st.one_of(money_text, st.text(max_size=6))


# -- harness -----------------------------------------------------------------


def _spark_eval(spark, values: list[str], expr) -> list:
    df = spark.createDataFrame([(v,) for v in values], T.StructType(
        [T.StructField("v", T.StringType())]
    ))
    return [r["out"] for r in df.select(expr(F.col("v")).alias("out")).collect()]


def _cmp_floats(ours, refs):
    for o, r in zip(ours, refs):
        assert o is not None and r is not None
        assert math.isclose(o, r, rel_tol=1e-12, abs_tol=1e-12), (o, r)


# -- properties --------------------------------------------------------------


@settings(**SETTINGS)
@given(st.lists(stocks_dates, min_size=1, max_size=40))
def test_stocks_date_parity(spark, values):
    ours = _spark_eval(spark, values, lambda c: parse_date_chain(c, STOCKS_DATE_FORMATS))
    refs = [RevolutStocksTransformer._parse_date(v) for v in values]
    assert ours == refs


@settings(**SETTINGS)
@given(st.lists(crypto_dates, min_size=1, max_size=40))
def test_crypto_date_parity(spark, values):
    ours = _spark_eval(spark, values, lambda c: parse_date_chain(c, CRYPTO_DATE_FORMATS))
    refs = [RevolutCryptoTransformer._parse_date(v) for v in values]
    assert ours == refs


@settings(**SETTINGS)
@given(st.lists(number_text, min_size=1, max_size=40))
def test_parse_float_parity(spark, values):
    ours = _spark_eval(spark, values, parse_float)
    refs = [RevolutStocksTransformer._parse_float(v) for v in values]
    _cmp_floats(ours, refs)


@settings(**SETTINGS)
@given(st.lists(price_text, min_size=1, max_size=40))
def test_parse_price_parity(spark, values):
    ours = _spark_eval(spark, values, parse_price)
    refs = [RevolutStocksTransformer._parse_price(v) for v in values]
    _cmp_floats(ours, refs)


@settings(**SETTINGS)
@given(st.lists(money_text, min_size=1, max_size=40))
def test_parse_money_parity(spark, values):
    ours = _spark_eval(spark, values, parse_money)
    refs = [RevolutCryptoTransformer._parse_money(v) for v in values]
    _cmp_floats(ours, refs)


@settings(**SETTINGS)
@given(st.lists(currency_sniff, min_size=1, max_size=40))
def test_detect_currency_parity(spark, values):
    ours = _spark_eval(spark, values, detect_currency)
    refs = [RevolutCryptoTransformer._detect_currency(v) for v in values]
    assert ours == refs
