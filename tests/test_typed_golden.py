"""Golden parity: typed Spark plans vs the reference's typed transformers.

Same synthetic rows through both engines; every output field compared.
The plan tests need the reference checkout (``tests/reference.py``) and skip
where it is absent.  C11 number formatting at the CSV boundary is checked
against the rule SURVEY.md states everywhere, and against the reference's
formatter as well where the checkout exists.
"""

from __future__ import annotations

import pytest

from csv_etl_spark.plans.typed import revolut_crypto_plan, revolut_stocks_plan
from tests.reference import AVAILABLE, requires_reference

if AVAILABLE:
    from converter.models.ghostfolio import GhostfolioActivity
    from converter.models.revolut_crypto import RevolutCryptoActivity
    from converter.models.revolut_stocks import RevolutStocksActivity
    from converter.transformers.revolut_crypto import RevolutCryptoTransformer
    from converter.transformers.revolut_stocks import RevolutStocksTransformer

STOCKS_COLS = ["Date", "Ticker", "Type", "Quantity", "Price per share", "Total Amount", "Currency"]
STOCKS_ROWS = [
    # (extractor already strips + defaults currency; we feed post-extractor shapes
    #  and let the plan do its own strip/default on raw values)
    ["2024-01-15T10:30:00", "AAPL", "BUY - MARKET", "1.5", "USD 3.71", "USD 5.57", "USD"],
    ["2021-03-02T14:05:42.123456Z", "4P41", "BUY - LIMIT", "0.00116742", "EUR 102.50", "", "EUR"],
    ["2024-02-01T12:00:00", "VOD", "DIVIDEND", "10", "GBP 8.00", "GBP 80", "GBP"],
    ["2024-02-02T08:00:00", "XYZ", "CASH TOP-UP", "0", "USD 0", "", "USD"],  # F8 skip
    ["2024-03-01", "TSLA", "SELL - LIMIT", "1,234.5", "1,234.56", "", "USD"],
    ["15/03/2024", "BMW", "BUY - STOP", "2", "EUR 88", "", "EUR"],  # prefix fallback BUY
    ["2024-04-01T00:00:00", "", "BUY - MARKET", "1", "USD 1", "", "USD"],  # F10 skip
    ["2024-05-01T00:00:00", "ABC", "TRANSFER", "1", "USD 1", "", "USD"],  # F9 skip
    ["not-a-date", "DEF", "SELL - MARKET", "0.5", "USD 9.99", "", "USD"],  # date passthrough
    ["2024-06-01T00:00:00", "GBXX", "BUY - MARKET", "1", "GBP 5", "", "GBX"],  # GBX → .L
    ["2024-07-01T00:00:00", "SAP.DE", "BUY - MARKET", "1", "EUR 5", "", "EUR"],  # already suffixed
    ["2024-08-01T00:00:00", "NOCUR", "BUY - MARKET", "1", "7.5", "", ""],  # empty currency → USD
]

CRYPTO_COLS = ["Symbol", "Type", "Quantity", "Price", "Value", "Fees", "Date"]
CRYPTO_ROWS = [
    ["BTC", "Buy", "0.00116742", "€8,565.88", "€10.00", "€0.99", "Feb 3, 2020, 9:18:39 AM"],
    ["ETH", "Sell", "2", "$1,800.50", "$3,601.00", "-$1.50", "February 3, 2021, 9:18:39 PM"],
    ["NEWCOIN", "Buy", "5", "£1.23", "£6.15", "", "2020-02-03T09:18:39.123456Z"],
    ["doge", "buy", "100", "", "€50.00", "€0.10", "2020-02-03"],  # price empty → currency from Value
    ["XRP", "STAKE", "1", "€1", "€1", "", "2020-02-03"],  # F11 skip
    ["", "Buy", "1", "€1", "€1", "", "2020-02-03"],  # F10 skip
    ["ADA", "Transfer", "1", "€1", "€1", "", "2020-02-03"],  # unmapped type skip
]


def _ref_stocks(rows):
    t = RevolutStocksTransformer(account_name="Revolut Stocks")
    out = []
    for r in rows:
        # reference extractor strips + defaults currency (extractors/revolut_stocks.py:20-26)
        rec = RevolutStocksActivity(
            date=r[0].strip(), ticker=r[1].strip(), type=r[2].strip(),
            quantity=r[3].strip(), price_per_share=r[4].strip(),
            total_amount=r[5].strip(), currency=r[6].strip() or "USD",
        )
        a = t.transform(rec)
        if a is not None:
            out.append(a)
    return out


def _ref_crypto(rows):
    t = RevolutCryptoTransformer(account_name="Revolut Crypto")
    out = []
    for r in rows:
        rec = RevolutCryptoActivity(
            symbol=r[0].strip(), type=r[1].strip(), quantity=r[2].strip(),
            price=r[3].strip(), value=r[4].strip(), fees=r[5].strip(), date=r[6].strip(),
        )
        a = t.transform(rec)
        if a is not None:
            out.append(a)
    return out


def _activity_tuple(a):
    return (
        a.date, a.symbol, a.type.value, float(a.quantity), float(a.unitPrice),
        float(a.fee), a.currency, a.account,
    )


def _spark_tuples(df):
    return [
        (r["date"], r["symbol"], r["type"], float(r["quantity"]), float(r["unitPrice"]),
         float(r["fee"]), r["currency"], r["account"])
        for r in df.collect()
    ]


@requires_reference
def test_stocks_plan_matches_reference(spark):
    ref = sorted(map(_activity_tuple, _ref_stocks(STOCKS_ROWS)), key=str)
    df = spark.createDataFrame([tuple(r) for r in STOCKS_ROWS], STOCKS_COLS)
    got = sorted(_spark_tuples(revolut_stocks_plan(df, "Revolut Stocks")), key=str)
    assert len(got) == len(ref)
    for g, r in zip(got, ref):
        assert g[:3] == r[:3], (g, r)
        assert g[3] == pytest.approx(r[3]) and g[4] == pytest.approx(r[4]) and g[5] == pytest.approx(r[5])
        assert g[6:] == r[6:]


@requires_reference
def test_crypto_plan_matches_reference(spark):
    ref = sorted(map(_activity_tuple, _ref_crypto(CRYPTO_ROWS)), key=str)
    df = spark.createDataFrame([tuple(r) for r in CRYPTO_ROWS], CRYPTO_COLS)
    got = sorted(_spark_tuples(revolut_crypto_plan(df, "Revolut Crypto")), key=str)
    assert len(got) == len(ref)
    for g, r in zip(got, ref):
        assert g[:3] == r[:3], (g, r)
        assert g[3] == pytest.approx(r[3]) and g[4] == pytest.approx(r[4]) and g[5] == pytest.approx(r[5])
        assert g[6:] == r[6:]


def _c11(v: float) -> str:
    """SURVEY.md C11 (``models/ghostfolio.py:48-51``): ``f"{v:.8f}"``, then
    strip trailing zeros, then a trailing dot."""
    return f"{v:.8f}".rstrip("0").rstrip(".")


def test_csv_number_formatting_c11(spark):
    """C11: f'{v:.8f}' + strip trailing zeros/dot — golden against Python."""
    values = [0.5, 3.0, 0.00116742, 1234.5, 0.1 + 0.2, 1e-8, 123456789.123456789, 0.0, 100.0]

    df = spark.createDataFrame([(v,) for v in values], ["v"])
    from csv_etl_spark.functions.formatting import format_number_trimmed
    from pyspark.sql import functions as F

    got = [r["s"] for r in df.select(format_number_trimmed(F.col("v")).alias("s")).collect()]
    assert got == [_c11(v) for v in values]
    if AVAILABLE:  # golden against the reference formatter itself
        assert got == [GhostfolioActivity._format_number(v) for v in values]
