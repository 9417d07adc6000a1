"""Deterministic input generation for the benchmark workloads.

Every input is a pure function of ``(workload, seed)``.  Inputs are written
under ``perfbench/data/<workload>-<seed>/`` and reused when a run repeats a
seed; ``manifest.json`` in that directory holds the expected answers the
load generator checks against (kept rows, the injected bad row, ...)
plus the input size (rows, bytes, files).

Only numpy/pyarrow are used here — no Spark — so generation stays outside
the set-up time the benchmark reports.
"""

from __future__ import annotations

import json
import shutil
from pathlib import Path

import numpy as np

DATA_ROOT = Path(__file__).resolve().parent / "data"

# -- the revolut-stocks-shaped ETL input ------------------------------------

COLUMNS = ["Date", "Ticker", "Type", "Quantity", "PricePerShare", "TotalAmount", "Currency", "FXRate"]
TICKERS = [
    "AAPL", "MSFT", "GOOG", "AMZN", "TSLA", "NVDA", "META", "NFLX", "AMD", "INTC",
    "ORCL", "IBM", "SAP", "ASML", "SHOP", "UBER", "ABNB", "PYPL", "SQ", "COIN",
    "BABA", "JD", "NIO", "F", "GM", "KO", "PEP", "MCD", "DIS", "V",
]
TYPES = ["BUY - MARKET", "SELL - MARKET", "DIVIDEND", "CASH TOP-UP", "CASH WITHDRAWAL", "CUSTODY FEE"]
TYPE_P = [0.45, 0.2, 0.12, 0.1, 0.08, 0.05]
SKIPPED_TYPES = ["CASH TOP-UP", "CASH WITHDRAWAL"]
CURRENCIES = ["USD", "EUR", "GBP", "CHF"]
CURRENCY_P = [0.7, 0.15, 0.1, 0.05]
BAD_DATE = "2023/07/15 12:00"
FIXED_DATE = "2023-07-15T12:00:00.000Z"

SOURCE_ID, DEST_ID, MAPPING_ID = "revolut_stocks", "ghostfolio", "revolut_stocks_to_ghostfolio"

# One mapping that uses all eight transform types of the mapping language
# plus an ``in`` skip rule; only ``date_format`` can raise a row error.
MAPPING = {
    "id": MAPPING_ID,
    "name": "Revolut stocks to Ghostfolio",
    "source_id": SOURCE_ID,
    "destination_id": DEST_ID,
    "field_mappings": [
        {"destination_field": "date", "source_field": "Date", "transform_type": "date_format",
         "transform_config": {"input_format": "%Y-%m-%dT%H:%M:%S", "output_format": "%Y-%m-%d"}},
        {"destination_field": "symbol", "source_field": "Ticker", "transform_type": "direct",
         "transform_config": {}},
        {"destination_field": "type", "source_field": "Type", "transform_type": "lookup",
         "transform_config": {"BUY - MARKET": "BUY", "SELL - MARKET": "SELL",
                              "DIVIDEND": "DIVIDEND", "_default": "FEE"}},
        {"destination_field": "quantity", "source_field": "Quantity", "transform_type": "direct",
         "transform_config": {}},
        {"destination_field": "unitPrice", "source_field": "PricePerShare",
         "transform_type": "formula", "transform_config": {"expression": "PricePerShare * FXRate"}},
        {"destination_field": "fee", "source_field": None, "transform_type": "constant",
         "transform_config": {"value": "0"}},
        {"destination_field": "currency", "source_field": "Currency", "transform_type": "conditional",
         "transform_config": {"conditions": [
             {"if": "Currency == 'USD'", "then": "USD"},
             {"if": "Currency in ['EUR', 'CHF']", "then": "EUR"},
             {"else": "GBP"}]}},
        {"destination_field": "account", "source_field": "Currency", "transform_type": "suffix",
         "transform_config": {"value": "-revolut"}},
        {"destination_field": "comment", "source_field": "Ticker", "transform_type": "prefix",
         "transform_config": {"value": "rev:"}},
        {"destination_field": "dataSource", "source_field": None, "transform_type": "constant",
         "transform_config": {"value": "YAHOO"}},
    ],
    "filter_rules": [{"field": "Type", "operator": "in", "values": SKIPPED_TYPES}],
}


def _spec(spec_id: str, directory: str, columns: list[str]) -> dict:
    return {"id": spec_id, "name": spec_id, "default_directory": directory,
            "columns": [{"name": c, "type": "string"} for c in columns]}


def write_config(config_dir: Path) -> None:
    """The SpecStore's three JSON files for the revolut mapping."""
    config_dir.mkdir(parents=True, exist_ok=True)
    dest_cols = [fm["destination_field"] for fm in MAPPING["field_mappings"]]
    files = {
        "sources.json": {SOURCE_ID: _spec(SOURCE_ID, "revolut", COLUMNS)},
        "destinations.json": {DEST_ID: _spec(DEST_ID, "ghostfolio", dest_cols)},
        "mappings.json": {MAPPING_ID: MAPPING},
    }
    for name, body in files.items():
        (config_dir / name).write_text(json.dumps(body, indent=2), encoding="utf-8")


def revolut_rows(rng: np.random.Generator, n: int) -> tuple[list[str], int, int]:
    """``n`` CSV data lines, one kept-type row with an unparseable date.
    Returns the lines, the number of rows the skip rule keeps, and the bad
    row's physical line number (header = 1, like the preview's ``_line``)."""
    secs = rng.integers(1_577_836_800, 1_735_689_600, n)  # 2020-01-01 .. 2025-01-01
    millis = rng.integers(0, 1000, n)
    stamps = np.datetime_as_string(secs.astype("datetime64[s]"), unit="s")
    ticker = np.asarray(TICKERS)[rng.integers(0, len(TICKERS), n)]
    typ = np.asarray(TYPES)[rng.choice(len(TYPES), n, p=TYPE_P)]
    qty = rng.integers(1, 50_000, n) / 100.0
    price = rng.integers(100, 90_000, n) / 100.0
    cur = np.asarray(CURRENCIES)[rng.choice(len(CURRENCIES), n, p=CURRENCY_P)]
    fx = rng.integers(8_000, 13_000, n) / 10_000.0
    bad = int(rng.choice(np.flatnonzero(typ == "BUY - MARKET")))
    lines = [
        f"{BAD_DATE if i == bad else f'{stamps[i]}.{millis[i]:03d}Z'},{ticker[i]},{typ[i]},"
        f"{qty[i]:.2f},{price[i]:.2f},{qty[i] * price[i]:.2f},{cur[i]},{fx[i]:.4f}"
        for i in range(n)
    ]
    kept = int(n - np.isin(typ, SKIPPED_TYPES).sum())
    return lines, kept, bad + 2


def _write_csv(path: Path, lines: list[str]) -> int:
    body = ",".join(COLUMNS) + "\n" + "\n".join(lines) + "\n"
    path.write_text(body, encoding="utf-8")
    return len(body.encode("utf-8"))


# -- per-workload generators -------------------------------------------------


def gen_dashboard_loop(out: Path, rng: np.random.Generator, rows: int) -> dict:
    """SpecStore config plus one revolut-shaped upload with one bad row,
    and a pristine copy to restore it from after each edit."""
    write_config(out / "config")
    src = out / "input" / "revolut"
    src.mkdir(parents=True)
    lines, kept, bad_line = revolut_rows(rng, rows)
    size = _write_csv(src / "upload.csv", lines)
    shutil.copyfile(src / "upload.csv", out / "upload.orig.csv")
    return {"rows": rows, "bytes": size, "files": 1, "file": "upload.csv",
            "kept": kept, "bad_line": bad_line, "fixed_date": FIXED_DATE}


def gen_record_clusters(out: Path, rng: np.random.Generator, customers: int) -> dict:
    """The ``customer`` key column ``record_clusters`` reads (it derives
    its match strings from the key).  Keys are dense like TPC-H's, from a
    seeded offset so each seed clusters different strings."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    first = int(rng.integers(0, 1_000_000))
    keys = np.arange(first, first + customers)
    tdir = out / "tables"
    tdir.mkdir(parents=True)
    path = tdir / "customer.parquet"
    pq.write_table(pa.table({"c_custkey": pa.array(keys, pa.int64())}), path)
    return {"rows": customers, "bytes": path.stat().st_size, "files": 1}


def ensure_inputs(workload: str, seed: int, params: dict) -> tuple[Path, dict]:
    """Generate (or reuse) the inputs of ``workload`` for ``seed``.
    ``params`` are the generator's size arguments; they are part of the
    manifest, so a size change regenerates instead of reusing."""
    out = DATA_ROOT / f"{workload}-{seed}"
    manifest_path = out / "manifest.json"
    if manifest_path.exists():
        manifest = json.loads(manifest_path.read_text())
        if manifest.get("params") == params:
            return out, manifest
    shutil.rmtree(out, ignore_errors=True)
    out.mkdir(parents=True)
    rng = np.random.default_rng([seed, sum(map(ord, workload))])
    gen = {"dashboard_loop": gen_dashboard_loop, "record_clusters": gen_record_clusters}[workload]
    manifest = {"params": params, **gen(out, rng, **params)}
    # written last: a generation cut short leaves no manifest and is redone
    manifest_path.write_text(json.dumps(manifest, indent=1))
    return out, manifest
