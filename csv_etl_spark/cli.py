"""Command-line interface — the reference's CLI surface (``cli.py:18-103``)
on the Spark engine.

Same contract: process every ``*.csv`` in ``data/in/revolut_stocks`` /
``data/in/revolut_crypto`` into ``data/out/ghostfolio/<stem>_ghostfolio.csv``
and print per-file counts; argv[1] is an optional account name
(``cli.py:89``).  Plus a ``dynamic`` mode the reference only offers through
its dashboard: run any stored mapping over a source directory.

Per-file outputs are the reference's contract, so this loops files like the
reference does — each file is one Spark job (within a job, all partitions
run parallel).  For one combined output at scale you'd read the whole glob
as a single DataFrame instead; both paths use the same plans.
"""

from __future__ import annotations

import sys
from pathlib import Path

from pyspark.sql import SparkSession

DATA_DIR = Path("data")
INPUT_DIR = DATA_DIR / "in"
OUTPUT_DIR = DATA_DIR / "out"


def _write_single(df, path: Path) -> int:
    from csv_etl_spark.sources.sinks import write_single_csv_file

    n = df.count()
    write_single_csv_file(df, str(path))
    return n


def _process_revolut(spark: SparkSession, kind: str, plan, account_name: str) -> int:
    """Every ``*.csv`` of ``data/in/revolut_<kind>`` through the typed
    ``plan`` into ``data/out/ghostfolio/<stem>_ghostfolio.csv``."""
    from csv_etl_spark.plans.typed import format_ghostfolio_for_csv
    from csv_etl_spark.sources.csv_source import read_spec_csv

    input_dir = INPUT_DIR / f"revolut_{kind}"
    output_dir = OUTPUT_DIR / "ghostfolio"
    if not input_dir.exists():
        return 0
    output_dir.mkdir(parents=True, exist_ok=True)
    total = 0
    for csv_file in sorted(input_dir.glob("*.csv")):
        print(f"Processing ({kind}): {csv_file.name}")
        df = read_spec_csv(spark, str(csv_file.resolve()))
        out = format_ghostfolio_for_csv(plan(df, account_name=account_name))
        out_file = output_dir / f"{csv_file.stem}_ghostfolio.csv"
        n = _write_single(out, out_file.resolve())
        total += n
        print(f"  -> {out_file.name} ({n} activities)")
    return total


def process_revolut_stocks(spark: SparkSession, account_name: str | None = None) -> int:
    from csv_etl_spark.plans.typed import revolut_stocks_plan

    return _process_revolut(spark, "stocks", revolut_stocks_plan, account_name or "Revolut Stocks")


def process_revolut_crypto(spark: SparkSession, account_name: str | None = None) -> int:
    from csv_etl_spark.plans.typed import revolut_crypto_plan

    return _process_revolut(spark, "crypto", revolut_crypto_plan, account_name or "Revolut Crypto")


def process_dynamic(
    spark: SparkSession,
    config_dir: str,
    mapping_id: str,
    input_dir: str,
    output_dir: str,
    fail_on_error: bool = False,
) -> int:
    """Run a stored mapping over a directory (the dashboard's bulk-process
    path, ``app.py:161-231``, headless)."""
    from csv_etl_spark.plans.pipeline import transform
    from csv_etl_spark.sources.csv_source import read_spec_csv, with_line_numbers
    from csv_etl_spark.specs import SpecStore

    store = SpecStore(config_dir)
    mapping = store.get_mapping(mapping_id)
    if mapping is None:
        raise SystemExit(f"unknown mapping: {mapping_id}")
    src_spec = store.get_source(mapping.source_id)
    df = with_line_numbers(read_spec_csv(spark, input_dir, src_spec))
    result = transform(df, mapping, output_path=output_dir, fail_on_error=fail_on_error)
    print(
        f"{result.success_count} valid, {result.skipped_count} skipped, "
        f"{result.error_count} errors"
        + ("" if result.output_written else " (output withheld)")
    )
    return result.success_count


def main(argv: list[str] | None = None) -> int:
    from csv_etl_spark.session import get_spark

    argv = sys.argv[1:] if argv is None else argv
    spark = get_spark("csv-etl-spark-cli")
    spark.sparkContext.setLogLevel("WARN")

    if argv and argv[0] == "dynamic":
        if len(argv) < 5:
            print(
                "usage: csv-etl-spark dynamic <config_dir> <mapping_id> "
                "<input_dir> <output_dir> [--fail-on-error]"
            )
            return 2
        process_dynamic(
            spark, argv[1], argv[2], argv[3], argv[4],
            fail_on_error="--fail-on-error" in argv,
        )
        return 0

    account = argv[0] if argv else None
    total = process_revolut_stocks(spark, account) + process_revolut_crypto(spark, account)
    print(f"Total: {total} activities")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
