"""Deterministic portable sampling: reproducibility, fraction accuracy,
threshold edge cases."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from csv_etl_spark.operators.sampling import (
    fraction_threshold_hex,
    hash_sample,
    stratified_hash_sample,
)


def test_threshold_edges():
    assert fraction_threshold_hex(0.0) == "00000000"
    assert fraction_threshold_hex(1.0) == "g"  # sorts after every hex prefix
    assert fraction_threshold_hex(0.5) == "80000000"
    with pytest.raises(ValueError):
        fraction_threshold_hex(1.5)


def test_hash_sample_fraction_and_determinism(spark):
    df = spark.range(0, 20000).select(F.col("id").cast("string").alias("k"))
    a = hash_sample(df, "k", 0.25)
    b = hash_sample(df, "k", 0.25)
    na = a.count()
    assert abs(na / 20000 - 0.25) < 0.02  # uniform within tolerance
    # identical membership, not just identical count
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    # layout-independent: same rows after repartition
    c = hash_sample(df.repartition(13), "k", 0.25)
    assert a.exceptAll(c).count() == 0 and c.exceptAll(a).count() == 0


def test_hash_sample_nested_fractions(spark):
    """A 10% sample is a subset of the 20% sample (threshold monotone) —
    what makes ablation ladders consistent."""
    df = spark.range(0, 5000).select(F.col("id").cast("string").alias("k"))
    small = set(r["k"] for r in hash_sample(df, "k", 0.1).collect())
    big = set(r["k"] for r in hash_sample(df, "k", 0.2).collect())
    assert small <= big


def test_stratified_full_and_zero(spark):
    df = spark.createDataFrame(
        [(str(i), "a" if i % 2 else "b") for i in range(2000)], ["k", "s"]
    )
    out = stratified_hash_sample(df, "s", {"a": 1.0}, key_col="k")  # b defaults to 0
    got = {r["s"]: r["n"] for r in out.groupBy("s").agg(F.count("*").alias("n")).collect()}
    assert got == {"a": 1000}
