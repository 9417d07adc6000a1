"""as-of join, range join, point row-update (S9), template generation (S7),
errors-by-line (V4)."""

from __future__ import annotations

import re
from datetime import datetime

from pyspark.sql import functions as F

from csv_etl_spark.operators.joins import asof_join, range_join_buckets
from csv_etl_spark.plans import transform, errors_by_line
from csv_etl_spark.sources.csv_source import LINE_COL, read_spec_csv, with_line_numbers
from csv_etl_spark.sources.edits import update_csv_row
from csv_etl_spark.sources.sinks import template_dataframe
from csv_etl_spark.specs import ColumnSpec, ColumnType, FileSpec


def ts(s: str) -> datetime:
    return datetime.fromisoformat(s)


def test_asof_join_basic(spark):
    left = spark.createDataFrame(
        [(1, "u1", ts("2024-01-01 10:00:00")),
         (2, "u1", ts("2024-01-01 12:00:00")),
         (3, "u2", ts("2024-01-01 09:00:00"))],
        "id long, k string, t timestamp",
    )
    right = spark.createDataFrame(
        [(100, "u1", ts("2024-01-01 09:30:00")),
         (101, "u1", ts("2024-01-01 11:00:00")),
         (102, "u2", ts("2024-01-01 09:00:00"))],  # exact tie: counts (>=)
        "rid long, k string, t timestamp",
    )
    out = {r["id"]: r["asof_rid"] for r in
           asof_join(left, right, on="k", left_time="t", right_time="t",
                     right_values=["rid"]).collect()}
    assert out == {1: 100, 2: 101, 3: 102}


def test_asof_join_tolerance_and_no_match(spark):
    left = spark.createDataFrame(
        [(1, "u1", ts("2024-01-01 10:00:00")), (2, "u3", ts("2024-01-01 10:00:00"))],
        "id long, k string, t timestamp",
    )
    right = spark.createDataFrame(
        [(100, "u1", ts("2024-01-01 06:00:00"))], "rid long, k string, t timestamp"
    )
    no_tol = {r["id"]: r["asof_rid"] for r in
              asof_join(left, right, "k", "t", "t", ["rid"]).collect()}
    assert no_tol == {1: 100, 2: None}  # u3 has no right rows at all
    with_tol = {r["id"]: r["asof_rid"] for r in
                asof_join(left, right, "k", "t", "t", ["rid"], tolerance="1 HOUR").collect()}
    assert with_tol == {1: None, 2: None}  # 4h-old match exceeds 1h tolerance


def test_range_join(spark):
    facts = spark.createDataFrame([(1, 3.0), (2, 7.5), (3, 50.0), (4, -1.0)], ["id", "v"])
    buckets = spark.createDataFrame(
        [(0.0, 5.0, "low"), (5.0, 20.0, "mid"), (20.0, 100.0, "high")], ["lo", "hi", "label"]
    )
    out = {r["id"]: r["label"] for r in range_join_buckets(facts, buckets, "v").collect()}
    assert out == {1: "low", 2: "mid", 3: "high", 4: None}


def test_update_csv_row(spark, tmp_path):
    p = tmp_path / "f.csv"
    p.write_text("a,b\n1,x\n2,y\n3,z\n")
    update_csv_row(spark, str(p), line_number=3, new_values={"b": "EDITED"})
    content = p.read_text()
    assert content.splitlines() == ["a,b", "1,x", "2,EDITED", "3,z"]


def test_single_file_line_ordered_write_is_byte_identical(spark, tmp_path):
    """The single-file write sorts its one partition locally instead of a
    global orderBy + coalesce(1); the file must not change by a byte."""
    from pathlib import Path

    from csv_etl_spark.sources.csv_source import planned_partitions
    from csv_etl_spark.sources.sinks import one_sorted_partition, write_single_csv_file

    df = (
        spark.range(500)
        .select(
            (F.col("id") + 2).alias(LINE_COL),
            F.concat(F.lit("v"), F.col("id").cast("string")).alias("v"),
            (F.col("id") % 7).cast("string").alias("w"),
        )
        .repartition(6, F.rand(seed=3))
    )
    assert df.rdd.getNumPartitions() == 6
    new_file = str(tmp_path / "new.csv")
    write_single_csv_file(one_sorted_partition(df, LINE_COL, planned_partitions(df)), new_file)
    old_dir = str(tmp_path / "old")
    df.orderBy(LINE_COL).drop(LINE_COL).coalesce(1).write.option("header", "true").csv(old_dir)
    old_file = next(Path(old_dir).glob("part-*.csv"))
    assert Path(new_file).read_bytes() == old_file.read_bytes()
    assert Path(new_file).read_text().splitlines()[:3] == ["v,w", "v0,0", "v1,1"]


def test_template_dataframe(spark):
    spec = FileSpec(
        id="t", name="t",
        columns=[ColumnSpec("name"), ColumnSpec("n", ColumnType.INTEGER),
                 ColumnSpec("price", ColumnType.MONEY), ColumnSpec("when", ColumnType.DATETIME)],
    )
    row = template_dataframe(spark, spec).collect()[0]
    assert row["name"] == "example_name"
    assert row["n"] == "123"
    assert row["price"] == "99.99"
    assert row["when"] == "2024-01-15T10:30:00"


def test_errors_by_line_v4(spark, tmp_path):
    d = tmp_path / "in"
    d.mkdir()
    (d / "f.csv").write_text("Date,Type\nbad,BUY\nalso-bad,NOPE\n2024-01-15T00:00:00,BUY\n")
    mapping = {
        "id": "m", "name": "m", "filter_rules": [],
        "field_mappings": [
            {"destination_field": "date", "source_field": "Date", "transform_type": "date_format",
             "transform_config": {"input_format": "%Y-%m-%dT%H:%M:%S", "output_format": "%Y-%m-%d"}},
            {"destination_field": "type", "source_field": "Type", "transform_type": "lookup",
             "transform_config": {"BUY": "BUY", "_default": None}},
        ],
    }
    df = with_line_numbers(read_spec_csv(spark, str(d)))
    result = transform(df, mapping, dry_run=True)
    grouped = {r[LINE_COL]: sorted(e["field"] for e in r["errors"])
               for r in errors_by_line(result.errors).collect()}
    assert grouped == {2: ["date"], 3: ["date", "type"]}


# ---------------------------------------------------------------------------
# fuzzy_string_join (round 8)
# ---------------------------------------------------------------------------


def _lev(a, b):
    if len(a) < len(b):
        a, b = b, a
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def _naive_fuzzy(lrows, rrows, d):
    """Cross join with a levenshtein check; a NULL key matches nothing."""
    return {
        (li, ri, lv, rv, _lev(lv, rv))
        for li, lv in lrows
        for ri, rv in rrows
        if lv is not None and rv is not None and _lev(lv, rv) <= d
    }


def test_fuzzy_string_join_matches_naive(spark):
    """Blocking must be SOUND: every pair the naive cross-join-with-
    levenshtein finds must come out, nothing else — NULL keys on both
    sides, non-ASCII keys (lengths and edits count characters), and
    budgets from exact match to d = 3."""
    from csv_etl_spark.operators.joins import fuzzy_string_join

    lrows = [
        (1, "abcdef"), (2, "zzzzzz"), (3, "abcdeg"), (4, "kitten"),
        (5, "a"), (6, ""), (7, "ab"), (8, None), (9, "naïve"), (10, "日本語"),
    ]
    rrows = [
        (10, "abcdef"),   # exact
        (11, "abcdxf"),   # sub mid
        (12, "abcdefg"),  # insert at end
        (13, "bcdef"),    # delete at front (position shift)
        (14, "sitten"),   # kitten d=1
        (15, "b"), (16, ""), (17, "abc"),
        (18, "totally-different"),
        (19, None), (20, "naive"), (21, "日本"), (22, "日本語です"),
    ]
    left = spark.createDataFrame(lrows, "lid long, s string")
    right = spark.createDataFrame(rrows, "rid long, t string")
    for d in (0, 1, 2, 3):
        got = {
            (r["lid"], r["rid"], r["left_val"], r["right_val"], r["dist"])
            for r in fuzzy_string_join(
                left, right, "s", "t", "lid", "rid", max_dist=d
            ).collect()
        }
        assert got == _naive_fuzzy(lrows, rrows, d), d


def test_fuzzy_string_join_shared_template_worst_case(spark):
    """The documented hot-segment worst case (uniform prefix) still
    produces exactly the naive result — degraded cost, same answer."""
    from csv_etl_spark.operators.joins import fuzzy_string_join

    lrows = [(i, f"Customer#{i:04d}") for i in range(30)]
    rrows = [(100 + i, f"Customer#{i:04d}"[:-1] + "X") for i in range(30)]
    left = spark.createDataFrame(lrows, ["lid", "s"])
    right = spark.createDataFrame(rrows, ["rid", "t"])
    got = {
        (r["lid"], r["rid"], r["dist"])
        for r in fuzzy_string_join(
            left, right, "s", "t", "lid", "rid", max_dist=1
        ).collect()
    }
    exp = {(li, ri, _lev(lv, rv))
           for li, lv, ri, rv in (
               (li, lv, ri, rv) for li, lv in lrows for ri, rv in rrows)
           if _lev(lv, rv) <= 1}
    assert got == exp
    # every planted (i, 100+i) pair found: last digit -> X is distance 1
    # EXCEPT ids whose last digit already... X never collides with digits
    assert all((i, 100 + i, 1) in got for i in range(30))


def test_fuzzy_string_join_fuzz(spark):
    """Random corpora across alphabets (one non-ASCII), lengths, NULL keys
    and budgets d = 0..3 vs the naive reference."""
    import random

    from csv_etl_spark.operators.joins import fuzzy_string_join

    rng = random.Random(8)

    def key(alpha):
        if rng.random() < 0.1:
            return None
        return "".join(rng.choice(alpha) for _ in range(rng.randrange(0, 9)))

    for trial, (alpha, d) in enumerate([("ab", 1), ("abcde", 2), ("aéß日", 0), ("abcde", 3)]):
        lrows = [(i, key(alpha)) for i in range(25)]
        rrows = [(i, key(alpha)) for i in range(25)]
        left = spark.createDataFrame(lrows, "lid long, s string")
        right = spark.createDataFrame(rrows, "rid long, t string")
        got = {
            (r["lid"], r["rid"], r["left_val"], r["right_val"], r["dist"])
            for r in fuzzy_string_join(
                left, right, "s", "t", "lid", "rid", max_dist=d
            ).collect()
        }
        assert got == _naive_fuzzy(lrows, rrows, d), (trial, d)


def test_fuzzy_string_join_plan_is_one_equijoin(spark):
    """Candidates come from ONE equijoin, with each input scanned once:
    no broadcast length table (a BroadcastNestedLoopJoin), no cross join,
    no second short-string path."""
    from csv_etl_spark.operators.joins import fuzzy_string_join

    left = spark.createDataFrame([(1, "abcdef"), (2, "a")], "lid long, s string")
    right = spark.createDataFrame([(10, "abcdxf"), (11, "")], "rid long, t string")
    qe = fuzzy_string_join(left, right, "s", "t", "lid", "rid", max_dist=2)._jdf.queryExecution()
    optimized = qe.optimizedPlan().toString()
    executed = qe.executedPlan().toString()
    assert len(re.findall(r"\bJoin\b", optimized)) == 1, optimized
    assert "Union" not in optimized, optimized
    for node in ("BroadcastNestedLoopJoin", "CartesianProduct"):
        assert node not in executed, executed
