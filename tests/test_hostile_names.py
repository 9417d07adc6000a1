"""Hostile column names: every call that takes user-supplied column names
must treat each name as one literal identifier — a backtick, a dot, a
``__`` that could splice two names into one tag, a non-ASCII letter, a
space or a leading space.

Each test runs the same call twice: on the hostile names and on plain
stand-ins (``zq0zq``, ``zq1zq``, …).  The two results must be equal once
every stand-in in the plain result (column names and string values,
e.g. error fields and messages) is renamed back."""

from __future__ import annotations

import json
import re

import pytest
from pyspark.sql import functions as F

from csv_etl_spark.compiler import compile_mapping
from csv_etl_spark.local import local_values_frame
from csv_etl_spark.operators import text
from csv_etl_spark.operators.profile import profile_table
from csv_etl_spark.operators.stats import pairwise_corr
from csv_etl_spark.plans.validation import validate_against_spec
from csv_etl_spark.sources.edits import (
    merge_upsert,
    scd2_history,
    snapshot_diff,
    update_csv_row,
)
from csv_etl_spark.sources.json_source import read_spec_json
from csv_etl_spark.specs import ColumnSpec, ColumnType, FileSpec

# a`b / a.b: quoting and struct paths; a__b, c, a, b__c: the pair tags
# a__b·c and a·b__c spell the same text; then unicode with a space, and a
# leading space
HOSTILE = ["a`b", "a.b", "a__b", "c", "a", "b__c", "Ж x", " lead"]
PLAIN = [f"zq{i}zq" for i in range(len(HOSTILE))]
_BACK = dict(zip(PLAIN, HOSTILE))
_STAND_IN = re.compile(r"zq\d+zq")


def _ddl(name: str) -> str:
    """``name`` quoted for a DDL schema string — spelled here rather than
    imported, so the expected side does not lean on the quoter under test."""
    return "`" + name.replace("`", "``") + "`"


def _back(obj):
    if isinstance(obj, str):
        return _STAND_IN.sub(lambda m: _BACK[m.group()], obj)
    if isinstance(obj, dict):
        return {_back(k): _back(v) for k, v in obj.items()}
    if isinstance(obj, (list, tuple)):
        return [_back(v) for v in obj]
    return obj


def _table(df):
    rows = [_back(r.asDict(recursive=True)) for r in df.collect()]
    return _back(df.columns), sorted(rows, key=repr)


def _assert_same(run):
    """``run(names)`` → DataFrame; hostile and plain runs must agree."""
    got, exp = _table(run(HOSTILE)), _table(run(PLAIN))
    assert got == exp
    assert got[1], "the call returned no rows — nothing was compared"


ROWS = [
    ("v1", "x", "2024-01-15T10:30:00", "1", "x", "3", "w", "p"),
    ("v2", "y", "bad", "2", "y", "junk", "", "SKIP"),
    ("", "x", "", "9", "x", "4.5", "zz", "q"),
    ("v4", "k", "2024-02-01T00:00:00", "2", "y", "-1", "w", "r"),
]


def _frame(spark, n):
    return spark.createDataFrame(ROWS, n)


def _mapping(n):
    """Every transform type plus a lookup_table, over the names ``n``."""
    fm = [
        ("direct", n[0], n[0], {}),
        ("constant", n[1], None, {"value": "k"}),
        ("date_format", n[2], n[2], {"input_format": "%Y-%m-%dT%H:%M:%S",
                                     "output_format": "%d.%m.%Y"}),
        ("lookup", n[3], n[1], {"x": "X"}),
        ("suffix", n[4], n[6], {"value": "!", "condition": f"{n[4]} == 'x'"}),
        ("prefix", n[5], n[7], {"value": ">"}),
        ("formula", n[6], None, {"expression": f"{n[3]} * 2 + {n[5]}"}),
        ("conditional", n[7], None, {"conditions": [
            {"if": f"{n[2]} == 'bad'", "then": "B"},
            {"if": f"{n[4]} in ['x']", "then": "X"},
            {"else": "other"}]}),
        ("lookup_table", n[0] + "_lk", n[3], {"table": "t", "key": n[1],
                                               "value": n[6]}),
    ]
    return {
        "id": "m", "name": "m",
        "field_mappings": [
            {"transform_type": t, "destination_field": d, "source_field": s,
             "transform_config": cfg}
            for t, d, s, cfg in fm
        ],
        "filter_rules": [{"field": n[7], "operator": "equals", "value": "SKIP"}],
    }


def test_mapping_apply_hostile_names(spark):
    def run(n):
        lut = spark.createDataFrame([("1", "one"), ("9", "nine")], [n[1], n[6]])
        compiled = compile_mapping(_mapping(n), n)
        return compiled.apply(_frame(spark, n), tables={"t": lut})

    _assert_same(run)


def test_mapping_aggregation_hostile_names(spark):
    def run(n):
        mapping = {
            "id": "agg", "name": "agg",
            "field_mappings": [
                {"destination_field": n[0], "source_field": n[4],
                 "transform_type": "direct", "transform_config": {}},
                {"destination_field": n[1], "source_field": n[5],
                 "transform_type": "direct", "transform_config": {}},
            ],
            "group_by": [n[0]],
            "aggregations": [
                {"destination_field": n[2], "source_field": n[1], "agg": "sum"},
                {"destination_field": n[3], "source_field": n[1], "agg": "count"},
                {"destination_field": n[4], "agg": "count"},
                {"destination_field": n[5], "source_field": n[1], "agg": "avg"},
                {"destination_field": n[6], "source_field": n[1], "agg": "min"},
                {"destination_field": n[7], "source_field": n[1], "agg": "max"},
            ],
        }
        return compile_mapping(mapping, n).apply(_frame(spark, n), with_errors=False)

    _assert_same(run)


def test_validate_against_spec_hostile_names(spark):
    kinds = [
        dict(required=True), dict(max_length=1),
        dict(type=ColumnType.DATE, date_format="%Y-%m-%dT%H:%M:%S"),
        dict(type=ColumnType.INTEGER), dict(type=ColumnType.BOOLEAN),
        dict(type=ColumnType.FLOAT), dict(type=ColumnType.MONEY, required=True),
    ]

    def run(n):
        cols = [ColumnSpec(name=name, **kw) for name, kw in zip(n, kinds)]
        cols.append(ColumnSpec(name=n[0] + "_absent", required=True))
        spec = FileSpec(id="s", name="s", columns=cols)
        return validate_against_spec(_frame(spark, n), spec)

    _assert_same(run)


def test_update_csv_row_hostile_names(spark, tmp_path):
    def run(n):
        path = tmp_path / f"{n[0].replace('`', '')}.csv"
        path.write_text(",".join(n) + "\n" + "".join(",".join(r) + "\n" for r in ROWS))
        update_csv_row(spark, str(path), 3, {n[0]: "new", n[6]: "edited"})
        lines = path.read_text().splitlines()
        return spark.createDataFrame([(i, s) for i, s in enumerate(lines)], "i int, line string")

    _assert_same(run)


# rows of _frame with new values: row 1 changed, row 2 unchanged, a new key
UPDATES = [
    ("u1", "x", "2024-01-15T10:30:00", "1", "x", "30", "w", "p"),
    ("v2", "y", "bad", "2", "y", "junk", "", "SKIP"),
    ("u5", "n", "2024-03-01T00:00:00", "5", "x", "1", "w", "s"),
]


def test_merge_upsert_hostile_names(spark):
    def run(n):
        updates = spark.createDataFrame(UPDATES, n).select(*[F.col(_ddl(c)) for c in reversed(n)])
        return merge_upsert(_frame(spark, n), updates, [n[1], n[3]])

    _assert_same(run)


def test_snapshot_diff_hostile_names(spark):
    def run(n):
        new = spark.createDataFrame(UPDATES, n)
        return snapshot_diff(_frame(spark, n), new, [n[1], n[3]])

    _assert_same(run)


def test_scd2_history_hostile_names(spark):
    from datetime import datetime

    rows = [
        ("k1", datetime(2024, 1, 1), "v", 1), ("k1", datetime(2024, 1, 2), "v", 1),
        ("k1", datetime(2024, 1, 3), "w", 1), ("k2", datetime(2024, 1, 1), "v", 2),
        ("k2", datetime(2024, 1, 1), "w", 1),
    ]

    def run(n):
        schema = (f"{_ddl(n[1])} string, {_ddl(n[0])} timestamp, "
                  f"{_ddl(n[2])} string, {_ddl(n[6])} int")
        return scd2_history(spark.createDataFrame(rows, schema), n[1], n[0], n[2], n[6])

    _assert_same(run)


def test_read_spec_json_hostile_names(spark, tmp_path):
    def run(n):
        d = tmp_path / n[0].replace("`", "")
        d.mkdir()
        (d / "part.json").write_text(
            "".join(json.dumps(dict(zip(n, r)), ensure_ascii=False) + "\n" for r in ROWS)
        )
        inferred = read_spec_json(spark, str(d))
        spec = FileSpec(id="s", name="s", columns=[ColumnSpec(name=c) for c in n])
        declared = read_spec_json(spark, str(d), spec)
        return declared.unionByName(inferred)

    _assert_same(run)


def _numeric(spark, n):
    rows = [
        (1.0, 2.0, 0.5, None, 4.0, 3.0, -1.0, 7.0),
        (2.0, 1.0, 1.5, 2.0, 4.5, 2.0, 0.0, 6.0),
        (3.0, 5.0, 2.0, 3.0, 3.0, 1.5, 1.0, None),
        (4.0, 3.0, 4.0, 5.0, 2.0, 0.5, 1.0, 5.0),
    ]
    return spark.createDataFrame(rows, ", ".join(f"{_ddl(c)} double" for c in n))


def test_profile_table_hostile_names(spark):
    def run(n):
        df = _frame(spark, n).withColumn(n[3], F.col(_ddl(n[3])).cast("int"))
        return profile_table(df)

    _assert_same(run)


def test_pairwise_corr_hostile_names(spark):
    _assert_same(lambda n: pairwise_corr(_numeric(spark, n), n, centers={n[2]: 1.5}))


def test_local_values_frame_hostile_names(spark):
    types = ["int", "string", "double", "boolean", "bigint", "array<string>",
             "string", "int"]
    rows = [
        (1, "x", 1.5, True, 10, ["p", "q"], "Ж", None),
        (2, None, -0.25, False, None, [], "it's", 7),
    ]

    def run(n):
        schema = ", ".join(f"{_ddl(c)} {t}" for c, t in zip(n, types))
        return local_values_frame(spark, rows, schema)

    _assert_same(run)


# documents for the text operators: repeated pairs (so phrase_merges
# learns merges), an empty and a NULL text, tabs, newlines and bullets
DOCS = [
    (1, "The cat sat on the mat. The cat ran to the mat!", "src0"),
    (2, "new york is big and new york is old", "src1"),
    (3, "", "src0"),
    (4, "the the cat\tsat\non the mat ...", "src1"),
    (5, None, "src0"),
    (6, "- a bullet of new york ...\n- the cat\n# the end", "src1"),
]

# each text.py frame operator, called with (frame, text_col, id_col, by)
TEXT_OPS = {
    "text_metrics": lambda d, t, i, b: text.text_metrics(d, text_col=t, id_col=i),
    "repetition_metrics": lambda d, t, i, b: text.repetition_metrics(d, text_col=t, id_col=i),
    "top_tokens": lambda d, t, i, b: text.top_tokens(d, k=8, text_col=t),
    "length_histogram": lambda d, t, i, b: text.length_histogram(d, text_col=t, bin_width=4),
    "tokens_to_ids": lambda d, t, i, b: text.tokens_to_ids(d, vocab_size=6, text_col=t, id_col=i),
    "unigram_logprob": lambda d, t, i, b: text.unigram_logprob(d, text_col=t, id_col=i),
    "bigram_logprob": lambda d, t, i, b: text.bigram_logprob(d, text_col=t, id_col=i),
    "top_token_pairs": lambda d, t, i, b: text.top_token_pairs(d, k=8, text_col=t),
    "tfidf_top_terms": lambda d, t, i, b: text.tfidf_top_terms(d, k=3, text_col=t, id_col=i),
    "bm25_top_terms": lambda d, t, i, b: text.bm25_top_terms(d, k=3, text_col=t, id_col=i),
    "lm_score_buckets": lambda d, t, i, b: text.lm_score_buckets(
        d, by=b, text_col=t, id_col=i),
    "gopher_quality": lambda d, t, i, b: text.gopher_quality(
        d, min_words=3, min_stopword_hits=1, text_col=t, id_col=i),
    "length_outliers": lambda d, t, i, b: text.length_outliers(d, text_col=t, id_col=i),
    "phrase_merges": lambda d, t, i, b: text.phrase_merges(d, k=3, text_col=t),
    "apply_phrase_merges": lambda d, t, i, b: text.apply_phrase_merges(
        d, text.phrase_merges(d, k=3, text_col=t), text_col=t, id_col=i),
    "dsir_importance": lambda d, t, i, b: text.dsir_importance(
        d, d.filter(F.col(_ddl(b)) == "src0"), text_col=t, id_col=i),
    "corpus_report": lambda d, t, i, b: text.corpus_report(d, by=b, text_col=t, id_col=i),
}


@pytest.mark.parametrize("op", sorted(TEXT_OPS))
def test_text_operators_hostile_names(spark, op):
    """A backticked text column, a dotted id column and a unicode group
    column with a space."""
    def run(n):
        t, i, b = n[0], n[1], n[6]
        d = spark.createDataFrame(
            DOCS, f"{_ddl(i)} bigint, {_ddl(t)} string, {_ddl(b)} string")
        return TEXT_OPS[op](d, t, i, b)

    _assert_same(run)
