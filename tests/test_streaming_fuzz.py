"""Batch ≡ streaming under fuzzing: random mappings (reusing the mapping
fuzzer's strategies) run through the SAME compiled plan as a batch job and
as an availableNow stream — output multisets must match.  This is the
'compile once, run anywhere' claim tested broadly, not on one example."""

from __future__ import annotations

from collections import Counter

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from csv_etl_spark.compiler import ERRORS_COL, compile_mapping

from tests.mapping_strategies import COLS, mapping_st, row

_COUNTER = {"n": 0}


@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.too_slow,
                                 HealthCheck.function_scoped_fixture])
@given(mapping_st, st.lists(row, min_size=1, max_size=8))
def test_stream_matches_batch_for_random_mappings(spark, tmp_path_factory, mapping, rows):
    _COUNTER["n"] += 1
    d = tmp_path_factory.mktemp(f"sfuzz{_COUNTER['n']}")
    src = str(d / "in")
    df = spark.createDataFrame([tuple(r) for r in rows], COLS)
    df.coalesce(2).write.parquet(src)

    compiled = compile_mapping(mapping, COLS)
    batch_out = compiled.apply(spark.read.parquet(src), with_errors=True)

    schema = ", ".join(f"{c} string" for c in COLS)
    stream = spark.readStream.schema(schema).parquet(src)
    name = f"sfuzz_q{_COUNTER['n']}"
    q = (
        compiled.apply(stream, with_errors=True)
        .writeStream.format("memory").queryName(name)
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    stream_out = spark.sql(f"SELECT * FROM {name}")

    def canon(frame):
        out = []
        for r in frame.collect():
            dd = r.asDict(recursive=True)
            errs = tuple(sorted(e["field"] for e in dd.pop(ERRORS_COL)))
            out.append((tuple(sorted((k, str(v)) for k, v in dd.items())), errs))
        return Counter(out)

    assert canon(batch_out) == canon(stream_out), f"mapping={mapping}"


# ---------------------------------------------------------------------------
# Stateful dedup parity property: random event streams, random file splits
# ---------------------------------------------------------------------------

_ev = st.tuples(
    st.integers(0, 3),                      # user_id (few keys → collisions)
    st.sampled_from(["click", "view"]),     # event_type
    st.integers(0, 300),                    # ts offset minutes (dup ts allowed)
)


@settings(max_examples=4, deadline=None,
          suppress_health_check=[HealthCheck.too_slow,
                                 HealthCheck.function_scoped_fixture])
@given(st.lists(_ev, min_size=1, max_size=25), st.integers(1, 3))
def test_stream_dedup_first_property(spark, tmp_path_factory, rows, n_files):
    """applyInPandasWithState dedup under fuzzing.  Universal invariants
    (any micro-batching): exactly ONE emission per (user_id, event_type)
    key, keys == batch keys, and every emitted row is a REAL input event.
    Strong invariant when the source is a single file (single trigger, so
    trigger order can't reorder): emitted event == the batch-side global
    (ts, event_id)-first, bit-for-bit."""
    from datetime import datetime, timedelta

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from csv_etl_spark.streaming.events import EVENTS_SCHEMA, read_events_stream
    from csv_etl_spark.streaming.stateful import stream_dedup_first

    _COUNTER["n"] += 1
    src = str(tmp_path_factory.mktemp(f"dfuzz{_COUNTER['n']}") / "in")
    base = datetime(2024, 1, 1)
    data = [
        (i, base + timedelta(minutes=m), u, t, 1.0, None)
        for i, (u, t, m) in enumerate(rows)
    ]
    # write n_files separate part files (append), one chunk each
    chunk = max(1, (len(data) + n_files - 1) // n_files)
    for j in range(0, len(data), chunk):
        spark.createDataFrame(data[j:j + chunk], EVENTS_SCHEMA).coalesce(
            1
        ).write.mode("append").parquet(src)

    stream = read_events_stream(spark, src, max_files_per_trigger=1)
    name = f"dfuzz_q{_COUNTER['n']}"
    q = (
        stream_dedup_first(stream)
        .writeStream.format("memory").queryName(name)
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = spark.sql(f"SELECT * FROM {name}").collect()

    batch = spark.read.schema(EVENTS_SCHEMA).parquet(src)
    inputs = {r["event_id"]: r for r in batch.collect()}
    keys_in = {(r["user_id"], r["event_type"]) for r in inputs.values()}

    assert len(got) == len({(r["user_id"], r["event_type"]) for r in got})
    assert {(r["user_id"], r["event_type"]) for r in got} == keys_in
    for r in got:  # every emission is a genuine, untouched input event
        src_row = inputs[r["event_id"]]
        assert (r["user_id"], r["event_type"], r["ts"], r["value"]) == (
            src_row["user_id"], src_row["event_type"],
            src_row["ts"], src_row["value"],
        )

    if n_files == 1 or len(data) <= chunk:
        w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
        exp = {
            (r["user_id"], r["event_type"]): r["event_id"]
            for r in batch.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") == 1).collect()
        }
        assert {(r["user_id"], r["event_type"]): r["event_id"] for r in got} == exp
