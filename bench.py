#!/usr/bin/env python
"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
compact FIXED-SIZE JSON line on stdout (printed LAST, so a tail capture
always gets it): {"metric": ..., "value": <total sec>, "unit": "sec",
"queries": {<parity subset>: median sec}, "n_queries": N, "n_runs": N,
"sf": <sf>, "detail": <path>}.  The FULL per-query medians + raw runs +
spread are written to bench_records/BENCH_FULL_latest.json (override via
$SPARK_GRAFT_BENCH_DETAIL; each round ALSO snapshots it to the committed
bench_records/BENCH_FULL_r{N}.json — r11 lost its r10 per-query
comparison because only the gitignored _latest existed) — in round 5 raw runs lived on the stdout
line and in round 9 the per-query medians alone did; both times the line
outgrew the driver's 2000-char tail capture and left the official record
unparseable ("parsed": null).  The stdout line now carries only the
constant-size parity subset and is bounded by construction
(tests/test_bench_contract.py).

Protocol (round 3): each query is materialized with a noop write (full
execution, no driver collect, no disk) $SPARK_GRAFT_BENCH_RUNS times
(default 3) in round-robin passes; the reported figure is the per-query
MEDIAN, with every raw run and the max-min spread alongside — this box
shows ±50% run-to-run noise, so single-shot numbers are not comparable
across rounds.  Session warm-up touches only SYNTHETIC frames (JVM,
codegen, python-worker pool): no benchmark table is pre-read, so pass 1
pays any cold file I/O and the median reflects the warm steady state —
both visible in "runs".  Operator-level persist caches (shingle/LSH
projections) are cleared between passes so every run measures real work,
not a cache hit.  Timings are job time only — session build excluded,
matching BASELINE.md's protocol.
"""

from __future__ import annotations

import json
import math
import os
import re
import sys
import time
from pathlib import Path

import pandas as pd  # noqa: F401  (pandas_udf warm-up type hints)

sys.path.insert(0, str(Path(__file__).resolve().parent))

import __spark_entry__ as entry_mod  # noqa: E402
from csv_etl_spark import get_spark  # noqa: E402

HEADLINE = [
    "etl_dynamic_mapping",
    "etl_lookup_table",
    "etl_aggregate_mapping",
    "etl_chained_mappings",
    "typed_stocks_pipeline",
    "agg_pricing_summary",
    "join_revenue_by_nation",
    "window_top_orders",
    "dedup_exact",
    "dedup_jaccard_pairs",
    "dedup_minhash_lsh",
    "dedup_embedding",
    "ann_bruteforce",
    "text_metrics",
    "corpus_curation",
    "stream_hourly_counts",
    "stream_sessionize",
    "multimodal_features",
    # round 5 additions
    "dedup_paragraphs",
    "events_rolling",
    "chunk_documents",
    "pack_sequences",
    "tokens_to_ids",
    "unigram_logprob",
    "corpus_shuffle",
    "text_strip_html",
    "web_curation",
    "events_rolling_time",
    "length_outliers",
    # round 6 additions
    "gopher_quality",
    "mixture_resample",
    "ann_quantized",
    "image_dhash_pairs",
    "stats_moments",
    "window_funcs_orders",
    "training_mix",
    "text_top_bigrams",
    "dedup_doc_lines",
    "sample_by_quality",
    "tfidf_terms",
    "join_full_outer",
    "bigram_logprob",
    "scd2_history",
    "retention_cohorts",
    "snapshot_diff",
    "funnel_steps",
    "image_dup_clusters",
    "profile_events",
    "asof_join_forward",
    # round 7 additions (the 3 landed after the final r6 bench + new op)
    "value_histogram",
    "events_anomalies",
    "sample_weighted",
    "dedup_incremental_bloom",
    "bm25_terms",
    "perplexity_buckets",
    "boilerplate_lines",
    "token_budget_mix",
    "duplicate_spans",
    "contamination_report",
    "source_cap",
    "events_winsorized",
    "interval_overlap",
    "remove_dup_spans",
    "dsir_selection",
    "corpus_report",
    # iterative trainer: ~1.5s/round x 8 rounds of fixed job overhead at
    # local scale — by far the heaviest headline entry, expected and
    # documented (per-round cost is job scheduling, not data volume)
    "bpe_merges",
    # round 8 additions: train(k=4)→apply composition, NB learned gate,
    # blocked edit-distance join
    "apply_merges",
    "quality_classifier",
    "fuzzy_join",
    "pct_rank_events",
    "corr_lineitem",
    "mad_outliers",
    "copurchase_pairs",
    "copurchase_capped",
    "record_clusters",
    "url_dedup",
    "events_drift",
    "key_skew_events",
    # round 9 additions: two-level IVF (exhaustive routing), PSL-table
    # registered-domain rollup, batch sessions, kNN graph, PageRank
    "ann_ivf_two_level",
    "url_registered_domain",
    "sessionize_events",
    "knn_graph",
    "part_pagerank",
    "salted_join_customers",
    "temperature_mix",
    "embedding_standardize",
    "leakage_safe_split",
    "leakage_safe_split_lsh",
    # round 12 addition: the bounded-cell kNN-graph tier's contract
    # spelling (m_super=None flat routing — the SQL-oracle twin; the
    # m_super=4 production routing is ladder-measured in SCALE.md)
    "knn_graph_sharded",
    # round 13 additions: the auto-dispatching kNN entry (flat arm at
    # sf0.1), the nprobe calibration curve, and the hot-bucket-capped
    # LSH spelling
    "knn_graph_auto",
    "ann_recall_curve",
    "dedup_lsh_capped",
    # round 15 additions: trained char-trigram NB language ID, the
    # >4096-cell assignment tier's flat contract spelling
    "lang_id_model",
    "assign_sharded_flat",
]


def _env_stamp() -> dict:
    """Machine-state markers recorded per snapshot (r12 verdict ask #8):
    cross-session absolute timings drift ~1 s, which made bench_diff's
    >30% flags ambiguous between machine state and code.  The stamp lets
    a future diff separate the two: load averages, and the number of
    CONCURRENT java/python processes outside this bench's own process
    tree (the scale-bench exclusivity discipline says that number should
    be 0 — a non-zero count marks the snapshot as contended)."""
    stamp: dict = {"pid": os.getpid()}
    try:
        la1, la5, la15 = os.getloadavg()
        stamp["loadavg"] = [round(la1, 2), round(la5, 2), round(la15, 2)]
    except OSError:
        pass
    # own process tree: this python + the Spark JVM (+ python workers) it
    # spawned all share this process's session id; anything ELSE running
    # java/python concurrently is contention
    try:
        own_sid = os.getsid(0)
        foreign = []
        for p in os.listdir("/proc"):
            if not p.isdigit():
                continue
            try:
                with open(f"/proc/{p}/comm") as fh:
                    comm = fh.read().strip()
                if not (comm.startswith("java") or comm.startswith("python")):
                    continue
                if os.getsid(int(p)) == own_sid:
                    continue
                foreign.append(comm)
            except (OSError, ProcessLookupError):
                continue
        stamp["foreign_jvm_py"] = len(foreign)
        stamp["exclusive"] = not foreign
    except OSError:
        pass
    # absolute machine-speed calibration (r15: the r13→r14 +10.6% total
    # drift reproduced on an IDLE machine, so loadavg alone cannot
    # adjudicate "machine state" — the box itself got slower between
    # rounds).  Two fixed single-thread probes, medians of 5: a numpy
    # matmul (BLAS / CPU frequency) and a pure-python loop (interpreter
    # / branch speed).  Future bench_diffs divide totals by the
    # calibration ratio before flagging.
    try:
        import numpy as _np

        A = _np.arange(512 * 512, dtype="float64").reshape(512, 512) / 1e6
        ts = []
        for _ in range(5):
            t0 = time.perf_counter()
            (A @ A).sum()
            ts.append(time.perf_counter() - t0)
        stamp["cal_matmul_ms"] = round(sorted(ts)[2] * 1000, 3)
        ts = []
        for _ in range(5):
            t0 = time.perf_counter()
            s = 0
            for i in range(200_000):
                s += i ^ (i >> 3)
            ts.append(time.perf_counter() - t0)
        stamp["cal_pyloop_ms"] = round(sorted(ts)[2] * 1000, 3)
        try:
            stamp["kernel"] = os.uname().release
        except OSError:
            pass
    except Exception:
        pass
    return stamp


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0

    spark = get_spark("csv-etl-spark-bench")
    spark.sparkContext.setLogLevel("ERROR")
    queries = entry_mod.queries()

    # warm-up: JVM/codegen/python-worker pool on SYNTHETIC frames only — no
    # benchmark table is touched, so the timed pass-1 runs include their own
    # cold file I/O and the median is an honest steady-state figure (the
    # previous protocol pre-read the events table, which also warmed the OS
    # page cache + parquet footers for the timed queries)
    from pyspark.sql import functions as F

    @F.pandas_udf("long")
    def _noop(s: pd.Series) -> pd.Series:
        return s

    spark.range(0, 1024, 1, 32).select(_noop(F.col("id"))).write.format("noop").mode(
        "overwrite"
    ).save()

    # expression-family codegen warm-up (timestamp parse/format, when-chains,
    # concat) — JIT infrastructure, the state any long-running service is in
    spark.range(0, 1000, 1, 8).select(
        F.date_format(
            F.try_to_timestamp(
                F.lit("2024-01-01 00:00:00"), F.lit("yyyy-MM-dd HH:mm:ss")
            ),
            "yyyy-MM-dd",
        ).alias("d"),
        F.when(F.col("id") % 2 == 0, F.lit("a")).otherwise(F.lit("c")).alias("w"),
        F.concat(F.lit("x:"), F.col("id").cast("string")).alias("c"),
    ).write.format("noop").mode("overwrite").save()

    def clear_operator_caches() -> None:
        # persisted shingle/LSH/assignment projections survive across calls
        # by design (session cache); between bench passes they must go, or
        # pass 2+ would time a cache hit instead of the operator.
        # blocking=True: the default async unpersist would otherwise run
        # concurrently with the next pass's timed queries and contend for
        # the block manager (the suspected cause of r5's driver-run passes
        # getting SLOWER on exactly the cached operators).
        from csv_etl_spark import driver_memo
        from csv_etl_spark.operators import similarity as _sim

        # every BoundedPersistCache/BoundedDriverMemo registered itself on
        # construction (shingle/LSH/assignment projections, prefix sums,
        # feature pairs, link tables, BPE merges, compiled mappings)
        driver_memo.clear_all(blocking=True)
        # codebook router broadcasts otherwise accumulate (up to ~128 MB
        # per routing call) across bench passes; destroy=True is safe
        # here — every returned frame was consumed by the timed pass
        _sim.release_sharded_broadcasts(destroy=True)

    env_start = _env_stamp()

    # r16 (verdict ask #4): SAMPLED calibration.  A single start/end probe
    # cannot normalize anything on this host — BENCHNOTES_r15_host.json
    # measured the SIMD/matmul throughput swinging ~30x within SECONDS
    # (co-tenant memory-bandwidth pressure), so a point sample is noise.
    # Instead one quick probe pair runs AFTER every timed query (outside
    # the timed window; ~10-15 ms typical, a few seconds over the whole
    # bench) and the MEDIAN over ~3x n_queries samples is the run's host
    # speed.  References are the r15 idle-box evidence: matmul ~0.9 ms
    # (idle readings 0.84-1.17), pyloop ~18 ms at 200k iters -> 9 ms at
    # the quick probe's 100k.
    import numpy as _np

    _cal_A = _np.arange(512 * 512, dtype="float64").reshape(512, 512) / 1e6
    cal_samples: list[tuple[float, float]] = []

    def _cal_quick() -> None:
        t0 = time.perf_counter()
        (_cal_A @ _cal_A).sum()
        m = (time.perf_counter() - t0) * 1000
        t0 = time.perf_counter()
        s = 0
        for i in range(100_000):
            s += i ^ (i >> 3)
        p = (time.perf_counter() - t0) * 1000
        cal_samples.append((round(m, 3), round(p, 3)))

    n_runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))
    # optional subset (comma-separated names): regression re-timing runs
    # a few queries at higher n_runs without paying for the full matrix
    only = os.environ.get("SPARK_GRAFT_BENCH_ONLY")
    headline = (
        [n for n in HEADLINE if n in only.split(",")] if only else HEADLINE
    )
    runs: dict[str, list[float]] = {n: [] for n in headline if n in queries}
    for _ in range(n_runs):
        for name in headline:
            fn = queries.get(name)
            if fn is None:
                continue
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            runs[name].append(round(time.perf_counter() - t0, 3))
            _cal_quick()
        clear_operator_caches()

    from statistics import median

    timings = {n: round(median(r), 3) for n, r in runs.items()}
    spread = {n: round(max(r) - min(r), 3) for n, r in runs.items()}
    total = round(sum(timings.values()), 3)
    # calibration profile + first-order normalized total.  The factor is
    # the geomean of the two probe ratios vs the idle references — matmul
    # proxies host SIMD/memory-bandwidth co-tenancy (what hit the r15
    # driver bench 3x), pyloop proxies guest CPU contention.  A crude
    # model by design: its job is to let bench_diff separate "the box was
    # slow" from "the code got slower" mechanically; within-session A/Bs
    # remain the gold standard.
    cal_profile: dict = {}
    value_normalized = None
    if cal_samples:
        mm = sorted(m for m, _ in cal_samples)
        pp = sorted(p for _, p in cal_samples)
        q = lambda xs, f: xs[min(len(xs) - 1, int(f * len(xs)))]
        cal_profile = {
            "n_samples": len(cal_samples),
            "matmul_med_ms": round(median(mm), 3),
            "matmul_p10_ms": round(q(mm, 0.1), 3),
            "matmul_p90_ms": round(q(mm, 0.9), 3),
            "pyloop_med_ms": round(median(pp), 3),
            "pyloop_p90_ms": round(q(pp, 0.9), 3),
            "ref_matmul_ms": 0.9,
            "ref_pyloop_ms": 9.0,
        }
        factor = math.sqrt(
            max(median(mm), 1e-6) / 0.9 * max(median(pp), 1e-6) / 9.0
        )
        cal_profile["host_slowdown_factor"] = round(factor, 3)
        value_normalized = round(total / factor, 3)
    # Raw runs + spread go to STDERR: round 5's single stdout line carrying
    # them for 29 queries overflowed the driver's stdout-tail capture and
    # left BENCH_r05.json unparseable ("parsed": null).  The driver contract
    # is ONE compact JSON line on stdout, printed LAST.
    print(
        json.dumps({"runs": runs, "spread": spread}, separators=(",", ":")),
        file=sys.stderr,
    )
    # Round 10: the full per-query dict ITSELF outgrew the 2000-char tail
    # at 86 queries (BENCH_r09.json "parsed": null — the second overflow
    # after r5).  The stdout line is now FIXED-SIZE: total + the baseline
    # parity subset only (the queries BASELINE.md prices), while the full
    # per-query medians/runs/spread go to bench_records/ and the line
    # carries the path.  tests/test_bench_contract.py proves the line
    # stays <1500 chars no matter how many headline queries register.
    detail_path = Path(__file__).resolve().parent / "bench_records" / (
        os.environ.get("SPARK_GRAFT_BENCH_DETAIL", "BENCH_FULL_latest.json")
    )
    detail_path.parent.mkdir(exist_ok=True)
    detail_path.write_text(
        json.dumps(
            {
                "metric": "headline_queries_total_time",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "runs": runs,
                "spread": spread,
                "n_runs": n_runs,
                "sf": sf,
                # r13 (verdict ask #8): machine-state markers at start and
                # end of the timed passes — bench_diff surfaces these so a
                # >30% flag on a contended snapshot reads as machine state,
                # not code
                "env": {"start": env_start, "end": _env_stamp()},
                # r16 (verdict ask #4): per-query-sampled host-speed
                # profile + first-order normalized total (see _cal_quick)
                "cal_profile": cal_profile,
                "value_normalized": value_normalized,
            },
            indent=1,
        )
    )
    print(
        json.dumps(
            summary_line(
                total, timings, n_runs, sf, detail_path, value_normalized
            ),
            separators=(",", ":"),
        )
    )


# The fixed parity subset carried on the stdout line: the queries
# BASELINE.md prices against the reference interpreter.  Keeping this
# list CONSTANT (not "all headline queries") is what makes the stdout
# line fixed-size — add new queries to HEADLINE freely; they land in the
# detail file, never on the line.
PARITY_QUERIES = [
    "etl_dynamic_mapping",
    "etl_lookup_table",
    "etl_aggregate_mapping",
    "etl_chained_mappings",
    "typed_stocks_pipeline",
]


def summary_line(
    total: float,
    timings: dict[str, float],
    n_runs: int,
    sf: float,
    detail_path: Path | None = None,
    value_normalized: float | None = None,
) -> dict:
    """The driver-contract stdout payload — fixed-size by construction.

    ``detail`` reports the ACTUAL path the detail file was written to
    (repo-relative when under the repo) — re-concatenating the env var
    pointed at a non-existent 'bench_records/<abs-path>' whenever
    SPARK_GRAFT_BENCH_DETAIL held an absolute path (ADVICE r10)."""
    if detail_path is None:
        detail_path = Path(__file__).resolve().parent / "bench_records" / (
            os.environ.get("SPARK_GRAFT_BENCH_DETAIL", "BENCH_FULL_latest.json")
        )
    repo = Path(__file__).resolve().parent
    try:
        detail_str = str(detail_path.resolve().relative_to(repo))
    except ValueError:
        detail_str = str(detail_path)
    line = {
        "metric": "headline_queries_total_time",
        "value": total,
        "unit": "sec",
        "queries": {n: timings[n] for n in PARITY_QUERIES if n in timings},
        "n_queries": len(timings),
        "n_runs": n_runs,
        "sf": sf,
        "detail": detail_str,
    }
    if value_normalized is not None:
        # host-speed-normalized total (r16 — see cal_profile in the
        # detail file); one fixed-size key, the line stays <1500 chars
        line["value_normalized"] = value_normalized
    return line


if __name__ == "__main__":
    main()
