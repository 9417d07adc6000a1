#!/usr/bin/env python
"""Scale-step bench: time the heavy document/event-axis operators at
5k (driver sf0.1), 50k, 500k — and 5M for sf100-marked queries — docs
(events: 100k/1M/10M) and report the observed scaling exponent per
decade (t = c * n^alpha; alpha = log10(t_big/t_small) per 10x step).
alpha ~ 1 is linear; alpha >> 1 means a super-linear shuffle or buffer
is hiding somewhere and would bite at 100 TB.

Writes the JSON named by --out at the repo root; --out is REQUIRED so a
run can never silently clobber a previous round's scale-evidence file
(round-8 ADVICE fix — the old default overwrote BENCHNOTES_r6_sf1.json).

Usage: python scripts/gen_scale_docs.py &&
       python scripts/scale_bench.py --out BENCHNOTES_r8_sf1.json [query ...]
"""

from __future__ import annotations

import json
import math
import os
import sys
import time
from pathlib import Path
from statistics import median

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

import pandas as pd  # noqa: E402  (module scope: pandas_udf type-hint resolution)

import __spark_entry__ as entry_mod  # noqa: E402
from csv_etl_spark import get_spark  # noqa: E402

# query -> largest step it runs at.  dedup_jaccard_pairs (the EXACT
# variant) stops at 50k: the generated corpus draws from the measured
# 31-word vocabulary, so at 500k docs every 3-gram shingle is shared by
# ~hundreds of documents and the uncapped candidate join is quadratic BY
# DESIGN — that is the documented reason dedup_jaccard_capped (the
# frequent-shingle-cap scale path, default in the operator) exists; the
# capped variant is measured through 500k instead.
QUERIES = {
    "dedup_minhash_lsh": "sf10",
    "dedup_jaccard_pairs": "sf1",
    "dedup_jaccard_capped": "sf10",
    "dedup_paragraphs": "sf10",
    "tokens_to_ids": "sf10",
    "pack_sequences": "sf10",
    # round-6 additions: the new document-heavy operators
    "tfidf_terms": "sf10",
    "image_dhash_pairs": "sf10",
    "text_top_bigrams": "sf10",
    "gopher_quality": "sf10",
    # event-axis operators (scripts/gen_scale_events.py: 10x/100x rows with
    # proportionally more users, so these scale the number of window
    # partitions / state keys rather than document size)
    "events_rolling": "sf10",
    "events_rolling_time": "sf10",
    "scd2_history": "sf10",
    "salted_agg_events": "sf10",
    "retention_cohorts": "sf10",
    # round-7 additions: the remaining round-6 heavies (VERDICT r6 item 3).
    # bigram_logprob's broadcast side is the distinct-bigram model — grows
    # with vocab², not corpus size, so its 500k point verifies the model
    # stays bounded while the scoring side scales.
    "profile_events": "sf10",
    "image_dup_clusters": "sf100",  # r8 extra decade (highest r7 exponent)
    "bigram_logprob": "sf10",
    # round-7 operators: every new contract query gets a scale point
    # (interval_overlap runs on the events axis; remove_dup_spans is the
    # heaviest of the span pair — position-mask explode + reassembly).
    # bpe_merges' cost is k× per-round job overhead (iterative trainer) —
    # its exponent measures how the per-round groupBy scales, the loop
    # count is fixed.
    "bm25_terms": "sf10",
    "perplexity_buckets": "sf10",
    "boilerplate_lines": "sf10",
    "token_budget_mix": "sf10",
    # round-8 extra decade (VERDICT r7 item #5): the two highest measured
    # exponents (remove_dup_spans 0.53, image_dup_clusters 0.58) plus
    # their detection/score siblings get a 5M-doc point to confirm the
    # trend flattens rather than drifting toward 1.0
    "duplicate_spans": "sf100",
    "contamination_report": "sf10",
    "source_cap": "sf10",
    "events_winsorized": "sf10",
    "bpe_merges": "sf10",
    "interval_overlap": "sf10",
    "remove_dup_spans": "sf100",
    "dsir_selection": "sf100",
    # round-8 operators with a table in the scale dirs (fuzzy_join and
    # corr_lineitem read customer/lineitem, which the doc/event-axis
    # generators don't produce — their scale argument is the plan shape
    # note in ARCHITECTURE §3; everything else gets a measured point)
    # r9: third decade for the r8 ops (VERDICT r8 item #5) — doc axis to
    # 5M docs, event axis to 100M events (gen_scale_events.py sf100)
    "apply_merges": "sf100",
    "quality_classifier": "sf100",
    "pct_rank_events": "sf100",
    # late-r8 additions: mad_outliers runs on the events axis;
    # copurchase_pairs (lineitem) and record_clusters (customer) read
    # tables the doc/event-axis generators don't produce — like
    # fuzzy_join/corr_lineitem their scale argument is the plan-shape
    # note in ARCHITECTURE §3 (basket-keyed equijoin with C(max_basket,2)
    # fan-out bound; PassJoin equijoin + iterative CC with per-round
    # persist/unpersist)
    "mad_outliers": "sf100",
    "url_dedup": "sf100",  # doc-axis: map-only normalize + one url-keyed agg
    "events_drift": "sf100",  # event-axis: PSI edges broadcast, two count aggs
    "key_skew_events": "sf100",  # event-axis: one count agg + scalar totals
    # r9: the customer/lineitem axis finally has scale tables
    # (gen_scale_tables.py) — the three ops whose evidence was previously
    # a plan-shape note get measured decades: customer 15k→150k→1.5M,
    # lineitem 600k→6M→60M (order+part keyspaces scale together, basket
    # size distribution pinned to the measured sf0.1 empirical)
    "fuzzy_join": "sf10",
    "record_clusters": "sf10",
    "copurchase_pairs": "sf10",
    "copurchase_capped": "sf100",  # r11 freq_cap control; r12: 600M decade (verdict ask #7)
    # r9 operators (ann_ivf_two_level reads embeddings, which have no
    # scale-axis generator — its scale argument is the broadcast-only
    # plan assertion in test_ivf_two_level_routed_recall_and_plan)
    "url_registered_domain": "sf100",  # doc-axis: map-only broadcast joins + one agg
    # late-r9 operators: batch sessionization scales the event axis
    # (per-user windows — state keys grow with users); pagerank scales
    # the lineitem axis (3 fixed join+agg iterations over the edge
    # table).  knn_graph reads embeddings (no scale-axis generator) —
    # its scale argument is the no-cartesian cell-equijoin plan pin in
    # test_knn_join_nprobe_plan_and_recall.
    "sessionize_events": "sf100",
    "part_pagerank": "sf100",  # r12: 600M-edge decade (verdict ask #7)
    # r10: the LSH-fed leakage-safe split (the scale spelling of the
    # exact-jaccard twin, which stops at sf1 by design — see
    # dedup_jaccard_pairs above).  Capped at sf10 for the same corpus
    # reason dedup_minhash_lsh is: the generated docs draw from the
    # measured 31-word vocabulary, so at 5M docs the minhash band
    # buckets saturate and candidate pairs grow quadratically BY
    # CORPUS CONSTRUCTION — three sf100 attempts exhausted the 78 GB
    # scratch disk in the FIRST verify-join shuffle (r10 logs).  On a
    # real-vocabulary corpus band collisions stay proportional to true
    # near-dups; the 500k decade (α=0.71) is the operator's evidence.
    "leakage_safe_split_lsh": "sf10",
    # r10: the embeddings axis finally has a generator
    # (gen_scale_embeddings.py: 2k→20k→200k unit-norm 64-dim vectors,
    # measured 10-cluster mixture) — the three r9 ops whose scale
    # evidence was a plan-shape note get measured decades.  knn_graph's
    # codebook scales with the corpus (max(8, √N) cells) so its decades
    # measure the N^1.5 design, not the old constant-codebook N².
    # r11: fourth decade (2M vectors, gen_scale_embeddings.py sf100) —
    # the first test of the √N-codebook claim past the 4096-cell cap
    # (√2M ≈ 1414 still under it; the knn_graph codebook keeps scaling)
    "knn_graph": "sf100",
    "ann_ivf_two_level": "sf100",
    "embedding_standardize": "sf100",
    # r10: temperature resampling scales the doc axis (count agg +
    # map-only keep — expected flat)
    "temperature_mix": "sf100",
    # fact side scales the event axis; the planted hot key keeps 25% of
    # rows on one join key at every size — the salting is what's measured
    "salted_join_customers": "sf10",
    # r12: the PRODUCTION spelling of the bounded-cell kNN-graph tier
    # (knn_join, m_super=4 hierarchical routing + spill — NOT the
    # registry's m_super=None oracle twin, whose flat routing over N/512
    # cells is the very cost this tier removes).  Defined locally in
    # _extra_queries(); its ladder is the r11 verdict ask-#1 evidence
    # replacing knn_graph's N^1.5 asymptote.
    "knn_graph_sharded_m4": "sf100",
}
STEPS = [
    ("sf0.1", "/root/testdata/sf0.1", 5_000),
    ("sf1", str(REPO / "scripts" / "scale" / "sf1"), 50_000),
    ("sf10", str(REPO / "scripts" / "scale" / "sf10"), 500_000),
    # generated on demand: scripts/gen_scale_docs.py sf100 (documents only
    # — every sf100-marked query reads the documents axis)
    ("sf100", str(REPO / "scripts" / "scale" / "sf100"), 5_000_000),
]
STEP_ORDER = [s[0] for s in STEPS]
N_RUNS = 3


def clear_caches() -> None:
    from csv_etl_spark import driver_memo
    from csv_etl_spark.operators import similarity as _sim

    driver_memo.clear_all(blocking=True)
    # codebook router broadcasts (up to ~128 MB per routing call) would
    # otherwise accumulate across the ladder's runs
    _sim.release_sharded_broadcasts(destroy=True)


def _extra_queries() -> dict:
    """Scale-ladder-only queries that are deliberately NOT registry
    entries: the production (approximate-routing) spellings whose exact
    twins carry the oracle."""
    from pyspark.sql import functions as F

    from csv_etl_spark.operators import similarity

    def knn_graph_sharded_m4(spark, sf_dir):
        e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        n = e.count()
        n_centroids = max(8, int(math.floor(math.sqrt(n))), -(-n // 512))
        cents = (
            e.orderBy("vec_id").limit(n_centroids)
            .select(
                F.col("vec_id").cast("int").alias("centroid_id"),
                F.col("embedding").alias("centroid_vec"),
            )
        )
        probes = e.select(
            F.col("vec_id").alias("probe_id"),
            F.col("embedding").alias("probe_vec"),
        )
        return similarity.knn_join(
            probes, e, cents, k=3, nprobe=2, m_super=4, exclude_same_id=True
        )

    return {"knn_graph_sharded_m4": knn_graph_sharded_m4}


def main() -> None:
    # optional CLI subset: `scale_bench.py [--out FILE.json] [query ...]`
    # (a subset run measures only the named queries — used to extend the
    # scale evidence to new operators without re-timing the whole matrix)
    args = sys.argv[1:]
    # --out is mandatory: a defaulted filename once clobbered the r6
    # evidence file with r7 data (ADVICE r8) — fail loudly instead.
    if "--out" not in args:
        raise SystemExit(
            "usage: scale_bench.py --out FILE.json [query ...] "
            "(--out is required so historical BENCHNOTES files cannot "
            "be overwritten by accident)"
        )
    i = args.index("--out")
    if i + 1 >= len(args):
        raise SystemExit("usage: scale_bench.py --out FILE.json [query ...]")
    out_name = args[i + 1]
    args = args[:i] + args[i + 2:]
    selected = {q: m for q, m in QUERIES.items() if not args or q in args}
    unknown = [a for a in args if a not in QUERIES]
    if unknown:
        raise SystemExit(f"unknown queries: {unknown}")

    # the sf100 step (5M docs / 100M events) needs real heap: local mode
    # is one JVM for driver+executors, and the 8g service default OOM'd
    # mid-matrix at 100M rows (r9).  48g on the 128 GiB box unless the
    # caller pinned it.
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "48g")
    spark = get_spark("csv-etl-spark-scale-bench")
    spark.sparkContext.setLogLevel("ERROR")
    qs = {**entry_mod.queries(), **_extra_queries()}

    # same synthetic warm-up as bench.py: JVM/codegen/python-worker pool —
    # without it the first timed query absorbs session startup and poisons
    # its size point (observed: minhash@5k 11.7s cold vs 1.7s warm)
    from pyspark.sql import functions as F

    @F.pandas_udf("long")
    def _noop(s: pd.Series) -> pd.Series:
        return s

    spark.range(0, 1024, 1, 32).select(_noop(F.col("id"))).write.format(
        "noop"
    ).mode("overwrite").save()

    results: dict[str, dict[str, float]] = {q: {} for q in selected}
    rows_out: dict[str, dict[str, int]] = {q: {} for q in selected}

    def exponents_of() -> dict[str, dict[str, float]]:
        exps_all: dict[str, dict[str, float]] = {}
        for q in selected:
            r = results[q]
            exps = {}
            if "sf0.1" in r and "sf1" in r:
                exps["5k->50k"] = round(math.log10(r["sf1"] / r["sf0.1"]), 3)
            if "sf1" in r and "sf10" in r:
                exps["50k->500k"] = round(math.log10(r["sf10"] / r["sf1"]), 3)
            if "sf10" in r and "sf100" in r:
                exps["500k->5M"] = round(math.log10(r["sf100"] / r["sf10"]), 3)
            exps_all[q] = exps
        return exps_all

    def dump() -> dict:
        out = {
            "protocol": (
                f"median of {N_RUNS} noop-write runs per (query, size); "
                "operator caches cleared (blocking) between runs AND after "
                "the result-rows count pass (r8 fix: the count used to warm "
                "shared caches for the NEXT query — e.g. the span pair's "
                "shared window table — so r7 numbers for cache-sharing "
                "siblings were slightly optimistic); doc tables "
                "at 50k/500k/5M generated by scripts/gen_scale_docs.py with "
                "the measured sf0.1 shape (vocab, length distribution, dup "
                "rate); local[32]"
            ),
            "doc_counts": {s: n for s, _d, n in STEPS},
            "event_counts": {
                "sf0.1": 100_000, "sf1": 1_000_000, "sf10": 10_000_000,
                "sf100": 100_000_000,
            },
            "customer_counts": {
                "sf0.1": 15_000, "sf1": 150_000, "sf10": 1_500_000
            },
            "lineitem_counts": {
                "sf0.1": 600_000, "sf1": 6_000_000, "sf10": 60_000_000,
                "sf100": 600_000_000,
            },
            "median_sec": results,
            "result_rows": rows_out,
            "scaling_exponent_per_decade": exponents_of(),
            "note": (
                "alpha ~ 1.0 = linear scaling; sub-linear values mean fixed "
                "per-job overhead (session, planning, task dispatch) still "
                "dominates at this size"
            ),
        }
        # MERGE with an existing --out file per query-key: a subset run
        # extends the matrix instead of clobbering it (r9: a subset
        # re-run of one fixed operator silently dropped the other 10
        # queries' decades from the round's evidence file)
        path = REPO / out_name
        if path.exists():
            try:
                prev = json.loads(path.read_text())
            except (OSError, json.JSONDecodeError):
                prev = {}
            for section in (
                "median_sec", "result_rows", "scaling_exponent_per_decade"
            ):
                merged = dict(prev.get(section, {}))
                merged.update(out[section])
                out[section] = merged
        # written after EVERY (step, query) so a killed run keeps its
        # partial evidence (r8: a 50-min timeout once ate a whole matrix)
        path.write_text(json.dumps(out, indent=1))
        return out

    for step_name, sf_dir, _n in STEPS:
        if not Path(sf_dir).exists():
            print(f"skip {step_name}: {sf_dir} missing", file=sys.stderr)
            continue
        for q, max_step in selected.items():
            if STEP_ORDER.index(step_name) > STEP_ORDER.index(max_step):
                continue
            runs = []
            for _ in range(N_RUNS):
                t0 = time.perf_counter()
                df = qs[q](spark, sf_dir)
                df.write.format("noop").mode("overwrite").save()
                runs.append(time.perf_counter() - t0)
                clear_caches()
            results[q][step_name] = round(median(runs), 3)
            rows_out[q][step_name] = qs[q](spark, sf_dir).count()
            clear_caches()
            # shuffle files are deleted only when the ContextCleaner GCs
            # the owning RDDs; across 3 runs × result-count of a 5M-doc
            # LSH matrix the stale files outran the 78 GB scratch disk
            # (r10: two "No space left on device" aborts at the sf100
            # step).  An explicit JVM GC between measurements forces the
            # cleaner to reap them — bench hygiene only, no effect on
            # timings (runs after the clock stops).
            spark.sparkContext._jvm.System.gc()
            print(f"{step_name} {q}: {results[q][step_name]}s", file=sys.stderr)
            dump()

    print(json.dumps(dump()))


if __name__ == "__main__":
    main()
