#!/usr/bin/env python
"""Deep decade for the bounded-cell kNN graph — 20M vectors, PAST the
16M tier switch (r13).

Every prior decade (SCALE.md knn_graph_sharded_m4: 2k→2M, α 0.99 at
the top) ran BELOW knn_join_auto's 16M crossover, where the bounded
cell rule cells = max(√N, N/512) only just exceeds √N.  At 20M vectors
(scripts/scale/sf1000, gen_scale_embeddings.py) the production regime
is real: 39,063 cells vs √N = 4,472, and the r13 volume-equalizing
nprobe raise is at its cap (nprobe_eff = 16).  This ladder measures
the PRODUCTION spelling — knn_join_auto's bounded branch exactly:
bounded codebook, m_super=4 hierarchical routing, raised nprobe — so
the α it reports is what a user gets, raise included.  The nprobe=2
spelling is measured alongside as the scan-term control (its scan is
nprobe×512 rows/probe at every N; any α gap between the two spellings
is the raise's cost, bounded by the cap).

Usage: python scripts/knn_big_ladder.py --out FILE.json
       [--sizes sf100,sf1000] [--runs N]   (default runs: 3 at sf100,
       1 at sf1000 — the copurchase sf100 protocol)
"""

from __future__ import annotations

import json
import math
import os
import sys
import time
from pathlib import Path
from statistics import median

import pandas as pd  # noqa: F401  (pandas_udf type-hint resolution)

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

SCALE = REPO / "scripts" / "scale"
# *_16 = the 16-dim truncated surrogates (gen_embeddings_16d.py, r14):
# same corpora projected to 16 dims so the raised-nprobe spelling's
# ~22 GB probe shuffle fits the sandbox disk at 20M
N_AT = {
    "sf100": 2_000_000,
    "sf1000": 20_000_000,
    "sf100_16": 2_000_000,
    "sf1000_16": 20_000_000,
}


def main() -> None:
    args = sys.argv[1:]
    if "--out" not in args:
        raise SystemExit(
            "usage: knn_big_ladder.py --out FILE.json "
            "[--sizes sf100,sf1000] [--runs 3]"
        )
    out_name = args[args.index("--out") + 1]
    sizes = ["sf100", "sf1000"]
    if "--sizes" in args:
        sizes = args[args.index("--sizes") + 1].split(",")
    n_runs = 3
    if "--runs" in args:
        n_runs = int(args[args.index("--runs") + 1])
    only_variants: set[str] | None = None
    if "--variants" in args:
        only_variants = set(args[args.index("--variants") + 1].split(","))

    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "48g")
    from pyspark.sql import functions as F

    import bench
    from csv_etl_spark import get_spark
    from csv_etl_spark.operators import similarity

    spark = get_spark("knn-big-ladder")
    spark.sparkContext.setLogLevel("ERROR")
    env_start = bench._env_stamp()

    @F.pandas_udf("long")
    def _noop(s: pd.Series) -> pd.Series:
        return s

    spark.range(0, 1024, 1, 32).select(_noop(F.col("id"))).write.format(
        "noop"
    ).mode("overwrite").save()

    from scale_bench import clear_caches

    def graph(spark, sf_dir, raised: bool):
        e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        n = e.count()
        cells = max(8, math.isqrt(n), -(-n // 512))
        cents = (
            e.orderBy("vec_id").limit(cells)
            .select(
                F.col("vec_id").cast("int").alias("centroid_id"),
                F.col("embedding").alias("centroid_vec"),
            )
        )
        probes = e.select(
            F.col("vec_id").alias("probe_id"),
            F.col("embedding").alias("probe_vec"),
        )
        nprobe = (
            similarity.sharded_nprobe_auto(n, cells, 2) if raised else 2
        )
        return similarity.knn_join(
            probes, e, cents, k=3, nprobe=nprobe, m_super=4,
            exclude_same_id=True,
        )

    def graph_q8(spark, sf_dir, raised: bool):
        # r15 (verdict optional ask #8): int8-quantized spelling — the
        # disk-fitting protocol for the raised-nprobe 20M point.  Both
        # sides quantize to array<tinyint> (REAL 1 B/component; cosine
        # is scale-invariant so the router/scorer run on the codes
        # directly), cutting the 320M-row probe shuffle ~4x to ~25 GB.
        # Absolute seconds carry the quantized-kernel caveat; recall of
        # the quantized spelling is measured by quantized_topk's tests
        # and the ann_quantized recall rows.
        e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        n = e.count()
        cells = max(8, math.isqrt(n), -(-n // 512))
        q = similarity.quantize_embeddings(e, dtype="tinyint").select(
            "vec_id", F.col("qvec").alias("embedding")
        )
        cents = (
            q.orderBy("vec_id").limit(cells)
            .select(
                F.col("vec_id").cast("int").alias("centroid_id"),
                F.col("embedding").alias("centroid_vec"),
            )
        )
        probes = q.select(
            F.col("vec_id").alias("probe_id"),
            F.col("embedding").alias("probe_vec"),
        )
        nprobe = (
            similarity.sharded_nprobe_auto(n, cells, 2) if raised else 2
        )
        return similarity.knn_join(
            probes, q, cents, k=3, nprobe=nprobe, m_super=4,
            exclude_same_id=True,
        )

    variants = {
        # np2 FIRST: the fixed-scan control is the feasible spelling on a
        # single-disk sandbox; the raised spelling at 20M shuffles
        # N×nprobe_eff=320M full-vector probe rows (~90 GB) and exceeded
        # the scratch disk (r13, measured) — on a cluster that shuffle
        # spreads across executor disks, and its α equals np2's by
        # construction once the raise caps (constant per-probe volume)
        "knn_graph_sharded_m4_np2": lambda s, d: graph(s, d, False),
        "knn_graph_sharded_m4_auto": lambda s, d: graph(s, d, True),
        "knn_graph_sharded_m4_auto_q8": lambda s, d: graph_q8(s, d, True),
        "knn_graph_sharded_m4_np2_q8": lambda s, d: graph_q8(s, d, False),
    }
    if only_variants is not None:
        unknown = only_variants - set(variants)
        if unknown:
            raise SystemExit(f"unknown variants {sorted(unknown)}")
        variants = {k: v for k, v in variants.items() if k in only_variants}
    results: dict = {v: {} for v in variants}
    nprobes: dict = {}
    for size in sizes:
        sf_dir = str(SCALE / size)
        if not (SCALE / size / "embeddings.parquet").exists():
            print(f"skip {size}: corpus missing", file=sys.stderr)
            continue
        n = N_AT[size]
        cells = max(8, math.isqrt(n), -(-n // 512))
        nprobes[size] = similarity.sharded_nprobe_auto(n, cells, 2)
        runs = n_runs if not size.startswith("sf1000") else min(n_runs, 1)
        for v, fn in variants.items():
            results[v][size] = []
            for i in range(runs):
                t0 = time.perf_counter()
                fn(spark, sf_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
                dt = round(time.perf_counter() - t0, 3)
                results[v][size].append(dt)
                print(f"{size} {v} run{i}: {dt}s", file=sys.stderr, flush=True)
                clear_caches()

    med = {
        v: {s: round(median(r), 3) for s, r in by.items() if r}
        for v, by in results.items()
    }
    payload: dict = {
        "median_sec_big": med,
        "protocol": (
            "knn_join graph (probes = corpus, k=3, m_super=4, "
            "bounded max(sqrt(N), N/512) codebook) at the 2M and 20M "
            "decades; _auto = the production raised nprobe "
            f"(sharded_nprobe_auto: {nprobes}), _np2 = the fixed-scan "
            "control; noop-write timed, caches + sharded broadcasts "
            f"cleared between runs; n_runs {n_runs} (sf1000: 1); one session"
        ),
        "nprobe_eff": nprobes,
        "runs_sec": results,
        "env": {"start": env_start, "end": bench._env_stamp()},
    }
    for v, by in med.items():
        for lo, hi, tag in (
            ("sf100", "sf1000", "2M->20M"),
            ("sf100_16", "sf1000_16", "2M->20M_16d"),
        ):
            if lo in by and hi in by:
                payload.setdefault("decade_alpha_big", {}).setdefault(v, {})[
                    tag
                ] = round(math.log10(by[hi] / by[lo]), 3)
    out_path = REPO / "bench_records" / out_name
    out_path.write_text(json.dumps(payload, indent=1))
    print(json.dumps(payload, indent=1))


if __name__ == "__main__":
    main()
