#!/usr/bin/env python
"""nprobe sweep for the bounded-cell (m_super) kNN tier on the HARD 2M
corpus (r13): RECALL_r13 showed knn_sharded at nprobe=2 reads 0.88 —
below the 0.9 bar — because the bounded-cell rule (cells = max(√N,
N/512)) shrinks the per-probe scanned volume by cells/√N (2.76× at 2M)
relative to the flat reference.  nprobe is a CONSTANT cost multiplier
for this tier (scan/probe = nprobe × 512 rows independent of N), so
raising it preserves the linear total scan term.  This sweep measures
the recall-vs-nprobe curve to pick the auto-raise rule's default.

Usage: python scripts/knn_nprobe_sweep.py --out FILE.json [--step sf100_hard]
       [--grid 16,32]

r15 (verdict ask #4): ``--grid`` overrides the sweep points — used to
measure the HONORED explicit-nprobe-above-cap path (the r14 ADVICE fix,
sharded_nprobe_auto never lowers an explicit value): nprobe=32 at 2M is
2x the cap, so recall must rise vs nprobe=16 and the scan term must
scale ~linearly in nprobe.  Each point also records what
sharded_nprobe_auto would return for that request (the honoring proof:
above the cap the value passes through verbatim).
"""

from __future__ import annotations

import json
import math
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

import pandas as pd  # noqa: F401,E402  (pandas_udf type-hint resolution)

from csv_etl_spark import get_spark  # noqa: E402

K = 5
N_PROBES = 50
GRID = [2, 3, 4, 6, 8]


def topk_sets(df, k):
    out = {}
    for r in df.collect():
        if r["rank"] <= k:
            out.setdefault(r["probe_id"], set()).add(r["neighbor_id"])
    return out


def recall(approx, exact, k):
    vals = [
        len(approx.get(pid, set()) & truth) / min(k, len(truth))
        for pid, truth in exact.items()
    ]
    return sum(vals) / len(vals) if vals else float("nan")


def main():
    from pyspark.sql import functions as F

    from csv_etl_spark.operators import similarity

    args = sys.argv[1:]
    out_name = args[args.index("--out") + 1]
    step = "sf100_hard"
    if "--step" in args:
        step = args[args.index("--step") + 1]
    grid = GRID
    if "--grid" in args:
        grid = [int(x) for x in args[args.index("--grid") + 1].split(",")]

    spark = get_spark("knn-nprobe-sweep")
    spark.sparkContext.setLogLevel("ERROR")
    e = spark.read.parquet(str(REPO / "scripts" / "scale" / step / "embeddings.parquet"))
    n = e.count()
    probes = (
        e.orderBy("vec_id")
        .limit(N_PROBES)
        .select(
            F.col("vec_id").alias("probe_id"),
            F.col("embedding").alias("probe_vec"),
        )
    )
    exact = topk_sets(similarity.brute_force_topk(e, probes, k=K), K)

    n_cells = max(8, math.isqrt(n), -(-n // 512))
    cents = (
        e.orderBy("vec_id")
        .limit(n_cells)
        .select(
            F.col("vec_id").cast("int").alias("centroid_id"),
            F.col("embedding").alias("centroid_vec"),
        )
    )
    res = {"n_vectors": n, "n_cells": n_cells, "grid": {}}
    for nprobe in grid:
        t0 = time.perf_counter()
        approx = topk_sets(
            similarity.knn_join(
                probes, e, cents, k=K, nprobe=nprobe, m_super=4,
                exclude_same_id=True,
            ),
            K,
        )
        sec = round(time.perf_counter() - t0, 2)
        r = round(recall(approx, exact, K), 4)
        res["grid"][str(nprobe)] = {
            "recall": r,
            "sec": sec,
            # honoring proof: what the auto rule returns for this
            # explicit request (above the cap it must pass verbatim)
            "sharded_nprobe_auto": similarity.sharded_nprobe_auto(
                n, n_cells, nprobe
            ),
        }
        print(f"nprobe={nprobe}: recall {r} ({sec}s)", file=sys.stderr, flush=True)
        similarity.release_sharded_broadcasts(destroy=True)

    payload = {
        "protocol": (
            f"knn_join m_super=4 recall@{K} vs brute force, "
            f"first-{N_PROBES} probes, bounded-cell codebook "
            f"(max(sqrt(N), N/512)), {step} hard corpus; nprobe sweep"
        ),
        "step": step,
        "results": res,
    }
    (REPO / "bench_records" / out_name).write_text(json.dumps(payload, indent=1))
    print(json.dumps(payload))


if __name__ == "__main__":
    main()
