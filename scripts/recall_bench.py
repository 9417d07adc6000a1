#!/usr/bin/env python
"""Measured recall@k for the approximate ANN family vs exact brute force
— the QUALITY axis of the speed/scale evidence in SCALE.md.

For each corpus size with an embeddings table (driver sf0.1 = 2k
vectors; scripts/scale sf1/sf10 = 20k/200k from
gen_scale_embeddings.py), every probe's approximate top-k is compared
to the brute-force top-k of the same (probe set, k):

    recall@k = |approx ∩ exact| / k, averaged over probes

Variants measured (all contract operators, same parameterizations as
their headline queries where applicable):

* ivf        — single-level IVF, deterministic first-√N codebook,
               nprobe=2 (the ann_ivf_approx shape)
* two_level_sharded — auto-sized IVF with the volume-equalizing probe
               raise (ivf_two_level_sharded; the r10 fine-pruning
               variants were removed with their code — RECALL.md keeps
               their rows)
* quantized  — int8-quantized brute force (ann_quantized; recall loss
               comes only from quantization, not routing)
* knn_graph  — the cell-co-partitioned knn_join at k=3, nprobe=2 over
               the corpus itself (the knn_graph query shape)

Writes bench_records/RECALL_r{N}.json (pass --out) and prints a
markdown table to stdout.  Probes are the deterministic first
``--n-probes`` vectors by id so the measurement replays exactly.

Usage: python scripts/recall_bench.py --out RECALL_r10.json
"""

from __future__ import annotations

import json
import math
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

import pandas as pd  # noqa: E402  (pandas_udf type-hint resolution)

from csv_etl_spark import get_spark  # noqa: E402

STEPS = [
    ("sf0.1", "/root/testdata/sf0.1"),
    ("sf1", str(REPO / "scripts" / "scale" / "sf1")),
    ("sf10", str(REPO / "scripts" / "scale" / "sf10")),
    ("sf100", str(REPO / "scripts" / "scale" / "sf100")),
    # r13 (verdict ask #2): HARD-MODE corpora (gen_hard_embeddings.py —
    # √N hierarchical clusters, mixed densities) because the 10-cluster
    # corpus saturates at 2M (every tier reads 1.000); missing dirs are
    # skipped, so the standard run is unchanged until they're generated
    ("sf10_hard", str(REPO / "scripts" / "scale" / "sf10_hard")),
    ("sf100_hard", str(REPO / "scripts" / "scale" / "sf100_hard")),
    # r13: 20M hard — the first recall point PAST the 16M tier switch,
    # where cells = N/512 dominates √N and the nprobe raise is at cap
    ("sf1000_hard", str(REPO / "scripts" / "scale" / "sf1000_hard")),
]
K = 5
N_PROBES = 50

# at the 2M-vector decades only the RECOMMENDED tiers run
SF100_VARIANTS = {
    "ivf",
    "two_level_sharded_auto",
    "two_level_sharded_cap64",
    "knn_graph_cells",
    "knn_sharded_exact",
    "knn_sharded_m4",
    "knn_sharded_m4_auto",
}

# at 20M vectors (past the tier switch) only the tier-decision variants
# run: the flat 4096-capped controls and the bounded-cell tier's three
# spellings (each variant re-assigns the full corpus, ~minutes at 20M)
SF1000_VARIANTS = {
    "ivf",
    "knn_graph_cells",
    "knn_sharded_exact",
    "knn_sharded_m4",
    "knn_sharded_m4_auto",
}


def topk_sets(df, k: int) -> dict:
    out: dict = {}
    for r in df.collect():
        if r["rank"] <= k:
            out.setdefault(r["probe_id"], set()).add(r["neighbor_id"])
    return out


def recall(approx: dict, exact: dict, k: int) -> float:
    vals = []
    for pid, truth in exact.items():
        got = approx.get(pid, set())
        vals.append(len(got & truth) / min(k, len(truth)))
    return sum(vals) / len(vals) if vals else float("nan")


def main() -> None:
    from pyspark.sql import functions as F

    from csv_etl_spark.operators import similarity

    args = sys.argv[1:]
    if "--out" not in args:
        raise SystemExit(
            "usage: recall_bench.py --out FILE.json "
            "[--steps sf10_hard,...] [--variants a,b] [--classic]"
        )
    out_name = args[args.index("--out") + 1]
    # r14 (verdict ask #8): the DEFAULT is the hard-corpus family — the
    # classic 10-cluster corpora saturate (1.000 across tiers at 2M,
    # RECALL_r12.json) and stopped discriminating; they stay available
    # behind --classic as the saturation evidence they are.
    only_variants: set[str] | None = None
    if "--variants" in args:
        only_variants = set(args[args.index("--variants") + 1].split(","))
    steps = [(s, d) for s, d in STEPS if s.endswith("_hard")]
    if "--classic" in args:
        steps = STEPS
    if "--steps" in args:
        wanted = set(args[args.index("--steps") + 1].split(","))
        unknown = wanted - {s for s, _ in STEPS}
        if unknown:
            raise SystemExit(f"unknown steps {sorted(unknown)}")
        steps = [(s, d) for s, d in STEPS if s in wanted]

    spark = get_spark("csv-etl-spark-recall")
    spark.sparkContext.setLogLevel("ERROR")
    results: dict = {}

    for step, sf_dir in steps:
        p = Path(sf_dir) / "embeddings.parquet"
        if not p.exists():
            print(f"skip {step}: {p} missing", file=sys.stderr)
            continue
        e = spark.read.parquet(str(p))
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

        n_cells = max(8, min(4096, int(math.floor(math.sqrt(n)))))
        step_res = {"n_vectors": n, "n_cells": n_cells, "recall_at_k": {}, "sec": {}}

        def run(name, fn):
            if only_variants is not None and name not in only_variants:
                return
            if step.startswith("sf1000"):
                if name not in SF1000_VARIANTS:
                    return
            elif step.startswith("sf100") and name not in SF100_VARIANTS:
                return
            t0 = time.perf_counter()
            approx = topk_sets(fn(), K)
            step_res["sec"][name] = round(time.perf_counter() - t0, 2)
            step_res["recall_at_k"][name] = round(recall(approx, exact, K), 4)

        run(
            "ivf",
            lambda: similarity.ivf_topk(
                e, probes, k=K, n_centroids=n_cells, nprobe=2
            ),
        )
        # r11 (verdict ask #3): the implemented recall-target default —
        # fine = sharding, auto-sized n_coarse = min(4096, √N) (flat-IVF-
        # equivalent candidates at these scales)...
        run(
            "two_level_sharded_auto",
            lambda: similarity.ivf_two_level_sharded(
                e, probes, k=K, nprobe=2, corpus_size=n
            ),
        )
        # ...and the capped regime a >16M-vector corpus actually runs in,
        # emulated by forcing n_coarse far under √N: the auto-raise rule
        # lifts nprobe_coarse to keep scanned volume at the flat
        # reference's level (n_coarse=64 → nprobe_eff = 2·√N/64)
        run(
            "two_level_sharded_cap64",
            lambda: similarity.ivf_two_level_sharded(
                e, probes, k=K, nprobe=2, corpus_size=n, n_coarse=64
            ),
        )
        run(
            "quantized",
            lambda: similarity.quantized_topk(e, probes, k=K),
        )
        run(
            "knn_graph_cells",
            lambda: similarity.knn_join(
                probes,
                e,
                e.orderBy("vec_id")
                .limit(n_cells)
                .select(
                    F.col("vec_id").cast("int").alias("centroid_id"),
                    F.col("embedding").alias("centroid_vec"),
                ),
                k=K,
                nprobe=2,
                exclude_same_id=True,
            ),
        )
        # r12: the bounded-cell tier (knn_join over a bounded codebook) — cells
        # = max(8, ⌊√N⌋, ⌈N/512⌉) so the graph scan term is linear past
        # the ~262k crossover.  "exact" = m_super=None flat routing
        # (the knn_graph_sharded contract spelling); "m4" = the
        # production hierarchical routing (two exact-argmax levels,
        # m_super=4), whose recall this row is the evidence for.
        n_cells_bounded = max(
            8, int(math.floor(math.sqrt(n))), -(-n // 512)
        )
        bounded_cents = (
            e.orderBy("vec_id")
            .limit(n_cells_bounded)
            .select(
                F.col("vec_id").cast("int").alias("centroid_id"),
                F.col("embedding").alias("centroid_vec"),
            )
        )
        run(
            "knn_sharded_exact",
            lambda: similarity.knn_join(
                probes, e, bounded_cents, k=K, nprobe=2, m_super=None,
                exclude_same_id=True,
            ),
        )
        run(
            "knn_sharded_m4",
            lambda: similarity.knn_join(
                probes, e, bounded_cents, k=K, nprobe=2, m_super=4,
                exclude_same_id=True,
            ),
        )
        # r13: the production default — knn_join_auto's volume-equalizing
        # nprobe raise (ceil(2·cells/√N), capped at 16) over the same
        # bounded codebook; this is the spelling a user gets past the 16M
        # tier switch, so its recall row is the one that matters
        run(
            "knn_sharded_m4_auto",
            lambda: similarity.knn_join(
                probes, e, bounded_cents, k=K,
                nprobe=similarity.sharded_nprobe_auto(n, n_cells_bounded, 2),
                m_super=4, exclude_same_id=True,
            ),
        )
        results[step] = step_res
        print(f"{step}: {step_res}", file=sys.stderr)
        # ADVICE r12: release the router's per-call codebook broadcasts
        # between decades — each ships up to ~128 MB
        similarity.release_sharded_broadcasts(destroy=True)

    payload = {
        "protocol": (
            f"recall@{K} vs brute-force exact over the deterministic "
            f"first-{N_PROBES} probes by vec_id; codebooks = deterministic "
            "first-sqrt(N) convention (the contract queries' shapes); "
            "embeddings axes 2k/20k/200k/2M (recommended tiers only at 2M)"
        ),
        "k": K,
        "n_probes": N_PROBES,
        "results": results,
    }
    out = REPO / "bench_records" / out_name
    out.write_text(json.dumps(payload, indent=1))
    print(json.dumps(payload))


if __name__ == "__main__":
    main()
