#!/usr/bin/env python
"""16-dim surrogate corpora for the ≥16M kNN tier ladder (r13 verdict
asks #1/#6).

The production (raised-nprobe) spelling of ``knn_join(m_super=4)`` past
the 16M switch shuffles N × nprobe_eff full-vector probe rows — ~90 GB
at 64-dim/20M, more than this sandbox's scratch disk, which is why the
20M decade was only ever measured on the fixed-nprobe control.  At
16 dims the same shuffle is ~22 GB and fits, so the raised spelling can
be MEASURED in its own regime instead of argued about.

The surrogates are built by TRUNCATING the measured classic corpora
(scripts/scale/sf100, sf1000 — gen_scale_embeddings.py) to their first
16 dimensions and renormalizing: cluster geometry survives in
projection, the corpus family is literally the one the 64-dim ladder
ran on, and the construction is deterministic with no new generator
math to trust.  Dimension changes the per-row constants (vector bytes,
dot-product FLOPs), not the operator's row counts, shuffle structure,
or per-decade slope — the 2M-point A/B between the 64-dim and 16-dim
ladders (BENCHNOTES_r14_knn16.json) is the committed check of exactly
that claim.

Writes scripts/scale/<name>_16/embeddings.parquet with the standard
schema (vec_id int64, embedding array<float> unit-norm, label int32).

Usage: python scripts/gen_embeddings_16d.py [sf100 sf1000]
"""

from __future__ import annotations

import os
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

SCALE = REPO / "scripts" / "scale"
DIM = 16


def main() -> None:
    wanted = sys.argv[1:] or ["sf100", "sf1000"]
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "48g")
    from pyspark.sql import functions as F

    from csv_etl_spark import get_spark

    spark = get_spark("gen-embeddings-16d")
    spark.sparkContext.setLogLevel("ERROR")
    for name in wanted:
        src = SCALE / name / "embeddings.parquet"
        if not src.exists():
            raise SystemExit(f"{src} missing — run gen_scale_embeddings.py")
        out = SCALE / f"{name}_16"
        out.mkdir(parents=True, exist_ok=True)
        e = spark.read.parquet(str(src))
        sliced = F.slice("embedding", 1, DIM)
        norm = F.sqrt(
            F.aggregate(
                sliced,
                F.lit(0.0),
                lambda acc, x: acc + x.cast("double") * x.cast("double"),
            )
        )
        e.select(
            "vec_id",
            F.transform(sliced, lambda x: (x / norm).cast("float")).alias(
                "embedding"
            ),
            "label",
        ).repartition(32).write.mode("overwrite").parquet(
            str(out / "embeddings.parquet")
        )
        n = spark.read.parquet(str(out / "embeddings.parquet")).count()
        print(f"{name}_16: {n} vectors x {DIM} dims -> {out}")


if __name__ == "__main__":
    main()
