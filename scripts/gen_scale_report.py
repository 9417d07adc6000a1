#!/usr/bin/env python
"""Consolidate every scale-evidence BENCHNOTES JSON under bench_records/
into ONE reviewer-readable SCALE.md matrix: per operator, the measured
median seconds at each corpus size and the per-decade scaling exponent
(t = c·n^α; α per 10× step), with the newest measurement winning when a
later round re-ran an operator (the fix-history is kept as superseded
rows so a re-banding like image_dup_clusters' r8 fix stays visible).

Usage: python scripts/gen_scale_report.py   (rewrites SCALE.md)
"""

from __future__ import annotations

import json
import re
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
RECORDS = REPO / "bench_records"
OUT = REPO / "SCALE.md"

SIZE_ORDER = ["sf0.1", "sf1", "sf10", "sf100"]
DECADE_ORDER = ["5k->50k", "50k->500k", "500k->5M"]

# Axis sizes per step (what "sf1" means depends on which table the
# operator reads) — mirrored from the generators.
AXES = {
    "documents": {"sf0.1": "5k", "sf1": "50k", "sf10": "500k", "sf100": "5M"},
    "events": {"sf0.1": "100k", "sf1": "1M", "sf10": "10M", "sf100": "100M"},
    "customer": {"sf0.1": "15k", "sf1": "150k", "sf10": "1.5M"},
    "lineitem": {"sf0.1": "600k", "sf1": "6M", "sf10": "60M", "sf100": "600M"},
    "embeddings": {"sf0.1": "2k", "sf1": "20k", "sf10": "200k", "sf100": "2M"},
}
EVENT_AXIS = {
    "events_rolling", "events_rolling_time", "scd2_history",
    "salted_agg_events", "retention_cohorts", "profile_events",
    "interval_overlap", "events_winsorized", "pct_rank_events",
    "mad_outliers", "events_drift", "key_skew_events",
    "sessionize_events", "salted_join_customers",
}
CUSTOMER_AXIS = {"fuzzy_join", "record_clusters"}
LINEITEM_AXIS = {"copurchase_pairs",
    "copurchase_capped", "part_pagerank"}
EMBEDDINGS_AXIS = {"knn_graph_n512cells_refuted", "knn_graph",
    "knn_graph_sharded_m4", "ann_ivf_two_level", "embedding_standardize"}


def axis_of(q: str) -> str:
    if q in EVENT_AXIS:
        return "events"
    if q in CUSTOMER_AXIS:
        return "customer"
    if q in LINEITEM_AXIS:
        return "lineitem"
    if q in EMBEDDINGS_AXIS:
        return "embeddings"
    return "documents"


def record_order(path: Path) -> tuple[int, bool, str]:
    """(round, not the round's base matrix, file name), a total order
    that does not depend on file mtimes.  A round's ``_sf1`` matrix is
    its first measurement, so a mid-round re-measure supersedes the
    matrix it corrects (r8_image_fix over r8_sf1, the image-banding
    fix; r9_copurchase_prefix over r9_sf1).  Past that the name decides:
    r15_semdedup_prerewrite, the full 2M + 20M ladder that
    r15_semdedup's 2M-only re-run overwrote (its ``_provenance``),
    stays the current tablefit row."""
    m = re.search(r"_r(\d+)", path.name)
    rnd = int(m.group(1)) if m else 0
    return (rnd, path.stem != f"BENCHNOTES_r{rnd}_sf1", path.name)


def main() -> None:
    history: dict[str, list[tuple[str, dict, dict]]] = {}
    big_history: dict[str, tuple[str, dict, dict]] = {}
    local_files, scale_files = [], []
    tier_bound: tuple[str, dict] | None = None
    for f in sorted(RECORDS.glob("BENCHNOTES_*.json"), key=record_order):
        d = json.loads(f.read_text())
        if "bound_edge_rows" in d:  # the CC resolver's small-tier bound
            tier_bound = (f.name, d)
            continue
        # r13: deep decades on the real-vocabulary big corpora
        # (gen_scale_docs_big.py) — a separate family, own section
        for q, med in d.get("median_sec_big", {}).items():
            exps = d.get("decade_alpha_big", {}).get(q, {})
            big_history[q] = (f.name, med, exps)
        if "median_sec" not in d:  # local full-bench snapshot, not scale
            local_files.append(f.name)
            continue
        scale_files.append(f.name)
        for q, med in d["median_sec"].items():
            exps = d.get("scaling_exponent_per_decade", {}).get(q, {})
            history.setdefault(q, []).append((f.name, med, exps))

    lines = [
        "# SCALE — per-operator scaling evidence (generated)",
        "",
        "Generated by `scripts/gen_scale_report.py` from the JSON records",
        "under `bench_records/` — do not edit by hand.  Protocol: median of",
        "3 noop-write runs per (operator, size) on local[32], operator",
        "persist caches cleared (blocking) between runs; corpora generated",
        "by `scripts/gen_scale_{docs,events,tables}.py` with the measured",
        "sf0.1 shape.  α is the observed per-decade scaling exponent",
        "(t = c·n^α): ~1 linear, ≪1 fixed-overhead-dominated, >1 a",
        "super-linear shuffle/candidate-growth that would bite at 100 TB.",
        "",
        "Sizes per axis: documents 5k/50k/500k/5M · events 100k/1M/10M/100M",
        "· customer 15k/150k/1.5M · lineitem 600k/6M/60M · embeddings",
        "2k/20k/200k.",
        "",
        "## Current evidence (newest measurement per operator)",
        "",
        "| operator | axis | " + " | ".join(SIZE_ORDER) + " | α per decade | source |",
        "|---|---|" + "---|" * (len(SIZE_ORDER) + 2),
    ]
    superseded_rows = []
    for q in sorted(history):
        rows = history[q]  # already in record_order
        fname, med, exps = rows[-1]
        ax = axis_of(q)

        def fmt_row(fname, med, exps):
            cells = [
                f"{med[s]:.2f}" if s in med else "—" for s in SIZE_ORDER
            ]
            alpha = ", ".join(
                f"{exps[d]:.2f}" for d in DECADE_ORDER if d in exps
            )
            return f"| {q} | {ax} | " + " | ".join(cells) + f" | {alpha} | {fname} |"

        lines.append(fmt_row(fname, med, exps))
        for old_fname, old_med, old_exps in rows[:-1]:
            if old_med != med or old_exps != exps:
                superseded_rows.append(fmt_row(old_fname, old_med, old_exps))

    if superseded_rows:
        lines += [
            "",
            "## Fix history (superseded measurements, kept for the record)",
            "",
            "Earlier rows an operator outgrew — e.g. image_dup_clusters'",
            "single-band LSH measured α=1.67 at the 5M decade in r8 and was",
            "re-banded to two-band keys (commit ee66696) before re-measuring.",
            "",
            "| operator | axis | " + " | ".join(SIZE_ORDER) + " | α per decade | source |",
            "|---|---|" + "---|" * (len(SIZE_ORDER) + 2),
            *superseded_rows,
        ]

    if big_history:
        # columns = the union of sizes actually measured, in canonical
        # order (doc-axis big corpora and the 2M/20M embeddings decades
        # share the section; r13 added sf1000 = 20M vectors)
        canon = [
            "big5M", "big15M", "big50M",
            "sf10_hard", "sf100_hard",
            "sf100", "sf1000", "sf100_16", "sf1000_16",
        ]
        seen_sizes = {s for _, med, _ in big_history.values() for s in med}
        big_sizes = [s for s in canon if s in seen_sizes] + sorted(
            seen_sizes - set(canon)
        )
        lines += [
            "",
            "## Deep decades — real-vocabulary corpora (gen_scale_docs_big.py)",
            "",
            "The classic word-salad corpora draw from the base table's",
            "31-word vocabulary, which saturates MinHash band buckets past",
            "~500k docs (candidate pairs grow quadratically BY CORPUS",
            "CONSTRUCTION — r10's sf100 ladder attempts exhausted scratch).",
            "These rows use the 50k-word Zipf corpora where band collisions",
            "stay proportional to true near-dups — EXCEPT a handful of",
            "hot-shingle buckets that still go quadratic (the r13 finding,",
            "BENCHNOTES_r13_lsh_hotbuckets.json: 841M bucket-pair rows at 5M",
            "docs, ~600M from the top ten buckets), so the measured spelling",
            "carries the minhash_lsh_pairs max_bucket_size=16 guard; planted",
            "exact-dup leakage recall is verified 1.0 at every measured size",
            "(leak_recall in the source JSON).  Both decade endpoints come",
            "from the same family and session, so the α is meaningful.  NOT",
            "comparable to the classic-matrix rows above.  15M is the",
            "sanctioned top size on this sandbox: the 50M verify join",
            "shuffles the shingle frame twice and exceeds the 65 GB scratch",
            "disk even capped (measured, r13) — on a cluster that shuffle",
            "spreads across executor disks.",
            "",
            "knn rows use the embeddings axis: sf100 = 2M vectors, sf1000 =",
            "20M vectors (gen_scale_embeddings.py) — the 20M decade is the",
            "first PAST knn_join_auto's 16M tier switch, where cells = N/512",
            "genuinely dominates √N and the nprobe raise sits at its cap.",
            "The np2 spelling is the scan-term control.  The raised",
            "production spelling's 64-dim probe shuffle (~90 GB at 20M)",
            "exceeds this sandbox's single scratch disk (measured, r13) —",
            "fine on a cluster — so r14 MEASURED it past the switch on the",
            "16-dim truncated surrogates (gen_embeddings_16d.py, _16d rows:",
            "peak shuffle ~42 GB observed): the raised spelling completes",
            "the 20M decade with α within 0.06 of its own-family control",
            "(1.49 vs 1.43) and recall@5 at 20M hard is MEASURED 0.948",
            "raised vs 0.884 unraised (RECALL_r14_20M.json).  The 16-dim α",
            "is NOT comparable to the 64-dim α (1.43 vs 1.07 on the same",
            "control: cheaper dots surface per-row terms and the 20M point",
            "enters the single-disk spill regime) — it is dimension-fair",
            "only for the raised-vs-control comparison, which is the claim",
            "it closes (BENCHNOTES_r14_knn16.json analysis).",
            "",
            "| operator | " + " | ".join(big_sizes) + " | α per decade | source |",
            "|---|" + "---|" * (len(big_sizes) + 2),
        ]
        for q in sorted(big_history):
            fname, med, exps = big_history[q]
            cells = [f"{med[s]:.2f}" if s in med else "—" for s in big_sizes]
            alpha = ", ".join(f"{k}: {v:.2f}" for k, v in exps.items())
            lines.append(
                f"| {q} | " + " | ".join(cells) + f" | {alpha} | {fname} |"
            )

    if tier_bound:
        fname, d = tier_bound
        sizes = d["edge_rows"]
        lines += [
            "",
            "## Connected-components resolver: small-tier bound",
            "",
            "`dedup.resolve_duplicate_clusters` union-finds a pair graph of at",
            f"most `SMALL_GRAPH_EDGES` = {d['bound_edge_rows']:,} symmetric edge rows (2 per",
            "pair, counted by a capped Arrow collect that is also the",
            "union-find's input) on the driver; larger graphs take the distributed",
            "min-label rounds.  Seconds per tier (median of 3, 4-core host):",
            "",
            "| graph | " + " | ".join(f"{n:,} small | {n:,} rounds" for n in sizes) + " |",
            "|---|" + "---|---|" * len(sizes),
        ]
        for kind in ("chain", "clique"):
            cells = [
                f"{d['median_sec_tier'][f'{kind}_{n}'][tier]:.2f}"
                for n in sizes for tier in ("small", "rounds")
            ]
            lines.append(f"| {kind} | " + " | ".join(cells) + " |")
        lines += ["", d["decision"] + f" ({fname})"]

    if local_files:
        lines += [
            "",
            "## Other records under bench_records/",
            "",
            "Full-bench local snapshots (per-round medians at sf0.1, the",
            "BENCH_r* precursors): " + ", ".join(local_files) + ".",
        ]
    lines.append("")
    OUT.write_text("\n".join(lines))
    print(f"wrote {OUT} ({len(history)} operators, {len(scale_files)} scale records)")


if __name__ == "__main__":
    main()
