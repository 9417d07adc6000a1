"""Similarity search over embedding columns (``array<float>``).

Entry points, each with its plan (top-k ones return probe_id, neighbor_id,
cosine, rank; cosine rounded to 6 places, ties to the lowest neighbor id):

* brute_force_topk — exact: the collected probe set scores ONE Arrow pass
  of the corpus (≤ 1024 probes), else a broadcast-probe crossJoin.
* quantized_topk — brute_force_topk over int8-quantized vectors.
* ivf_topk — IVF: corpus rows to their nearest cell, broadcast probes to
  their ``nprobe`` nearest, scored within routed cells only.
* ivf_two_level_sharded — ivf_topk over an auto-sized first-n codebook
  with a volume-equalizing nprobe raise.
* nprobe_recall_curve / calibrate_nprobe — ivf_topk's candidates built
  once at max(grid) routes, re-ranked per grid value against brute force.
* knn_join — kNN join of two large tables: both sides routed, one
  shuffle on the cell key into a cell-grouped Arrow scorer.
* knn_join_auto — knn_join over a first-n codebook sized from N, flat or
  hierarchical (m_super) by ``KNN_FLAT_MAX_N``.
* semantic_dedup — k-means cells, then a per-cell self-join drops every
  vector with a lower-id τ-neighbor.
* embedding_dup_pairs — random-hyperplane bucket equijoin, cosine-checked.
* assign_to_centroids — map-only nearest-centroid assignment (Arrow
  router, or the pure-Column reference spelling).

Every Arrow kernel stacks a batch with ``_stack`` (a NULL vector is the
zero vector, which the Catalyst spellings score cosine 0.0) and folds
norms and dots per dimension (``_fold_norms``, ``_fold_dots``,
``_fold_sims``) in the Catalyst fold's IEEE op order, so emitted cosines
are bit-identical to ``cosine_with_norms`` and the SQL oracles.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def dot_arrow(a: Column, b: Column) -> Column:
    """Arrow-batched dot product, BIT-IDENTICAL to ``dot``.

    Catalyst higher-order functions are CodegenFallback — every
    zip_with/aggregate lambda is interpreted per ELEMENT with boxed
    InternalRows, measured at ~50k 64-dim dots/s/core (a thread dump of
    the r10 kNN-graph ladder showed straggler tasks spending 100% of
    their CPU inside ``ArrayAggregate.eval``).  This kernel moves ONLY
    the fold to an Arrow batch: a per-DIMENSION vectorized left fold
    (``acc += a[:, j] * b[:, j]`` for j = 0..dim-1), which performs the
    exact same IEEE-754 double operation sequence per pair as the
    Catalyst fold — same element order, same intermediate rounding —
    so results are bit-identical (test_arrow_kernel_bit_parity fuzzes
    this) and every SQL oracle replays unchanged.  ~40x on the pair-
    scoring hot path at sf10.

    Requires fixed-dimension vectors (every embedding table here); a
    NULL side gives NULL, as ``dot`` does.  The surrounding norm
    division/guard stays JVM-side."""
    from pyspark.sql.pandas.functions import pandas_udf

    @pandas_udf("double")
    def _fold(xs: pd.Series, ys: pd.Series) -> pd.Series:
        A = _stack(xs)
        acc = _fold_dots(A, _stack(ys, A.shape[1]))
        # NaN leaves the Arrow batch as NULL
        return pd.Series(np.where(xs.isna() | ys.isna(), np.nan, acc))

    return _fold(a, b)


def _stack(batch: pd.Series, dim: int = 0) -> np.ndarray:
    """The float64 matrix of a batch of vectors, one row per vector — the
    module's one batch-to-matrix site.  A NULL vector is the zero row:
    the answer the Catalyst spellings give it (cosine 0.0 through the
    ``denom > 0`` guard, the lowest centroid id in assignment).  ``dim``
    is the width of a batch whose vectors are all NULL."""
    vals = batch.to_numpy()
    null = batch.isna().to_numpy()
    if len(vals) and not null.any():
        return np.stack(vals).astype(np.float64)
    present = vals[~null]
    out = np.zeros((len(vals), len(present[0]) if len(present) else dim))
    if len(present):
        out[~null] = np.stack(present)
    return out


def _fold_norms(V: np.ndarray) -> np.ndarray:
    """Row L2 norms in ``l2_norm``'s op order: squares accumulated
    sequentially over dimension j in IEEE doubles, then sqrt."""
    acc = np.zeros(len(V))
    for j in range(V.shape[1]):
        acc += V[:, j] * V[:, j]
    return np.sqrt(acc)


def _fold_dots(A: np.ndarray, B: np.ndarray) -> np.ndarray:
    """Row-paired dots ``A[i] · B[i]`` in ``dot``'s op order (products
    accumulated sequentially over dimension j), so each is bit-identical
    to the Catalyst fold."""
    acc = np.zeros(len(A))
    for j in range(A.shape[1]):
        acc += A[:, j] * B[:, j]
    return acc


def _cosine(num: np.ndarray, denom: np.ndarray) -> np.ndarray:
    """``num / denom``, 0.0 where ``denom > 0`` fails — the guard of
    ``cosine_with_norms``."""
    with np.errstate(divide="ignore", invalid="ignore"):
        return np.where(denom > 0, num / np.where(denom == 0, 1.0, denom), 0.0)


# driver-collect cap for a routing codebook: 2^18 cells × 64 dims × 8 B
# = 128 MB of numpy, shipped to executors as ONE torrent broadcast (never
# a Catalyst literal, never a task-closure pickle).  At 512 members/cell
# this covers a ~134M-vector corpus; past that, raise members_per_cell
# (cells shrink proportionally) — the loud error below says so.
_CODEBOOK_CAP = 1 << 18


def _codebook_arrays(
    centroids: DataFrame, max_cells: int
) -> tuple[np.ndarray, np.ndarray]:
    """Collect a centroid table to (ids, matrix) sorted by centroid_id.
    The bound is ENFORCED here at the collect site: a caller that slipped
    an unbounded frame through would otherwise silently pull it all onto
    the driver."""
    rows = (
        centroids.select("centroid_id", "centroid_vec")
        .limit(int(max_cells) + 1)
        .collect()
    )
    if len(rows) > max_cells:
        raise ValueError(
            f"_codebook_arrays: centroid frame exceeds the {max_cells}-cell "
            "driver-collect cap; raise members_per_cell so the codebook "
            "shrinks (cells = N / members_per_cell)"
        )
    rows.sort(key=lambda r: int(r["centroid_id"]))
    ids = np.array([int(r["centroid_id"]) for r in rows], dtype="int64")
    mat = _stack(pd.Series([r["centroid_vec"] for r in rows], dtype=object))
    return ids, mat


def _fold_sims(V: np.ndarray, C: np.ndarray) -> np.ndarray:
    """(n, m) cosine matrix, the matrix form of ``_fold_dots``: the dot
    accumulated sequentially over dimension j (``acc[:, k] += V[:, j] *
    C[k, j]`` via one outer-product accumulate per j), ``_fold_norms``
    per side, denom = vnorm*cnorm, guarded division — every IEEE double
    op matches ``cosine_with_norms(vec, cent, l2_norm(vec),
    l2_norm(cent))`` and the DuckDB fold, so emitted values and
    argmax/ordering decisions are bit-faithful."""
    acc = np.zeros((V.shape[0], C.shape[0]))
    for j in range(V.shape[1]):
        acc += V[:, j : j + 1] * C[:, j][None, :]
    return _cosine(acc, _fold_norms(V)[:, None] * _fold_norms(C)[None, :])


def _sims_matmul(V: np.ndarray, C: np.ndarray) -> np.ndarray:
    """Fast cosine matrix via one BLAS matmul — used for SELECTION only
    (argmax / top-k candidate picking), never for emitted values.  BLAS
    pairwise summation differs from the fold order by ≤ ~1e-13 on unit-
    scale vectors; every selection made on it carries a margin (the
    re-decision gap ``_SELECT_MARGIN``, or ``_TOPK_SLACK``), so
    selections are provably identical to fold-exact."""
    vn = np.sqrt((V * V).sum(axis=1))
    cn = np.sqrt((C * C).sum(axis=1))
    return _cosine(V @ C.T, vn[:, None] * cn[None, :])


# decision-gap margin for matmul-based selection: BLAS-vs-fold error is
# ≤ ~2e-13 on cosine-scale values; any ordering decision with a gap
# below this margin is re-decided on the exact fold
_SELECT_MARGIN = 1e-9


# per-probe shortlist slack: the JVM top-k orders by round(cosine, 6),
# and rounding moves a value by ≤ 5e-7, so any pair that can place in
# the rounded top-k has exact cosine ≥ kth_best_exact − 1e-6;
# matmul-vs-fold error adds ≤ ~2e-13.  Keeping everything ≥ kth_best −
# 2e-6 therefore provably contains the exact rounded top-k.
_TOPK_SLACK = 2e-6


def _shortlist(sims: np.ndarray, k: int, exclude: np.ndarray) -> np.ndarray:
    """Mask of the (candidate, probe) pairs of ``sims`` (candidates ×
    probes) that can reach a probe's rounded top-k: per probe column,
    everything within ``_TOPK_SLACK`` of its k-th best, with the pairs
    in ``exclude`` (self-matches) masked out first.  Prune locally here,
    merge globally in ``topk_per_probe``: the shortlist shrinks the rows
    returned to the JVM from candidates × probes to ~k per probe."""
    s = np.where(exclude, -np.inf, sims)
    n = s.shape[0]
    if n > k:
        thr = np.partition(s, n - k, axis=0)[n - k]
    else:
        thr = np.full(s.shape[1], -np.inf)
    return (s >= thr[None, :] - _TOPK_SLACK) & ~exclude


def _ranked_cells(V: np.ndarray, mat: np.ndarray, n_take: int) -> np.ndarray:
    """Row indices of ``mat`` ranked for each row of ``V``: the
    ``n_take`` most cosine-similar, best first, in EXACTLY the pure-Column
    order (sim desc, then index asc; ``mat`` is sorted by centroid_id, so
    index asc is centroid_id asc) — position j is route rank j + 1.

    Selection runs on the matmul: an O(C) argpartition of the top
    n_take + 1 (a full per-row argsort is O(C log C) and measured 10-40×
    the partition cost at C~4k), then a stable sort of that slice, whose
    candidates are pre-sorted ascending so ties resolve to the lowest
    index.  A row with ANY adjacent gap in the sorted slice inside
    ``_SELECT_MARGIN`` — which also covers every exact tie, including one
    across the n_take cut — is re-ranked on the fold-exact sims, so both
    the routed set and its order equal the crossJoin + row_number
    spelling's."""
    sims = _sims_matmul(V, mat)
    C = sims.shape[1]
    k1 = min(n_take + 1, C)
    part = np.sort(np.argpartition(-sims, k1 - 1, axis=1)[:, :k1], axis=1)
    pvals = np.take_along_axis(sims, part, axis=1)
    loc = np.argsort(-pvals, axis=1, kind="stable")
    order = np.take_along_axis(part, loc, axis=1)
    srt = np.take_along_axis(pvals, loc, axis=1)
    risky = (srt[:, :-1] - srt[:, 1:] < _SELECT_MARGIN).any(axis=1)
    if risky.any():
        order[risky] = np.argsort(
            -_fold_sims(V[risky], mat), axis=1, kind="stable"
        )[:, :k1]
    return order[:, :n_take]


def cosine_with_norms_arrow(
    a: Column, b: Column, na: Column, nb: Column
) -> Column:
    """``cosine_with_norms`` with the dot on the Arrow kernel — the
    default for the PAIR-SCORING selects of the heavy embedding
    operators (where millions of dots flow through one projection).
    Bit-identical to the builtin spelling; routing and assignment run
    on the codebook router's own Arrow kernel
    (``_sharded_router_factory``)."""
    denom = na * nb
    return F.when(denom > 0, dot_arrow(a, b) / denom).otherwise(F.lit(0.0))


def l2_norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double"))
    )


def cosine_with_norms(a: Column, b: Column, na: Column, nb: Column) -> Column:
    """Cosine ``dot(a, b) / (|a|·|b|)``, 0.0 when a norm is 0, with both
    L2 norms HOISTED to precomputed columns (``na``, ``nb`` from
    ``l2_norm``) — arithmetically identical to folding the norms per pair
    (same dot fold, same norm values, same ``denom > 0`` guard, so
    results are bit-identical and every SQL oracle replays unchanged),
    but each norm is computed once per ROW instead of once per PAIR.  Pair scoring dominates every embedding
    operator, and the measured cost split is ~3:1 norms:dot (two extra
    64-element interpreted HOF folds per pair), so hoisting cuts the
    hot path ~3x.  Callers compute ``l2_norm`` per side BEFORE the
    pair-generating join and carry it as a column."""
    denom = na * nb
    return F.when(denom > 0, dot(a, b) / denom).otherwise(F.lit(0.0))


def topk_per_probe(scored: DataFrame, k: int, probe_col: str = "probe_id") -> DataFrame:
    """Exact per-probe top-k over (probe, neighbor_id, cosine) rows, in two
    stages.

    A single ``Window.partitionBy(probe_id)`` would shuffle EVERY scored row
    into n_probes reducer tasks — with ~10 probes that is a ~10-task
    bottleneck no matter how many executors exist (the inverse of the
    per-row-unique-key window anti-pattern).  Stage 1 ranks within
    (probe, physical input partition): the exchange key has cardinality
    n_probes × n_input_partitions, so scored rows spread across the whole
    cluster and at most k rows per (probe, partition) survive.  Stage 2's
    global per-probe window then receives ≤ k × n_input_partitions rows per
    probe instead of N.  Both stages share one deterministic ordering
    (cosine desc, neighbor_id asc), and the global top-k is contained in
    the union of the local top-ks, so the result is row-identical to the
    single-window spelling."""
    order = [F.col("cosine").desc(), F.col("neighbor_id").asc()]
    local_w = Window.partitionBy(probe_col, "_pid").orderBy(*order)
    pruned = (
        scored.withColumn("_pid", F.spark_partition_id())
        .withColumn("_lrk", F.row_number().over(local_w))
        .filter(F.col("_lrk") <= k)
        .drop("_pid", "_lrk")
    )
    w = Window.partitionBy(probe_col).orderBy(*order)
    return pruned.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


# brute_force_topk collects the probe set to the driver when it fits this
# bound and scores it with ONE pass of the corpus through Arrow (the
# per-batch cosine matrix is row-blocked to ~32 MB).  1024 probes × 64
# dims × 8 B ≈ 0.5 MB of closure — driver-safe by construction.  Larger
# probe sets fall back to the crossJoin spelling.
_BRUTE_BLAS_MAX_PROBES = 1024


def brute_force_topk(
    vectors: DataFrame,
    probes: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    probe_id_col: str = "probe_id",
    probe_vec_col: str = "probe_vec",
) -> DataFrame:
    """Exact cosine top-k.  Excludes self-matches (same id);
    deterministic tie-break on neighbor id; cosine rounded to 6 places.

    Scale path (r14): when the probe set fits ``_BRUTE_BLAS_MAX_PROBES``
    it is collected and closed over, and scoring is ONE ``mapInPandas``
    pass of the corpus — each corpus row crosses Arrow once, and each
    batch emits only its per-probe shortlist (``_shortlist``).  The
    previous crossJoin spelling shipped N × m pair rows (each carrying
    BOTH full vectors) through the Python runner: ~500 GB of Arrow
    traffic at 20M × 50 — measured stalling the 20M-hard recall protocol
    (BENCHNOTES_r14 driver-stall finding).  The kernel is ``_fold_sims``,
    so cosines are bit-identical to the crossJoin spelling and every SQL
    oracle replays unchanged.  Probe sets above the bound (rare: probes-
    as-corpus belongs to ``knn_join``) take the broadcast-crossJoin
    path, and so do an empty probe set and one whose vectors are all
    NULL (no width to stack them to).

    EAGER: sizing the probe set runs a bounded Spark action
    (``limit(1025).collect()`` on ``probes``) AT CALL TIME — unlike
    most operators here, calling this function triggers a job even if
    the returned frame is never executed (same documented trade as the
    LSH hot-bucket guard; the probe rows are needed driver-side to
    build the closure)."""
    probe_rows = (
        probes.select(probe_id_col, probe_vec_col)
        .limit(_BRUTE_BLAS_MAX_PROBES + 1)
        .collect()
    )
    if len(probe_rows) <= _BRUTE_BLAS_MAX_PROBES and any(
        r[1] is not None for r in probe_rows
    ):
        scored = _brute_scored_blas(
            vectors, probe_rows, k, id_col, vec_col, probe_id_col, probes
        )
        return topk_per_probe(scored, k, probe_id_col)
    joined = (
        vectors.withColumn("_vnorm", l2_norm(F.col(vec_col)))
        .crossJoin(
            F.broadcast(
                probes.withColumn("_pnorm", l2_norm(F.col(probe_vec_col)))
            )
        )
        .filter(F.col(id_col) != F.col(probe_id_col))
    )
    scored = joined.select(
        F.col(probe_id_col),
        F.col(id_col).alias("neighbor_id"),
        F.round(
            cosine_with_norms_arrow(
                F.col(vec_col), F.col(probe_vec_col), F.col("_vnorm"), F.col("_pnorm")
            ),
            6,
        ).alias("cosine"),
    )
    return topk_per_probe(scored, k, probe_id_col)


def _brute_scored_blas(
    vectors: DataFrame,
    probe_rows: list,
    k: int,
    id_col: str,
    vec_col: str,
    probe_id_col: str,
    probes: DataFrame,
) -> DataFrame:
    """(probe_id, neighbor_id, cosine) shortlist rows for the collected
    probe set — one Arrow pass of the corpus, each row block scored by
    ``_fold_sims`` and cut by ``_shortlist``, cosine rounded JVM-side
    with the same F.round the crossJoin spelling uses."""
    pid_arr = np.asarray([r[0] for r in probe_rows])
    pmat = _stack(pd.Series([r[1] for r in probe_rows], dtype=object))
    # row-block so the per-block cosine matrix stays ~32 MB
    block = max(256, 4_000_000 // len(pid_arr))

    def gen(batches):
        for pdf in batches:
            for lo in range(0, len(pdf), block):
                part = pdf.iloc[lo : lo + block]
                ids = part[id_col].to_numpy()
                cos = _fold_sims(_stack(part[vec_col], pmat.shape[1]), pmat)
                ni, pi = np.nonzero(
                    _shortlist(cos, k, ids[:, None] == pid_arr[None, :])
                )
                yield pd.DataFrame(
                    {
                        probe_id_col: pid_arr[pi],
                        "neighbor_id": ids[ni],
                        "cosine": cos[ni, pi],
                    }
                )

    ptype = probes.schema[probe_id_col].dataType.simpleString()
    ntype = vectors.schema[id_col].dataType.simpleString()
    shortlist = vectors.select(id_col, vec_col).mapInPandas(
        gen, schema=f"{probe_id_col} {ptype}, neighbor_id {ntype}, cosine double"
    )
    return shortlist.select(
        probe_id_col, "neighbor_id", F.round("cosine", 6).alias("cosine")
    )


def quantize_embeddings(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dtype: str = "int",
) -> DataFrame:
    """Symmetric per-vector int8 quantization: ``scale = max(|v|)/127``,
    ``q_i = round(v_i / scale)`` ∈ [-127, 127] (zero vector → all-zero q,
    scale 0).  Returns ``(id_col, qvec: array<dtype>, scale: double)``.

    ``dtype="tinyint"`` stores the codes as actual int8 — the REAL 4×
    byte cut for shuffle-bound paths (array<int> elements serialize at
    4 B, same as the float32 source; the r14 20M kNN probe shuffle was
    ~90 GB at float32 and only tinyint brings it under this sandbox's
    disk).  The default stays ``int`` because the oracle-checked
    ``ann_quantized`` contract pins that schema; the VALUES are
    identical either way ([-127, 127] fits both).

    This is the storage/shuffle scale path for every embedding operator:
    an int8 codebook is 4× smaller than float32, so ANN scans, near-dup
    self-joins and semantic-dedup shuffles move a quarter of the bytes —
    and COSINE IS SCALE-INVARIANT, so downstream cosine math runs on the
    quantized vectors directly (scales cancel; ``quantized_topk`` proves
    recall survives).  ``scale`` is carried for operators that need
    magnitudes back (dot products, L2 reconstruction ≈ q_i × scale).

    Map-only JVM fold per row, no UDF, no shuffle.  Engine-portable by
    construction: max/divide/round(half-away-from-zero) compute on IEEE
    doubles identically in Spark and DuckDB, so the oracle re-derives the
    exact same int codes.

    Two-step projection ON PURPOSE: an expression referenced inside a
    HOF lambda is inlined and re-evaluated PER ELEMENT, so spelling the
    scale inline makes the O(dim) max-fold run dim times — O(dim²) per
    row (measured 24.4s vs 1.6s for 20k × dim-512 vectors).  Projecting
    ``_scale`` first and referencing the attribute TWICE in the outer
    select blocks CollapseProject from re-inlining it (its
    expensive-expression-used-more-than-once rule), keeping the fold
    once-per-row."""
    v = F.col(vec_col)
    amax = F.aggregate(
        v, F.lit(0.0), lambda acc, x: F.greatest(acc, F.abs(x.cast("double")))
    )
    staged = df.select(
        F.col(id_col), v, (amax / F.lit(127.0)).alias("_scale")
    )
    q = F.when(
        F.col("_scale") > 0,
        F.transform(
            v, lambda x: F.round(x.cast("double") / F.col("_scale")).cast(dtype)
        ),
    ).otherwise(F.transform(v, lambda x: F.lit(0).cast(dtype)))
    return staged.select(
        F.col(id_col), q.alias("qvec"), F.col("_scale").alias("scale")
    )


def quantized_topk(
    vectors: DataFrame,
    probes: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    probe_id_col: str = "probe_id",
    probe_vec_col: str = "probe_vec",
) -> DataFrame:
    """Brute-force cosine top-k over int8-QUANTIZED vectors — the
    bandwidth-bound scan at 100 TB reads 4× fewer bytes than the float32
    path for a recall loss that int8 symmetric quantization keeps
    negligible (|Δcos| ≲ 1/127 per component pair).  Same output contract
    as ``brute_force_topk``; cosine here is the quantized approximation."""
    qv = quantize_embeddings(vectors, id_col=id_col, vec_col=vec_col).select(
        F.col(id_col), F.col("qvec").alias(vec_col)
    )
    qp = quantize_embeddings(probes, id_col=probe_id_col, vec_col=probe_vec_col).select(
        F.col(probe_id_col), F.col("qvec").alias(probe_vec_col)
    )
    return brute_force_topk(
        qv,
        qp,
        k=k,
        id_col=id_col,
        vec_col=vec_col,
        probe_id_col=probe_id_col,
        probe_vec_col=probe_vec_col,
    )


def make_probes(
    vectors: DataFrame, n: int = 10, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Deterministic probe set: the n smallest ids."""
    return (
        vectors.orderBy(id_col)
        .limit(n)
        .select(F.col(id_col).alias("probe_id"), F.col(vec_col).alias("probe_vec"))
    )


def _lloyd_means(assigned: DataFrame, vec_col: str, round_digits: int) -> DataFrame:
    """(cluster, vec): the Lloyd update shared by both k-means fitters
    (and mirrored by ``__spark_entry__._kmeans_iter_sql``) — each
    cluster's element-wise mean of its members, one (cluster, pos)
    aggregation, ROUNDED to ``round_digits`` so Spark's distributed avg
    and a sequential engine derive bit-identical centroids."""
    return (
        assigned.select("cluster", F.posexplode(vec_col).alias("pos", "val"))
        .groupBy("cluster", "pos")
        .agg(F.round(F.avg(F.col("val").cast("double")), round_digits).alias("val"))
        .groupBy("cluster")
        # (pos, val) structs sorted by pos, then the val field of each;
        # sort_array, not array_sort, whose default comparator is a lambda
        .agg(F.sort_array(F.collect_list(F.struct("pos", "val"))).getField("val").alias("vec"))
    )


def kmeans_centroids(
    vectors: DataFrame,
    n_centroids: int = 8,
    iters: int = 2,
    sample_fraction: float | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
) -> DataFrame:
    """Sampled Lloyd k-means under cosine similarity — real centroids for
    ``ivf_topk`` (replacing the first-n-vectors placeholder).

    Engine-portable by construction so a SQL oracle can replicate it:

    * the training sample is the md5-hash sample of ``operators.sampling``
      (layout-independent, reproducible in any engine);
    * init = the first ``n_centroids`` vectors by id (deterministic);
    * each Lloyd step assigns sample points to the most-cosine-similar
      centroid (ties → lowest centroid id) and recomputes each centroid as
      the element-wise mean of its members ROUNDED to ``round_digits`` —
      the rounding collapses the ~1e-13 summation-order drift between
      Spark's distributed avg and a sequential engine, so both derive
      bit-identical centroids;
    * an empty cluster keeps its previous centroid.

    Scale shape: assignment is the same broadcast-literal argmax as
    ``ivf_topk`` (map-only over the sample); the mean is a (cluster, pos)
    groupBy over sample_rows × dim rows — bounded by the SAMPLE, not the
    corpus (pass ``sample_fraction`` ≪ 1 at scale).  Each iteration moves
    only n_centroids × dim rounded doubles to the driver — model
    parameters, the same shape MLlib's KMeans keeps on the driver.

    Driver-round-trip bound: the loop is ``iters`` sequential jobs, each
    collecting the n_centroids × dim model and re-broadcasting it as a
    literal expression tree.  That tree has O(n_centroids × dim) nodes,
    so very large codebooks would blow up Catalyst analysis long before
    the driver's memory — ``n_centroids`` is capped at 4096; larger
    codebooks (up to the router's 2^18 cells) are fitted as a table by
    ``kmeans_codebook_table``."""
    from csv_etl_spark.operators.sampling import hash_sample

    if n_centroids > 4096:
        raise ValueError(
            f"n_centroids={n_centroids} exceeds 4096: the broadcast-literal "
            "centroid array is an O(n_centroids x dim) expression tree; use "
            "kmeans_codebook_table (table Lloyd, torrent-broadcast routing) "
            "for larger codebooks"
        )

    sample = vectors.select(F.col(id_col), F.col(vec_col))
    if sample_fraction is not None:
        sample = hash_sample(sample, id_col, sample_fraction)

    # a NULL init vector stays a NULL centroid with norm 0.0: the guard
    # scores it cosine 0.0 against every vector, as the table fitter's
    # router (``_stack``'s zero row) does
    first = vectors.orderBy(id_col).limit(n_centroids).select(vec_col).collect()
    cents: list[tuple[int, list[float] | None]] = [
        (i, None if row[vec_col] is None else [float(x) for x in row[vec_col]])
        for i, row in enumerate(first)
    ]

    for _ in range(iters):
        # centroid norms as Python-side literals (``_fold_norms``: the
        # same op sequence as l2_norm's Catalyst fold), so
        # the similarity values are bit-identical to the unhoisted
        # spelling while each centroid's norm is computed once per
        # ITERATION instead of once per (row, centroid)
        cent_lit = F.array(
            *[
                F.struct(
                    F.lit(cid).alias("centroid_id"),
                    (
                        F.lit(None).cast("array<double>")
                        if vec is None
                        else F.array(*[F.lit(v) for v in vec])
                    ).alias("centroid_vec"),
                    F.lit(
                        0.0 if vec is None else float(_fold_norms(np.array([vec]))[0])
                    ).alias("centroid_norm"),
                )
                for cid, vec in cents
            ]
        )
        sims = F.transform(
            cent_lit,
            lambda c: cosine_with_norms(
                F.col(vec_col),
                c.getField("centroid_vec"),
                F.col("_vnorm"),
                c.getField("centroid_norm"),
            ),
        )
        assigned = (
            sample.withColumn("_vnorm", l2_norm(F.col(vec_col)))
            .withColumn("_sims", sims)
            .withColumn("_best", F.array_position(F.col("_sims"), F.array_max(F.col("_sims"))))
            .select(
                F.element_at(cent_lit, F.col("_best").cast("int"))
                .getField("centroid_id")
                .alias("cluster"),
                F.col(vec_col),
            )
        )
        means = _lloyd_means(assigned, vec_col, round_digits).collect()
        refined = {int(r["cluster"]): [float(x) for x in r["vec"]] for r in means}
        cents = [(cid, refined.get(cid, vec)) for cid, vec in cents]

    # model-sized literal (≤ _KMEANS_LITERAL_MAX rows): inline-VALUES
    # LocalRelation so consumers' broadcast builds stay JVM-only — the
    # last createDataFrame literal frame in operator code (r17)
    from csv_etl_spark.local import local_values_frame

    return local_values_frame(
        vectors.sparkSession,
        cents,
        "centroid_id int, centroid_vec array<double>",
    )


# past this many centroids, kmeans_centroids' engine-portable Lloyd step
# is ANALYSIS-bound: each iteration rebuilds an O(k × dim) broadcast-
# literal expression tree and Catalyst analysis of it dominates (r14
# semantic ladder: a 390-cell fit at 200k rows sat idle-CPU for minutes;
# 3907 cells projects to hours).  Larger codebooks are fitted by the
# global table-Lloyd (kmeans_codebook_table).
_KMEANS_LITERAL_MAX = 256


def kmeans_codebook_table(
    vectors: DataFrame,
    n_centroids: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    kmeans_iters: int = 2,
    sample_fraction: float | None = None,
    round_digits: int = 6,
) -> DataFrame:
    """Data-adapted FLAT codebook of ≤ ``n_centroids`` cells as a TABLE —
    the fit path for codebooks past ``_KMEANS_LITERAL_MAX`` (SemDeDup at
    100 TB wants ~100k clusters; the literal-tree Lloyd step cannot go
    there, see the constant above).

    GLOBAL distributed Lloyd with the exact semantics of
    ``kmeans_centroids`` — md5-hash training sample, first-``n`` by-id
    init, cosine assignment (ties → lowest centroid id), per-cluster
    element-wise means rounded to ``round_digits``, empty clusters keep
    their previous centroid — but every step stays a TABLE:

    * assignment goes through ``assign_to_centroids`` (one torrent
      broadcast of the codebook instead of an O(k × dim) Catalyst
      literal tree): EXACT flat routing (``m_super=None``) up to
      ``_KMEANS_LITERAL_MAX`` (256) cells — the range where the parity
      test pins this fitter element-wise equal to the literal one —
      hierarchical m_super routing past it (approximate
      assignment inside Lloyd — the standard large-k trade; centroid
      placement stays globally free, unlike a coarse-partition-
      constrained fit, which CODEBOOK_QUALITY_r15 measured 16+ recall
      points below a flat literal fit at equal cell count);
    * means are one (cluster, pos) aggregation of the sample — never
      collected as rows: the codebook is never materialized as a
      Catalyst literal tree; per iteration the router does collect the
      codebook arrays driver-side (and fits supers past 256 cells) and
      torrent-broadcasts them, so driver traffic is bounded by the 2^18-
      cell broadcast cap (~128 MB) per iteration, and the fit scales to
      ~2^18 cells.

    Per-iteration cost = one routing pass + one bounded aggregation over
    the SAMPLE (pass ``sample_fraction`` ≪ 1 at scale), i.e. the same
    assignment pass the downstream consumer (``semantic_dedup``,
    ``knn_join``) pays once anyway.  Deterministic: no RNG, and
    the mean rounding collapses distributed summation-order drift
    run-to-run exactly as in ``kmeans_centroids``.  NOT SQL-replicable
    (the torrent-broadcast router is the production spelling) — contract queries
    keep the deterministic first-k convention.  Returns
    ``(centroid_id int, centroid_vec array<double>)`` — drop-in wherever
    a codebook table is accepted."""
    from csv_etl_spark.operators.sampling import hash_sample

    if n_centroids <= 0:
        raise ValueError(f"n_centroids must be positive: {n_centroids}")

    sample = vectors.select(F.col(id_col), F.col(vec_col))
    if sample_fraction is not None:
        sample = hash_sample(sample, id_col, sample_fraction)

    codebook = (
        vectors.orderBy(id_col)
        .limit(n_centroids)
        .select(
            (F.row_number().over(Window.orderBy(F.col(id_col))) - 1)
            .cast("int")
            .alias("centroid_id"),
            F.col(vec_col).cast("array<double>").alias("centroid_vec"),
        )
    )
    # Lloyd-internal routing: exact flat only where the LITERAL fitter
    # could also go (≤ _KMEANS_LITERAL_MAX — there the two fitters are
    # element-wise equal, pinned by test); past it the hierarchical
    # m_super router cuts per-row routing from C sims to ~√C·(1+spill·m)
    # — at 3906 cells the flat spelling's n×C sims traffic measured
    # memory-bandwidth-bound (minutes per sample pass on this host) while
    # approximate in-Lloyd assignment is the standard large-k trade and
    # leaves centroid placement globally free.
    m_super = None if n_centroids <= _KMEANS_LITERAL_MAX else 4

    for _ in range(int(kmeans_iters)):
        _bc_mark = len(_SHARDED_BROADCASTS)
        assigned = assign_to_centroids(
            sample, codebook, id_col=id_col, vec_col=vec_col, m_super=m_super
        )
        means = _lloyd_means(assigned, vec_col, round_digits).select(
            F.col("cluster").alias("centroid_id"), F.col("vec").alias("new_vec")
        )
        # empty clusters keep their previous centroid (same rule as the
        # literal fitter); one small broadcast join, codebook-sized.
        # localCheckpoint materializes THIS iteration's codebook and
        # truncates lineage (codebook-sized, ≤ torrent-broadcast cap), so
        # iterations don't recompute each other and the router broadcast
        # can be released immediately
        codebook = (
            codebook.join(F.broadcast(means), "centroid_id", "left")
            .select(
                "centroid_id",
                F.coalesce(F.col("new_vec"), F.col("centroid_vec")).alias(
                    "centroid_vec"
                ),
            )
            .localCheckpoint(eager=True)
        )
        # scoped: only the broadcasts THIS iteration's router shipped —
        # broadcasts backing still-live frames from unrelated earlier
        # routing calls stay persisted (ADVICE r15)
        release_sharded_broadcasts(since=_bc_mark)

    return codebook


# live codebook broadcasts shipped by the router in this Spark session — see
# release_sharded_broadcasts() below
_SHARDED_BROADCASTS: list = []


def release_sharded_broadcasts(since: int = 0, destroy: bool = False) -> int:
    """Release the codebook broadcasts shipped by prior routing calls
    (ADVICE r12: each call torrent-broadcasts up to ~128 MB and
    bench/recall loops would otherwise accumulate them for the session
    lifetime) — every one, or with ``since`` only those registered after
    that mark (a prior ``len(_SHARDED_BROADCASTS)`` snapshot): the
    scoped spelling for a loop that spawns router broadcasts
    (``kmeans_codebook_table``'s Lloyd iterations) without touching the
    ones backing still-live frames of unrelated earlier calls.

    ``unpersist`` drops executor-side copies (a later re-execution of a
    returned frame refetches from the driver, so it is always safe);
    ``destroy=True`` additionally frees the driver-side copy but makes
    any still-unconsumed returned DataFrame unusable — bench's
    clear_operator_caches uses it between passes where nothing is live.
    Returns the number of broadcasts released."""
    released = _SHARDED_BROADCASTS[since:]
    for bc in released:
        try:
            if destroy:
                bc.destroy()
            else:
                bc.unpersist(blocking=True)
        except Exception:
            pass  # session already stopped — nothing to free
    del _SHARDED_BROADCASTS[since:]
    return len(released)


# Shape of the m_super hierarchy: _N_SUPER super-centroids (None = ⌈√C⌉),
# fitted by _SUPER_ITERS rounds of driver-side spherical k-means, with
# every centroid SPILLED into its _SPILL nearest supers.
_N_SUPER: int | None = None
_SPILL = 2
_SUPER_ITERS = 3


def _sharded_router_factory(
    centroids: DataFrame, m_super: int | None = None, caller: str = "router"
):
    """The module's ONE Arrow routing kernel: every assignment and every
    probe routing goes through it.  Collects the codebook once under the
    2^18-cell cap, ships it as ONE torrent broadcast (registered for
    ``release_sharded_broadcasts``), and returns ``(mk_router, n_cells)``.
    ``mk_router(n_take)`` is a pandas UDF mapping a vector column to
    ``struct<cells: array<centroid_id>, norm: double>`` — the row's
    ``n_take`` nearest cells, best first (position j is route rank
    j + 1), and its L2 norm (``_fold_norms``, ``l2_norm``'s op order),
    so the two are bit-identical.  Members route with ``n_take=1``.

    ``m_super=None``: EXACT flat routing — every row ranks all C
    centroids (``_ranked_cells``), so cell lists equal the crossJoin +
    row_number (sim desc, centroid_id asc) spelling and the SQL oracles
    replay them.  Cost: C sims per row.

    ``m_super=m``: hierarchical routing for bounded-cell codebooks.  Rows
    rank the ``⌈√C⌉`` SUPER-centroids first, then exactly the centroids
    belonging to their ``m`` nearest supers, with each centroid SPILLED
    into its ``_SPILL`` nearest supers so a true cell on a super boundary
    stays reachable from either side (raw first-√C supers without spill
    measured recall 0.72-0.80 — the RECALL.md finding-4 pruning trap;
    k-means supers + spill close it).  Cost: √C·(1+spill·m) sims per row
    instead of C — ~560 vs 3906 at 2M vectors, and total routing ~N^1.25
    (two levels carry to ~10⁹ vectors before routing re-dominates).  The
    supers are fitted once, driver-side (C×√C sims per round)."""
    ids, mat = _codebook_arrays(centroids, _CODEBOOK_CAP)
    n_cells = len(ids)
    if n_cells == 0:
        raise ValueError(f"{caller}: empty centroid frame")
    cid_sql = centroids.schema["centroid_id"].dataType.simpleString()
    np_dtype = {"int": "int32", "bigint": "int64"}.get(cid_sql, "int64")
    payload = {"ids": ids.astype(np_dtype), "mat": mat}
    m_val = None
    if m_super is not None:
        n_super = _N_SUPER
        if n_super is None:
            n_super = math.isqrt(n_cells - 1) + 1 if n_cells > 1 else 1
        n_super = min(int(n_super), n_cells)
        m_val = min(int(m_super), n_super)
        # driver-side spherical k-means over the CODEBOOK (init = first
        # rows, deterministic given the codebook).  Membership only
        # steers which centroids stage 2 CONSIDERS, so matmul precision
        # is sufficient throughout.
        smat = mat[:n_super].copy()
        _chunk = 65536
        for _ in range(int(_SUPER_ITERS)):
            assign1 = np.empty(n_cells, dtype="int64")
            for off in range(0, n_cells, _chunk):
                assign1[off : off + _chunk] = np.argmax(
                    _sims_matmul(mat[off : off + _chunk], smat), axis=1
                )
            for s in range(n_super):
                sel = assign1 == s
                if sel.any():
                    smat[s] = mat[sel].mean(axis=0)
        n_spill = max(1, min(int(_SPILL), n_super))
        spill_assign = np.empty((n_cells, n_spill), dtype="int64")
        for off in range(0, n_cells, _chunk):
            sims_c = _sims_matmul(mat[off : off + _chunk], smat)
            spill_assign[off : off + _chunk] = np.argsort(
                -sims_c, axis=1, kind="stable"
            )[:, :n_spill]
        payload["smat"] = smat
        payload["members"] = [
            np.nonzero((spill_assign == s).any(axis=1))[0] for s in range(n_super)
        ]
    bc = centroids.sparkSession.sparkContext.broadcast(payload)
    _SHARDED_BROADCASTS.append(bc)

    def _mk_router(n_take: int):
        from pyspark.sql.pandas.functions import pandas_udf

        @pandas_udf(f"cells array<{cid_sql}>, norm double")
        def _route(vs: pd.Series) -> pd.DataFrame:
            if not len(vs):
                return pd.DataFrame(
                    {
                        "cells": pd.Series([], dtype=object),
                        "norm": pd.Series([], dtype="float64"),
                    }
                )
            cb = bc.value
            _ids, _mat = cb["ids"], cb["mat"]
            V = _stack(vs, _mat.shape[1])
            vn = _fold_norms(V)
            if m_val is None:
                cells = [
                    _ids[row].tolist() for row in _ranked_cells(V, _mat, n_take)
                ]
                return pd.DataFrame({"cells": cells, "norm": vn})
            # stage 1: the m_val nearest supers.  Stage 2 ranks the
            # centroids of those supers GROUPED BY SUPER-COMBINATION: rows
            # sharing a super set share one candidate list, so each group
            # is one dense matmul (a clustered 10k-row batch collapses to
            # a handful of combos; the r12 per-row padded gather this
            # replaced measured 169 s at the 2M-graph decade).
            top_s = np.sort(_ranked_cells(V, cb["smat"], m_val), axis=1)
            uq, inv = np.unique(top_s, axis=0, return_inverse=True)
            cells = [None] * len(V)
            for g in range(len(uq)):
                rows_idx = np.nonzero(inv.ravel() == g)[0]
                cands = np.unique(
                    np.concatenate([cb["members"][s] for s in uq[g]])
                )
                if not len(cands):
                    # every routed super is memberless (possible on tiny
                    # or degenerate codebooks): rank the whole codebook
                    # rather than silently dropping the rows
                    cands = np.arange(len(_mat), dtype="int64")
                picked = cands[_ranked_cells(V[rows_idx], _mat[cands], n_take)]
                for j, i in enumerate(rows_idx):
                    cells[i] = _ids[picked[j]].tolist()
            return pd.DataFrame({"cells": cells, "norm": vn})

        return _route

    return _mk_router, n_cells


def _assign_cells(
    vectors: DataFrame, route, id_col: str, vec_col: str, keep_norm: bool = False
) -> DataFrame:
    """(id_col, vec_col[, _vnorm], cluster) from a router UDF built with
    ``n_take=1``."""
    routed = vectors.withColumn("_r", route(F.col(vec_col)))
    return routed.select(
        F.col(id_col),
        F.col(vec_col),
        *([F.col("_r.norm").alias("_vnorm")] if keep_norm else []),
        F.element_at(F.col("_r.cells"), 1).alias("cluster"),
    )


def assign_to_centroids(
    vectors: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep_norm: bool = False,
    kernel: str = "arrow",
    m_super: int | None = None,
) -> DataFrame:
    """Assign every vector to its most-cosine-similar centroid — MAP-ONLY
    (never a row_number() over Window.partitionBy(vec_id), which would
    shuffle N × n_centroids rows — the one scale-killer here at 100 TB).

    ``kernel="arrow"`` (default): the codebook router with one cell per
    row (``_sharded_router_factory``).  With ``m_super=None`` routing is
    the exact flat argmax — matmul selection, fold-exact re-decision
    inside the margin, ties to the lowest centroid_id — so clusters are
    bit-faithful to the builtin spelling while running ~20x faster than
    the interpreted HOF transform (r10 thread dumps showed the argmax
    lambda dominating the kNN ladder).  The codebook ships as one torrent
    broadcast under the 2^18-cell cap.  ``m_super=m`` routes through the
    super-centroid hierarchy: √C·(1+spill·m) sims per vector instead of C
    (~2.9k vs 100k at C=100k), and a boundary vector may land in its
    second-nearest cell — for the partition-shaped callers
    (``semantic_dedup``, ``kmeans_codebook_table``) the same fail-open
    trade as semantic_dedup's cluster-size cap.

    ``kernel="builtin"``: the pure-Column spelling — broadcast the
    centroid set as one array-of-structs row, similarities via
    transform, argmax via array_position (first max after array_sort on
    centroid_id ⇒ lowest-id tie break).  Flat only; kept as the parity
    reference (test_assign_kernels_agree) and for plans that must stay
    UDF-free.

    Returns (id_col, vec_col, cluster); with ``keep_norm=True`` also
    ``_vnorm`` (the row's L2 norm, same fold order both kernels) so
    downstream pair scoring reuses it instead of recomputing per pair."""
    if kernel == "arrow":
        route, _ = _sharded_router_factory(
            centroids, m_super=m_super, caller="assign_to_centroids"
        )
        return _assign_cells(vectors, route(1), id_col, vec_col, keep_norm)
    if m_super is not None:
        raise ValueError(
            "assign_to_centroids: kernel='builtin' routes flat only; "
            "m_super needs kernel='arrow'"
        )
    cent_arr = centroids.agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    "centroid_id",
                    "centroid_vec",
                    l2_norm(F.col("centroid_vec")).alias("centroid_norm"),
                )
            )
        ).alias("_cents")
    )
    sims = F.transform(
        F.col("_cents"),
        lambda c: cosine_with_norms(
            F.col(vec_col),
            c.getField("centroid_vec"),
            F.col("_vnorm"),
            c.getField("centroid_norm"),
        ),
    )
    out_cols = [id_col, vec_col] + (["_vnorm"] if keep_norm else [])
    return (
        vectors.withColumn("_vnorm", l2_norm(F.col(vec_col)))
        .crossJoin(F.broadcast(cent_arr))
        .withColumn("_sims", sims)
        .withColumn("_best", F.array_position(F.col("_sims"), F.array_max(F.col("_sims"))))
        .select(
            *out_cols,
            F.element_at(F.col("_cents"), F.col("_best").cast("int"))
            .getField("centroid_id")
            .alias("cluster"),
        )
    )


# codebooks up to this many cells route flat (exact, C sims per row) in
# semantic_dedup; past it, m_super=4 hierarchical routing
_FLAT_ROUTE_MAX_CELLS = 4096


def semantic_dedup(
    vectors: DataFrame,
    n_centroids: int = 8,
    threshold: float = 0.9,
    kmeans_iters: int = 2,
    sample_fraction: float | None = 0.5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
    max_cluster_size: int | None = 100_000,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023, public
    recipe): k-means-cluster the embedding space, then compare pairs ONLY
    within a cluster and drop every vector that has a more-senior (lower
    id) τ-neighbor in its cluster.  Returns one row per input vector:
    (id_col, cluster, kept).

    Keeper rule: drop v iff ∃ u in the same cluster with id(u) < id(v) and
    cos(u, v) ≥ threshold — the "ε-graph min-neighbor" rule.  Fully
    parallel and deterministic (no sequential greedy state); coarser than
    greedy-sequential dedup when τ-neighborhoods chain, which matches
    SemDeDup's keep-one-representative intent.

    Scale shape: clustering bounds the quadratic term — the self-join is
    per-cluster (shuffle on the cluster key), so cost is Σ|cluster|², not
    N².  At 100 TB pick n_centroids ∝ corpus size (SemDeDup uses ~100k
    clusters for billions of docs) so clusters stay ~constant-sized; the
    assignment step is the same map-only broadcast argmax as ``ivf_topk``
    and the k-means fit touches only the hash sample.

    ``max_cluster_size`` guards the degenerate case where k-means
    collapses (near-identical embeddings, bad init) and one cluster holds
    ~everything — Σ|cluster|² silently becomes N².  Clusters larger than
    the cap SKIP the pairwise check: their members all come back
    ``kept = true`` (a no-op gate, never a wrong drop), the same
    fail-open trade as ``jaccard_pairs``'s frequent-shingle cap.  The
    cluster-size census rides the already-persisted assignment (one tiny
    ≤ n_centroids-row agg, broadcast back).  Default 100k ≈ SemDeDup's
    own cluster granularity; pass None to disable."""
    m_super = None
    if centroids is None:
        if n_centroids > _KMEANS_LITERAL_MAX:
            # the literal-tree Lloyd fit is Catalyst-analysis-bound past
            # a few hundred cells (measured, r14 semantic ladder) — run
            # the global table-Lloyd instead.  100 TB guidance:
            # n_centroids ∝ N (SemDeDup's own granularity) lands here.
            centroids = kmeans_codebook_table(
                vectors,
                n_centroids=n_centroids,
                id_col=id_col,
                vec_col=vec_col,
                kmeans_iters=kmeans_iters,
                sample_fraction=sample_fraction,
            )
            # past _FLAT_ROUTE_MAX_CELLS, assignment takes hierarchical
            # routing.  The fit emits at most n_centroids cells (first-n
            # init; Lloyd never adds one), so the decision costs nothing —
            # no count of the fitted table.
            if n_centroids > _FLAT_ROUTE_MAX_CELLS:
                m_super = 4
        else:
            centroids = kmeans_centroids(
                vectors,
                n_centroids=n_centroids,
                iters=kmeans_iters,
                sample_fraction=sample_fraction,
                id_col=id_col,
                vec_col=vec_col,
            )
    elif (
        # explicit codebook: one BOUNDED count picks the routing
        # (≤4097 rows scanned; callers pass materialized tables, so this
        # probe is cheap — the fitted paths above never pay it)
        centroids.limit(_FLAT_ROUTE_MAX_CELLS + 1).count()
        > _FLAT_ROUTE_MAX_CELLS
    ):
        m_super = 4
    # keep_norm: the per-cluster self-join below reuses the hoisted
    # norms (and they persist with the frame), so the ε-check is one
    # dot per pair instead of a full cosine
    assigned = assign_to_centroids(
        vectors,
        centroids,
        id_col=id_col,
        vec_col=vec_col,
        keep_norm=True,
        m_super=m_super,
    )
    # `assigned` feeds three branches (both sides of the per-cluster
    # self-join plus the final keeper left-join); without a persist the
    # broadcast-argmax assignment and the upstream scan recompute ~3x
    # (ADVICE round 4).  Same bounded-cache pattern as the LSH bucket
    # projection above — entries are session-scoped and unpersisted on
    # eviction.
    assigned = _ASSIGNED_CACHE.get_or_persist(assigned, "semantic_dedup")

    pairable = assigned
    if max_cluster_size is not None:
        small = (
            assigned.groupBy("cluster")
            .agg(F.count(F.lit(1)).alias("_csize"))
            .filter(F.col("_csize") <= max_cluster_size)
            .select("cluster")
        )
        # ≤ n_centroids rows — broadcast, no extra shuffle on the big side
        pairable = assigned.join(F.broadcast(small), "cluster")
    a = pairable.select(
        F.col("cluster"),
        F.col(id_col).alias("_id_a"),
        F.col(vec_col).alias("_vec_a"),
        F.col("_vnorm").alias("_na"),
    )
    b = pairable.select(
        F.col("cluster"),
        F.col(id_col).alias("_id_b"),
        F.col(vec_col).alias("_vec_b"),
        F.col("_vnorm").alias("_nb"),
    )
    dups = (
        a.join(b, "cluster")
        .filter(F.col("_id_a") < F.col("_id_b"))
        .filter(
            cosine_with_norms_arrow(
                F.col("_vec_a"), F.col("_vec_b"), F.col("_na"), F.col("_nb")
            )
            >= threshold
        )
        .select(F.col("_id_b").alias(id_col))
        .distinct()
    )
    return (
        assigned.join(dups.withColumn("_dup", F.lit(True)), id_col, "left")
        .select(
            id_col,
            "cluster",
            F.coalesce(~F.col("_dup"), F.lit(True)).alias("kept"),
        )
    )


def _check_k_nprobe(caller: str, k: int, nprobe: int | None) -> None:
    """Reject k < 1 and nprobe < 1 at entry; ``nprobe=None`` means every
    cell.  Unchecked, a negative nprobe slices the routed cell list from
    the end and 0 returns an empty frame — both silently."""
    if int(k) < 1:
        raise ValueError(f"{caller}: k must be >= 1, got {k}")
    if nprobe is not None and int(nprobe) < 1:
        raise ValueError(
            f"{caller}: nprobe must be >= 1 (or None for every cell), "
            f"got {nprobe}"
        )


def _first_n_codebook(
    vectors: DataFrame, n: int, id_col: str, vec_col: str
) -> DataFrame:
    """The deterministic smallest-id codebook (the registry convention,
    which a SQL oracle can rebuild)."""
    return (
        vectors.orderBy(id_col)
        .limit(n)
        .select(
            F.col(id_col).alias("centroid_id"),
            F.col(vec_col).alias("centroid_vec"),
        )
    )


def ivf_topk(
    vectors: DataFrame,
    probes: DataFrame,
    k: int = 5,
    n_centroids: int = 8,
    nprobe: int | None = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF-style ANN.  ``centroids`` defaults to the first n_centroids
    vectors by id (deterministic, zero-cost — used by the nprobe==all exact
    path); pass ``kmeans_centroids(...)`` for data-adapted cells (the
    quality path — see test_ivf_kmeans_recall).  One codebook router
    assigns every vector to its nearest cell and routes every probe to its
    ``nprobe`` nearest (``None`` = every cell), both map-only; the routed
    probes are broadcast, so only routed clusters are scanned, on the map
    side.  That is the plan for a handful of probes; when the probe side
    is as large as the corpus, ``knn_join``'s cell-grouped scorer is."""
    _check_k_nprobe("ivf_topk", k, nprobe)
    if centroids is None:
        centroids = _first_n_codebook(vectors, n_centroids, id_col, vec_col)
    cand = _ivf_candidates(
        vectors, probes, centroids, nprobe, id_col, vec_col, "ivf_topk"
    )
    return topk_per_probe(cand.drop("_route_rk"), k, "probe_id")


def _ivf_candidates(
    vectors: DataFrame,
    probes: DataFrame,
    centroids: DataFrame,
    nprobe: int | None,
    id_col: str,
    vec_col: str,
    caller: str,
) -> DataFrame:
    """IVF candidate rows ``(probe_id, neighbor_id, cosine, _route_rk)``:
    corpus rows assigned to their nearest cell, joined map-side with the
    BROADCAST probes routed to their ``nprobe`` nearest cells (``None`` =
    every cell) by one codebook router, self-matches excluded, cosine
    rounded as the crossJoin spelling rounds it.  ``_route_rk`` is the
    cell's rank among the probe's routes (the router's cell lists are
    ordered, so posexplode position + 1)."""
    route, n_cells = _sharded_router_factory(centroids, caller=caller)
    assigned = _assign_cells(vectors, route(1), id_col, vec_col, keep_norm=True)
    take = n_cells if nprobe is None else int(nprobe)
    routes = probes.withColumn("_r", route(take)(F.col("probe_vec"))).select(
        "probe_id",
        "probe_vec",
        F.col("_r.norm").alias("_pnorm"),
        F.posexplode(F.col("_r.cells")).alias("_pos", "cluster"),
    )
    return (
        assigned.join(F.broadcast(routes), "cluster")
        .filter(F.col(id_col) != F.col("probe_id"))
        .select(
            "probe_id",
            F.col(id_col).alias("neighbor_id"),
            F.round(
                cosine_with_norms_arrow(
                    F.col(vec_col), F.col("probe_vec"), F.col("_vnorm"), F.col("_pnorm")
                ),
                6,
            ).alias("cosine"),
            (F.col("_pos") + 1).alias("_route_rk"),
        )
    )


def knn_join(
    left: DataFrame,
    right: DataFrame,
    centroids: DataFrame,
    k: int = 5,
    nprobe: int | None = 2,
    m_super: int | None = None,
    left_id_col: str = "probe_id",
    left_vec_col: str = "probe_vec",
    right_id_col: str = "vec_id",
    right_vec_col: str = "embedding",
    exclude_same_id: bool = False,
) -> DataFrame:
    """k-nearest-neighbor JOIN between two LARGE vector tables — the
    co-partitioned sibling of ``ivf_topk``.  ``ivf_topk`` broadcasts the
    probe set, which is right when probes are a handful of queries;
    building a k-NN GRAPH (SemDeDup's ε-graph over the whole corpus,
    kNN-LM retrieval sets, link-based curation) makes the probe side the
    SAME size as the corpus, and a broadcast is exactly the wrong plan.
    Here NEITHER side is broadcast — only the centroid codebook is:

    * both sides route on ONE codebook router
      (``_sharded_router_factory``), map-only with no window and no
      shuffle: right rows to their nearest cell, left rows to their
      ``nprobe`` nearest (fan-out exactly nprobe);
    * ONE shuffle on the cell key co-partitions both big sides into a
      grouped ``applyInPandas`` scorer: the member×probe similarity
      matrix is a BLAS matmul used for candidate selection, survivors
      (a margin-safe superset of the rounded top-k, ~k per probe per
      cell) are re-scored with the fold-exact op order and return to
      the JVM as SKINNY (probe, neighbor, cosine) rows — vectors cross
      the Arrow boundary once per member + nprobe per probe, never per
      pair;
    * rounding (HALF_UP) and the per-probe exact top-k
      (``topk_per_probe``) stay JVM-side, so ordering/tie semantics are
      the pure-Column ones and the SQL oracle replays the pipeline.

    ``nprobe=None`` routes every cell — the result is then provably
    EQUAL to brute force (each (left, right) pair scored exactly once
    since a right row lives in exactly one cell), which is the oracle
    discipline for the exact twin.  Ties break (cosine DESC, neighbor_id
    ASC) everywhere.  Returns (probe_id, neighbor_id, cosine, rank).

    Two measured tiers, one operator (``knn_join_auto`` picks):

    * ``m_super=None`` (default), flat routing over a √N-cell codebook:
      cost ≈ |left| × nprobe/n_cells × |right| pair scores as BLAS flops
      spread over cells.  Total work is N^1.5 BY DESIGN — routing costs
      N·cells sims, scanning N·nprobe·(N/cells), and the sum is minimized
      at cells ≈ √(nprobe·N) (measured α 1.17 at the 2M decade; the
      "more cells" fix was refuted at 2.5× worse because flat routing
      flops then dominate — BENCHNOTES_r11_knn2.json).
    * ``m_super=4`` over a BOUNDED codebook (cells ≈ N / 512, the
      ``knn_graph_sharded`` rule max(⌊√N⌋, ⌈N/512⌉)) — the ≥16M-vector
      tier past ``KNN_FLAT_MAX_N``: the scan term is N·nprobe·512,
      LINEAR in N, and hierarchical routing keeps routing at ~N^1.25
      (measured α 0.99; see ``_sharded_router_factory``).  Bounded-cell
      recall at nprobe=2 read 1.000 @200k on the 10-cluster corpora;
      RECALL.md carries the per-decade rows.  ``m_super=None`` over the
      same codebook is the SQL-replayable twin.

    100 TB shape: skewed cells are AQE-splittable because the grouping
    key is a plain shuffle; in the bounded tier cell population is
    capped by construction, so no task outgrows memory, and the codebook
    broadcast is ≤128 MB at the 2^18-cell cap."""
    _check_k_nprobe("knn_join", k, nprobe)
    _guard_integral_ids(left, left_id_col, right, right_id_col)
    route, n_cells = _sharded_router_factory(
        centroids, m_super=m_super, caller="knn_join"
    )
    take = n_cells if nprobe is None else int(nprobe)
    routed = left.withColumn("_r", route(take)(F.col(left_vec_col))).select(
        F.col(left_id_col).cast("long").alias("_rid"),
        F.col(left_vec_col).alias("_v"),
        F.explode(F.col("_r.cells")).alias("cluster"),
    )
    assigned = _assign_cells(right, route(1), right_id_col, right_vec_col)
    # PER-CELL GROUPED SCORING (applyInPandas on the cell key): members
    # and routed probes co-shuffle once on `cluster`; the member×probe
    # similarity matrix is computed inside the kernel and only SKINNY
    # (probe_id, neighbor_id, cosine) rows return to the JVM.  The
    # pair-level spelling this replaced shipped BOTH 64-float vectors
    # across the Arrow boundary per scored PAIR — ~550 B × |pairs|
    # (≈98 GB at the 200k-vector decade) versus one vector per member +
    # nprobe per probe here.
    u = assigned.select(
        "cluster",
        F.lit(0).alias("_side"),
        F.col(right_id_col).cast("long").alias("_rid"),
        F.col(right_vec_col).alias("_v"),
    ).unionByName(routed.select("cluster", F.lit(1).alias("_side"), "_rid", "_v"))
    excl = bool(exclude_same_id)
    kk = int(k)

    def _score_cell(pdf: pd.DataFrame) -> pd.DataFrame:
        V = _stack(pdf["_v"])
        mem = pdf["_side"].to_numpy() == 0
        Vm, Vp = V[mem], V[~mem]
        mid = pdf["_rid"].to_numpy()[mem]
        pid = pdf["_rid"].to_numpy()[~mem]
        # matmul sims for CANDIDATE SELECTION only (never emitted)
        sims = _sims_matmul(Vm, Vp)  # (n_members, n_probes)
        exclmask = (
            mid[:, None] == pid[None, :]
            if excl
            else np.zeros(sims.shape, dtype=bool)
        )
        mi, pi = np.nonzero(_shortlist(sims, kk, exclmask))
        # emitted values are FOLD-EXACT: re-score only the kept pairs
        # with the same per-dimension left fold as the builtin cosine
        cos = _cosine(
            _fold_dots(Vm[mi], Vp[pi]),
            _fold_norms(Vm)[mi] * _fold_norms(Vp)[pi],
        )
        return pd.DataFrame(
            {"probe_id": pid[pi], "neighbor_id": mid[mi], "cosine": cos}
        )

    scored = (
        u.groupBy("cluster")
        .applyInPandas(_score_cell, "probe_id long, neighbor_id long, cosine double")
        .select(
            "probe_id",
            "neighbor_id",
            F.round(F.col("cosine"), 6).alias("cosine"),
        )
    )
    return topk_per_probe(scored, k, "probe_id")


def _guard_integral_ids(left, left_id_col, right, right_id_col) -> None:
    _integral = {"tinyint", "smallint", "int", "bigint"}
    for _df, _c, _side_name in (
        (left, left_id_col, "left"),
        (right, right_id_col, "right"),
    ):
        _t = _df.schema[_c].dataType.simpleString()
        if _t not in _integral:
            # the grouped scorer carries ids through a fixed
            # 'probe_id long, neighbor_id long' Arrow schema; a string
            # id would silently cast to NULL and drop/corrupt pairs —
            # fail loudly instead (ADVICE r10).
            raise TypeError(
                f"knn_join: {_side_name} id column {_c!r} has type {_t}; "
                "only integral ids survive the grouped Arrow scorer. "
                "Derive a surrogate (e.g. xxhash64(id) or "
                "monotonically_increasing_id) and join back after."
            )


# Crossover between the flat √N-cell kNN-graph tier and the bounded-cell
# m_super tier: the flat design's total work is N^1.5 by construction
# (BENCHNOTES_r11_knn2.json measured the asymptote), and √N also reaches
# knn_join_auto's 4096-cell flat codebook clamp at 4096² ≈ 16.8M vectors.
# Mirrored machine-readably in __spark_entry__.tier_bounds().
KNN_FLAT_MAX_N = 16_000_000
KNN_SHARDED_NPROBE_CAP = 16


def sharded_nprobe_auto(
    n: int, cells: int, nprobe: int, cap: int = KNN_SHARDED_NPROBE_CAP
) -> int:
    """Volume-equalizing nprobe raise for the bounded-cell kNN tier
    (r13, measured in KNN_NPROBE_r13.json / RECALL_r13.json).

    The bounded rule ``cells = max(√N, ⌈N/512⌉)`` shrinks the per-probe
    scanned volume by ``cells/√N`` relative to the flat √N reference
    once N passes 512² — the measured recall cost on the hard 2M corpus
    is 0.940 → 0.884 at nprobe=2 (a 2.76× volume deficit).  Raising
    nprobe by that ratio restores flat-equivalent volume; each raised
    probe still scans a CONSTANT nprobe_eff × 512 rows, so the graph's
    linear total scan term survives (measured: 53–57 s at 2M across
    nprobe 2..8 — the raise is ~free where it matters).

    The CAP keeps the term linear long-term: uncapped, the ratio grows
    as √N/512 and the graph would be N^1.5 again.  cap=16 holds volume
    parity exactly to the 16M tier switch (16×512 ≈ 2×√16M); past it
    the per-probe deficit grows as √N/4096 — ~2.4× at 100M, ~7.7× at
    1B — and recall follows the measured decay curve.  Corpora out
    there need :func:`calibrate_nprobe` on a sample (or an explicit
    nprobe) instead of this default.  The cap bounds only the
    auto-raise: a caller's explicit nprobe is never lowered, even when
    it exceeds the cap (that's the user buying recall with scan cost,
    a decision this default must not override)."""
    if cells <= 0 or nprobe <= 0:
        raise ValueError(f"cells/nprobe must be positive: {cells}, {nprobe}")
    root = max(1, math.isqrt(max(1, n)))
    # the cap bounds only the AUTO-raise; an explicit nprobe above the
    # cap is the caller overriding the default cost/recall trade and is
    # honored verbatim (r13 advice: min-outside silently lowered it)
    return max(int(nprobe), min(int(cap), -(-int(nprobe) * int(cells) // root)))


def knn_join_auto(
    left: DataFrame,
    right: DataFrame,
    k: int = 5,
    nprobe: int | None = 2,
    m_super: int | None = 4,
    left_id_col: str = "probe_id",
    left_vec_col: str = "probe_vec",
    right_id_col: str = "vec_id",
    right_vec_col: str = "embedding",
    exclude_same_id: bool = False,
    n_right: int | None = None,
) -> DataFrame:
    """kNN join/graph with AUTOMATIC tier dispatch (r12 verdict ask #6)
    — the user-facing entry point that picks between the two measured
    tiers instead of leaving the switch in docstrings, mirroring
    ``freq_cap``'s auto-switch discipline:

    * ``N ≤ KNN_FLAT_MAX_N`` (16M): :func:`knn_join` over a flat
      ``max(8, min(4096, ⌊√N⌋))``-cell codebook — the FLOP-optimal flat
      IVF balance, recommended below the crossover (N^1.5 total but the
      constant wins at these sizes; measured α 1.17 at 2M).
    * ``N > KNN_FLAT_MAX_N``: :func:`knn_join` with ``m_super`` over a
      bounded ``max(⌊√N⌋, ⌈N/512⌉)``-cell codebook — hierarchical
      routing through super-centroids, linear scan term, ~N^1.25
      routing (measured α 0.99 at the 2M decade, SCALE.md).

    The codebook is built here by the deterministic smallest-id
    convention both registry contract queries use (first ``cells``
    vectors of ``right`` by id), so results are replicable; callers who
    trained k-means codebooks should call ``knn_join`` directly.
    ``n_right`` skips the sizing ``count()`` when the caller already
    knows it (e.g. from parquet metadata).  Everything else passes
    through unchanged; result schema and tie rules are identical across
    tiers (one operator, one grouped-cell scorer).

    Past the 16M switch, don't trust the default nprobe raise on your
    own corpus: sample ~1–2M vectors, run :func:`nprobe_recall_curve`,
    and pass the cheapest nprobe clearing your recall target explicitly
    (never lowered, even above the cap) — see README "Past 16M vectors:
    calibrate, don't trust" and bench_records/KNN_NPROBE_r13.json for
    the worked example."""
    _check_k_nprobe("knn_join_auto", k, nprobe)
    n = int(n_right) if n_right is not None else right.count()
    if n <= KNN_FLAT_MAX_N:
        cells = max(8, min(4096, math.isqrt(n)))
    else:
        cells = max(8, math.isqrt(n), -(-n // 512))
    cents = _first_n_codebook(right, cells, right_id_col, right_vec_col)
    common = dict(
        k=k,
        nprobe=nprobe,
        left_id_col=left_id_col,
        left_vec_col=left_vec_col,
        right_id_col=right_id_col,
        right_vec_col=right_vec_col,
        exclude_same_id=exclude_same_id,
    )
    if n <= KNN_FLAT_MAX_N:
        return knn_join(left, right, cents, **common)
    # bounded regime: cells = max(√N, N/512) exceeds √N, so the default
    # nprobe would scan cells/√N× fewer rows per probe than the flat
    # reference and recall drops (0.884 vs 0.940 measured at 2M on the
    # hard corpus) — auto-raise by the volume ratio, capped to keep the
    # scan term linear (see sharded_nprobe_auto)
    if nprobe is not None:
        common["nprobe"] = sharded_nprobe_auto(n, cells, int(nprobe))
    return knn_join(left, right, cents, m_super=m_super, **common)


def ivf_two_level_sharded(
    vectors: DataFrame,
    probes: DataFrame,
    k: int = 5,
    nprobe: int | None = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_coarse: int | None = None,
    corpus_size: int | None = None,
    coarse_cap: int = 4096,
) -> DataFrame:
    """Auto-sized IVF for the RECALL target: ``ivf_topk`` over a
    deterministic first-``n_coarse`` codebook with a volume-equalizing
    probe raise.  (The name survives from the r10 two-level index, whose
    fine level scanned every shard of a routed coarse cell — exactly this
    flat IVF's candidate set; RECALL.md's r10 rows showed that fine-level
    PRUNING is what cost recall, 0.61–0.74 @200k against flat √N IVF's
    0.996.)

    Auto-sizing (overridable): ``n_coarse = min(coarse_cap, ⌈√N⌉)``.
    Below the cap this IS flat √N IVF (measured 0.996 @200k); past it,
    the probe count auto-raises as
    ``nprobe_eff = ⌈nprobe × ⌈√N⌉ / n_coarse⌉`` — each capped cell
    covers √N/cap flat cells' worth of corpus, so raising probes by the
    same ratio keeps the scanned volume equal to the flat reference while
    the bigger cells cut FEWER neighborhoods at their boundaries (recall
    ≥ the flat equivalent at equal scan; measured in RECALL.md's
    two_level_sharded_cap rows).  ``nprobe=None`` routes every cell (=
    brute force).  ``corpus_size`` skips the sizing ``count()`` when the
    caller already knows N (index-build cost either way)."""
    _check_k_nprobe("ivf_two_level_sharded", k, nprobe)
    n = int(corpus_size) if corpus_size is not None else vectors.count()
    target_cells = max(8, min(int(math.isqrt(max(1, n))), n))
    if n_coarse is None:
        n_coarse = min(int(coarse_cap), target_cells)
    nprobe_eff = None
    if nprobe is not None:
        nprobe_eff = min(
            int(n_coarse),
            max(int(nprobe), -(-int(nprobe) * target_cells // int(n_coarse))),
        )
    return ivf_topk(
        vectors,
        probes,
        k=k,
        n_centroids=int(n_coarse),
        nprobe=nprobe_eff,
        id_col=id_col,
        vec_col=vec_col,
    )


def nprobe_recall_curve(
    vectors: DataFrame,
    probes: DataFrame,
    k: int = 5,
    nprobe_grid: tuple[int, ...] = (1, 2, 4, 8),
    n_centroids: int = 8,
    centroids: DataFrame | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Measured recall@k AND scan cost per nprobe, as ONE distributed
    plan — the calibration primitive behind :func:`calibrate_nprobe`.

    The 100 TB workflow this exists for: you cannot brute-force the full
    corpus, but you CAN brute-force a hash_sample of it against a probe
    sample, sweep nprobe on the sampled index, and then run the big job
    at the cheapest nprobe that clears the recall target (RECALL_r13's
    hard-corpus rows are exactly this curve, measured by hand until
    now).  One assignment pass and one candidate join serve the WHOLE
    grid: candidates are generated once at max(grid) routes with their
    route rank retained, the grid is exploded over them, and each grid
    value re-ranks only the candidates whose route rank qualifies — no
    per-nprobe rescan of the corpus.

    Returns ``(nprobe int, recall_at_k double, avg_scanned double)``,
    one row per grid value: recall@k vs the exact brute-force top-k
    over the same probes, and the mean per-probe candidate count (the
    cost axis — scan rows/probe = nprobe × N/cells, so the curve is
    directly a cost/recall frontier).  Probes whose candidate set is
    empty count as recall 0, not dropped.  ``centroids`` defaults to
    the deterministic smallest-id codebook (the registry convention, so
    a SQL oracle can replay the whole curve); pass
    ``kmeans_centroids(...)`` to calibrate the quality path."""
    grid = sorted({int(g) for g in nprobe_grid})
    if not grid or grid[0] < 1:
        raise ValueError(f"nprobe_grid must be positive ints, got {nprobe_grid}")
    max_np = grid[-1]
    if centroids is None:
        centroids = _first_n_codebook(vectors, n_centroids, id_col, vec_col)

    exact = brute_force_topk(
        vectors, probes, k=k, id_col=id_col, vec_col=vec_col
    ).select("probe_id", "neighbor_id")

    cand = _ivf_candidates(
        vectors, probes, centroids, max_np, id_col, vec_col, "nprobe_recall_curve"
    )
    # one candidate row fans out to every grid value it qualifies for;
    # |grid| × candidates rows total — calibration runs on samples, and
    # the window key (nprobe, probe_id) spreads across |grid| × |probes|
    # reducers
    grid_col = F.explode(
        F.array(*[F.lit(g) for g in grid])
    ).alias("nprobe")
    exploded = cand.select("*", grid_col).filter(
        F.col("_route_rk") <= F.col("nprobe")
    )
    approx = (
        exploded.withColumn(
            "_rk",
            F.row_number().over(
                Window.partitionBy("nprobe", "probe_id").orderBy(
                    F.col("cosine").desc(), F.col("neighbor_id")
                )
            ),
        )
        .filter(F.col("_rk") <= k)
        .select("nprobe", "probe_id", "neighbor_id")
    )
    hits = approx.join(exact, ["probe_id", "neighbor_id"]).groupBy(
        "nprobe", "probe_id"
    ).agg(F.count("*").alias("_n_hit"))
    scanned = exploded.groupBy("nprobe", "probe_id").agg(
        F.count("*").alias("_n_scan")
    )
    universe = probes.select("probe_id").select("probe_id", grid_col)
    per_probe = (
        universe.join(hits, ["nprobe", "probe_id"], "left")
        .join(scanned, ["nprobe", "probe_id"], "left")
        .select(
            "nprobe",
            F.coalesce(F.col("_n_hit"), F.lit(0)).alias("_n_hit"),
            F.coalesce(F.col("_n_scan"), F.lit(0)).alias("_n_scan"),
        )
    )
    return (
        per_probe.groupBy("nprobe")
        .agg(
            F.round(
                F.avg(F.col("_n_hit").cast("double") / F.lit(float(k))), 6
            ).alias("recall_at_k"),
            F.round(F.avg(F.col("_n_scan").cast("double")), 6).alias(
                "avg_scanned"
            ),
        )
        .orderBy("nprobe")
    )


def calibrate_nprobe(
    vectors: DataFrame,
    probes: DataFrame,
    target_recall: float = 0.9,
    k: int = 5,
    nprobe_grid: tuple[int, ...] = (1, 2, 4, 8),
    n_centroids: int = 8,
    centroids: DataFrame | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[int, list[dict]]:
    """Pick the CHEAPEST nprobe meeting a recall target, from the
    measured :func:`nprobe_recall_curve` — the sample-then-scale tuning
    step a 100 TB ANN job runs before committing the full scan.

    Returns ``(nprobe, curve)`` where curve is the collected list of
    ``{nprobe, recall_at_k, avg_scanned}`` rows (bounded by
    ``len(nprobe_grid)`` — the ONLY driver-side materialization here).
    If no grid value reaches the target the largest is returned with
    the curve as evidence; callers should then widen the grid, grow the
    codebook, or switch tiers (see ``knn_join_auto``)."""
    curve_df = nprobe_recall_curve(
        vectors,
        probes,
        k=k,
        nprobe_grid=nprobe_grid,
        n_centroids=n_centroids,
        centroids=centroids,
        id_col=id_col,
        vec_col=vec_col,
    )
    curve = [r.asDict() for r in curve_df.collect()]
    for row in curve:
        if row["recall_at_k"] >= target_recall:
            return int(row["nprobe"]), curve
    return int(curve[-1]["nprobe"]) if curve else max(nprobe_grid), curve


def _hyperplanes_cached(dim: int, n_planes: int):
    """numpy dim × n_planes plane matrix, cached per (dim, n_planes)."""
    key = (dim, n_planes)
    mat = _PLANES_CACHE.get(key)
    if mat is None:
        mat = np.array(_hyperplanes(dim, n_planes)).T
        _PLANES_CACHE[key] = mat
    return mat


_PLANES_CACHE: dict = {}

# bounded session-aware cache for the persisted bucketed projection used by
# embedding_dup_pairs (see csv_etl_spark.operators._cache)
from csv_etl_spark.operators._cache import BoundedPersistCache as _BPC  # noqa: E402

_BUCKET_CACHE = _BPC(max_entries=4)

# persisted centroid-assignment used 3x inside semantic_dedup
_ASSIGNED_CACHE = _BPC(max_entries=4)


def _hyperplanes(dim: int, n_planes: int) -> list[list[float]]:
    """Fixed pseudo-random unit hyperplanes (deterministic LCG — no RNG
    state, reproducible across engines/runs)."""
    planes = []
    seed = 1234567
    for p in range(n_planes):
        row = []
        for d in range(dim):
            seed = (seed * 1103515245 + 12345) % (1 << 31)
            row.append((seed / float(1 << 31)) * 2.0 - 1.0)
        norm = math.sqrt(sum(x * x for x in row)) or 1.0
        planes.append([x / norm for x in row])
    return planes


def random_hyperplane_buckets(
    df: DataFrame, dim: int | None = None, n_planes: int = 8, vec_col: str = "embedding"
) -> DataFrame:
    """Append an integer LSH bucket: bit p = sign(v · plane_p).

    Implemented as a vectorized Pandas UDF (one numpy matmul of each Arrow
    batch against the fixed plane matrix).  A pure-Column spelling (n_planes
    × dim literal arrays under fold lambdas) is semantically identical but
    generates a pathologically large expression tree — several seconds of
    codegen before the first row moves; batch-matrix math is the case
    vectorized UDFs exist for.

    ``dim`` is taken from the vectors themselves (the plane matrix is a
    deterministic function of (dim, n_planes), so every batch/worker/run
    derives the identical planes); pass it only to assert an expected width.
    """
    from pyspark.sql.functions import pandas_udf

    weights = (1 << np.arange(n_planes)).astype(np.int64)
    expect_dim = dim

    @pandas_udf("long")
    def bucket_of(vecs: pd.Series) -> pd.Series:
        mat = _stack(vecs, expect_dim or 0)  # batch × dim
        if expect_dim is not None and mat.shape[1] != expect_dim:
            raise ValueError(f"expected dim {expect_dim}, got {mat.shape[1]}")
        planes_t = _hyperplanes_cached(mat.shape[1], n_planes)
        bits = (mat @ planes_t) >= 0.0  # batch × n_planes
        return pd.Series(bits @ weights)

    return df.withColumn("lsh_bucket", bucket_of(F.col(vec_col)))


def embedding_dup_pairs(
    df: DataFrame,
    threshold: float = 0.95,
    dim: int | None = None,
    n_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding near-dup: bucket-equijoin on random-hyperplane signature,
    verify cosine ≥ threshold.  Near-identical vectors agree on all sign
    bits with high probability; the join is keyed, never O(n²).

    The bucketed projection is computed once across full parallelism and
    persisted: the 8 hyperplane dot products per row are the expensive
    part, and both sides of the self-join (plus the verify) would
    otherwise re-evaluate them per mention (HOF lambdas are opaque to
    Catalyst CSE).  The persisted frame is registered in a session-aware
    bounded cache (shared policy with the shingle table) so repeated
    calls reuse it and evictees are unpersisted — it no longer leaks for
    the life of the session."""
    from pyspark.storagelevel import StorageLevel

    from csv_etl_spark.operators._cache import BoundedPersistCache
    from csv_etl_spark.sources.tables import ensure_parallelism

    src = ensure_parallelism(df.select(F.col(id_col), F.col(vec_col)))
    # dim participates in the key: the plane matrix is a function of
    # (dim, n_planes), so the same frame bucketed at a different declared
    # dim must not reuse the cached projection
    key = BoundedPersistCache.key_for(src, dim, n_planes, vec_col)
    b = _BUCKET_CACHE.get(key)
    if b is None:
        # norm computed BEFORE the persist: it rides the cached frame,
        # so the verify step scores pairs with one dot (cosine_with_norms)
        b = random_hyperplane_buckets(src, dim, n_planes, vec_col).withColumn(
            "_vnorm", l2_norm(F.col(vec_col))
        )
        if key is not None:
            b = b.persist(StorageLevel.MEMORY_AND_DISK)
            _BUCKET_CACHE.put(key, b)
    left = b.select(
        F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"),
        F.col("_vnorm").alias("na"), F.col("lsh_bucket").alias("ba"),
    )
    right = b.select(
        F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"),
        F.col("_vnorm").alias("nb"), F.col("lsh_bucket").alias("bb"),
    )
    pairs = left.join(right, (F.col("ba") == F.col("bb")) & (F.col("id_a") < F.col("id_b")))
    return (
        pairs.select(
            "id_a",
            "id_b",
            F.round(
                cosine_with_norms_arrow(
                    F.col("va"), F.col("vb"), F.col("na"), F.col("nb")
                ),
                6,
            ).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def standardize_embeddings(
    df: DataFrame, dim: int, vec_col: str = "embedding"
) -> DataFrame:
    """Per-DIMENSION z-score standardization of an embedding column —
    the feature-normalization step before distance-based ops whose
    metric is not scale-invariant (euclidean k-means, IVF residuals,
    whitened LSH; cosine does not need it).  Adds ``standardized``:
    element i becomes (x_i - mean_i) / std_i (population std;
    zero-variance dimensions map to 0.0 rather than NaN).

    Plan shape (r16 rewrite — arithmetic unchanged, see below): the
    per-dimension moments come from ONE ``posexplode`` → dim-group
    aggregate with map-side partials (the shuffle carries only
    dim × n_partitions partial rows — never dim × the row count), the
    ≤dim-row moment frame folds into two (dim → mean/std) MAPS in a
    single-row frame, and that broadcasts back via crossJoin so the
    z-transform stays a map-only in-row ``transform``.  The previous
    spelling computed the same 2·dim moments as 2·dim fused column
    aggregates over the array — one job fewer, but the 129-expression
    tree (dim=64) cost ~4 s of driver expression construction plus
    ~5 s of analysis/optimization PER CALL and fell out of whole-stage
    codegen (``spark.sql.codegen.maxFields`` = 100 < 129), so every
    row paid interpreted evaluation of 192 array extracts; measured at
    sf0.1 the rewrite cuts the query from ~11 s to ~2 s with identical
    results (same decimal sums — decimal addition is exact and
    associative, so explode-grouped and fused sums are bit-equal).

    Engine-parity discipline (the stats.py moment rules): elements are
    rounded to 6 decimals and summed as DECIMAL(18,6)/(37,12) so the
    moments are bit-identical on any partitioning and any engine;
    means/stds/z-scores are all rounded to 6.  Variance uses the
    ROUNDED mean (deterministic everywhere; the O(1e-6) bias is far
    below embedding noise).

    Determinism assumption (r17, ADVICE r16): the row count ``_n`` runs
    as its own tiny aggregate job, SEPARATE from the moment scan (the
    fused spelling computed both atomically; the count cannot ride the
    posexplode aggregate because exploding drops null/empty vectors the
    count must include).  ``df`` must therefore be stable across jobs —
    no ``sample()``/``rand()``-derived input, no source mutated between
    jobs — or the count can disagree with the sums and skew the moments.
    Every operator call site feeds it deterministic projections of
    parquet scans, which satisfies this."""
    if dim < 1:
        raise ValueError("dim must be >= 1")

    # decimal(18,6): the square's product type is decimal(37,12) — exact
    # in BOTH Spark and DuckDB (a (38,6) square would overflow 38 digits
    # and silently rescale); 18 digits is 1e12 headroom over any unit-ish
    # embedding element
    v6 = F.round(F.col("_e").cast("double"), 6).cast("decimal(18,6)")
    per_dim = (
        df.select(F.posexplode(vec_col).alias("_i", "_e"))
        .select("_i", v6.alias("_v"))
        .groupBy("_i")
        .agg(
            F.sum("_v").alias("_s"),
            F.sum(F.col("_v") * F.col("_v")).alias("_q"),
        )
    )
    # row count in its own tiny aggregate (the fused spelling had it in
    # the same agg): for parquet sources this is a metadata-only scan
    n_frame = df.agg(F.count(F.lit(1)).alias("_n"))
    mean = F.round(F.col("_s").cast("double") / F.col("_n"), 6)
    var = F.col("_q").cast("double") / F.col("_n") - mean * mean
    per = per_dim.crossJoin(F.broadcast(n_frame)).select(
        "_i",
        mean.alias("_m"),
        F.round(F.sqrt(F.greatest(var, F.lit(0.0))), 6).alias("_sd"),
    )
    # struct-entry maps, NOT map_from_arrays(collect_list, collect_list):
    # collect_list skips NULL means (an all-null dimension), which would
    # misalign keys and values
    stats = per.agg(
        F.map_from_entries(
            F.collect_list(F.struct(F.col("_i"), F.col("_m")))
        ).alias("_mm"),
        F.map_from_entries(
            F.collect_list(F.struct(F.col("_i"), F.col("_sd")))
        ).alias("_sm"),
    )

    z = F.transform(
        F.col(vec_col),
        lambda e, i: F.when(
            F.element_at("_sm", i) == 0.0, F.lit(0.0)
        ).otherwise(
            F.round(
                (F.round(e.cast("double"), 6) - F.element_at("_mm", i))
                / F.element_at("_sm", i),
                6,
            )
        ),
    )
    return (
        df.crossJoin(F.broadcast(stats))
        .withColumn("standardized", z)
        .drop("_mm", "_sm")
    )
